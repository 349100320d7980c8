"""NetCDF source (SURVEY.md S1): the reference ingests CF-convention
NetCDF via xarray.open_mfdataset (bcdp/io.py [UNVERIFIED — reference
checkout empty, SURVEY.md §0]); this engine's equivalent is a per-file
decode fanned out with mapInPandas over a file manifest, emitting the
long form (name, time, lat, lon, value) of SURVEY.md §1.3.

The decode itself needs NO third-party codec: classic-format (CDF-1/2)
bytes are parsed by the vendored pure-Python reader
(``bcdp_spark.sources.netcdf3``, written from the public format spec),
including CF time decode for non-Gregorian calendars
(``bcdp_spark.sources.cfcal`` — 360_day/noleap axes with dates like
Feb 30 are mapped through the canonical day-of-year-preserving
timestamp, never through ``pd.to_datetime(str(...))``). NetCDF-4/HDF5
files use netCDF4 when importable and otherwise decode through the
vendored pure-Python HDF5 subset reader (``bcdp_spark.sources.hdf5``:
superblock v0/v2, object headers v1/v2, contiguous + chunked B-tree
layouts, deflate/shuffle filters — the subset NetCDF-4 climate archives
actually use). ``_decode_one`` is the one per-file decoder: the
loader, the ``format("netcdf")`` DataSource V2 reader
(``netcdf_datasource``, predicate pushdown mapped to hyperslab slices,
SURVEY.md §4) and the stream reader all call it.

Scale: one manifest row per file, one task per file — the natural unit
of parallelism for multi-file model output; at 100 TB the manifest is
thousands of files and the decode scales linearly with executors. Rows
leave the decoder in long form so every downstream operator (subset,
climatology, regrid) is plain DataFrame algebra with pushdown.
"""

from __future__ import annotations

import glob as _glob
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bcdp_spark.sources.hyperslab import axis_mask, from_bounds

LONG_FORM_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("time", T.TimestampType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("value", T.DoubleType()),
    ]
)

# 4-D variables (time, lev, lat, lon) — pressure/height/depth-level data
# (CMIP/CORDEX ta/ua/zg …) — add one `lev` coordinate column.
LONG_FORM_SCHEMA_4D = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("time", T.TimestampType()),
        T.StructField("lev", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _is_url(fpath) -> bool:
    return str(fpath).startswith(("http://", "https://"))


def _magic4(fpath: str) -> bytes:
    """First four bytes — a 4-byte pread locally, one tiny ranged GET
    remotely (format dispatch must not download the object)."""
    if _is_url(fpath):
        from bcdp_spark.sources.ranged import read_range

        return read_range(fpath, 0, 4)
    with open(fpath, "rb") as fh:
        return fh.read(4)


def _var_ndim(fpath: str, var: str | None) -> int:
    """Header-only peek at the FIRST manifest file to fix the output
    schema (3-D vs 4-D long form) before the distributed decode. Classic
    files cost a few KB of I/O regardless of file size
    (netcdf3.read_header grows its read window until the header parses);
    HDF5 files are mmap'd locally / ranged-read remotely, so only the
    touched metadata pages are ever loaded."""
    if _is_url(fpath):
        head = _magic4(fpath)
        if head[:3] == b"CDF":
            raise NotImplementedError(
                "remote classic (CDF) NetCDF is not supported — serve "
                "HDF5-backed NetCDF-4 over http(s), or download classic "
                "files locally (their payload is one contiguous slab; "
                "ranged reads buy nothing)"
            )
        if head != b"\x89HDF":
            raise ValueError(
                f"{fpath}: not a NetCDF file (neither classic CDF nor "
                "NetCDF-4/HDF5 magic)"
            )
        h5 = _open_hdf5(fpath)
        names_ndim = {k: len(d.shape) for k, d in h5.datasets.items()}
        picked = _pick_var(names_ndim, _h5_dims(h5), var)
        return names_ndim[picked]
    with open(fpath, "rb") as fh:
        head = fh.read(4)
        if head[:3] == b"CDF":
            from bcdp_spark.sources.netcdf3 import read_header

            nc = read_header(fh)
            picked = _pick_var(
                {k: len(v.shape) for k, v in nc.variables.items()},
                set(nc.dims),
                var,
            )
            return len(nc.variables[picked].shape)
    if head != b"\x89HDF":
        raise ValueError(
            f"{fpath}: not a NetCDF file (neither classic CDF nor "
            "NetCDF-4/HDF5 magic)"
        )
    try:
        import netCDF4  # type: ignore
    except ImportError:
        h5 = _open_hdf5(fpath)
        names_ndim = {k: len(d.shape) for k, d in h5.datasets.items()}
        picked = _pick_var(names_ndim, _h5_dims(h5), var)
        return names_ndim[picked]
    ds = netCDF4.Dataset(fpath)
    try:
        picked = _pick_var(
            {k: v.ndim for k, v in ds.variables.items()}, set(ds.dimensions), var
        )
        return ds.variables[picked].ndim
    finally:
        ds.close()


def load_netcdf(
    spark: SparkSession,
    path: str,
    var: str | None = None,
    time_bnds: tuple | None = None,
    lev_bnds: tuple | None = None,
    lat_bnds: tuple | None = None,
    lon_bnds: tuple | None = None,
    **_options,
) -> DataFrame:
    """Glob NetCDF files and decode each to long-form rows, in parallel
    over the manifest (one task per file — the multi-file concat the
    reference does with open_mfdataset). A 4-D (time, lev, lat, lon)
    variable — selected explicitly or auto-picked when no 3-D data
    variable exists — emits the 6-column long form with a `lev` column;
    the schema is fixed by a header-only peek at the first file.

    ``*_bnds`` push a hyperslab into the decode itself (the load_zarr
    contract): axes are masked BEFORE the mesh exists, so a 1 %
    selection materializes 1 % of the rows; on chunked HDF5 members the
    bounds additionally become an index-slab read that skips whole
    chunks before decompression (classic files hold one contiguous
    payload slab, so there the win is materialization, not IO). An
    http(s) URL (or explicit list of paths/URLs) reads HDF5-backed
    members via ranged requests — pruned chunks are never fetched."""
    files = _files(path)
    preds = from_bounds(
        time_bnds=time_bnds, lev_bnds=lev_bnds, lat_bnds=lat_bnds,
        lon_bnds=lon_bnds,
    )
    from bcdp_spark.sources.manifest import spread_manifest

    manifest = spread_manifest(spark, [(f,) for f in files], "path string")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath in pdf["path"]:
                yield _decode_one(fpath, var, preds)

    return manifest.mapInPandas(
        decode, schema=_long_form_schema(files, var)
    )


def _files(path) -> list:
    """A glob, one http(s) URL, or an explicit list → the file list."""
    if isinstance(path, (list, tuple)):
        files = list(path)
    elif _is_url(path):
        files = [path]
    else:
        files = sorted(_glob.glob(path))
    if not files:
        raise FileNotFoundError(f"no files match {path!r}")
    return files


def _long_form_schema(files: list, var: str | None) -> T.StructType:
    """3-D or 4-D long form, fixed by a header-only peek at the first
    file. An undecodable header (unsupported HDF5 feature, or corrupt
    bytes) keeps the load lazy: the 3-D schema, and the distributed
    decode raises the clear error at action time."""
    try:
        ndim = _var_ndim(files[0], var) if files else 3
    except (NotImplementedError, ValueError):
        ndim = 3
    return LONG_FORM_SCHEMA_4D if ndim == 4 else LONG_FORM_SCHEMA


def _cf_times(values, attrs: dict) -> pd.DatetimeIndex:
    """CF time decode of a raw time axis (calendar attr honored)."""
    from bcdp_spark.sources.cfcal import times_to_timestamps

    return times_to_timestamps(
        np.asarray(values, dtype=float),
        str(attrs.get("units", "days since 1970-01-01")),
        str(attrs.get("calendar", "standard")),
    )


def _plan_slabs(fpath: str, var: str | None, preds: dict) -> list:
    """Driver-side plan for one file: the ``(t0, t1)`` time-index slabs
    that may hold a match. A chunked HDF5 member splits into one slab
    per time chunk (contiguous layouts stay one slab); a classic file
    is one whole-file unit ``(-1, -1)``. Time predicates drop slabs
    against the time axis, read header-only (a few KB, never the
    payload)."""
    if _magic4(fpath) == b"\x89HDF":
        h5 = _open_hdf5(fpath)
        ds = h5.datasets[_pick_var(
            {k: len(d.shape) for k, d in h5.datasets.items()},
            _h5_dims(h5),
            var,
        )]
        n_t = ds.shape[0]
        if ds.layout == "chunked" and ds.chunk_shape and n_t > ds.chunk_shape[0]:
            step = ds.chunk_shape[0]
            slabs = [(t0, min(t0 + step, n_t)) for t0 in range(0, n_t, step)]
        else:
            slabs = [(0, n_t)]
        tname = _resolve_coord(
            "time", list(h5.datasets), lambda n: h5.datasets[n].attrs
        )
        if "time" not in preds or tname is None:
            return slabs
        keep = axis_mask(
            _cf_times(h5.read(tname), h5.datasets[tname].attrs).to_numpy(),
            preds, "time",
        )
        return [(t0, t1) for t0, t1 in slabs if keep[t0:t1].any()]
    if _is_url(fpath):
        raise NotImplementedError(
            "remote classic (CDF) NetCDF is not supported — "
            "serve HDF5-backed NetCDF-4 over http(s) instead"
        )
    if "time" in preds:
        from bcdp_spark.sources.netcdf3 import read_header, read_var

        with open(fpath, "rb") as fh:
            nc = read_header(fh)
            tname = _resolve_coord(
                "time", list(nc.variables), lambda n: nc.variables[n].attrs
            )
            if tname is not None:
                times = _cf_times(
                    read_var(fh, nc, tname), nc.variables[tname].attrs
                )
                if not axis_mask(times.to_numpy(), preds, "time").any():
                    return []
    return [(-1, -1)]


def _mask_cube(times, lats, lons, data, levs, preds):
    """Apply the predicate masks to all axes + the data cube (before
    the mesh); returns the masked quintet."""
    tmask = axis_mask(times.values, preds, "time")
    amask = axis_mask(lats, preds, "lat")
    omask = axis_mask(lons, preds, "lon")
    if levs is not None:
        lmask = axis_mask(levs, preds, "lev")
        data = data[np.ix_(tmask, lmask, amask, omask)]
        levs = levs[lmask]
    else:
        data = data[np.ix_(tmask, amask, omask)]
    return times[tmask], lats[amask], lons[omask], data, levs


def _decode_one(
    fpath: str, var: str | None, preds: dict | None = None,
    t_slab: tuple[int, int] | None = None,
) -> pd.DataFrame:
    """Decode one NetCDF file to long form: CF time decode (calendar
    attr honored), _FillValue/missing_value → NaN (→ SQL NULL),
    (time[, lev], lat, lon) mesh flattened after the ``preds``
    hyperslab. Classic files use the vendored pure-Python codec;
    HDF5-backed files require netCDF4 (or the vendored HDF5 reader —
    always used for remote URLs, where the netCDF4 C library could not
    do ranged reads anyway, and for a ``t_slab`` time-index window,
    the unit of a chunk-parallel scan)."""
    head = _magic4(fpath)
    preds = preds or {}
    if head[:3] == b"CDF":
        if _is_url(fpath):
            raise NotImplementedError(
                "remote classic (CDF) NetCDF is not supported — serve "
                "HDF5-backed NetCDF-4 over http(s) instead"
            )
        return _decode_classic(fpath, var, preds)
    if head != b"\x89HDF":
        raise ValueError(
            f"{fpath}: not a NetCDF file (neither classic CDF nor "
            "NetCDF-4/HDF5 magic)"
        )
    if _is_url(fpath) or t_slab is not None:
        return _decode_hdf5(fpath, var, preds, t_slab)
    try:
        import netCDF4  # type: ignore  # noqa: F401
    except ImportError:
        return _decode_hdf5(fpath, var, preds)
    return _decode_nc4(fpath, var, preds)


# CF coordinate-name aliases (ERA5 writes latitude/longitude, ocean
# models write depth, CMIP pressure levels write plev, …). Resolution
# is by name first, then by CF units attribute when available.
_COORD_ALIASES = {
    "time": ("time", "t", "valid_time"),
    "lat": ("lat", "latitude", "y", "rlat", "nav_lat"),
    "lon": ("lon", "longitude", "x", "rlon", "nav_lon"),
    "lev": ("lev", "plev", "level", "levels", "depth", "height", "z",
            "pressure", "isobaricInhPa"),
}
_COORD_UNITS = {
    "lat": ("degrees_north", "degree_north", "degrees_N", "degreeN"),
    "lon": ("degrees_east", "degree_east", "degrees_E", "degreeE"),
}


def _resolve_coord(
    logical: str, names: "list[str]", attrs_of=None
) -> str | None:
    """Map a logical coordinate (time/lat/lon/lev) to the actual
    variable name present in the file: exact alias match
    (case-insensitive), then CF units sniff via ``attrs_of(name)``."""
    by_lower = {n.lower(): n for n in names}
    for alias in _COORD_ALIASES[logical]:
        if alias.lower() in by_lower:
            return by_lower[alias.lower()]
    if attrs_of is not None and logical in _COORD_UNITS:
        for n in names:
            units = str((attrs_of(n) or {}).get("units", ""))
            if units in _COORD_UNITS[logical]:
                return n
    if attrs_of is not None and logical == "time":
        for n in names:
            units = str((attrs_of(n) or {}).get("units", ""))
            if " since " in units:
                return n
    return None


def _coord_or_raise(logical: str, names, attrs_of=None) -> str:
    got = _resolve_coord(logical, list(names), attrs_of)
    if got is None:
        raise ValueError(
            f"no {logical!r} coordinate variable found (looked for "
            f"{_COORD_ALIASES[logical]} and CF units); variables: "
            f"{sorted(names)}"
        )
    return got


def _pick_var(names_ndim: dict[str, int], dims: set[str], var: str | None) -> str:
    if var is not None:
        return var
    # prefer 3-D (time, lat, lon) data variables; fall back to 4-D
    # (time, lev, lat, lon), which flattens with a lev column
    for nd in (3, 4):
        candidates = [
            k for k, n in names_ndim.items() if n == nd and k not in dims
        ]
        if candidates:
            return candidates[0]
    raise ValueError(
        "no 3-D (time, lat, lon) or 4-D (time, lev, lat, lon) data "
        f"variable found; pass var= explicitly (variables: {sorted(names_ndim)})"
    )


def _long_form(
    fname: str,
    times: pd.DatetimeIndex,
    lats: np.ndarray,
    lons: np.ndarray,
    data: np.ndarray,
    levs: np.ndarray | None = None,
) -> pd.DataFrame:
    """Flatten a (time, lat, lon) or — when ``levs`` is given — a
    (time, lev, lat, lon) grid to long-form rows."""
    if levs is not None:
        if data.shape != (len(times), len(levs), len(lats), len(lons)):
            raise ValueError(
                f"variable shape {data.shape} does not match "
                f"(time={len(times)}, lev={len(levs)}, lat={len(lats)}, "
                f"lon={len(lons)})"
            )
        tt, lv, la, lo = np.meshgrid(
            np.arange(len(times)), levs, lats, lons, indexing="ij"
        )
        return pd.DataFrame(
            {
                "name": fname,
                "time": times[tt.ravel()],
                "lev": lv.ravel(),
                "lat": la.ravel(),
                "lon": lo.ravel(),
                "value": data.ravel(),
            }
        )
    if data.shape != (len(times), len(lats), len(lons)):
        raise ValueError(
            f"variable shape {data.shape} does not match "
            f"(time={len(times)}, lat={len(lats)}, lon={len(lons)})"
        )
    tt, la, lo = np.meshgrid(
        np.arange(len(times)), lats, lons, indexing="ij"
    )
    return pd.DataFrame(
        {
            "name": fname,
            "time": times[tt.ravel()],
            "lat": la.ravel(),
            "lon": lo.ravel(),
            "value": data.ravel(),
        }
    )


def _apply_fill(data: np.ndarray, attrs: dict) -> np.ndarray:
    out = np.asarray(data, dtype=float)
    for key in ("_FillValue", "missing_value"):
        fv = attrs.get(key)
        if fv is not None:
            out = np.where(out == float(fv), np.nan, out)
    # CF scale/offset decode
    sf, ao = attrs.get("scale_factor"), attrs.get("add_offset")
    if sf is not None:
        out = out * float(sf)
    if ao is not None:
        out = out + float(ao)
    return out


def _decode_classic(fpath: str, var: str | None, preds: dict) -> pd.DataFrame:
    from bcdp_spark.sources.netcdf3 import read_netcdf3

    with open(fpath, "rb") as fh:
        nc = read_netcdf3(fh.read())
    var = _pick_var(
        {k: len(v.shape) for k, v in nc.variables.items()},
        set(nc.dims),
        var,
    )
    v = nc.variables[var]
    names = list(nc.variables)
    av = lambda n: nc.variables[n].attrs  # noqa: E731
    tvar = nc.variables[_coord_or_raise("time", names, av)]
    times = _cf_times(tvar.data, tvar.attrs)
    lats = np.asarray(
        nc.variables[_coord_or_raise("lat", names, av)].data, dtype=float
    )
    lons = np.asarray(
        nc.variables[_coord_or_raise("lon", names, av)].data, dtype=float
    )
    data = _apply_fill(v.data, v.attrs)
    levs = None
    if len(v.shape) == 4:
        # CF order (time, lev, lat, lon): dim index 1 is the level axis;
        # its coordinate variable (same name) supplies the values, else
        # plain level indices
        dim_names = list(nc.dims)
        lev_name = dim_names[v.dimids[1]]
        levs = (
            np.asarray(nc.variables[lev_name].data, dtype=float)
            if lev_name in nc.variables
            else np.arange(v.shape[1], dtype=float)
        )
    if preds:
        times, lats, lons, data, levs = _mask_cube(
            times, lats, lons, data, levs, preds
        )
    return _long_form(
        fpath.rsplit("/", 1)[-1], times, lats, lons, data, levs
    )


def _open_hdf5(fpath: str):
    """Vendored HDF5 parse over the shared transport: local files mmap
    (metadata walks fault in only touched pages), http(s) URLs read
    via SparseBytes ranged GETs — the cloud-archive design point: a
    multi-GB CMIP6 member on object storage serves its superblock/
    B-tree walk from a few header-page requests and each surviving
    chunk from one coalesced range request; pruned chunks are never
    fetched (loopback-asserted in tests/test_netcdf_http.py)."""
    from bcdp_spark.sources.hdf5 import H5File
    from bcdp_spark.sources.ranged import open_raw

    return H5File(open_raw(fpath))


def _h5_dims(h5) -> set:
    """Names acting as coordinate/dimension variables: netCDF-4 marks
    them CLASS='DIMENSION_SCALE'; files from other writers fall back to
    the CF coordinate-name aliases."""
    dims = {
        n
        for n, d in h5.datasets.items()
        if d.attrs.get("CLASS") == "DIMENSION_SCALE"
    }
    names = list(h5.datasets)
    av = lambda n: h5.datasets[n].attrs  # noqa: E731
    for logical in _COORD_ALIASES:
        got = _resolve_coord(logical, names, av)
        if got is not None:
            dims.add(got)
    return dims


def _decode_hdf5(
    fpath: str, var: str | None, preds: dict,
    t_slab: tuple[int, int] | None = None,
) -> pd.DataFrame:
    """NetCDF-4/HDF5 decode via the vendored stdlib codec
    (bcdp_spark.sources.hdf5) — the no-dependency path the container
    needs. Same semantics as the classic path: CF calendar-aware time
    decode, _FillValue → NaN, name-based coordinates. Predicates and
    the ``t_slab`` window become an index-slab ``H5File.read(sel=...)``
    — chunks wholly outside the request are never decompressed."""
    h5 = _open_hdf5(fpath)
    var = _pick_var(
        {k: len(d.shape) for k, d in h5.datasets.items()},
        _h5_dims(h5),
        var,
    )
    v = h5.datasets[var]
    names = list(h5.datasets)
    av = lambda n: h5.datasets[n].attrs  # noqa: E731
    tname = _coord_or_raise("time", names, av)
    times = _cf_times(h5.read(tname), h5.datasets[tname].attrs)
    lats = np.asarray(
        h5.read(_coord_or_raise("lat", names, av)), dtype=float
    )
    lons = np.asarray(
        h5.read(_coord_or_raise("lon", names, av)), dtype=float
    )
    levs = None
    if len(v.shape) == 4:
        lname = _resolve_coord("lev", names, av)
        levs = (
            np.asarray(h5.read(lname), dtype=float)
            if lname is not None
            and h5.datasets[lname].shape[0] == v.shape[1]
            else np.arange(v.shape[1], dtype=float)
        )
    if preds or t_slab is not None:
        axes = [np.asarray(times.values), lats, lons]
        keys = ["time", "lat", "lon"]
        if levs is not None:
            axes.insert(1, levs)
            keys.insert(1, "lev")
        masks = [axis_mask(ax, preds, key) for ax, key in zip(axes, keys)]
        if t_slab is not None:
            masks[0][: t_slab[0]] = False
            masks[0][t_slab[1] :] = False
        sels = []
        for m in masks:
            idx = np.flatnonzero(m)
            sels.append(
                slice(int(idx[0]), int(idx[-1]) + 1)
                if len(idx)
                else slice(0, 0)
            )
        data = _apply_fill(
            np.asarray(h5.read(var, sel=tuple(sels)), dtype=float), v.attrs
        )
        times = times[sels[0]]
        lats = lats[sels[-2]]
        lons = lons[sels[-1]]
        if levs is not None:
            levs = levs[sels[1]]
        # exact mask inside the (index-contiguous) slab — handles
        # unsorted axes where the slab over-covers
        times, lats, lons, data, levs = _mask_cube(
            times, lats, lons, data, levs, preds
        )
    else:
        data = _apply_fill(np.asarray(h5.read(var), dtype=float), v.attrs)
    return _long_form(
        fpath.rsplit("/", 1)[-1], times, lats, lons, data, levs
    )


def _decode_nc4(fpath: str, var: str | None, preds: dict) -> pd.DataFrame:
    """netCDF4-backed decode (HDF5 files, when the codec is present).
    Time conversion goes through cfcal (NOT pd.to_datetime(str(...)))
    so non-Gregorian calendars behave identically to the classic path."""
    import netCDF4  # type: ignore

    from bcdp_spark.sources.cfcal import times_to_timestamps

    ds = netCDF4.Dataset(fpath)
    try:
        var = _pick_var(
            {k: v.ndim for k, v in ds.variables.items()},
            set(ds.dimensions),
            var,
        )
        v = ds.variables[var]
        names = list(ds.variables)
        av = lambda n: {  # noqa: E731
            k: getattr(ds.variables[n], k)
            for k in ds.variables[n].ncattrs()
        }
        tvar = ds.variables[_coord_or_raise("time", names, av)]
        times = times_to_timestamps(
            np.asarray(tvar[:], dtype=float),
            tvar.units,
            getattr(tvar, "calendar", "standard"),
        )
        lats = np.asarray(
            ds.variables[_coord_or_raise("lat", names, av)][:], dtype=float
        )
        lons = np.asarray(
            ds.variables[_coord_or_raise("lon", names, av)][:], dtype=float
        )
        data = np.ma.filled(v[:], np.nan).astype(float)
        levs = None
        if v.ndim == 4:
            lev_name = v.dimensions[1]
            levs = (
                np.asarray(ds.variables[lev_name][:], dtype=float)
                if lev_name in ds.variables
                else np.arange(v.shape[1], dtype=float)
            )
        if preds:
            times, lats, lons, data, levs = _mask_cube(
                times, lats, lons, data, levs, preds
            )
        return _long_form(
            fpath.rsplit("/", 1)[-1], times, lats, lons, data, levs
        )
    finally:
        ds.close()


def load_netcdf_vars(
    spark: SparkSession,
    path: str,
    variables: "list[str]",
    var_col: str = "name",
) -> DataFrame:
    """Multi-variable dataset load (the reference's multi-var xarray
    Dataset, bcdp/core.py [UNVERIFIED]): the long forms of several data
    variables from the same file set, tagged by variable name in
    ``var_col`` — so P1 variable-select downstream is a plain filter.
    One ``(path, var)`` manifest, one task per pair, one ``mapInPandas``
    (no ``Union``); rows come in variable then file order. All
    variables must share a rank (3-D or 4-D)."""
    if not variables:
        raise ValueError("variables must be a non-empty list")
    files = _files(path)
    # header peeks on the driver: a rank mismatch fails here, naming
    # the variables, not later inside a task
    schemas = [_long_form_schema(files, v) for v in variables]
    for v, s in zip(variables, schemas):
        if len(s) != len(schemas[0]):  # 5 columns 3-D, 6 columns 4-D
            raise ValueError(
                f"{path}: {v} is {len(s) - 2}-D but {variables[0]} is "
                f"{len(schemas[0]) - 2}-D; one load needs one rank"
            )
    schema = schemas[0]
    if var_col != "name":
        schema = T.StructType([*schema.fields]).add(var_col, "string")
    from bcdp_spark.sources.manifest import spread_manifest

    manifest = spread_manifest(
        spark, [(f, v) for v in variables for f in files],
        "path string, var string",
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath, v in zip(pdf["path"], pdf["var"]):
                frame = _decode_one(fpath, v)
                frame[var_col] = v
                yield frame

    return manifest.mapInPandas(decode, schema=schema)
