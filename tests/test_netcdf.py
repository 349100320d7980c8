"""NetCDF classic codec + CF calendar tests (SURVEY.md S1, VERDICT r1
item 2): real .nc bytes written and read by the vendored pure-Python
codec — no netCDF4/h5py — through to a DuckDB-checked aggregate."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_ORACLE  # noqa: F401  (session fixtures)


# ------------------------------------------------------------- codec
def test_netcdf3_roundtrip_fixed_and_record(tmp_path):
    from bcdp_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

    lat = np.array([-30.0, 0.0, 30.0])
    lon = np.array([0.0, 90.0, 180.0, 270.0])
    time = np.arange(5, dtype=np.float64)
    data = np.arange(5 * 3 * 4, dtype=np.float64).reshape(5, 3, 4)

    raw = write_netcdf3(
        dims={"time": 5, "lat": 3, "lon": 4},
        variables={
            "time": (["time"], time, {"units": "days since 2000-01-01"}),
            "lat": (["lat"], lat, {"units": "degrees_north"}),
            "lon": (["lon"], lon, {"units": "degrees_east"}),
            "tas": (["time", "lat", "lon"], data, {"_FillValue": -999.0}),
        },
        attrs={"title": "roundtrip"},
        record_dim="time",
    )
    assert raw[:3] == b"CDF"
    nc = read_netcdf3(raw)
    assert nc.dims == {"time": 0, "lat": 3, "lon": 4}
    assert nc.numrecs == 5
    assert nc.attrs["title"] == "roundtrip"
    np.testing.assert_array_equal(nc.variables["lat"].data, lat)
    np.testing.assert_array_equal(nc.variables["time"].data, time)
    np.testing.assert_array_equal(nc.variables["tas"].data, data)
    assert nc.variables["tas"].attrs["_FillValue"] == -999.0


def test_netcdf3_multiple_record_vars_interleaved():
    from bcdp_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

    a = np.arange(6, dtype=np.float64).reshape(3, 2)
    b = np.arange(100, 112, dtype=np.float64).reshape(3, 4)
    raw = write_netcdf3(
        dims={"time": 3, "x": 2, "y": 4},
        variables={
            "a": (["time", "x"], a, {}),
            "b": (["time", "y"], b, {}),
        },
        record_dim="time",
    )
    nc = read_netcdf3(raw)
    np.testing.assert_array_equal(nc.variables["a"].data, a)
    np.testing.assert_array_equal(nc.variables["b"].data, b)


def test_netcdf3_int_types_roundtrip():
    from bcdp_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

    iv = np.array([[1, 2], [3, 4]], dtype=np.int32)
    sv = np.array([5, -6], dtype=np.int16)
    raw = write_netcdf3(
        dims={"x": 2, "y": 2},
        variables={"iv": (["x", "y"], iv, {}), "sv": (["x"], sv, {})},
    )
    nc = read_netcdf3(raw)
    np.testing.assert_array_equal(nc.variables["iv"].data, iv)
    np.testing.assert_array_equal(nc.variables["sv"].data, sv)


def test_cdf5_roundtrip_fixed_and_record():
    """CDF-5 (PnetCDF 64-bit data): INT64 header fields, 64-bit begins,
    NC_INT64 data — full roundtrip incl. record interleaving."""
    from bcdp_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

    time = np.arange(4, dtype=np.float64)
    lat = np.array([-45.0, 45.0])
    big = np.array([2**40, -(2**41), 7, 0, 2**33, -1, 5, 9], dtype=np.int64)
    data = np.arange(4 * 2, dtype=np.float64).reshape(4, 2)
    raw = write_netcdf3(
        dims={"time": 4, "lat": 2},
        variables={
            "time": (["time"], time, {"units": "days since 2001-01-01"}),
            "lat": (["lat"], lat, {}),
            "tas": (["time", "lat"], data, {"_FillValue": -999.0}),
            "counts": (["time", "lat"], big.reshape(4, 2), {"big": 2**50}),
        },
        attrs={"title": "cdf5"},
        record_dim="time",
        version=5,
    )
    assert raw[:4] == b"CDF\x05"
    nc = read_netcdf3(raw)
    assert nc.numrecs == 4 and nc.attrs["title"] == "cdf5"
    np.testing.assert_array_equal(nc.variables["tas"].data, data)
    np.testing.assert_array_equal(
        nc.variables["counts"].data, big.reshape(4, 2)
    )
    assert nc.variables["counts"].attrs["big"] == 2**50
    assert nc.variables["tas"].attrs["_FillValue"] == -999.0


def test_cdf5_header_only_and_read_var(tmp_path):
    from bcdp_spark.sources.netcdf3 import (
        read_header,
        read_var,
        write_netcdf3,
    )

    data = np.arange(3 * 2, dtype=np.float64).reshape(3, 2)
    raw = write_netcdf3(
        dims={"t": 3, "x": 2},
        variables={
            "t": (["t"], np.arange(3, dtype=np.float64), {}),
            "v": (["t", "x"], data, {}),
        },
        record_dim="t",
        version=5,
    )
    p = tmp_path / "c5.nc"
    p.write_bytes(raw)
    with open(p, "rb") as fh:
        nc = read_header(fh)
        assert set(nc.variables) == {"t", "v"}
        np.testing.assert_array_equal(read_var(fh, nc, "v"), data)


def test_cdf5_climatology_through_decode(tmp_path):
    """CDF-5 member decodes through the same load path as CDF-1."""
    from bcdp_spark.sources.netcdf import _decode_one
    from bcdp_spark.sources.netcdf3 import write_netcdf3

    time = np.arange(3, dtype=np.float64)
    data = np.arange(3 * 2 * 2, dtype=np.float64).reshape(3, 2, 2)
    raw = write_netcdf3(
        dims={"time": 3, "lat": 2, "lon": 2},
        variables={
            "time": (["time"], time, {"units": "days since 2001-01-01"}),
            "lat": (["lat"], np.array([-10.0, 10.0]), {}),
            "lon": (["lon"], np.array([0.0, 90.0]), {}),
            "pr": (["time", "lat", "lon"], data, {}),
        },
        version=5,
    )
    p = tmp_path / "m.nc"
    p.write_bytes(raw)
    pdf = _decode_one(str(p), None)
    assert len(pdf) == 12 and pdf.value.sum() == data.sum()


def test_era5_style_coordinate_names(spark, tmp_path):
    """ERA5 writes latitude/longitude (not lat/lon): alias resolution
    must decode both classic and HDF5 members; unresolvable coords
    raise with the alias list."""
    import pytest as _pytest

    from bcdp_spark.sources.hdf5 import write_hdf5
    from bcdp_spark.sources.netcdf import _decode_one
    from bcdp_spark.sources.netcdf3 import write_netcdf3

    time = np.arange(3, dtype=np.float64)
    data = np.arange(3 * 2 * 2, dtype=np.float64).reshape(3, 2, 2)
    vars_era = {
        "valid_time": (
            ["valid_time"],
            time,
            {"units": "hours since 2001-01-01"},
        ),
        "latitude": (["latitude"], np.array([-10.0, 10.0]),
                     {"units": "degrees_north"}),
        "longitude": (["longitude"], np.array([0.0, 90.0]),
                      {"units": "degrees_east"}),
        "t2m": (["valid_time", "latitude", "longitude"], data, {}),
    }
    p1 = str(tmp_path / "classic.nc")
    with open(p1, "wb") as fh:
        fh.write(
            write_netcdf3(
                dims={"valid_time": 3, "latitude": 2, "longitude": 2},
                variables=vars_era,
            )
        )
    p2 = str(tmp_path / "h5.nc")
    with open(p2, "wb") as fh:
        fh.write(write_hdf5(vars_era, profile="v0"))
    for p in (p1, p2):
        pdf = _decode_one(p, None)
        assert list(pdf.columns) == ["name", "time", "lat", "lon", "value"]
        assert len(pdf) == 12 and pdf.value.sum() == data.sum()
        assert str(pdf.time.iloc[0]).startswith("2001-01-01")

    # units-only resolution (weird names, CF units attrs)
    vars_units = {
        "tax": (["tax"], time, {"units": "days since 2001-01-01"}),
        "yy": (["yy"], np.array([-10.0, 10.0]), {"units": "degrees_north"}),
        "xx": (["xx"], np.array([0.0, 90.0]), {"units": "degrees_east"}),
        "pr": (["tax", "yy", "xx"], data, {}),
    }
    p3 = str(tmp_path / "units.nc")
    with open(p3, "wb") as fh:
        fh.write(write_hdf5(vars_units, profile="v2"))
    pdf = _decode_one(p3, None)
    assert len(pdf) == 12

    # missing lat entirely -> loud error naming the aliases
    vars_bad = {
        "time": (["time"], time, {"units": "days since 2001-01-01"}),
        "q": (["q"], np.array([0.0, 90.0]), {}),
        "w": (["w"], np.array([1.0, 2.0]), {}),
        "pr": (["time", "q", "w"], data, {}),
    }
    p4 = str(tmp_path / "bad.nc")
    with open(p4, "wb") as fh:
        fh.write(write_hdf5(vars_bad, profile="v0"))
    with _pytest.raises(ValueError, match="no 'lat' coordinate"):
        _decode_one(p4, None)


def test_netcdf3_rejects_hdf5_with_clear_message():
    from bcdp_spark.sources.netcdf3 import read_netcdf3

    with pytest.raises(ValueError, match="classic"):
        read_netcdf3(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64)


# ------------------------------------------------------------ calendars
def test_cf_360_day_calendar_decodes_feb30():
    from bcdp_spark.sources.cfcal import num2date

    # 360_day: every month has 30 days → day 59 since Jan 1 is Feb 30
    dates = num2date([59], "days since 2001-01-01", "360_day")
    d = dates[0]
    assert (d.year, d.month, d.day) == (2001, 2, 30)
    # canonical doy-preserving mapping: doy 60 → Gregorian Mar 1 (2001
    # is not a leap year, so Gregorian doy 60 = Mar 1)
    assert d.dayofyear == 60
    ts = d.to_timestamp()
    assert (ts.year, ts.month, ts.day) == (2001, 3, 1)


def test_cf_noleap_calendar_skips_feb29():
    from bcdp_spark.sources.cfcal import num2date

    # noleap: Feb has 28 days even in 2000 → day 59 is Mar 1
    d = num2date([59], "days since 2000-01-01", "noleap")[0]
    assert (d.year, d.month, d.day) == (2000, 3, 1)
    # a full noleap year is 365 days
    d2 = num2date([365], "days since 2000-01-01", "noleap")[0]
    assert (d2.year, d2.month, d2.day) == (2001, 1, 1)


def test_cf_360_day_year_arithmetic():
    from bcdp_spark.sources.cfcal import num2date

    d = num2date([360 * 3 + 45], "days since 1999-01-01", "360_day")[0]
    assert (d.year, d.month, d.day) == (2002, 2, 16)


def test_cf_gregorian_vectorized_matches_pandas():
    from bcdp_spark.sources.cfcal import times_to_timestamps

    ts = times_to_timestamps(
        [0, 1.5, 48], "hours since 2001-06-01 06:00:00", "standard"
    )
    assert list(ts) == [
        pd.Timestamp("2001-06-01 06:00:00"),
        pd.Timestamp("2001-06-01 07:30:00"),
        pd.Timestamp("2001-06-03 06:00:00"),
    ]


def test_cf_negative_offsets_before_epoch():
    from bcdp_spark.sources.cfcal import num2date

    d = num2date([-1], "days since 2000-01-01", "noleap")[0]
    assert (d.year, d.month, d.day) == (1999, 12, 31)


# ----------------------------------------------------- spark end-to-end
def _write_fixture(tmp_path, calendar="standard"):
    from bcdp_spark.sources.netcdf3 import write_netcdf3

    lat = np.array([-45.0, 0.0, 45.0])
    lon = np.array([0.0, 120.0, 240.0])
    files = []
    for i, t0 in enumerate((0, 4)):
        time = np.arange(t0, t0 + 4, dtype=np.float64)
        data = np.zeros((4, 3, 3))
        for t in range(4):
            for a in range(3):
                for o in range(3):
                    data[t, a, o] = 0.25 * ((t0 + t) * 100 + a * 10 + o)
        data[0, 0, 0] = -999.0  # fill in each file
        raw = write_netcdf3(
            dims={"time": 4, "lat": 3, "lon": 3},
            variables={
                "time": (
                    ["time"],
                    time,
                    {"units": "days since 2001-01-01", "calendar": calendar},
                ),
                "lat": (["lat"], lat, {}),
                "lon": (["lon"], lon, {}),
                "pr": (["time", "lat", "lon"], data, {"_FillValue": -999.0}),
            },
            record_dim="time",
        )
        f = tmp_path / f"member{i}.nc"
        f.write_bytes(raw)
        files.append(f)
    return files


def test_load_netcdf_end_to_end_oracle(spark, duck, tmp_path):
    """Real .nc bytes → manifest fan-out decode → long form → aggregate,
    hash-compared against DuckDB recomputing the closed-form grid."""
    from bcdp_spark.sources.netcdf import load_netcdf
    from tests.compare import assert_frames_match

    _write_fixture(tmp_path)
    df = load_netcdf(spark, str(tmp_path / "*.nc"))
    from pyspark.sql import functions as F

    got = (
        df.groupBy("lat")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.count("value").alias("n_valid"),
            F.sum(F.col("value").cast("decimal(28,10)"))
            .cast("double")
            .alias("sum_value"),
            F.min("time").alias("first_time"),
        )
        .orderBy("lat")
    )
    oracle = duck.execute(
        """
WITH grid AS (
  SELECT t.g AS t, a.g AS a, o.g AS o,
         CASE WHEN (t.g % 4 = 0) AND a.g = 0 AND o.g = 0 THEN NULL
              ELSE 0.25 * (t.g * 100 + a.g * 10 + o.g) END AS value
  FROM generate_series(0, 7) t(g), generate_series(0, 2) a(g),
       generate_series(0, 2) o(g)
)
SELECT CASE a WHEN 0 THEN -45.0 WHEN 1 THEN 0.0 ELSE 45.0 END AS lat,
       COUNT(*) AS n_cells,
       COUNT(value) AS n_valid,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
         AS sum_value,
       TIMESTAMP '2001-01-01' AS first_time
FROM grid GROUP BY a ORDER BY lat
"""
    ).df()
    assert_frames_match(got.toPandas(), oracle, "netcdf_end_to_end")


def test_load_netcdf_360day_axis(spark, tmp_path):
    """A 360_day time axis (Feb 30 present) decodes through the canonical
    mapping without raising — the r1 VERDICT bug."""
    from pyspark.sql import functions as F

    from bcdp_spark.sources.netcdf import load_netcdf
    from bcdp_spark.sources.netcdf3 import write_netcdf3

    time = np.array([58.0, 59.0, 60.0])  # Feb 29, Feb 30, Mar 1 (360_day)
    data = np.ones((3, 1, 1))
    raw = write_netcdf3(
        dims={"time": 3, "lat": 1, "lon": 1},
        variables={
            "time": (
                ["time"],
                time,
                {"units": "days since 2000-01-01", "calendar": "360_day"},
            ),
            "lat": (["lat"], np.array([0.0]), {}),
            "lon": (["lon"], np.array([0.0]), {}),
            "x": (["time", "lat", "lon"], data, {}),
        },
        record_dim="time",
    )
    (tmp_path / "m.nc").write_bytes(raw)
    rows = (
        load_netcdf(spark, str(tmp_path / "*.nc"))
        .select(F.date_format("time", "yyyy-MM-dd").alias("d"))
        .orderBy("d")
        .collect()
    )
    # canonical doy-preserving mapping keeps the three dates distinct
    # and ordered (2000 is a Gregorian leap year, so doys 59/60/61 map
    # to Feb 28 / Feb 29 / Mar 1)
    assert [r["d"] for r in rows] == ["2000-02-28", "2000-02-29", "2000-03-01"]


def _write_4d_fixture(tmp_path, n_t=3, levs=(850.0, 500.0), fill_at=None):
    from bcdp_spark.sources.netcdf3 import write_netcdf3

    n_l, n_a, n_o = len(levs), 2, 3
    t = np.arange(n_t)[:, None, None, None]
    l = np.arange(n_l)[None, :, None, None]
    a = np.arange(n_a)[None, None, :, None]
    o = np.arange(n_o)[None, None, None, :]
    data = 1.0 * (t * 1000 + l * 100 + a * 10 + o)
    if fill_at is not None:
        data = np.where((t + l + a + o) % fill_at == 0, -999.0, data)
    raw = write_netcdf3(
        dims={"time": n_t, "lev": n_l, "lat": n_a, "lon": n_o},
        variables={
            "time": (
                ["time"],
                np.arange(float(n_t)),
                {"units": "days since 2000-01-01"},
            ),
            "lev": (["lev"], np.array(levs), {"units": "hPa"}),
            "lat": (["lat"], np.array([0.0, 10.0]), {}),
            "lon": (["lon"], np.array([0.0, 5.0, 10.0]), {}),
            "ta4": (
                ["time", "lev", "lat", "lon"],
                data,
                {"_FillValue": -999.0},
            ),
        },
        record_dim="time",
    )
    (tmp_path / "m4.nc").write_bytes(raw)
    return data


def test_load_netcdf_4d_emits_lev_column(spark, tmp_path):
    """A 4-D (time, lev, lat, lon) variable decodes to the 6-column long
    form — auto-picked when no 3-D data variable exists."""
    from bcdp_spark.sources.netcdf import load_netcdf

    data = _write_4d_fixture(tmp_path)
    df = load_netcdf(spark, str(tmp_path / "*.nc"))
    assert df.columns == ["name", "time", "lev", "lat", "lon", "value"]
    rows = df.orderBy("time", "lev", "lat", "lon").collect()
    assert len(rows) == data.size
    # lev carries the coordinate VALUES (not indices): ascending sort puts
    # 500 hPa (file index l=1 → value offset 100) first
    assert rows[0]["lev"] == 500.0 and rows[0]["value"] == 100.0
    # lev=500 (l=1), lat idx 1, lon idx 2, t=2 → 2*1000+1*100+1*10+2
    assert any(
        r["lev"] == 500.0 and r["value"] == 2112.0 for r in rows
    )


def test_netcdf_datasource_4d_emits_lev_column(spark, tmp_path):
    """format('netcdf') on a 4-D (time, lev, lat, lon) variable declares
    the 6-column long form and returns load_netcdf's rows."""
    from bcdp_spark.sources.netcdf import load_netcdf
    from bcdp_spark.sources.netcdf_datasource import register_netcdf_source

    _write_4d_fixture(tmp_path, fill_at=7)
    register_netcdf_source(spark)
    a = spark.read.format("netcdf").load(str(tmp_path / "*.nc"))
    b = load_netcdf(spark, str(tmp_path / "*.nc"))
    assert a.columns == ["name", "time", "lev", "lat", "lon", "value"]
    pa, pb = a.toPandas(), b.toPandas()
    key = ["time", "lev", "lat", "lon"]
    pd.testing.assert_frame_equal(
        pa.sort_values(key).reset_index(drop=True),
        pb.sort_values(key).reset_index(drop=True),
    )
    assert len(pa) == 3 * 2 * 2 * 3


def test_ensemble_lev_subset_and_4d_roundtrip(spark, tmp_path):
    """Bounds(lev_bnds=…) filters the vertical axis; to_netcdf writes the
    4-D grid back and load_netcdf reingests it identically."""
    from bcdp_spark.ensemble import Bounds, Ensemble
    from bcdp_spark.sinks import to_netcdf
    from bcdp_spark.sources.netcdf import load_netcdf

    _write_4d_fixture(tmp_path, fill_at=7)
    df = load_netcdf(spark, str(tmp_path / "*.nc"))
    ens = Ensemble(df, space_cols=("lev", "lat", "lon"))
    only_850 = ens.subset(Bounds(lev_bnds=(600.0, 900.0))).df
    assert only_850.select("lev").distinct().collect()[0]["lev"] == 850.0
    assert only_850.count() == 3 * 1 * 2 * 3

    out = tmp_path / "export4d"
    manifest = to_netcdf(df, str(out), by="name").collect()
    assert len(manifest) == 1
    back = load_netcdf(spark, str(out / "*.nc"))
    cols = ["time", "lev", "lat", "lon", "value"]
    a = [tuple(r) for r in df.select(*cols).orderBy(*cols[:4]).collect()]
    b = [tuple(r) for r in back.select(*cols).orderBy(*cols[:4]).collect()]
    assert a == b


def test_bounds_lev_without_lev_column_raises(spark):
    from bcdp_spark.ensemble import Bounds, Ensemble

    df = spark.createDataFrame(
        [("m", None, 0.0, 0.0, 1.0)],
        "name string, time timestamp, lat double, lon double, value double",
    )
    with pytest.raises(ValueError, match="lev"):
        Ensemble(df).subset(Bounds(lev_bnds=(1.0, 2.0)))


def test_to_netcdf_export_roundtrip(spark, tmp_path):
    """S6 export seam: long form → per-member .nc (distributed
    applyInPandas) → re-ingest through load_netcdf → identical rows."""
    from pyspark.sql import functions as F

    from bcdp_spark.sinks import to_netcdf
    from bcdp_spark.sources.netcdf import load_netcdf

    _write_fixture(tmp_path)
    df = load_netcdf(spark, str(tmp_path / "*.nc"))
    out = tmp_path / "export"
    manifest = to_netcdf(df, str(out), by="name").collect()
    assert len(manifest) == 2 and all(m["n_times"] == 4 for m in manifest)

    back = load_netcdf(spark, str(out / "*.nc"))
    a = df.select("name", "time", "lat", "lon", "value").orderBy(
        "name", "time", "lat", "lon"
    )
    b = back.select("name", "time", "lat", "lon", "value").orderBy(
        "name", "time", "lat", "lon"
    )
    ra, rb = a.collect(), b.collect()
    assert len(ra) == len(rb) == 72  # 2 members × 4 times × 3×3 grid
    for x, y in zip(ra, rb):
        assert (x["time"], x["lat"], x["lon"]) == (y["time"], y["lat"], y["lon"])
        assert (x["value"] is None) == (y["value"] is None)
        if x["value"] is not None:
            assert x["value"] == y["value"]


# ------------------------------------------- Python DataSource (V2)
def _parity_source(kind: str, tmp_path):
    """(format name, path, loader(bounds kwargs) -> DataFrame) for one
    gridded fixture."""
    from bcdp_spark.sources.geotiff import load_geotiff, write_geotiff
    from bcdp_spark.sources.grib2 import load_grib2
    from bcdp_spark.sources.hdf5 import write_hdf5
    from bcdp_spark.sources.netcdf import load_netcdf
    from bcdp_spark.sources.zarr import load_zarr, write_zarr

    t = np.arange(12)[:, None, None]
    a = np.arange(3)[None, :, None]
    o = np.arange(4)[None, None, :]
    cube = 1.0 * (t * 100 + a * 10 + o)
    lats, lons = np.array([-30.0, 0.0, 30.0]), np.arange(4) * 90.0
    time = (["time"], np.arange(12.0), {"units": "days since 2001-01-01"})
    if kind == "netcdf-classic":
        _write_fixture(tmp_path)
        path = str(tmp_path / "*.nc")
        return "netcdf", path, lambda spark, **b: load_netcdf(spark, path, **b)
    if kind == "netcdf-hdf5":
        path = str(tmp_path / "chunked.nc")
        with open(path, "wb") as fh:
            fh.write(write_hdf5(
                {"time": time, "lat": (["lat"], lats, {}),
                 "lon": (["lon"], lons, {}),
                 "pr": (["time", "lat", "lon"], cube, {})},
                chunk={"pr": (5, 3, 4)}, gzip_level=4,
            ))
        return "netcdf", path, lambda spark, **b: load_netcdf(spark, path, **b)
    if kind.startswith("zarr"):
        path = str(tmp_path / "s.zarr")
        variables = {"time": time, "lat": (["lat"], lats, {}),
                     "lon": (["lon"], lons, {})}
        if kind == "zarr-3d":
            variables["pr"] = (["time", "lat", "lon"], cube, {})
            chunks = {"pr": (5, 2, 3)}
        else:
            variables["lev"] = (["lev"], np.array([850.0, 500.0]), {})
            variables["ta"] = (
                ["time", "lev", "lat", "lon"],
                np.stack([cube, cube + 0.5], axis=1), {},
            )
            chunks = {"ta": (5, 1, 2, 3)}
        dims = {"time": 12, "lat": 3, "lon": 4}
        if "lev" in variables:
            dims["lev"] = 2
        write_zarr(path, dims=dims, variables=variables, chunks=chunks)
        return "zarr", path, lambda spark, **b: load_zarr(spark, path, **b)
    if kind == "grib2":
        from tests.test_grib2 import _write_fixture as _write_grib2

        path = _write_grib2(str(tmp_path))
        return "grib2", path, lambda spark, **b: load_grib2(spark, path, **b)
    rotation = (0.5, 0.25) if kind == "geotiff-rotated" else None
    for nm in ("a", "b"):
        (tmp_path / f"{nm}.tif").write_bytes(write_geotiff(
            cube[:8].reshape(8, 12) + (nm == "b"), lat0=50.0, lon0=10.0,
            dlat=1.0, dlon=1.0, rows_per_strip=3, rotation=rotation,
        ))
    path = str(tmp_path / "*.tif")
    return "geotiff", path, lambda spark, **b: load_geotiff(spark, path, **b)


@pytest.mark.parametrize(
    "kind",
    ["netcdf-classic", "netcdf-hdf5", "zarr-3d", "zarr-4d", "grib2",
     "geotiff-regular", "geotiff-rotated"],
)
def test_netcdf_datasource_matches_mapinpandas_loader(spark, tmp_path, kind):
    """format(...) must produce exactly the rows its load_* loader does:
    unfiltered, and under each pushed =, <, <=, >, >= lat filter versus
    the loader's equivalent inclusive bounds plus the same post-filter."""
    import operator

    import pandas as pd
    from pyspark.sql import functions as F

    from bcdp_spark.sources.geotiff_datasource import register_geotiff_source
    from bcdp_spark.sources.grib2_datasource import register_grib2_source
    from bcdp_spark.sources.netcdf_datasource import register_netcdf_source
    from bcdp_spark.sources.zarr_datasource import register_zarr_source

    for register in (register_netcdf_source, register_zarr_source,
                     register_grib2_source, register_geotiff_source):
        register(spark)
    fmt, path, load = _parity_source(kind, tmp_path)

    def rows(df):
        pdf = df.toPandas()
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    full = rows(spark.read.format(fmt).load(path))
    pd.testing.assert_frame_equal(full, rows(load(spark)))
    lat = sorted(full["lat"].unique())[len(full["lat"].unique()) // 2]
    inf = float("inf")
    for op, bnds in (
        (operator.eq, (lat, lat)), (operator.lt, (-inf, lat)),
        (operator.le, (-inf, lat)), (operator.gt, (lat, inf)),
        (operator.ge, (lat, inf)),
    ):
        cond = op(F.col("lat"), F.lit(float(lat)))
        got = rows(spark.read.format(fmt).load(path).filter(cond))
        want = rows(load(spark, lat_bnds=bnds).filter(cond))
        assert 0 < len(got) < len(full)
        pd.testing.assert_frame_equal(got, want, obj=f"{kind} lat {op.__name__}")


def test_load_netcdf_open_ended_bounds(spark, tmp_path):
    """A None endpoint leaves that side of a *_bnds range open."""
    import pandas as pd

    from bcdp_spark.sources.netcdf import load_netcdf

    _write_fixture(tmp_path)  # 8 times x lats (-45, 0, 45) x 3 lons
    path = str(tmp_path / "*.nc")
    assert load_netcdf(spark, path, lat_bnds=(0.0, None)).count() == 48
    assert load_netcdf(spark, path, lat_bnds=(None, 0.0)).count() == 48
    # Zarr re-applies its bounds in-plan: an open end must not turn
    # into a NULL comparison that filters every row out
    _fmt, _path, load_zarr = _parity_source("zarr-3d", tmp_path)
    north = load_zarr(spark, lat_bnds=(0.0, None)).toPandas()
    assert sorted(north.lat.unique()) == [0.0, 30.0]
    assert len(north) == 12 * 2 * 4  # 12 times x lats (0, 30) x 4 lons
    early = load_zarr(spark, time_bnds=(None, "2001-01-06")).toPandas()
    assert len(early) == 6 * 3 * 4  # days 0-5
    assert early.time.max() == pd.Timestamp("2001-01-06")


def test_netcdf_datasource_hyperslab_pushdown(spark, tmp_path):
    """Pushed coordinate predicates must (a) keep results identical and
    (b) prune whole files at planning time (partition count drops)."""
    from pyspark.sql import functions as F

    from bcdp_spark.sources.netcdf_datasource import register_netcdf_source

    _write_fixture(tmp_path)  # member0: days 0-3, member1: days 4-7
    register_netcdf_source(spark)
    df = spark.read.format("netcdf").load(str(tmp_path / "*.nc"))

    # slab: one day + positive lats -> 1 time x 1 lat x 3 lon
    slab = df.filter(
        (F.col("time") == "2001-01-02") & (F.col("lat") > 10.0)
    )
    rows = slab.collect()
    assert len(rows) == 3
    assert all(r["lat"] == 45.0 for r in rows)

    # file pruning: a time range entirely inside member0 plans 1 partition
    pruned = df.filter(F.col("time") < "2001-01-03")
    assert pruned.rdd.getNumPartitions() == 1
    assert pruned.count() == 2 * 3 * 3  # days 0,1 x full grid
    # and the name= pushdown prunes by filename
    named = df.filter(F.col("name") == "member1.nc")
    assert named.rdd.getNumPartitions() == 1
    assert named.count() == 36


def test_netcdf_datasource_correct_without_pushdown(spark, tmp_path):
    """With the pushdown flag off the source must still answer correctly
    (filters evaluated post-scan by Spark)."""
    from pyspark.sql import functions as F

    from bcdp_spark.sources.netcdf_datasource import NetCDFDataSource

    _write_fixture(tmp_path)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(NetCDFDataSource)
    df = spark.read.format("netcdf").load(str(tmp_path / "*.nc"))
    got = df.filter(F.col("lon") == 120.0).count()
    assert got == 8 * 3  # 8 times x 3 lats at one lon


# --------------------------------------------------- OPeNDAP (DAP2)
def test_dap2_dods_roundtrip(tmp_path):
    """encode_dods → parse_dods roundtrip, incl. XDR double length
    prefix, 4-byte padding, and int16 padding behavior."""
    import numpy as np

    from bcdp_spark.sources.opendap import encode_dods, parse_dods

    time = np.arange(3.0)
    lat = np.array([-10.0, 10.0])
    lon = np.array([0.0, 90.0, 180.0])
    tas = np.arange(18.0).reshape(3, 2, 3)
    sv = np.array([1, -2, 3], dtype=np.int16)
    raw = encode_dods(
        [
            ("time", "float64", [("time", 3)], time),
            ("lat", "float64", [("lat", 2)], lat),
            ("lon", "float64", [("lon", 3)], lon),
            ("tas", "float64", [("time", 3), ("lat", 2), ("lon", 3)], tas),
            ("flags", "int16", [("time", 3)], sv),
        ]
    )
    got = parse_dods(raw)
    np.testing.assert_array_equal(got["time"], time)
    np.testing.assert_array_equal(got["tas"], tas)
    np.testing.assert_array_equal(got["flags"], sv)


def test_dap2_load_opendap_long_form(spark, tmp_path):
    import numpy as np

    from bcdp_spark.sources.opendap import encode_dods, load_opendap

    time = np.array([0.0, 1.0])
    lat = np.array([0.0, 45.0])
    lon = np.array([10.0, 20.0])
    pr = np.arange(8.0).reshape(2, 2, 2)
    raw = encode_dods(
        [
            ("time", "float64", [("time", 2)], time),
            ("lat", "float64", [("lat", 2)], lat),
            ("lon", "float64", [("lon", 2)], lon),
            ("pr", "float64", [("time", 2), ("lat", 2), ("lon", 2)], pr),
        ]
    )
    f = tmp_path / "resp.dods"
    f.write_bytes(raw)
    df = load_opendap(spark, str(f))
    assert df.count() == 8
    row = df.filter("lat = 45.0 AND lon = 20.0").orderBy("time").collect()
    assert [r["value"] for r in row] == [3.0, 7.0]

    # transport injection: fetch callable instead of file read
    df2 = load_opendap(spark, "http://example.invalid/ds", fetch=lambda u: raw)
    assert df2.count() == 8


def test_netcdf_stream_source_picks_up_new_files(spark, tmp_path):
    """netcdf-stream: availableNow over existing files, then a new file
    lands and the next run delivers ONLY the new rows (offset = file
    set; exactly-once per file)."""
    import numpy as np

    from bcdp_spark.sources.netcdf3 import write_netcdf3
    from bcdp_spark.sources.netcdf_datasource import (
        register_netcdf_stream_source,
    )

    def write_member(i, t0):
        raw = write_netcdf3(
            dims={"time": 2, "lat": 1, "lon": 2},
            variables={
                "time": (
                    ["time"],
                    np.arange(t0, t0 + 2, dtype=float),
                    {"units": "days since 2001-01-01"},
                ),
                "lat": (["lat"], np.zeros(1), {}),
                "lon": (["lon"], np.array([0.0, 90.0]), {}),
                "pr": (
                    ["time", "lat", "lon"],
                    np.arange(4.0).reshape(2, 1, 2) + 100 * i,
                    {},
                ),
            },
            record_dim="time",
        )
        (tmp_path / f"s{i}.nc").write_bytes(raw)

    register_netcdf_stream_source(spark)
    write_member(0, 0)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("netcdf-stream")
            .load(str(tmp_path / "*.nc"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(out).collect()
    assert len(first) == 4 and all(r["value"] < 100 for r in first)

    write_member(1, 2)
    run_once()
    both = spark.read.parquet(out).collect()
    # exactly-once per file: old rows not re-emitted, new file delivered
    assert len(both) == 8
    assert sum(1 for r in both if r["value"] >= 100) == 4


def test_load_netcdf_vars_multi_variable(spark, tmp_path):
    """Multi-var .nc → union tagged by variable name (P1 select is then
    a plain filter)."""
    import numpy as np

    from bcdp_spark.sources.netcdf import load_netcdf_vars
    from bcdp_spark.sources.netcdf3 import write_netcdf3

    base = np.arange(12.0).reshape(3, 2, 2)
    raw = write_netcdf3(
        dims={"time": 3, "lat": 2, "lon": 2},
        variables={
            "time": (["time"], np.arange(3.0),
                     {"units": "days since 2001-01-01"}),
            "lat": (["lat"], np.array([-10.0, 10.0]), {}),
            "lon": (["lon"], np.array([0.0, 90.0]), {}),
            "pr": (["time", "lat", "lon"], base, {}),
            "tas": (["time", "lat", "lon"], base * 3.0, {}),
        },
        record_dim="time",
    )
    (tmp_path / "m.nc").write_bytes(raw)
    pdf = load_netcdf_vars(
        spark, str(tmp_path / "*.nc"), ["pr", "tas"]
    ).toPandas()
    assert sorted(pdf.name.unique()) == ["pr", "tas"]
    assert len(pdf) == 24
    assert pdf[pdf.name == "tas"].value.sum() == 3 * pdf[pdf.name == "pr"].value.sum()
    # one (path, var) manifest decoded by one mapInPandas: no Union
    df = load_netcdf_vars(spark, str(tmp_path / "*.nc"), ["pr", "tas"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan and plan.count("MapInPandas") == 1


def test_load_netcdf_vars_rejects_mixed_ranks(spark, tmp_path):
    """A 3-D and a 4-D variable cannot share one long form: the load
    fails on the driver and names both variables."""
    from bcdp_spark.sources.netcdf import load_netcdf_vars
    from bcdp_spark.sources.netcdf3 import write_netcdf3

    raw = write_netcdf3(
        dims={"time": 2, "lev": 2, "lat": 2, "lon": 2},
        variables={
            "time": (["time"], np.arange(2.0),
                     {"units": "days since 2001-01-01"}),
            "lev": (["lev"], np.array([850.0, 500.0]), {}),
            "lat": (["lat"], np.array([-10.0, 10.0]), {}),
            "lon": (["lon"], np.array([0.0, 90.0]), {}),
            "pr": (["time", "lat", "lon"], np.zeros((2, 2, 2)), {}),
            "ta": (["time", "lev", "lat", "lon"], np.zeros((2, 2, 2, 2)), {}),
        },
        record_dim="time",
    )
    (tmp_path / "m.nc").write_bytes(raw)
    with pytest.raises(ValueError, match="ta is 4-D but pr is 3-D"):
        load_netcdf_vars(spark, str(tmp_path / "*.nc"), ["pr", "ta"])


def test_netcdf3_single_short_record_var_unpadded(spark, tmp_path):
    """Classic-format special case: a single char/byte/short record
    variable uses NO padding between records (netCDF-C derives the
    stride from this rule, so padded files would misread from record 1
    on). Writer must emit the unpadded vsize; reader roundtrips."""
    from bcdp_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

    vals = np.arange(6, dtype=np.int16)  # 1 value/record -> 2 bytes/rec
    raw = write_netcdf3(
        dims={"t": 6},
        variables={"x": (["t"], vals, {})},
        record_dim="t",
    )
    nc = read_netcdf3(raw)
    assert nc.variables["x"].vsize == 2  # unpadded
    np.testing.assert_array_equal(np.asarray(nc.variables["x"].data), vals)


def test_netcdf3_zero_element_attribute(spark):
    """A numeric attribute with nelems=0 is legal classic NetCDF; the
    value decoder must return an empty list, not IndexError (which the
    header-retry loop does not catch)."""
    from bcdp_spark.sources.netcdf3 import _Reader

    r = _Reader(b"")
    assert r.values(4, 0) == []   # NC_INT, zero elements
    assert r.values(6, 0) == []   # NC_DOUBLE, zero elements


def test_cfcal_old_epoch_standard_calendar(spark):
    """CESM-style 'days since 0001-01-01' standard-calendar units used
    to crash the vectorized Gregorian path (pandas ns-range overflow);
    it now falls back to integer walking. Proleptic-Gregorian mapping
    (documented canonical form)."""
    from bcdp_spark.sources.cfcal import times_to_timestamps

    ts = times_to_timestamps(
        [730000.0], "days since 0001-01-01 00:00:00", "standard"
    )
    assert str(ts[0]).startswith("1999-09-04")


def test_cfcal_unknown_calendar_raises(spark):
    """'julian' (and typos like 'no_leap') must raise, not silently
    decode with proleptic-Gregorian leap rules (days-off corruption)."""
    import pytest as _pytest

    from bcdp_spark.sources.cfcal import num2date, times_to_timestamps

    with _pytest.raises(ValueError, match="unsupported CF calendar"):
        num2date([59.0], "days since 1900-01-01", "julian")
    with _pytest.raises(ValueError, match="unsupported CF calendar"):
        times_to_timestamps([1.0], "days since 2000-01-01", "no_leap")
