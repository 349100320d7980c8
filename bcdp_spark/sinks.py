"""Sinks: the gridded per-member exports (``to_netcdf``, ``to_zarr``,
``to_grib2``) and the parquet maintenance writes (compaction,
write-audit-publish, bucketed tables).

The gridded sinks share one encode path. ``_per_member`` runs one
applyInPandas task per ``by`` group, so each member's file is written
from its own executor and never passes through the driver, and returns
the write manifest: one row per file (by, path, n_rows, n_times).
``_member_grid`` pivots that member's long-form rows back onto its dense
(time[, lev], lat, lon) grid. Each sink adds only its encoder: CF
coordinate variables and the classic NetCDF writer; time chunking and
the Zarr v2/v3 writer; per-field range scaling and GRIB2 messages.

The pivot is where the grid contract holds. Input that a grid cannot
represent fails loudly rather than writing a file that silently lacks
rows: two rows on one (time[, lev], lat, lon) cell, a NULL coordinate,
or a member name that is NULL, empty, ``.``, ``..`` or holds a path
separator raise ``ValueError`` naming the member (from the Spark task,
so the driver sees it inside Spark's ``PythonException``). Grid cells
no row covers, and NULL values, are written as the format's fill.

Reference parity: bcdp sink surface (to_netcdf bundle output,
bcdp/core.py [UNVERIFIED; SURVEY.md §0]).
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def _member_grid(
    pdf: pd.DataFrame, var_name: str, fill: float
) -> tuple[dict, np.ndarray]:
    """Pivot one member's long-form rows onto its dense grid.

    Returns ``(axes, grid)``: ``axes`` maps each of ``time[, lev], lat,
    lon`` to its sorted distinct values, and ``grid`` holds one float
    per combination of them, ``fill`` where no row lands or the row's
    value is NULL. Raises ValueError on a NULL coordinate and on two
    rows for one cell (the grid has room for one of them only).
    """
    names = ("time", "lat", "lon")
    if "lev" in pdf.columns:
        names = ("time", "lev", "lat", "lon")
    axes, codes = {}, []
    for name in names:
        col = pdf[name]
        if col.isna().any():
            raise ValueError(f"NULL {name} coordinate")
        axes[name], inverse = np.unique(col.to_numpy(), return_inverse=True)
        codes.append(inverse)
    shape = tuple(len(v) for v in axes.values())
    cells = np.ravel_multi_index(codes, shape)
    shared = np.bincount(cells) > 1
    if shared.any():
        at = np.unravel_index(int(shared.argmax()), shape)
        where = ", ".join(f"{n}={axes[n][i]}" for n, i in zip(names, at))
        raise ValueError(f"more than one row for grid cell ({where})")
    grid = np.full(shape, fill, dtype=float)
    vals = pdf[var_name].to_numpy(dtype=float)
    ok = ~np.isnan(vals)
    np.put(grid, cells[ok], vals[ok])
    return axes, grid


def _cf_coords(axes: dict) -> dict:
    """CF coordinate variables of a member grid: time as float seconds
    since the epoch, the spatial axes as float64."""
    secs = (
        pd.DatetimeIndex(axes["time"]) - pd.Timestamp("1970-01-01")
    ) / pd.Timedelta(seconds=1)
    out = {
        "time": (
            ["time"],
            np.asarray(secs, dtype="float64"),
            {"units": "seconds since 1970-01-01", "calendar": "standard"},
        )
    }
    for name in ("lat", "lon", "lev"):
        if name in axes:
            out[name] = ([name], np.asarray(axes[name], dtype=float), {})
    return out


def _per_member(
    df: DataFrame,
    out_dir: str,
    by: str,
    write: Callable[[pd.DataFrame, str, str], dict],
    schema: str = "",
) -> DataFrame:
    """One applyInPandas task per ``by`` group calls ``write(pdf,
    member, stem)``, which writes ``stem`` + its format's suffix under
    ``out_dir`` and returns the manifest columns it owns (``path``,
    ``n_times`` and any declared in ``schema``, e.g. ``", nbits int"``).
    The member name must be usable as a file name inside ``out_dir``;
    a ValueError from ``write`` is re-raised naming the member."""

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        member = pdf[by].iloc[0]
        name = "" if pd.isna(member) else str(member)
        if name in ("", ".", "..") or "/" in name or os.sep in name:
            raise ValueError(
                f"member {member!r} in column {by!r} is not a file name "
                f"inside {out_dir!r}"
            )
        try:
            row = write(pdf, name, os.path.join(out_dir, name))
        except ValueError as exc:
            raise ValueError(f"member {name!r}: {exc}") from exc
        row = {by: name, "n_rows": len(pdf), **row}
        return pd.DataFrame({k: [v] for k, v in row.items()})

    os.makedirs(out_dir, exist_ok=True)
    return df.groupBy(by).applyInPandas(
        one,
        schema=f"{by} string, path string, n_rows long, n_times long{schema}",
    )


def to_netcdf(
    df: DataFrame,
    out_dir: str,
    by: str = "name",
    var_name: str = "value",
    fill_value: float = -9.96921e36,
) -> DataFrame:
    """NetCDF export (reference `to_netcdf`, bcdp/core.py [UNVERIFIED]):
    one classic-format ``<member>.nc`` per ``by`` group from long-form
    rows (name, time[, lev], lat, lon, value), written from executors
    by the vendored pure-Python writer (bcdp_spark.sources.netcdf3), no
    codec dependency. Returns the manifest (by, path, n_rows, n_times).

    The shared pivot (``_member_grid``) lays each member onto its
    (time[, lev], lat, lon) grid; missing cells and NULL values are
    written as the CF ``_FillValue``. Duplicate cells, NULL coordinates
    and member names that are not file names raise ValueError rather
    than dropping rows.
    """

    def write(pdf: pd.DataFrame, member: str, stem: str) -> dict:
        from bcdp_spark.sources.netcdf3 import write_netcdf3

        axes, grid = _member_grid(pdf, var_name, fill_value)
        raw = write_netcdf3(
            dims={a: len(v) for a, v in axes.items()},
            variables={
                **_cf_coords(axes),
                var_name: (list(axes), grid, {"_FillValue": fill_value}),
            },
            record_dim="time",
        )
        with open(stem + ".nc", "wb") as fh:
            fh.write(raw)
        return {"path": stem + ".nc", "n_times": grid.shape[0]}

    return _per_member(df, out_dir, by, write)


def to_zarr(
    df: DataFrame,
    out_dir: str,
    by: str = "name",
    var_name: str = "value",
    time_chunk: int = 512,
    zarr_format: int = 2,
    shard_time: int | None = None,
) -> DataFrame:
    """Zarr export (S6 sibling of ``to_netcdf``): one chunked
    ``<member>.zarr`` store per ``by`` group, written from executors by
    the vendored writer (``bcdp_spark.sources.zarr.write_zarr`` — stdlib
    zlib chunks, xarray-convention ``_ARRAY_DIMENSIONS``), so
    ``load_zarr`` and any public Zarr reader can reingest it. Returns
    the manifest (by, path, n_rows, n_times).

    The shared pivot (``_member_grid``) lays each member onto its
    (time[, lev], lat, lon) grid, NaN where a cell is missing or NULL
    (NULL again on read); it raises ValueError on duplicate cells, NULL
    coordinates and member names that are not file names. Chunks run
    along time (``time_chunk`` steps each), the axis a 100 TB ensemble
    appends and subsets on, so time-bounded reads prune chunks.

    ``zarr_format=3`` writes the v3 layout (zarr.json metadata, default
    chunk-key encoding, bytes+gzip codecs); ``shard_time`` additionally
    wraps ``shard_time`` time steps per shard file with inner chunks of
    ``time_chunk`` (sharding_indexed — one object-store GET per shard).
    """
    if zarr_format not in (2, 3):
        raise ValueError(f"zarr_format must be 2 or 3, got {zarr_format}")
    if shard_time is not None and zarr_format != 3:
        raise ValueError("shard_time requires zarr_format=3")

    def write(pdf: pd.DataFrame, member: str, stem: str) -> dict:
        from bcdp_spark.sources.zarr import write_zarr, write_zarr_v3

        axes, grid = _member_grid(pdf, var_name, np.nan)
        dims = {a: len(v) for a, v in axes.items()}
        variables = {**_cf_coords(axes), var_name: (list(axes), grid, {})}
        chunks = (min(time_chunk, grid.shape[0]),) + grid.shape[1:]
        store = stem + ".zarr"
        if zarr_format == 2:
            write_zarr(
                store, dims=dims, variables=variables,
                chunks={var_name: chunks},
            )
        elif shard_time is None:
            write_zarr_v3(
                store, dims=dims, variables=variables,
                chunks={var_name: chunks},
            )
        else:
            outer = (min(shard_time, grid.shape[0]),) + grid.shape[1:]
            write_zarr_v3(
                store, dims=dims, variables=variables,
                chunks={var_name: outer}, shards={var_name: chunks},
            )
        return {"path": store, "n_times": grid.shape[0]}

    return _per_member(df, out_dir, by, write)


def to_grib2(
    df: DataFrame,
    out_dir: str,
    by: str = "name",
    var_name: str = "value",
    nbits: int = 16,
    member_numbers: dict | None = None,
    derived_codes: dict | None = None,
    ens_size: int = 0,
) -> DataFrame:
    """GRIB2 export: one ``<member>.grib2`` cycle file per ``by`` group,
    one message per time step, written from executors with the vendored
    WMO FM 92 writer (bcdp_spark.sources.grib2) — the to_netcdf/to_zarr
    sink contract, reingestable by ``load_grib2``. The returned manifest
    has one row per file (by, path, n_rows, n_times, nbits).

    The shared pivot (``_member_grid``) lays each member onto its
    (time, lat, lon) grid and raises ValueError on duplicate cells, NULL
    coordinates and member names that are not file names. GRIB2
    messages are single-level, so a ``lev`` column raises ValueError
    before any task runs: subset one level first.

    Each message is simple-packed with a per-field range scaling: the
    reference value is the field minimum (as the IEEE-float32 GRIB
    stores), the binary scale E is the smallest power of two whose
    ``nbits`` steps span the range — quantization error is bounded by
    2^E/2 ≤ range/(2^nbits − 1), GRIB's native lossy contract (nbits=16
    keeps ~4-5 significant digits; raise for more). NaNs become bitmap
    points and reload as NULL.

    ``member_numbers`` (group label → perturbation number) switches
    the product template to 4.1 (individual ensemble forecast), so the
    member identity travels IN-BAND — readers recover it from the
    ``member`` column instead of the file name. ``derived_codes``
    (group label → WMO table 4.7 code, e.g. ``{"em": 0, "es": 2}``)
    instead emits 4.2 derived-product messages — the GEFS geavg/gespr
    write side; ``ens_size`` stamps the ensemble-size octet. Both
    dicts are constant-size (one entry per output file) and ship to
    executors via the closure.
    """
    if member_numbers is not None and derived_codes is not None:
        raise ValueError(
            "member_numbers and derived_codes are mutually exclusive"
        )
    if "lev" in df.columns:
        raise ValueError(
            "to_grib2 writes single-level (time, lat, lon) fields, but "
            "the input has a lev column; subset one level first"
        )

    def write(pdf: pd.DataFrame, member: str, stem: str) -> dict:
        from bcdp_spark.sources.grib2 import write_grib2_message

        axes, grid = _member_grid(pdf, var_name, np.nan)
        if member_numbers is not None:
            ens = {
                "member": int(member_numbers[member]),
                "ens_size": len(member_numbers),
            }
        elif derived_codes is not None:
            ens = {
                "derived": int(derived_codes[member]),
                "ens_size": int(ens_size),
            }
        else:
            ens = {}
        lats = np.asarray(axes["lat"], dtype=float)
        lons = np.asarray(axes["lon"], dtype=float)
        msgs = []
        for t, field in zip(axes["time"], grid):
            finite = field[~np.isnan(field)]
            lo = float(finite.min()) if finite.size else 0.0
            ref = float(np.float32(lo))
            if ref > lo:  # the float32 reference must not exceed the minimum
                ref = float(np.nextafter(np.float32(lo), -np.inf))
            if finite.size == 0 or finite.max() == lo:
                field = field - lo + ref  # constant field: exact
                e_scale, bits = 0, 0
            else:
                span = float(finite.max()) - ref
                e_scale = math.ceil(math.log2(span / (2**nbits - 1)))
                bits = nbits
            msgs.append(
                write_grib2_message(
                    field, lats, lons, pd.Timestamp(t).to_pydatetime(),
                    forecast_hours=0, ref_value=ref,
                    binary_scale=e_scale, nbits=bits, **ens,
                )
            )
        with open(stem + ".grib2", "wb") as fh:
            fh.write(b"".join(msgs))
        return {
            "path": stem + ".grib2",
            "n_times": grid.shape[0],
            "nbits": nbits,
        }

    return _per_member(df, out_dir, by, write, schema=", nbits int")


def compact_parquet(
    spark,
    in_path: str,
    out_path: str,
    target_mb: int = 256,
    partition_by: "Sequence[str] | None" = None,
) -> dict:
    """Small-files compaction (the maintenance op every selective 100 TB
    pipeline needs: a 1 %-selectivity filter over 500 k input tasks
    writes 500 k tiny files; downstream listing + open overhead then
    dominates). Sizes the output by MEASURED input bytes / ``target_mb``
    — not row counts, which mispredict with compression — and writes
    with a single AQE-planned shuffle (`repartition(n)` round-robin for
    even file sizes). Returns {'n_files_in', 'bytes_in', 'n_out'}.

    Driver work is one file listing (metadata-only); data moves executor
    to executor. With ``partition_by`` the repartition keys on those
    columns instead, so each output directory compacts internally."""
    n_files = 0
    bytes_in = 0
    for root, _dirs, files in os.walk(in_path):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                bytes_in += os.path.getsize(os.path.join(root, f))
    n_out = max(1, math.ceil(bytes_in / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(in_path)
    if partition_by:
        out = df.repartition(n_out, *partition_by)
        writer = out.write.partitionBy(*partition_by)
    else:
        out = df.repartition(n_out)
        writer = out.write
    writer.mode("overwrite").parquet(out_path)
    return {"n_files_in": n_files, "bytes_in": bytes_in, "n_out": n_out}


def write_audit_publish(
    spark,
    df: DataFrame,
    out_path: str,
    audit,
    partition_by: "Sequence[str] | None" = None,
) -> dict:
    """Write-audit-publish (the reliability pattern behind every
    production table publish): write to a fresh VERSIONED directory
    ``<out>.__vN__``, run ``audit(staged_df) -> bool | None`` against
    the ACTUAL written bytes (not the input plan — catches writer bugs
    and schema drift), and only then publish by atomically swapping the
    ``out_path`` symlink onto the new version (``symlink`` + ``rename``
    over the old link, one atomic syscall on POSIX). ``out_path``
    therefore ALWAYS resolves to a complete, audited table — there is
    no missing-table window, and a crash mid-publish leaves the old
    version still live (ADVICE r3). The previous version directory is
    kept (in-flight readers holding it stay valid); older ones are
    pruned.

    One documented exception: the FIRST publish over a legacy layout
    where ``out_path`` is a real directory (not a symlink) must rename
    it aside before the link can exist — that one migration has the old
    rename-window. ``audit`` returning False (or raising) aborts with
    the staging version removed. On object stores the equivalent of the
    link swap is a metadata pointer swap, which this seam isolates.
    """
    import re
    import shutil

    base = out_path.rstrip("/")
    parent, leaf = os.path.dirname(base) or ".", os.path.basename(base)
    vre = re.compile(re.escape(leaf) + r"\.__v(\d+)__$")
    existing = sorted(
        int(m.group(1))
        for name in (os.listdir(parent) if os.path.isdir(parent) else [])
        if (m := vre.match(name))
    )
    v = (existing[-1] + 1) if existing else 1
    staging = f"{base}.__v{v}__"
    shutil.rmtree(staging, ignore_errors=True)
    writer = df.write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    try:
        ok = audit(staged)
    except Exception:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if ok is False:
        shutil.rmtree(staging, ignore_errors=True)
        return {"published": False}
    if os.path.exists(base) and not os.path.islink(base):
        # legacy real-directory layout: adopt it as version 0 (the one
        # non-atomic migration, see docstring)
        legacy = f"{base}.__v0__"
        shutil.rmtree(legacy, ignore_errors=True)
        os.rename(base, legacy)
        existing = [0] + existing
    tmp_link = f"{base}.__ptr__"
    try:
        os.remove(tmp_link)
    except FileNotFoundError:
        pass
    os.symlink(f"{leaf}.__v{v}__", tmp_link)
    os.replace(tmp_link, base)  # atomic: base always resolves
    for old in existing[:-1]:  # keep current + immediately previous
        shutil.rmtree(f"{base}.__v{old}__", ignore_errors=True)
    return {"published": True, "version": v}


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a Hive-style BUCKETED table: rows are hashed on
    ``bucket_cols`` into ``num_buckets`` files, and the bucket spec is
    recorded in the catalog, so a later equi-join (or aggregation) on
    the bucket key between two tables bucketed the SAME way needs NO
    shuffle at all — Spark plans a SortMergeJoin with zero Exchange
    nodes on either side.

    This is the standing answer to the biggest 100 TB join cost: a fact
    table joined on the same key every day should pay its shuffle ONCE,
    at write time. ``sort_cols`` (defaults to the bucket key) also
    pre-sorts within buckets, removing the join-time Sort when it
    matches the join key. Bucket counts should be sized so one bucket
    of the LARGER table fits an executor core's working set (e.g. 100
    TB / 4096 buckets ≈ 25 GB per bucket pre-projection).

    Uses ``saveAsTable`` (bucket metadata lives in the session catalog;
    plain ``parquet(path)`` cannot record a bucket spec — reading the
    same files back path-wise silently loses bucketing). Plan evidence:
    ``tests/test_plans.py::test_bucketed_join_is_shuffle_free`` and
    ``tests/test_sinks_and_pruning.py::test_bucketed_join_no_shuffle``
    assert the Exchange-free join shape.
    """
    sort_cols = list(sort_cols) if sort_cols is not None else list(bucket_cols)
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*sort_cols)
        .format("parquet")
        .saveAsTable(table_name)
    )
