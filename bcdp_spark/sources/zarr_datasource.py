"""PySpark Python DataSource V2 for Zarr v2 stores with filter-pushdown
chunk pruning (the Catalyst-native twin of ``load_zarr``'s explicit
bounds kwargs; same DSv2 pattern as ``netcdf_datasource``).

``spark.read.format("zarr").load("/path/store.zarr").filter("lat >= 0")``
plans:

- **one InputPartition per data-variable chunk** — the format's native
  parallelism unit, linear scale-out at 100 TB;
- **driver-side chunk pruning**: pushed time/lev/lat/lon range
  predicates are evaluated against each chunk's coordinate span (the
  tiny 1-D coordinate arrays, one ``.zmetadata``-assisted read) — chunks
  that cannot match are never scheduled;
- **executor-side hyperslab masks**: the same pushed predicates mask
  the chunk's coordinate slices BEFORE the mesh materializes, so a
  1 %-selectivity filter materializes 1 % of the chunk's rows.

Accepted-and-enforced filters: =, <, <=, >, >= on the coordinate
columns. Everything else is returned to Spark untouched (evaluated
post-scan), so the source is always correct; pushdown only changes how
much work is skipped.
"""

from __future__ import annotations

import datetime as _dt
import os
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from bcdp_spark.sources.netcdf_datasource import _RANGE_OPS, _axis_mask


@dataclass
class _ZChunk(InputPartition):
    idx: tuple = field(default_factory=tuple)


def _open(store: str, var: str | None):
    from bcdp_spark.sources.zarr import (
        _pick_data_var,
        read_array,
        read_consolidated,
    )

    consolidated = read_consolidated(store)
    name, meta = _pick_data_var(store, var, consolidated)
    coords = {}
    for i, d in enumerate(meta.dims):
        vals, cattrs = read_array(store, d, consolidated)
        if i == 0:
            from bcdp_spark.sources.zarr import _decode_time

            coords[d] = np.asarray(_decode_time(vals, cattrs).values)
        else:
            coords[d] = np.asarray(vals, dtype="float64")
    return name, meta, coords


class ZarrDataSource(DataSource):
    """format("zarr"): long-form rows from a Zarr v2 store."""

    @classmethod
    def name(cls) -> str:
        return "zarr"

    def schema(self) -> str:
        store = self.options.get("path")
        if not store:
            raise ValueError("zarr source requires a path")
        _name, meta, _coords = _open(store, self.options.get("var"))
        if len(meta.shape) == 4:
            return (
                "name string, time timestamp, lev double, lat double, "
                "lon double, value double"
            )
        return (
            "name string, time timestamp, lat double, lon double, "
            "value double"
        )

    def reader(self, schema: StructType) -> "ZarrReader":
        return ZarrReader(self.options)


class ZarrReader(DataSourceReader):
    def __init__(self, options):
        store = options.get("path")
        if not store:
            raise ValueError("zarr source requires a path")
        self._store = store
        self._var = options.get("var")
        self._filters: list[Filter] = []
        self._planned = None

    # ------------------------------------------------------ pushdown
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        _name, meta, _coords, _dims, _cols = self._plan()
        cols = ["time", "lat", "lon"] + (["lev"] if len(meta.shape) == 4 else [])
        for f in filters:
            attr = getattr(f, "attribute", None)
            if isinstance(f, _RANGE_OPS) and attr in [(c,) for c in cols]:
                self._filters.append(f)
            else:
                yield f

    # ---------------------------------------------------- chunk plan
    def _plan(self):
        # Plan ONCE on the driver (pushFilters/partitions both hit this);
        # the memo is pickled into each executor task with the reader, so
        # read() never re-opens consolidated metadata or re-decodes the
        # coordinate arrays per chunk (ADVICE r3: that repeat was
        # O(n_chunks * coord_bytes) and dominated small-chunk scans).
        if self._planned is None:
            name, meta, coords = _open(self._store, self._var)
            dims = meta.dims
            has_lev = len(meta.shape) == 4
            # logical column per dim position: 0=time, [1=lev,] -2=lat, -1=lon
            colnames = (
                ["time", "lev", "lat", "lon"]
                if has_lev
                else ["time", "lat", "lon"]
            )
            self._planned = (name, meta, coords, dims, colnames)
        return self._planned

    def partitions(self) -> list[_ZChunk]:
        from bcdp_spark.sources.zarr import _chunk_coord

        name, meta, coords, dims, colnames = self._plan()
        ngrid = [(s + c - 1) // c for s, c in zip(meta.shape, meta.chunks)]
        idxs = [()]
        for g in ngrid:
            idxs = [i + (j,) for i in idxs for j in range(g)]
        out = []
        for idx in idxs:
            keep = True
            for pos, col in enumerate(colnames):
                span = _chunk_coord(meta, coords, pos, idx[pos])
                if not _axis_mask(span, self._filters, col).any():
                    keep = False
                    break
            if keep:
                out.append(_ZChunk(idx=tuple(idx)))
        return out

    # ----------------------------------------------------------- read
    def read(self, partition: _ZChunk) -> Iterator:
        import pandas as pd
        import pyarrow as pa

        from bcdp_spark.sources.netcdf import _apply_fill
        from bcdp_spark.sources.zarr import _chunk_coord, _read_chunk

        name, meta, coords, dims, colnames = self._plan()
        idx = tuple(partition.idx)
        data = _apply_fill(
            np.asarray(_read_chunk(self._store, name, idx, meta), dtype=float),
            dict(meta.attrs),
        )
        axes = [
            _chunk_coord(meta, coords, pos, idx[pos])
            for pos in range(len(idx))
        ]
        # hyperslab: mask each axis BEFORE the mesh exists
        masks = [
            _axis_mask(ax, self._filters, col)
            for ax, col in zip(axes, colnames)
        ]
        if not all(m.any() for m in masks):
            return
        axes = [ax[m] for ax, m in zip(axes, masks)]
        data = data[np.ix_(*masks)]

        mesh = np.meshgrid(*[np.arange(len(a)) for a in axes], indexing="ij")
        flat_v = data.ravel()
        arrays = [pa.array([name] * flat_v.size, type=pa.string())]
        for pos, col in enumerate(colnames):
            vals = axes[pos][mesh[pos].ravel()]
            if col == "time":
                arrays.append(
                    pa.array(pd.DatetimeIndex(vals), type=pa.timestamp("us"))
                )
            else:
                arrays.append(pa.array(vals, type=pa.float64()))
        arrays.append(pa.array(flat_v, type=pa.float64(), from_pandas=True))
        yield pa.RecordBatch.from_arrays(
            arrays, names=["name"] + colnames + ["value"]
        )


def register_zarr_source(spark) -> None:
    """Idempotently register format('zarr') on a session (and enable
    Python-source filter pushdown, required by Spark 4.1 to plan a
    pushFilters reader)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ZarrDataSource)


# --------------------------------------------------------------- stream


class ZarrStreamDataSource(DataSource):
    """format("zarr-stream"): micro-batch ingestion of a Zarr store that
    GROWS along the time axis (the simulation-append / satellite-feed
    pattern: new time chunks land, coordinate metadata is rewritten).
    Offsets are the count of TIME STEPS already emitted, so each
    append is delivered exactly once; rows inside one time step are
    atomic per micro-batch. The streaming twin of format('zarr')."""

    @classmethod
    def name(cls) -> str:
        return "zarr-stream"

    def schema(self) -> str:
        store = self.options.get("path")
        if not store:
            raise ValueError("zarr-stream source requires a path")
        _name, meta, _coords = _open(store, self.options.get("var"))
        if len(meta.shape) == 4:
            return (
                "name string, time timestamp, lev double, lat double, "
                "lon double, value double"
            )
        return (
            "name string, time timestamp, lat double, lon double, "
            "value double"
        )

    def simpleStreamReader(self, schema: StructType):
        return ZarrStreamReader(self.options)


class ZarrStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        store = options.get("path")
        if not store:
            raise ValueError("zarr-stream source requires a path")
        self._store = store
        self._var = options.get("var")

    def initialOffset(self) -> dict:
        return {"n_time": 0}

    def _rows_between(self, t0: int, t1: int):
        import pandas as pd

        from bcdp_spark.sources.netcdf import _apply_fill, _long_form
        from bcdp_spark.sources.zarr import _read_chunk

        if t1 <= t0:
            return
        name, meta, coords = _open(self._store, self._var)
        dims = meta.dims
        has_lev = len(meta.shape) == 4
        tc = meta.chunks[0]
        ngrid = [(s + c - 1) // c for s, c in zip(meta.shape, meta.chunks)]
        rest = [()]
        for g in ngrid[1:]:
            rest = [i + (j,) for i in rest for j in range(g)]
        for ti in range(t0 // tc, (min(t1, meta.shape[0]) + tc - 1) // tc):
            t_lo, t_hi = ti * tc, min((ti + 1) * tc, meta.shape[0])
            sel = slice(max(t0, t_lo) - t_lo, min(t1, t_hi) - t_lo)
            if sel.start >= sel.stop:
                continue
            times = pd.DatetimeIndex(
                coords[dims[0]][t_lo:t_hi][sel]
            )
            for ridx in rest:
                idx = (ti, *ridx)
                data = _apply_fill(
                    np.asarray(
                        _read_chunk(self._store, name, idx, meta), dtype=float
                    ),
                    dict(meta.attrs),
                )[sel]
                axes = {
                    d: coords[d][
                        idx[p] * meta.chunks[p] : min(
                            (idx[p] + 1) * meta.chunks[p], meta.shape[p]
                        )
                    ]
                    for p, d in enumerate(dims)
                    if p > 0
                }
                pdf = _long_form(
                    name,
                    times,
                    axes[dims[-2]],
                    axes[dims[-1]],
                    data,
                    levs=axes[dims[1]] if has_lev else None,
                )
                for row in pdf.itertuples(index=False):
                    t = row.time
                    if hasattr(t, "to_pydatetime"):
                        t = t.to_pydatetime()
                    # CF-decoded wall times ARE UTC: attach tzinfo so
                    # TimestampType.toInternal converts via utcoffset —
                    # a NAIVE datetime would go through local mktime
                    # and shift every streamed row on a non-UTC host
                    t = t.replace(tzinfo=_dt.timezone.utc)
                    vals = [row.name, t]
                    if has_lev:
                        vals.append(float(row.lev))
                    vals.extend(
                        [
                            float(row.lat),
                            float(row.lon),
                            None if pd.isna(row.value) else float(row.value),
                        ]
                    )
                    yield tuple(vals)

    def read(self, start: dict):
        _name, meta, _coords = _open(self._store, self._var)
        n_now = meta.shape[0]
        t0 = int(start.get("n_time", 0))
        # iter(list), not a bare list or generator: the prefetch
        # wrapper calls next() on it, copy.copy()s it, and pickles it —
        # a list_iterator supports all three, a generator none
        return iter(list(self._rows_between(t0, n_now))), {"n_time": n_now}

    def readBetweenOffsets(self, start: dict, end: dict):
        yield from self._rows_between(
            int(start.get("n_time", 0)), int(end.get("n_time", 0))
        )

    def commit(self, end: dict) -> None:
        pass


def register_zarr_stream_source(spark) -> None:
    spark.dataSource.register(ZarrStreamDataSource)
