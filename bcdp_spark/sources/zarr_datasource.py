"""PySpark Python DataSource V2 for Zarr stores: a driver-side planner
and pushdown adapter over ``load_zarr``'s chunk decoder (same DSv2
pattern as ``netcdf_datasource``).

``spark.read.format("zarr").load("/path/store.zarr").filter("lat >= 0")``
keeps only what is specific to DSv2:

- ``schema()`` — 3-D or 4-D long form from the array's rank;
- ``pushFilters()`` — =, <, <=, >, >= on the coordinate columns are
  accepted; everything else is returned to Spark and evaluated
  post-scan, so the source is always correct and pushdown only
  changes how much work is skipped;
- ``partitions()`` — one InputPartition per kept data-variable chunk,
  planned by ``zarr._plan_chunks``: the same coordinate decode, grid
  enumeration and span-pruning rule ``load_zarr`` uses.

``read()`` is one call to ``zarr.chunk_frame`` with the pushed
predicates (``sources/hyperslab.py``), which mask the chunk's axes
before the long-form mesh exists.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from bcdp_spark.sources.hyperslab import (
    RANGE_FILTERS,
    arrow_batch,
    from_filters,
    stream_rows,
)
from bcdp_spark.sources.zarr import (
    _chunk_grid,
    _columns,
    _kept_chunks,
    _open_store,
    chunk_frame,
)


@dataclass
class _ZChunk(InputPartition):
    idx: tuple = field(default_factory=tuple)


def _schema(options: dict, fmt: str) -> str:
    store = options.get("path")
    if not store:
        raise ValueError(f"{fmt} source requires a path")
    _name, meta, _coords = _open_store(store, options.get("var"))
    cols = ", ".join(f"{c} {'timestamp' if c == 'time' else 'double'}"
                     for c in _columns(meta))
    return f"name string, {cols}, value double"


class ZarrDataSource(DataSource):
    """format("zarr"): long-form rows from a Zarr store."""

    @classmethod
    def name(cls) -> str:
        return "zarr"

    def schema(self) -> str:
        return _schema(self.options, "zarr")

    def reader(self, schema: StructType) -> "ZarrReader":
        return ZarrReader(self.options, schema)


class ZarrReader(DataSourceReader):
    def __init__(self, options, schema: StructType | None = None):
        store = options.get("path")
        if not store:
            raise ValueError("zarr source requires a path")
        self._store = store
        self._var = options.get("var")
        self._schema = schema  # the declared schema read() batches follow
        self._filters: list[Filter] = []
        self._planned = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        cols = _columns(self._open()[1])
        for f in filters:
            attr = getattr(f, "attribute", None)
            if isinstance(f, RANGE_FILTERS) and attr in [(c,) for c in cols]:
                self._filters.append(f)
            else:
                yield f

    def _open(self):
        # Open ONCE on the driver (pushFilters/partitions both hit this);
        # the memo is pickled into each executor task with the reader, so
        # read() never re-opens consolidated metadata or re-decodes the
        # coordinate arrays per chunk.
        if self._planned is None:
            self._planned = _open_store(self._store, self._var)
        return self._planned

    def partitions(self) -> list[_ZChunk]:
        _name, meta, coords = self._open()
        kept, _total = _kept_chunks(meta, coords, from_filters(self._filters))
        return [_ZChunk(idx=idx) for idx in kept]

    def read(self, partition: _ZChunk) -> Iterator:
        name, meta, coords = self._open()
        yield arrow_batch(chunk_frame(
            self._store, name, meta, coords, tuple(partition.idx),
            from_filters(self._filters),
        ), self._schema)


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
        return _schema(self.options, "zarr-stream")

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
        if t1 <= t0:
            return
        name, meta, coords = _open_store(self._store, self._var)
        tc = meta.chunks[0]
        for idx in _chunk_grid(meta):
            if idx[0] * tc < t1 and (idx[0] + 1) * tc > t0:
                yield from stream_rows(chunk_frame(
                    self._store, name, meta, coords, idx, t_slab=(t0, t1)
                ))

    def read(self, start: dict):
        _name, meta, _coords = _open_store(self._store, self._var)
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
