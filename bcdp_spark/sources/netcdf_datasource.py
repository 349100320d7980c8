"""PySpark Python DataSource V2 for NetCDF: a driver-side planner and
pushdown adapter over ``load_netcdf``'s decoder (SURVEY.md §4).

``spark.read.format("netcdf").load("/path/*.nc")`` keeps only what is
specific to DSv2:

- ``schema()`` — the same header-only rank peek as ``load_netcdf``, so
  a 4-D (time, lev, lat, lon) variable emits a ``lev`` column;
- ``pushFilters()`` — =, <, <=, >, >= on ``time``/``lev``/``lat``/
  ``lon`` and = on ``name`` (the file name) are accepted; everything
  else is returned to Spark and evaluated post-scan, so the source is
  correct with or without pushdown (``spark.sql.python.
  filterPushdown.enabled``, Spark 4.1+);
- ``partitions()`` — one InputPartition per classic (CDF) file and
  one per TIME CHUNK of a chunked NetCDF-4/HDF5 member, planned by
  ``netcdf._plan_slabs``: pushed time predicates drop files and slabs
  against the header-only time axis, so they are never scheduled.

``read()`` is one call to ``netcdf._decode_one`` with the pushed
predicates (``sources/hyperslab.py``) and the partition's time slab:
the hyperslab masks the axes before the long-form mesh exists, and on
HDF5 members only the chunks inside the slab are decompressed.
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
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
    value_matches,
)
from bcdp_spark.sources.netcdf import (
    _decode_one,
    _files,
    _long_form_schema,
    _plan_slabs,
)

_COORD_COLS = ("time", "lev", "lat", "lon")


@dataclass
class _NcPartition(InputPartition):
    path: str
    # time-index slab [t0, t1) for chunk-parallel HDF5 scans; (-1, -1)
    # means "whole file" (classic files)
    t0: int = -1
    t1: int = -1


class NetCDFDataSource(DataSource):
    """format("netcdf"): long-form rows from NetCDF files."""

    @classmethod
    def name(cls) -> str:
        return "netcdf"

    def schema(self) -> StructType:
        try:
            files = _files(self.options["path"])
        except (KeyError, FileNotFoundError):
            files = []  # the reader raises the clear error
        return _long_form_schema(files, self.options.get("var"))

    def reader(self, schema: StructType) -> "NetCDFReader":
        return NetCDFReader(self.options, schema)


class NetCDFReader(DataSourceReader):
    def __init__(self, options, schema: StructType | None = None):
        path = options.get("path")
        if not path:
            raise ValueError("netcdf source requires a path")
        self._glob = path
        self._var = options.get("var")
        self._schema = schema  # the declared schema read() batches follow
        self._filters: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            attr = getattr(f, "attribute", None)
            if isinstance(f, RANGE_FILTERS) and attr in [(c,) for c in _COORD_COLS]:
                self._filters.append(f)
            elif isinstance(f, EqualTo) and attr == ("name",):
                self._filters.append(f)
            else:
                yield f  # unsupported → Spark evaluates it post-scan

    def partitions(self) -> list[_NcPartition]:
        preds = from_filters(self._filters)
        return [
            _NcPartition(path, t0, t1)
            for path in _files(self._glob)
            if value_matches(os.path.basename(path), preds, "name")
            for t0, t1 in _plan_slabs(path, self._var, preds)
        ]

    def read(self, partition: _NcPartition) -> Iterator:
        slab = None if partition.t0 < 0 else (partition.t0, partition.t1)
        yield arrow_batch(_decode_one(
            partition.path, self._var, from_filters(self._filters), slab
        ), self._schema)


def register_netcdf_source(spark) -> None:
    """Idempotently register format('netcdf') on a session.

    Also enables ``spark.sql.python.filterPushdown.enabled``: Spark 4.1
    refuses to plan a reader that implements pushFilters() while the
    flag is off (fail-fast by design), and the flag is runtime-settable.
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(NetCDFDataSource)


# --------------------------------------------------------------- stream
class NetCDFStreamDataSource(DataSource):
    """format("netcdf-stream"): micro-batch ingestion of a GROWING
    directory of NetCDF files — the streaming twin of the batch
    source (ST-surface meets S1). Offsets are the sorted set of files
    already emitted, so each file is delivered exactly once and new
    drops are picked up on the next trigger. Late/duplicate file
    delivery is handled downstream by the engine's watermarked dedup
    (streaming/__init__.py) keyed on (name, time, lat, lon)."""

    @classmethod
    def name(cls) -> str:
        return "netcdf-stream"

    def schema(self) -> StructType:
        files = sorted(_glob.glob(self.options.get("path") or ""))
        return _long_form_schema(files, self.options.get("var"))

    def simpleStreamReader(self, schema: StructType):
        return NetCDFStreamReader(self.options)


class NetCDFStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("netcdf-stream source requires a path glob")
        self._glob = path
        self._var = options.get("var")

    def initialOffset(self) -> dict:
        return {"files": []}

    def _decode_file(self, path: str) -> list[tuple]:
        return stream_rows(_decode_one(path, self._var))

    def read(self, start: dict):
        seen = set(start.get("files", []))
        current = sorted(_glob.glob(self._glob))
        new = [f for f in current if f not in seen]
        # a concrete list, not a generator: the simple-reader contract
        # prefetches on the driver and ships the batch (picklable) to
        # executors — micro-batch sized data by definition
        rows = [r for f in new for r in self._decode_file(f)]
        return rows, {"files": sorted(seen | set(new))}

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay (failure recovery): exactly the files added in (start, end]
        seen = set(start.get("files", []))
        for f in sorted(set(end.get("files", [])) - seen):
            yield from self._decode_file(f)

    def commit(self, end: dict) -> None:
        pass  # offsets are self-contained (file lists); nothing to clean


def register_netcdf_stream_source(spark) -> None:
    spark.dataSource.register(NetCDFStreamDataSource)
