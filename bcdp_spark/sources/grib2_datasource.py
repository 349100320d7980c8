"""PySpark Python DataSource V2 for GRIB2 archives: a driver-side
planner and pushdown adapter over ``load_grib2``'s message decoder
(same DSv2 pattern as ``netcdf_datasource`` / ``zarr_datasource``).

``spark.read.format("grib2").load("/cycles/*.grib2")
     .filter("name = 't'").filter("lat >= 0")`` keeps only what is
specific to DSv2:

- ``pushFilters()`` — =, <, <=, >, >= on time/lat/lon/level, and
  equality on ``name``, ``member`` (PDT 4.1/4.11 perturbation number —
  one ensemble member scans without touching the others' fields),
  ``ens_label`` (the 4.2/4.12 derived / 4.5/4.9 probability /
  4.6/4.10 percentile product tag, e.g. 'em', 'es', 'p50',
  'prob_gt_2') and ``level_type``. Everything else is returned to
  Spark untouched (evaluated post-scan), so the source is always
  correct — pushdown only changes how much work is skipped;
- ``partitions()`` — one InputPartition per MESSAGE field, planned
  from a driver-side header-only index (section 7 never touched) and
  pruned by ``grib2.index_matches`` against each message's param,
  valid time, level and bounding box.

``read()`` is one call to ``grib2.message_frame``, the decoder
``load_grib2`` and the ``grib2-stream`` reader use too: per-point
coordinates (degrees on projected and reduced-Gaussian grids as well)
masked by the pushed lat/lon predicates.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StructType

from bcdp_spark.sources.grib2 import index_matches, message_frame, scan_grib2
from bcdp_spark.sources.hyperslab import RANGE_FILTERS, arrow_batch, from_filters
from bcdp_spark.sources.netcdf import _files
from bcdp_spark.sources.ranged import open_raw

_SCHEMA = (
    "name string, time timestamp, lat double, lon double, value double, "
    "member int, ens_label string, level_type int, level double"
)


@dataclass
class _Msg(InputPartition):
    path: str = ""
    offset: int = 0
    field: int = 0   # field index within a multi-field message
    length: int = 0  # message byte length (exact-range reads)


class Grib2DataSource(DataSource):
    """format("grib2"): long-form rows from GRIB2 cycle files."""

    @classmethod
    def name(cls) -> str:
        return "grib2"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema: StructType) -> "Grib2Reader":
        return Grib2Reader(self.options, schema)


class Grib2Reader(DataSourceReader):
    def __init__(self, options, schema: StructType | None = None):
        path = options.get("path")
        if not path:
            raise ValueError("grib2 source requires a path glob")
        self._glob = path
        self._schema = schema  # the declared schema read() batches follow
        self._filters: list[Filter] = []
        self._index = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            attr = getattr(f, "attribute", None)
            if isinstance(f, RANGE_FILTERS) and attr in (
                ("time",), ("lat",), ("lon",), ("level",)
            ):
                self._filters.append(f)
            elif isinstance(f, EqualTo) and attr in (
                ("name",), ("member",), ("ens_label",), ("level_type",)
            ):
                self._filters.append(f)
            else:
                yield f

    def _plan(self):
        # index once on the driver (header-only; memo pickled to tasks):
        # mmap locally / ranged GETs remotely, section 7 never touched
        if self._index is None:
            self._index = [
                (f, idx)
                for f in _files(self._glob)
                for idx in scan_grib2(open_raw(f))
            ]
        return self._index

    def partitions(self) -> list[_Msg]:
        preds = from_filters(self._filters)
        return [
            _Msg(
                path=f, offset=idx.offset, field=idx.field,
                length=idx.length,
            )
            for f, idx in self._plan()
            if index_matches(idx, preds)
        ]

    def read(self, partition: _Msg) -> Iterator:
        yield arrow_batch(message_frame(
            partition.path, partition.offset, partition.length,
            partition.field, from_filters(self._filters),
        ), self._schema)


def register_grib2_source(spark) -> None:
    """Idempotently register format('grib2') on a session (and enable
    Python-source filter pushdown, required by Spark 4.1 to plan a
    pushFilters reader)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(Grib2DataSource)
