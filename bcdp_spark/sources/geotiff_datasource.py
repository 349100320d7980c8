"""PySpark Python DataSource V2 for GeoTIFF/COG rasters: a driver-side
planner and pushdown adapter over ``load_geotiff``'s block decoder
(same DSv2 pattern as ``grib2_datasource`` / ``zarr_datasource``).

``spark.read.format("geotiff").load("/rasters/*.tif")
     .filter("lat >= 0").filter("name = 'pr.2001.01'")`` keeps only
what is specific to DSv2:

- ``pushFilters()`` — =, <, <=, >, >= on lat/lon, plus
  ``name = '...'`` (the file stem) and ``band = N``; everything else
  returns to Spark untouched;
- ``partitions()`` — one InputPartition per strip/tile decode unit
  (a COG is exactly a tiled raster whose IFD is front-loaded, so the
  driver-side index read is one small fetch; planar multi-band files
  get one unit per (band, tile)). Pushed lat/lon predicates prune
  against each block's bounding box, ``name`` against the file stem
  and ``band`` against the unit's band span — dropped blocks are never
  read, let alone decompressed.

``read()`` is one call to ``geotiff.block_frames``, the decoder
``load_geotiff`` uses: the pushed predicates mask the block's pixels
(axis-aligned and rotated grids alike) before the long form exists.

Options: ``overview`` (int) selects a COG pyramid level instead of
the full-resolution IFD. Paths may be local globs or http(s) URLs —
remote objects are read via ranged GETs only (header pages + the
surviving blocks' exact byte ranges).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StructType

from bcdp_spark.sources.geotiff import (
    _open_raw,
    _read_payload,
    _stem,
    block_frames,
    parse_geotiff,
)
from bcdp_spark.sources.hyperslab import (
    RANGE_FILTERS,
    arrow_batch,
    axis_mask,
    from_filters,
    span_may_match,
    value_matches,
)
from bcdp_spark.sources.netcdf import _files

_SCHEMA = "name string, band int, lat double, lon double, value double"


@dataclass
class _Block(InputPartition):
    path: str = ""
    block: int = 0
    offset: int = 0
    nbytes: int = 0


class GeoTiffDataSource(DataSource):
    """format("geotiff"): long-form rows from GeoTIFF rasters."""

    @classmethod
    def name(cls) -> str:
        return "geotiff"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema: StructType) -> "GeoTiffReader":
        return GeoTiffReader(self.options, schema)


class GeoTiffReader(DataSourceReader):
    def __init__(self, options, schema: StructType | None = None):
        path = options.get("path")
        if not path:
            raise ValueError("geotiff source requires a path glob")
        self._glob = path
        ov = options.get("overview")
        self._overview = None if ov is None else int(ov)
        self._schema = schema  # the declared schema read() batches follow
        self._filters: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            attr = getattr(f, "attribute", None)
            if isinstance(f, RANGE_FILTERS) and attr in (("lat",), ("lon",)):
                self._filters.append(f)
            elif isinstance(f, EqualTo) and attr in (("name",), ("band",)):
                self._filters.append(f)
            else:
                yield f

    def _parse(self, fpath: str):
        return parse_geotiff(_open_raw(fpath), overview=self._overview)

    def partitions(self) -> list[_Block]:
        preds = from_filters(self._filters)
        out: list[_Block] = []
        for fpath in _files(self._glob):
            if not value_matches(_stem(fpath), preds, "name"):
                continue
            meta = self._parse(fpath)
            gw = meta.grid[1]
            bands = np.arange(meta.unit_nbands()) + 1
            for k in range(meta.n_units):
                s = meta.unit_spatial(k)
                la0, la1, lo0, lo1 = meta.block_bbox(s // gw, s % gw)
                if (
                    axis_mask(bands + meta.unit_band0(k), preds, "band").any()
                    and span_may_match(la0, la1, preds, "lat")
                    and span_may_match(lo0, lo1, preds, "lon")
                ):
                    out.append(_Block(
                        path=fpath, block=k, offset=meta.offsets[k],
                        nbytes=meta.counts[k],
                    ))
        return out

    def read(self, partition: _Block) -> Iterator:
        payload = _read_payload(
            partition.path, partition.offset, partition.nbytes
        )
        for frame in block_frames(
            self._parse(partition.path), partition.block, payload,
            from_filters(self._filters), _stem(partition.path),
        ):
            yield arrow_batch(frame, self._schema)


def register_geotiff_source(spark) -> None:
    """Idempotently register format('geotiff') on a session."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(GeoTiffDataSource)
