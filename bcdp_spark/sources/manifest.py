"""Exchange-free file/chunk manifests for the distributed decoders.

Every format loader used to write
``spark.createDataFrame(rows).repartition(n)`` to spread its manifest
(one file / chunk id per task) before the ``mapInPandas`` decode
stage. A ``repartition`` of a LocalRelation is a full Exchange — one
extra AQE query stage (and its scheduling round-trip) on EVERY ingest
query, paid before a single byte is decoded (r12 measurement: ~0.2-0.4 s
per query at the local stage floor, across ~30 registry keys).

``spread_manifest`` produces the same layout with no shuffle at all:
``spark.range(n, numPartitions=n)`` is a JVM-native source with exactly
one row per partition, and the manifest values ride the plan as literal
arrays indexed by the range id. Determinism: callers sort their file
lists first (they always did); slice i holds row i.

Per-task cost and packing: pyspark's per-task ``setup_spark_files``
calls ``importlib.invalidate_caches()``, which on CPython 3.11 re-reads
every cached importer of Spark's worker archives: 16 importers across
``pyspark.zip``, the py4j source zip and the spark-core jar, ~0.2 s
per task whatever the task decodes. ``session.get_spark`` runs the
workers under ``bcdp_spark._daemon``, which imports pyspark from its
installed directory and drops the archives, so the call costs ~0.1 ms
(it falls back to plain ``pyspark.daemon`` when the installed pyspark
is missing or a different version). ``slices`` packs the manifest into
fewer partitions of contiguous rows: the Zarr loader uses
``min(n, defaultParallelism)``, one task per slot, because its units
are chunks that decode in milliseconds. The trade-off at scale is
fewer, larger retry units — a failed or straggling task redoes its
whole slice. The other loaders spread one file per task; docs/SCALE.md
gives the measured per-task cost that decides this.

Scale note (100 TB): manifests here are file/chunk lists (thousands of
entries); both the old LocalRelation and these literals live in the
plan, so plan size is unchanged. For manifests beyond plan-size comfort
the right structure is a parquet manifest table, which several loaders
(kerchunk sharded stores) already use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def spread_manifest(
    spark: SparkSession, rows: list[tuple], schema: str,
    slices: int | None = None,
) -> DataFrame:
    """Build a manifest DataFrame with no Exchange: one row per
    partition, or — with ``slices`` — ``slices`` partitions of
    contiguous rows in input order. ``rows`` are tuples matching the
    DDL ``schema`` (e.g. ``"path string"`` or ``"refs_path string,
    offset long"``)."""
    n = len(rows)
    if n == 0:
        return spark.createDataFrame([], schema)
    names = [c.strip().split()[0].strip("`") for c in schema.split(",")]
    base = spark.range(0, n, 1, slices or n)
    idx = (F.col("id") + 1).cast("int")
    sel = [
        F.element_at(F.lit([r[i] for r in rows]), idx).alias(names[i])
        for i in range(len(names))
    ]
    return base.select(*sel)
