"""SparkSession construction tuned for this engine.

Scale notes (100 TB design intent): AQE on (runtime re-plan, skew-join
splitting, partition coalescing), broadcast threshold left to AQE,
shuffle partitions sized by env for local runs but irrelevant on a real
cluster where AQE coalesces. Session timezone pinned to UTC so timestamp
semantics are deterministic and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "bcdp_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (else 32) to mirror the
    driver's bench environment.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r12: reject whole-stage-codegen functions the JVM JIT refuses
        # to compile anyway (HotSpot DontCompileHugeMethods threshold =
        # 8000 bytecode bytes — a JVM universal, not a local-mode
        # tunable). A fused method past that limit runs in the bytecode
        # INTERPRETER, measured 6-8x slower than falling back to
        # per-expression codegen (which splits into JIT-able methods):
        # 4M-pair knn rerank 16.6 s fused-but-unJITable vs 2.1 s with
        # this guard. Plans with all-small methods are unaffected.
        # r13: env-overridable so the guard can be A/B-measured on the
        # bench's own protocol (VERDICT r12 item 1) without editing code;
        # the default stays the measured JVM-threshold value.
        .config(
            "spark.sql.codegen.hugeMethodLimit",
            os.environ.get("SPARK_GRAFT_HML", "8000"),
        )
        # 12g (r11): the sf10 bench leg's 60M-row sort-merge join ran
        # against the GC ceiling at 8g under repeated fresh-plan runs
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        # Python workers import pyspark from its installed directory
        # instead of Spark's zips (see _daemon.py): ~0.2 CPU s less per
        # Python task. The daemon module must import from any driver
        # cwd, so the package's parent goes on the workers' PYTHONPATH.
        .config("spark.python.daemon.module", "bcdp_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/bcdp_spark_warehouse"),
        )
    )
    return builder.getOrCreate()


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin session timezone to UTC (safe to call on a driver-provided
    session; timeZone is runtime-settable). All oracle comparisons assume
    UTC wall-clock == stored instant."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
