"""Sink (S6) + partition-layout tests: partitionBy write, partition
pruning on read (SURVEY.md §4), and the binaryFile source."""

from __future__ import annotations

import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_partitioned_write_and_pruning(spark, tmp_path):
    from bcdp_spark.ensemble import Ensemble
    from bcdp_spark.plans import formatted
    from bcdp_spark.tables import table

    ev = (
        table(spark, SF_SMOKE, "events")
        .select(
            F.col("event_type").alias("name"),
            F.col("ts").alias("time"),
            (F.col("user_id") % 10).cast("double").alias("lat"),
            (F.col("user_id") % 7).cast("double").alias("lon"),
            "value",
        )
    )
    out = str(tmp_path / "bundle")
    Ensemble(ev).to_parquet(out)

    back = spark.read.parquet(out)
    assert back.count() == ev.count()

    pruned = back.filter(F.col("name") == "click")
    plan = formatted(pruned)
    # partition filter must prune at the file index, not post-scan
    assert "PartitionFilters" in plan and "name" in plan.split("PartitionFilters", 1)[1][:200]
    assert pruned.count() == ev.filter(F.col("name") == "click").count()


def test_binary_source_roundtrip(spark, tmp_path):
    from bcdp_spark.sources import load

    (tmp_path / "a.bin").write_bytes(b"hello")
    (tmp_path / "b.bin").write_bytes(b"world!")
    df = load("binary", spark, str(tmp_path), pathGlobFilter="*.bin")
    rows = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"]) for r in df.collect()}
    assert rows == {"a.bin": b"hello", "b.bin": b"world!"}


def test_union_then_agg_equals_agg(spark):
    """Property (SURVEY.md §5.4): bundling members then aggregating equals
    aggregating the whole — partial-agg merge safety."""
    from bcdp_spark.tables import table

    ev = table(spark, SF_SMOKE, "events")
    parts = [ev.filter(F.col("user_id") % 3 == i) for i in range(3)]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    a = u.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    b = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Bucketed co-located join (SURVEY.md §4 scale path): two tables
    bucketed by the join key join WITHOUT a shuffle — the plan the 100 TB
    fact-fact join needs (bucket pruning replaces both Exchanges)."""
    import shutil

    from bcdp_spark.plans import formatted
    from bcdp_spark.tables import table

    # a previous session may have left the managed-table locations behind
    # (catalog is in-memory, the warehouse dir is not)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    o = table(spark, SF_SMOKE, "orders")
    li = table(spark, SF_SMOKE, "lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).saveAsTable("b_orders")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).saveAsTable("b_lineitem")
        joined = (
            spark.table("b_lineitem")
            .join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = formatted(joined)
        # bucketing must eliminate both join-side shuffles: the only
        # hashpartitioning left is the aggregate's (on o_orderstatus)
        assert "SortMergeJoin" in plan
        assert "hashpartitioning(l_orderkey" not in plan
        assert "hashpartitioning(o_orderkey" not in plan
        assert "hashpartitioning(o_orderstatus" in plan
        got = {r["o_orderstatus"]: r["n"] for r in joined.collect()}
        want = {
            r["o_orderstatus"]: r["n"]
            for r in li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_ann_probe_is_partition_pruned(spark, tmp_path):
    """The documented 100-TB ANN path made executable: embeddings written
    with the hyperplane-LSH bucket as a partition column, then a probe
    filtered to the query's (multiprobe) buckets must hit the partition
    index — PartitionFilters on __bucket, and only the probed
    subdirectories' files are read — while returning the same top-k as
    the unpartitioned ann_topk."""
    from bcdp_spark.operators.similarity import ann_topk, hyperplane_bucket
    from bcdp_spark.plans import formatted
    from bcdp_spark.tables import table

    emb = table(spark, SF_SMOKE, "embeddings")
    dim, nbits = 64, 4
    out = str(tmp_path / "emb_bucketed")
    emb.withColumn(
        "__bucket", hyperplane_bucket("embedding", dim, nbits)
    ).write.partitionBy("__bucket").parquet(out)

    query = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    back = spark.read.parquet(out)

    # same probe-set arithmetic as ann_topk (bucket + 1-bit flips)
    import numpy as np
    from bcdp_spark.operators.similarity import _hyperplanes

    q = np.asarray(query, dtype=float)
    planes = _hyperplanes(dim, nbits, 42)
    qbucket = int(sum(b << i for i, b in enumerate((planes @ q > 0).astype(int))))
    probes = sorted({qbucket} | {qbucket ^ (1 << i) for i in range(nbits)})

    pruned = back.filter(F.col("__bucket").isin(*probes))
    plan = formatted(pruned)
    assert "PartitionFilters" in plan
    assert "__bucket" in plan.split("PartitionFilters", 1)[1][:300]

    from bcdp_spark.operators.similarity import cosine_topk

    got = cosine_topk(pruned, query, k=5).select("vec_id").collect()
    want = ann_topk(emb, query, k=5, nbits=nbits).select("vec_id").collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """500 tiny files → one ~target-sized file; rows and values intact."""
    import glob
    import os

    from bcdp_spark.sinks import compact_parquet

    src = str(tmp_path / "tiny")
    spark.range(0, 5000).withColumn("v", F.col("id") * 2).repartition(
        200
    ).write.parquet(src)
    n_in = len(glob.glob(os.path.join(src, "*.parquet")))
    assert n_in >= 100  # genuinely fragmented

    out = str(tmp_path / "compact")
    stats = compact_parquet(spark, src, out, target_mb=256)
    assert stats["n_files_in"] == n_in
    assert stats["n_out"] == 1  # tiny total bytes → single file
    n_out_files = len(glob.glob(os.path.join(out, "*.parquet")))
    assert n_out_files == 1
    back = spark.read.parquet(out)
    assert back.count() == 5000
    assert back.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(5000))


def test_write_audit_publish_gates_and_swaps(spark, tmp_path):
    """Audit failure leaves the previous publish untouched; success
    atomically replaces it."""
    import os

    from bcdp_spark.sinks import write_audit_publish

    out = str(tmp_path / "table")
    v1 = spark.range(0, 100).withColumn("v", F.lit(1))
    r = write_audit_publish(spark, v1, out, audit=lambda d: d.count() == 100)
    assert r["published"] and spark.read.parquet(out).count() == 100

    # failing audit: v2 is "bad" (empty) → publish refused, v1 intact
    v2 = spark.range(0, 0).withColumn("v", F.lit(2))
    r = write_audit_publish(spark, v2, out, audit=lambda d: d.count() > 0)
    assert not r["published"]
    back = spark.read.parquet(out)
    assert back.count() == 100
    assert back.agg(F.max("v")).collect()[0][0] == 1
    assert not os.path.exists(out + ".__staging__")

    # raising audit propagates and aborts
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="bad data"):
        write_audit_publish(
            spark, v1, out,
            audit=lambda d: (_ for _ in ()).throw(RuntimeError("bad data")),
        )
    assert spark.read.parquet(out).count() == 100

    # passing audit replaces atomically: out is a symlink swapped onto
    # the new version dir, previous version kept, older pruned
    v3 = spark.range(0, 50).withColumn("v", F.lit(3))
    r = write_audit_publish(spark, v3, out, audit=lambda d: True)
    assert r["published"] and spark.read.parquet(out).count() == 50
    assert os.path.islink(out)
    vers = sorted(
        p for p in os.listdir(os.path.dirname(out))
        if p.startswith("table.__v")
    )
    assert len(vers) == 2  # current + previous only
    assert os.readlink(out) == vers[-1]

    # one more publish: the oldest version is pruned, link re-swapped
    v4 = spark.range(0, 7).withColumn("v", F.lit(4))
    r = write_audit_publish(spark, v4, out, audit=lambda d: True)
    assert r["published"] and spark.read.parquet(out).count() == 7
    vers2 = sorted(
        p for p in os.listdir(os.path.dirname(out))
        if p.startswith("table.__v")
    )
    assert len(vers2) == 2 and os.readlink(out) == vers2[-1]


def test_write_bucketed_table_api(spark):
    """sinks.write_bucketed_table records the bucket spec + sort order
    in the catalog (the deeper Exchange-free join/agg plan assertions
    live in test_bucketed_join_no_shuffle above and
    test_plans.test_bucketed_join_is_shuffle_free)."""
    import shutil

    from bcdp_spark.sinks import write_bucketed_table

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS bkt_api")
    shutil.rmtree(f"{wh}/bkt_api", ignore_errors=True)
    df = spark.range(0, 200).select(
        (F.col("id") % 13).alias("k"), F.col("id").alias("v")
    )
    write_bucketed_table(df, "bkt_api", ["k"], 4)
    try:
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE TABLE EXTENDED bkt_api").collect()
        }
        assert desc.get("Num Buckets") == "4"
        assert "[`k`]" in desc.get("Bucket Columns", "")
        assert "[`k`]" in desc.get("Sort Columns", "")
        assert spark.table("bkt_api").count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_api")


# ------------------------------------------------ gridded per-member sinks
_GRID_WRITES = {
    "netcdf": lambda ens, out: ens.to_netcdf(out),
    "zarr_v2": lambda ens, out: ens.to_zarr(out, time_chunk=2),
    "zarr_v3_sharded": lambda ens, out: ens.to_zarr(
        out, time_chunk=1, zarr_format=3, shard_time=2
    ),
    "grib2": lambda ens, out: ens.to_grib2(out),
}


def _reload(spark, sink, path):
    from bcdp_spark.sources.grib2 import load_grib2
    from bcdp_spark.sources.netcdf import load_netcdf
    from bcdp_spark.sources.zarr import load_zarr

    load = {"netcdf": load_netcdf, "grib2": load_grib2}.get(sink, load_zarr)
    return load(spark, path)


def _grid_frame(spark, levs=()):
    """Complete (time[, lev], lat, lon) grids of seeded doubles for two
    members m0 and m1, with one NULL value."""
    import numpy as np

    rng = np.random.default_rng(11)
    space = [
        (lv, la, lo)
        for lv in (levs or (None,))
        for la in (-15.0, 15.0)
        for lo in (0.0, 120.0, 240.0)
    ]
    rows = []
    for m in ("m0", "m1"):
        for d in range(3):
            t = datetime(2001, 3, 1 + d)
            for lv, la, lo in space:
                v = float(rng.normal(280.0, 7.0))
                rows.append((m, t, *((lv,) if levs else ()), la, lo, v))
    rows[4] = rows[4][:-1] + (None,)
    lev = "lev double, " if levs else ""
    return spark.createDataFrame(
        rows,
        f"name string, time timestamp, {lev}lat double, lon double, "
        "value double",
    )


@pytest.mark.parametrize(
    "sink,ndim",
    [(s, 3) for s in _GRID_WRITES]
    + [(s, 4) for s in ("netcdf", "zarr_v2", "zarr_v3_sharded")],
)
def test_gridded_sink_round_trip(spark, tmp_path, sink, ndim):
    """Every gridded sink writes what its loader reads back: the same
    rows per member, the NULL value included; GRIB2 within its simple-
    packing bound range/(2^nbits - 1) per field."""
    from bcdp_spark.ensemble import Ensemble

    df = _grid_frame(spark, (500.0, 850.0) if ndim == 4 else ())
    space = ("lev", "lat", "lon") if ndim == 4 else ("lat", "lon")
    ens = Ensemble(df, space_cols=space)
    manifest = _GRID_WRITES[sink](ens, str(tmp_path / sink)).collect()
    assert sorted(m["name"] for m in manifest) == ["m0", "m1"]
    keys = ["time", *space]
    for m in manifest:
        want = (
            df.filter(F.col("name") == m["name"]).toPandas()
            .sort_values(keys).reset_index(drop=True)
        )
        got = (
            _reload(spark, sink, m["path"]).select(*keys, "value").toPandas()
            .sort_values(keys).reset_index(drop=True)
        )
        assert (m["n_rows"], m["n_times"]) == (len(want), 3)
        assert got[keys].equals(want[keys])
        assert got.value.isna().equals(want.value.isna())
        if sink != "grib2":
            assert got.value.dropna().equals(want.value.dropna())
            continue
        span = want.groupby("time").value.agg(lambda v: v.max() - v.min())
        bound = want.time.map(span) / (2**16 - 1) + 1e-12
        assert not ((got.value - want.value).abs() > bound).any()


def test_to_grib2_rejects_a_lev_column(spark, tmp_path):
    """GRIB2 messages are single-level: a 4-D ensemble raises on the
    driver instead of writing one level's values per cell."""
    from bcdp_spark.ensemble import Ensemble

    ens = Ensemble(
        _grid_frame(spark, (500.0, 850.0)), space_cols=("lev", "lat", "lon")
    )
    with pytest.raises(ValueError, match="lev column"):
        ens.to_grib2(str(tmp_path / "gb"))
    assert not (tmp_path / "gb").exists()


def _duplicate_cell(df):
    one = (F.col("name") == "m1") & (F.col("lat") > 0) & (F.col("lon") == 0)
    return df.union(df.filter(one & (F.col("time") == datetime(2001, 3, 2))))


def _rename_m1(bad):
    return lambda df: df.withColumn(
        "name",
        F.when(F.col("name") == "m1", F.lit(bad)).otherwise(F.col("name")),
    )


_DUPLICATE = (
    r"member 'm1': more than one row for grid cell "
    r"\(time=2001-03-02T00:00.*, lat=15\.0, lon=0\.0\)"
)
_NULL_LAT = (
    lambda df: df.withColumn(
        "lat",
        F.when((F.col("name") == "m0") & (F.col("lon") > 200), None)
        .otherwise(F.col("lat")),
    ),
    "member 'm0': NULL lat coordinate",
)
_NULL_TIME = (
    lambda df: df.withColumn(
        "time", F.when(F.col("name") == "m1", None).otherwise(F.col("time"))
    ),
    "member 'm1': NULL time coordinate",
)


@pytest.mark.parametrize(
    "sink,edit,message",
    [
        pytest.param(s, _duplicate_cell, _DUPLICATE, id=f"duplicate-{s}")
        for s in ("netcdf", "zarr_v2", "grib2")
    ]
    + [
        pytest.param("zarr_v2", *_NULL_LAT, id="null_lat-zarr_v2"),
        pytest.param("netcdf", *_NULL_TIME, id="null_time-netcdf"),
    ]
    + [
        pytest.param(
            s,
            _rename_m1(bad),
            re.escape(f"member {bad!r} in column 'name' is not a file name"),
            id=f"member_{bad!r}-{s}",
        )
        for s, bad in [
            ("netcdf", None), ("netcdf", "../escaped"), ("zarr_v2", ""),
            ("zarr_v2", "."), ("grib2", ".."), ("grib2", "a/b"),
        ]
    ],
)
def test_gridded_sink_rejects_what_a_grid_cannot_hold(
    spark, tmp_path, sink, edit, message
):
    """A duplicate cell, a NULL coordinate or a member name that is not a
    file name raises ValueError naming the member, instead of dropping
    rows or writing outside the output directory."""
    from pyspark.errors import PythonException

    from bcdp_spark.ensemble import Ensemble

    out = tmp_path / "out" / sink
    ens = Ensemble(edit(_grid_frame(spark)))
    with pytest.raises(PythonException, match="ValueError: " + message):
        _GRID_WRITES[sink](ens, str(out)).collect()
    assert [p.name for p in (tmp_path / "out").iterdir()] == [sink]
