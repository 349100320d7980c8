"""Unit tests for the operator library on small hand-built DataFrames
(SURVEY.md §5.3 edge cases: NULLs, ties, duplicates, tolerance)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------- asof
def test_asof_join_backward(spark):
    from bcdp_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", "2024-01-01 00:10:00"), ("u1", "2024-01-01 01:00:00"),
         ("u2", "2024-01-01 00:05:00")],
        "k string, t string",
    ).withColumn("t", F.col("t").cast("timestamp"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", 1.0), ("u1", "2024-01-01 00:30:00", 2.0),
         ("u2", "2024-01-01 00:06:00", 9.0)],
        "k string, t string, v double",
    ).withColumn("t", F.col("t").cast("timestamp"))

    out = asof_join(left, right, on="t", by=["k"]).orderBy("k", "t")
    rows = out.collect()
    # u1@00:10 -> v=1.0 (00:00), u1@01:00 -> v=2.0 (00:30), u2@00:05 -> none
    assert rows[0]["v_right"] == 1.0
    assert rows[1]["v_right"] == 2.0
    assert rows[2]["v_right"] is None


def test_asof_join_tolerance_and_forward(spark):
    from bcdp_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", "2024-01-01 02:00:00")], "k string, t string"
    ).withColumn("t", F.col("t").cast("timestamp"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", 1.0), ("u1", "2024-01-01 02:30:00", 5.0)],
        "k string, t string, v double",
    ).withColumn("t", F.col("t").cast("timestamp"))

    tol = asof_join(left, right, on="t", by=["k"], tolerance_us=60 * 60 * 1_000_000)
    assert tol.collect()[0]["v_right"] is None  # 2h gap > 1h tolerance

    fwd = asof_join(left, right, on="t", by=["k"], direction="forward")
    assert fwd.collect()[0]["v_right"] == 5.0


# ---------------------------------------------------------------- dedup
def test_exact_dedup_keep_first(spark):
    from bcdp_spark.operators.dedup import duplicate_groups, exact_dedup

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa"), (5, "ccc")],
        "doc_id long, text string",
    )
    kept = exact_dedup(df, "text", "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 5]
    groups = duplicate_groups(df, "text", "doc_id").collect()
    assert len(groups) == 1 and groups[0]["n_dups"] == 3 and groups[0]["min_id"] == 1


def test_minhash_dedup_finds_near_duplicates(spark):
    from bcdp_spark.operators.dedup import lsh_bucket_pairs, minhash_dedup, ngram_jaccard

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "very lazy")  # near-duplicate
    far = "completely different content about spark query engines at scale"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = lsh_bucket_pairs(df, "text", "doc_id", num_perm=32, bands=16, shingle_k=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got

    verified = ngram_jaccard(df, pairs, "text", "doc_id", k=4, threshold=0.5)
    assert {(r["id_a"], r["id_b"]) for r in verified.collect()} == {(1, 2)}

    deduped = minhash_dedup(df, "text", "doc_id", num_perm=32, bands=16, shingle_k=4)
    assert sorted(r["doc_id"] for r in deduped.collect()) == [1, 3]


def test_simhash64_vectorized_matches_row_loop():
    """r12: the batch-vectorized simhash64 (unique-token blake2b +
    segmented ±1 reduce) must be BIT-identical to the r3 per-row loop
    it replaced — including None rows, empty/whitespace-only docs,
    repeated tokens (per-occurrence weighting) and unicode."""
    import hashlib

    import numpy as np
    import pandas as pd

    from bcdp_spark.operators.dedup import simhash64

    def row_loop(texts: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        one = np.uint64(1)
        out = np.zeros(len(texts), dtype=np.uint64)
        for i, t in enumerate(texts):
            if t is None:
                continue
            acc = np.zeros(64, dtype=np.int64)
            for tok in str(t).split():
                h = np.uint64(
                    int.from_bytes(
                        hashlib.blake2b(
                            tok.encode(), digest_size=8
                        ).digest(),
                        "big",
                    )
                )
                bits = (h >> shifts) & one
                acc += np.where(bits == one, 1, -1)
            out[i] = np.uint64(sum(1 << j for j in range(64) if acc[j] > 0))
        return pd.Series(out.view(np.int64))

    texts = pd.Series(
        [
            "the quick brown fox jumps over the lazy dog",
            None,
            "",
            "   ",
            "repeat repeat repeat repeat unique",
            "naïve café über schön 日本語 トークン",
            " ".join(f"word{i}" for i in range(200)),
            "single",
        ]
    )
    got = simhash64.func(texts)
    want = row_loop(texts)
    assert list(got) == list(want)


def test_simhash_near_pairs(spark):
    from bcdp_spark.operators.dedup import simhash_near_pairs

    base = " ".join(f"word{i}" for i in range(40))
    near = base.replace("word7", "word7x")
    far = " ".join(f"other{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = simhash_near_pairs(df, "text", "doc_id", max_hamming=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got and (2, 3) not in got


def test_dedup_self_joins_reuse_fingerprint_lineage(spark):
    """r12 plan pin: the candidate-pair self-joins must run as a
    shuffle join whose two sides are the IDENTICAL exchange subtree, so
    the fingerprint lineage (MinHash signature expressions / simhash
    Arrow UDF) materializes once — under AQE the second side's map
    stages are SKIPPED at runtime; with AQE off the static ReuseExchange
    rule makes that same eligibility visible as a ReusedExchange node,
    which is what this test pins (it requires the UDF to stay
    deterministic AND both sides to canonicalize equal). The r11
    broadcast form recomputed the whole lineage on both sides, and a
    filter inferred on the UDF output duplicated the ArrowEvalPython
    node (fingerprint paid twice per doc) — the coalesce(…, 0) wrapper
    folds that inferred isnotnull away, pinned by the exact
    ArrowEvalPython count of 1."""
    from bcdp_spark.operators.dedup import lsh_bucket_pairs, simhash_near_pairs

    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(8)],
        "doc_id long, text string",
    )

    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sim = simhash_near_pairs(df, "text", "doc_id", max_hamming=6, blocks=8)
        plan = sim._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
        assert "ReusedExchange" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan

        lsh = lsh_bucket_pairs(df, "text", "doc_id", num_perm=16, bands=4)
        plan = lsh._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


# ----------------------------------------------------------- similarity
def test_cosine_topk_matches_numpy(spark):
    from bcdp_spark.operators.similarity import cosine_topk

    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    q = vecs[0]
    sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    expect = list(np.argsort(-sims)[:5])
    got = [r["vec_id"] for r in cosine_topk(df, [float(x) for x in q], k=5).collect()]
    assert got == expect


def test_ann_topk_recall(spark):
    """LSH recall on planted clusters (random gaussian 'neighbors' are
    near-orthogonal, so plant genuinely-close vectors instead)."""
    from bcdp_spark.operators.similarity import ann_topk, cosine_topk

    rng = np.random.RandomState(11)
    base = rng.standard_normal(16)
    planted = [base + 0.15 * rng.standard_normal(16) for _ in range(12)]
    noise = [rng.standard_normal(16) for _ in range(300)]
    vecs = [v.astype(np.float32) for v in planted + noise]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in base]
    exact = {r["vec_id"] for r in cosine_topk(df, q, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in ann_topk(df, q, k=10, nbits=8, multiprobe=2).collect()
    }
    assert exact == set(range(12)) - {10, 11} or exact <= set(range(12))
    assert len(exact & approx) >= 8  # high recall on genuinely-near vectors


def test_ivf_assign(spark):
    from bcdp_spark.operators.similarity import ivf_assign

    df = spark.createDataFrame(
        [(1, [0.1, 0.0]), (2, [5.0, 5.1]), (3, [0.0, 0.2])],
        "vec_id long, embedding array<float>",
    )
    out = ivf_assign(df, centroids=[[0.0, 0.0], [5.0, 5.0]])
    cells = {r["vec_id"]: r["ivf_cell"] for r in out.collect()}
    assert cells == {1: 0, 2: 1, 3: 0}


# ---------------------------------------------------------------- regrid
def test_regrid_bin_average(spark):
    from bcdp_spark.operators.regrid import regrid_bin_average

    df = spark.createDataFrame(
        [(0.25, 0.25, 1.0), (0.75, 0.75, 3.0), (1.25, 0.25, 10.0)],
        "lat double, lon double, value double",
    )
    out = regrid_bin_average(df, lat_res=1.0, lon_res=1.0).collect()
    by_cell = {(r["lat"], r["lon"]): (r["value"], r["n_cells"]) for r in out}
    assert by_cell[(0.5, 0.5)] == (2.0, 2)
    assert by_cell[(1.5, 0.5)] == (10.0, 1)


def test_regrid_weighted_mask_aware(spark):
    from bcdp_spark.operators.regrid import regrid_weighted

    cells = spark.createDataFrame(
        [(0.0, 0.0, 2.0), (0.0, 1.0, None), (1.0, 0.0, 6.0)],
        "lat double, lon double, value double",
    )
    weights = spark.createDataFrame(
        [(0.0, 0.0, 0.5, 0.5, 0.5), (0.0, 1.0, 0.5, 0.5, 0.25),
         (1.0, 0.0, 0.5, 0.5, 0.25)],
        "src_lat double, src_lon double, dst_lat double, dst_lon double, w double",
    )
    out = regrid_weighted(cells, weights).collect()
    assert len(out) == 1
    # NULL source cell drops from numerator and denominator:
    # (0.5*2 + 0.25*6) / (0.5 + 0.25) = 2.5/0.75
    assert out[0]["value"] == pytest.approx(2.5 / 0.75)


# ------------------------------------------------------------- sessionize
def test_sessionize_gap(spark):
    from bcdp_spark.operators.sessionize import session_stats, sessionize

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
         (1, "2024-01-01 01:00:00"), (2, "2024-01-01 00:00:00")],
        "user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    s = sessionize(df, gap_seconds=1800)
    # render wall time JVM-side (session tz): collect() returns naive
    # datetimes in the HOST zone, so .hour would shift on non-UTC boxes
    got = {
        (r["user_id"], int(r["hm"][:2]), int(r["hm"][3:]), r["session_id"])
        for r in s.withColumn(
            "hm", F.date_format("ts", "HH:mm")
        ).collect()
    }
    # 00:00 and 00:10 share session 1; 01:00 (50-min gap) opens session 2
    assert got == {(1, 0, 0, 1), (1, 0, 10, 1), (1, 1, 0, 2), (2, 0, 0, 1)}
    stats = session_stats(df, gap_seconds=1800)
    per = {(r["user_id"], r["session_id"]): r["n_events"] for r in stats.collect()}
    assert per == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


# ------------------------------------------------------------------ text
def test_lang_id_heuristic(spark):
    from bcdp_spark.operators.text import lang_id

    df = spark.createDataFrame(
        [(1, "the cat sat on a mat and the dog is in the house"),
         (2, "el gato y la casa de un perro que es grande en madrid"),
         (3, "zzz qqq xxx www")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"


def test_quality_features_and_fingerprint(spark):
    from bcdp_spark.operators.text import (
        content_fingerprint,
        fingerprint_minsample,
        quality_features,
        token_count_regex,
    )

    df = spark.createDataFrame(
        [(1, "the quick fox! 42 jumps."), (2, "the quick fox! 42 jumps.")],
        "doc_id long, text string",
    )
    q = quality_features(df).collect()[0]
    assert q["n_words_q"] == 5
    assert 0 < q["stop_ratio"] < 1
    assert q["punct_ratio"] > 0 and q["digit_ratio"] > 0

    toks = df.select(token_count_regex("text").alias("n")).collect()[0]["n"]
    assert toks == 7  # the/quick/fox/!/42/jumps/.

    fps = df.select(content_fingerprint("text").alias("fp"),
                    fingerprint_minsample("text").alias("ms")).collect()
    assert fps[0]["fp"] == fps[1]["fp"]
    assert fps[0]["ms"] == fps[1]["ms"] and len(fps[0]["ms"]) == 8


# ------------------------------------------------------------ multimodal
def test_multimodal_fake_extract_and_frame_sample(spark):
    from bcdp_spark.operators.multimodal import (
        FEATURE_DIM,
        fake_feature_extract,
        frame_sample_plan,
    )

    df = spark.createDataFrame(
        [(1, "image", bytearray(b"payload-a"), {"n_frames": "25"}),
         (2, "video", bytearray(b"payload-b"), {"n_frames": "30"}),
         (3, "image", None, {})],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    out = fake_feature_extract(df).collect()
    by_id = {r["media_id"]: r["features"] for r in out}
    assert len(by_id[1]) == FEATURE_DIM
    assert by_id[3] is None
    # determinism: same payload → same features
    out2 = fake_feature_extract(df).collect()
    assert [r["features"] for r in out] == [r["features"] for r in out2]

    frames = frame_sample_plan(df.filter("media_id = 2"), every_n=10).collect()
    assert [r["frame_idx"] for r in frames] == [0, 10, 20]


# ------------------------------------------------------------------ skew
def test_salted_agg_equals_plain(spark):
    """Salting must not change results — skewed key distribution (90% of
    rows on one key), decimal-routed, compared against the plain agg."""
    from bcdp_spark.operators.skew import salted_avg, salted_sum_count

    rows = [("hot", float(i) * 0.1) for i in range(900)] + [
        (f"k{i % 7}", float(i) * 0.3) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    plain = {
        r["k"]: (r["s"], r["n"])
        for r in df.groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(28,10)")).cast("double").alias("s"),
            F.count("v").alias("n"),
        )
        .collect()
    }
    salted = {
        r["k"]: (r["sum_value"], r["n"])
        for r in salted_sum_count(df, ["k"], F.col("v"), buckets=8).collect()
    }
    assert salted == plain

    avg = {r["k"]: r["avg_value"] for r in salted_avg(df, ["k"], F.col("v")).collect()}
    assert avg["hot"] == plain["hot"][0] / plain["hot"][1]


# --------------------------------------------------------------- sources
def test_source_registry_csv_roundtrip(spark, tmp_path):
    from bcdp_spark.sources import list_sources, load

    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = load("csv", spark, str(p))
    assert df.count() == 2 and set(df.columns) == {"a", "b"}
    assert {"parquet", "csv", "json", "binary", "netcdf"} <= set(list_sources())


def test_source_registry_jsonl_roundtrip(spark, tmp_path):
    """JSONL (one object per line) is the interchange format most raw
    text-corpus dumps arrive in; schema comes from the data, nested
    fields survive, and a partitioned directory reads as one frame."""
    from bcdp_spark.sources import load

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "part-0.jsonl").write_text(
        '{"doc_id": 1, "text": "hello", "meta": {"lang": "en"}}\n'
        '{"doc_id": 2, "text": "welt", "meta": {"lang": "de"}}\n'
    )
    (d / "part-1.jsonl").write_text(
        '{"doc_id": 3, "text": "monde", "meta": {"lang": "fr"}}\n'
    )
    df = load("json", spark, str(d))
    assert df.count() == 3
    assert df.filter(F.col("meta.lang") == "de").count() == 1


def test_netcdf_source_stub_gates_cleanly(spark, tmp_path):
    from bcdp_spark.sources.netcdf import load_netcdf

    f = tmp_path / "x.nc"
    f.write_bytes(b"not-a-real-netcdf")
    df = load_netcdf(spark, str(tmp_path / "*.nc"))
    assert df.schema.fieldNames() == ["name", "time", "lat", "lon", "value"]
    with pytest.raises(Exception, match="not a NetCDF file"):
        df.collect()


# -------------------------------------------------------------- functions
def test_unit_functions(spark):
    from bcdp_spark.functions import (
        kelvin_to_celsius,
        precip_flux_to_mm_day,
        season_of,
        season_year,
    )

    df = spark.createDataFrame(
        [(273.15, 1.0 / 86400.0, "2023-12-15"), (300.0, 2.0 / 86400.0, "2024-06-01")],
        "t double, p double, d string",
    ).withColumn("d", F.col("d").cast("timestamp"))
    r = df.select(
        kelvin_to_celsius("t").alias("c"),
        precip_flux_to_mm_day("p").alias("mm"),
        season_of("d").alias("season"),
        season_year("d").alias("sy"),
    ).collect()
    assert r[0]["c"] == 0.0 and r[0]["mm"] == pytest.approx(1.0)
    assert r[0]["season"] == "DJF" and r[0]["sy"] == 2024  # Dec → next year
    assert r[1]["season"] == "JJA" and r[1]["sy"] == 2024


# ------------------------------------------------------------------ graph
def test_connected_components_transitive(spark):
    """Pairs a-b and b-c must yield one component {a,b,c} even though a-c
    never appears — the closure the greedy dedup pass misses."""
    from bcdp_spark.operators.graph import cluster_summary, connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 9)], "id_a long, id_b long"
    )
    labels = {r["node"]: r["label"] for r in connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 9, 10: 9}
    summary = {
        r["label"]: (r["n_members"], r["min_node"], r["max_node"])
        for r in cluster_summary(connected_components(edges)).collect()
    }
    assert summary == {1: (3, 1, 3), 7: (2, 7, 8), 9: (2, 9, 10)}


def test_connected_components_long_chain_converges(spark):
    """A 40-node chain needs ~diameter rounds: exercises the iteration +
    lineage checkpointing, not just one propagation step."""
    from bcdp_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    labels = connected_components(edges, max_iter=50).collect()
    assert {r["label"] for r in labels} == {0}
    assert len(labels) == 41


def test_connected_components_max_iter_fails_loudly(spark):
    """Hitting ``max_iter`` with labels still changing raises, naming
    the round count, instead of returning partial labels."""
    from bcdp_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(edges, max_iter=2)
    labels = connected_components(edges).collect()
    assert {r["label"] for r in labels} == {0}
    assert len(labels) == 64


# ---------------------------------------------------------------- packing
def test_pack_documents_respects_budget_and_is_deterministic(spark):
    from bcdp_spark.operators.packing import pack_documents

    rows = [(f"s{i % 3}", i, 100 + (i * 37) % 900) for i in range(60)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    packed = pack_documents(df, "source", budget=1000)
    a = sorted(map(tuple, packed.collect()))
    b = sorted(map(tuple, pack_documents(df.repartition(7), "source", budget=1000).collect()))
    assert a == b, "packing must not depend on input partitioning"
    import collections

    fill = collections.Counter()
    for shard, bin_id, doc_id, n in a:
        fill[(shard, bin_id)] += n
    for (shard, bin_id), tot in fill.items():
        assert tot <= 1000 or sum(1 for s, b2, d, n in a if (s, b2) == (shard, bin_id)) == 1
    assert len(a) == 60  # every doc packed exactly once


def test_bin_interval_join_matches_nested_loop(spark):
    """bin_interval_join must return exactly the BETWEEN-join rows for
    any bin width, including intervals narrower/wider than a bin,
    bin-straddling intervals, and points on interval endpoints
    (end-exclusive)."""
    from bcdp_spark.operators.rangejoin import bin_interval_join

    pts = spark.createDataFrame(
        [(i, t) for i, t in enumerate([0, 5, 9, 10, 11, 29, 30, 99])],
        ["pid", "t"],
    )
    iv = spark.createDataFrame(
        [(0, 0, 10), (1, 9, 12), (2, 10, 30), (3, 95, 200), (4, 40, 41)],
        ["iid", "lo", "hi"],
    )
    want = sorted(
        (r["pid"], r["iid"])
        for r in pts.join(
            iv, (pts.t >= iv.lo) & (pts.t < iv.hi)
        ).collect()
    )
    for width in (1, 3, 7, 50, 1000):
        got = sorted(
            (r["pid"], r["iid"])
            for r in bin_interval_join(
                pts, iv, "t", "lo", "hi", bin_width=width
            ).collect()
        )
        assert got == want, f"width={width}: {got} != {want}"


def test_interval_overlap_join_exact_pairs(spark):
    from bcdp_spark.operators.rangejoin import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0.0, 2.0), (2, 5.0, 9.0)], "lid long, lo double, hi double"
    )
    right = spark.createDataFrame(
        [(10, 1.0, 3.0), (11, 8.5, 12.0), (12, 3.0, 5.0)],
        "rid long, rlo double, rhi double",
    )
    rows = {
        (r["lid"], r["rid"]): r["overlap"]
        for r in interval_overlap_join(
            left, right, "lo", "hi", "rlo", "rhi", bin_width=2.0
        ).collect()
    }
    # (1,10): [1,2] -> 1.0 ; (2,11): [8.5,9] -> 0.5 ; no other positive overlap
    assert rows == {(1, 10): 1.0, (2, 11): 0.5}


def test_conservative_weights_sum_to_dst_area(spark):
    from pyspark.sql import functions as F

    from bcdp_spark.operators.regrid import conservative_weights

    def axis(n, width):
        return spark.range(n).select(
            (F.col("id") * width + width / 2).alias("c"),
            (F.col("id") * width).cast("double").alias("lo"),
            ((F.col("id") + 1) * width).cast("double").alias("hi"),
        )

    # src 1x1 cells covering [0,6]x[0,6]; dst 3x3 cells, fully covered
    w = conservative_weights(axis(6, 1.0), axis(6, 1.0), axis(2, 3.0), axis(2, 3.0))
    sums = {
        (r["dst_lat"], r["dst_lon"]): r["s"]
        for r in w.groupBy("dst_lat", "dst_lon")
        .agg(F.sum("w").alias("s"))
        .collect()
    }
    assert len(sums) == 4 and all(abs(s - 9.0) < 1e-12 for s in sums.values())


def test_ivf_assign_df_matches_literal_assign(spark):
    """The broadcast-join assignment (no driver-side centroid collect)
    must agree with the literal-expression assignment on the same
    centroids, including distance ties (lowest label wins)."""
    from pyspark.sql import functions as F

    from bcdp_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_df,
        train_centroids_df,
    )

    rows = [
        (i, i % 3, [float(i % 3) * 5 + d * 0.1 for d in range(4)])
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    cents_df = train_centroids_df(df)
    cents = [
        [float(x) for x in r["centroid"]]
        for r in cents_df.orderBy("label").collect()
    ]
    a = {
        r["vec_id"]: r["ivf_cell"]
        for r in ivf_assign(df, cents).select("vec_id", "ivf_cell").collect()
    }
    b = {
        r["vec_id"]: r["ivf_cell"]
        for r in ivf_assign_df(df, cents_df)
        .select("vec_id", "ivf_cell")
        .collect()
    }
    assert a == b
    # every vector sits in its own label's cell (well-separated fixture)
    assert all(b[i] == i % 3 for i in range(30))


def test_embedding_near_dup_bucket_cap_drops_degenerate_bucket(spark):
    """The giant-bucket cap: a template vector repeated B times emits
    B*(B-1)/2 pairs uncapped; with bucket_cap below B the degenerate
    bucket is dropped BEFORE the self-join while distinct-vector pairs
    elsewhere survive."""
    from bcdp_spark.operators.dedup import embedding_near_dup

    template = [1.0, 0.0, 0.0, 0.0]
    near_a = [0.0, 1.0, 0.0, 0.001]
    near_b = [0.0, 1.0, 0.0, 0.002]
    rows = [(i, template) for i in range(20)] + [(100, near_a), (101, near_b)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    uncapped = embedding_near_dup(df, "vec_id", "embedding", 4, threshold=0.99)
    n_un = uncapped.count()
    assert n_un == 20 * 19 // 2 + 1  # template clique + the near pair

    capped = embedding_near_dup(
        df, "vec_id", "embedding", 4, threshold=0.99, bucket_cap=5
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(100, 101)}


def test_bin_interval_join_left_matches_nested_loop(spark):
    """how='left' must match a nested-loop LEFT join exactly on a width
    sweep: matched rows identical to inner, unmatched points present
    once with null interval columns — including the bin-matched-but-
    range-missed case (point 31 shares a bin with [10,30) at width 50
    yet must surface as unmatched)."""
    from bcdp_spark.operators.rangejoin import bin_interval_join

    pts = spark.createDataFrame(
        [(i, t) for i, t in enumerate([0, 5, 9, 10, 11, 29, 30, 31, 99, 500])],
        ["pid", "t"],
    )
    iv = spark.createDataFrame(
        [(0, 0, 10), (1, 9, 12), (2, 10, 30), (3, 95, 200), (4, 40, 41)],
        ["iid", "lo", "hi"],
    )
    want = sorted(
        (r["pid"], r["iid"])
        for r in pts.join(
            iv, (pts.t >= iv.lo) & (pts.t < iv.hi), "left"
        ).collect()
    )
    assert (7, None) in want and (9, None) in want  # fixture sanity
    for width in (1, 3, 7, 50, 1000):
        out = bin_interval_join(
            pts, iv, "t", "lo", "hi", bin_width=width, how="left"
        )
        got = sorted((r["pid"], r["iid"]) for r in out.collect())
        assert got == want, f"width={width}: {got} != {want}"
        # null-extension covers every interval column
        nulls = out.filter(F.col("iid").isNull()).collect()
        assert all(r["lo"] is None and r["hi"] is None for r in nulls)


def test_bin_interval_join_rejects_other_outer(spark):
    import pytest as _pytest

    from bcdp_spark.operators.rangejoin import bin_interval_join

    pts = spark.createDataFrame([(1, 1)], ["pid", "t"])
    iv = spark.createDataFrame([(1, 0, 2)], ["iid", "lo", "hi"])
    with _pytest.raises(ValueError, match="inner and left"):
        bin_interval_join(pts, iv, "t", "lo", "hi", 10, how="full")


def test_dedup_reserved_column_guard(spark):
    """A caller column colliding with a reserved intermediate name must
    raise instead of being silently clobbered/dropped."""
    from bcdp_spark.operators.dedup import (
        embedding_near_dup,
        lsh_bucket_pairs,
        with_minhash,
    )

    base = spark.createDataFrame(
        [(1, "hello world text", [1.0, 0.0])],
        "doc_id long, text string, embedding array<double>",
    )
    for bad in ("__sig", "__shash", "__band", "__n"):
        df = base.withColumn(bad, F.lit(0))
        with pytest.raises(ValueError, match="reserved"):
            lsh_bucket_pairs(df, "text", "doc_id")
    with pytest.raises(ValueError, match="reserved"):
        with_minhash(base.withColumn("__shash", F.lit(0)), "text")
    with pytest.raises(ValueError, match="reserved"):
        embedding_near_dup(
            base.withColumn("__b", F.lit(0)), "doc_id", "embedding", 2
        )


# -------------------------------------------------------- curvilinear regrid
def _regrid_fixture(spark, seed=7, n_src=300, n_dst=25):
    """Deterministic pseudo-random point sets: a curvilinear-ish source
    cloud and a destination set, plus one dst far outside the domain."""
    rng = np.random.RandomState(seed)
    src_pdf = pd.DataFrame(
        {
            "sid": np.arange(n_src),
            "slat": rng.uniform(0.0, 10.0, n_src),
            "slon": rng.uniform(0.0, 10.0, n_src),
            "sval": rng.uniform(-5.0, 5.0, n_src),
        }
    )
    dst_pdf = pd.DataFrame(
        {
            "did": np.arange(n_dst + 1),
            "dlat": np.append(rng.uniform(1.0, 9.0, n_dst), 500.0),
            "dlon": np.append(rng.uniform(1.0, 9.0, n_dst), 500.0),
        }
    )
    return (
        src_pdf,
        dst_pdf,
        spark.createDataFrame(src_pdf),
        spark.createDataFrame(dst_pdf),
    )


def test_idw_regrid_matches_bruteforce(spark):
    from bcdp_spark.operators.regrid import idw_regrid

    radius, k, eps = 1.2, 5, 1e-6
    src_pdf, dst_pdf, src, dst = _regrid_fixture(spark)
    got = {
        r["did"]: (r["sval"], r["n_src"])
        for r in idw_regrid(
            src,
            dst,
            radius=radius,
            k=k,
            eps=eps,
            src_lat="slat",
            src_lon="slon",
            value_col="sval",
            dst_lat="dlat",
            dst_lon="dlon",
            dst_keys=("did",),
            tiebreak=("sid",),
        ).collect()
    }
    # far-away destination has no neighbors -> absent from output
    assert dst_pdf["did"].iloc[-1] not in got
    n_checked = 0
    for _, d in dst_pdf.iterrows():
        d2 = (src_pdf["slat"] - d["dlat"]) ** 2 + (
            src_pdf["slon"] - d["dlon"]
        ) ** 2
        cand = src_pdf.assign(d2=d2)[d2 <= radius * radius]
        if cand.empty:
            assert d["did"] not in got
            continue
        top = cand.sort_values(["d2", "sid"]).head(k)
        w = 1.0 / (eps + top["d2"])
        exp = float((top["sval"] * w).sum() / w.sum())
        val, n = got[d["did"]]
        assert n == len(top)
        assert val == pytest.approx(exp, rel=1e-9)
        n_checked += 1
    assert n_checked >= 20


def test_nearest_regrid_is_exact_source_value(spark):
    from bcdp_spark.operators.regrid import nearest_regrid

    radius = 1.2
    src_pdf, dst_pdf, src, dst = _regrid_fixture(spark, seed=11)
    got = {
        r["did"]: r["sval"]
        for r in nearest_regrid(
            src,
            dst,
            radius=radius,
            src_lat="slat",
            src_lon="slon",
            value_col="sval",
            dst_lat="dlat",
            dst_lon="dlon",
            dst_keys=("did",),
            tiebreak=("sid",),
        ).collect()
    }
    for _, d in dst_pdf.iterrows():
        d2 = (src_pdf["slat"] - d["dlat"]) ** 2 + (
            src_pdf["slon"] - d["dlon"]
        ) ** 2
        cand = src_pdf.assign(d2=d2)[d2 <= radius * radius]
        if cand.empty:
            assert d["did"] not in got
        else:
            nearest = cand.sort_values(["d2", "sid"]).iloc[0]
            # the exact source value, no arithmetic on it
            assert got[d["did"]] == nearest["sval"]


def test_binned_neighbor_pairs_collision_guard(spark):
    from bcdp_spark.operators.regrid import binned_neighbor_pairs

    src = spark.createDataFrame([(0.0, 0.0, 1.0)], ["lat", "lon", "v"])
    dst_clash = spark.createDataFrame([(0.0, 0.0)], ["lat", "dlon"])
    with pytest.raises(ValueError, match="collision"):
        binned_neighbor_pairs(src, dst_clash, 1.0, dst_lat="lat")
    dst_reserved = spark.createDataFrame([(0.0, 0.0, 1)], ["dlat", "dlon", "__d2"])
    with pytest.raises(ValueError, match="reserved"):
        binned_neighbor_pairs(src, dst_reserved, 1.0)


def test_repeated_ngram_doc_stats(spark):
    from bcdp_spark.operators.dedup import repeated_ngram_doc_stats

    # doc 1 and 2 share the span "a b c"; doc 3 is unique; doc 4 too short
    df = spark.createDataFrame(
        [
            (1, "a b c x y"),
            (2, "q a b c z"),
            (3, "p q r s t"),
            (4, "u v"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["n_rep"], r["rep_frac"])
        for r in repeated_ngram_doc_stats(
            df, "text", "doc_id", k=3, min_count=2
        ).collect()
    }
    # doc1 grams: "a b c","b c x","c x y" -> 1 repeated of 3
    assert out[1] == (3, 1, pytest.approx(1 / 3, abs=1e-6))
    assert out[2] == (3, 1, pytest.approx(1 / 3, abs=1e-6))
    assert out[3] == (3, 0, 0.0)
    assert 4 not in out  # no k-grams at all -> absent (explode drops it)


def test_strip_duplicated_spans_hand_computed(spark):
    """Span-removal half of exact-substring dedup: shared 3-gram
    positions are stripped on BOTH docs, unique docs untouched, short
    docs untouched, a fully-duplicated doc becomes empty."""
    from bcdp_spark.operators.dedup import strip_duplicated_spans

    df = spark.createDataFrame(
        [
            (1, "a b c x y"),  # shares "a b c" with doc 2
            (2, "q a b c z"),
            (3, "p q r s t"),  # unique
            (4, "u v"),  # too short for any gram
            (5, "m n o"),  # exact dup of doc 6 -> fully covered
            (6, "m n o"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned_text"])
        for r in strip_duplicated_spans(
            df, "text", "doc_id", k=3, min_docs=2
        ).collect()
    }
    assert out[1] == (5, 3, "x y")
    assert out[2] == (5, 3, "q z")
    assert out[3] == (5, 0, "p q r s t")
    assert out[4] == (2, 0, "u v")
    assert out[5] == (3, 3, "")
    assert out[6] == (3, 3, "")


# -- r3: join-based PageRank ------------------------------------------


def test_pagerank_hand_computed(spark):
    """3-node cycle with uniform weights: closed-form fixpoint ~ 1/3
    each; after any k iterations ranks stay exactly uniform."""
    from bcdp_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    got = {r["node"]: r["r"] for r in pagerank(edges, iterations=4).collect()}
    for v in got.values():
        assert abs(v - 1 / 3) < 1e-12


def test_pagerank_sink_gains_mass(spark):
    """star a->c, b->c: c must outrank a and b; dangling c emits none."""
    from bcdp_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [("a", "c", 1.0), ("b", "c", 1.0)],
        "src string, dst string, w double",
    )
    got = {r["node"]: r["r"] for r in pagerank(edges, iterations=3).collect()}
    assert got["c"] > got["a"] == got["b"]


def test_pagerank_checkpoint_matches_pure_plan(spark):
    """checkpoint_every must not change values (lineage-only)."""
    from bcdp_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "a", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    pure = sorted(map(tuple, pagerank(edges, iterations=4).collect()))
    ckpt = sorted(
        map(tuple, pagerank(edges, iterations=4, checkpoint_every=2).collect())
    )
    assert pure == ckpt


# -- r3: haversine (great-circle) neighbor ops ------------------------


def _brute_haversine_nearest(src_rows, dst_rows, radius_km):
    import math

    R = 6371.0088

    def hav(a, b):
        p1, l1, p2, l2 = map(math.radians, (a[0], a[1], b[0], b[1]))
        h = (
            math.sin((p2 - p1) / 2) ** 2
            + math.cos(p1) * math.cos(p2) * math.sin((l2 - l1) / 2) ** 2
        )
        return 2 * R * math.asin(math.sqrt(h))

    out = {}
    for did, dlat, dlon in dst_rows:
        best = None
        for slat, slon, v, sid in src_rows:
            d = hav((slat, slon), (dlat, dlon))
            if d <= radius_km and (
                best is None or (d, sid) < (best[0], best[2])
            ):
                best = (d, v, sid)
        if best is not None:
            out[did] = (round(best[0], 6), best[1])
    return out


def test_haversine_nearest_matches_bruteforce(spark):
    """Spherical nearest-regrid == O(n*m) brute force on a seeded cloud
    spanning high latitudes (where planar distance would get it wrong)."""
    import random

    from bcdp_spark.operators.regrid import nearest_regrid_haversine

    rng = random.Random(7)
    src_rows = [
        (rng.uniform(-75, 75), rng.uniform(-180, 180), float(i), i)
        for i in range(300)
    ]
    dst_rows = [
        (j, rng.uniform(-75, 75), rng.uniform(-180, 180)) for j in range(80)
    ]
    src = spark.createDataFrame(
        src_rows, "slat double, slon double, sval double, sid long"
    )
    dst = spark.createDataFrame(dst_rows, "did long, dlat double, dlon double")
    got = {
        r["did"]: (round(r["km"], 6), r["sval"])
        for r in nearest_regrid_haversine(
            src, dst, radius_km=800.0,
            src_lat="slat", src_lon="slon", value_col="sval",
            dst_lat="dlat", dst_lon="dlon", dst_keys=("did",),
            tiebreak=("sid",),
        ).collect()
    }
    want = _brute_haversine_nearest(
        [(a, b, v, i) for a, b, v, i in src_rows], dst_rows, 800.0
    )
    assert got == want
    assert len(want) > 10  # the radius actually matches many points


def test_haversine_lat_cap_guard(spark):
    from bcdp_spark.operators.regrid import nearest_regrid_haversine

    src = spark.createDataFrame(
        [(85.0, 0.0, 1.0, 1)], "slat double, slon double, sval double, sid long"
    )
    dst = spark.createDataFrame([(1, 84.0, 0.0)], "did long, dlat double, dlon double")
    import pytest as _pytest

    with _pytest.raises(Exception, match="lat_cap"):
        nearest_regrid_haversine(
            src, dst, radius_km=500.0,
            src_lat="slat", src_lon="slon", value_col="sval",
            dst_lat="dlat", dst_lon="dlon", dst_keys=("did",),
        ).collect()


def test_bilinear_regrid_reproduces_linear_field(spark):
    """Bilinear must be EXACT on any affine field; edge points
    renormalize over matched corners (strict mode drops them); an
    on-grid point collapses to a single corner."""
    import numpy as np

    from bcdp_spark.operators.regrid import bilinear_regrid

    src_rows = [
        (float(i * 2), float(j * 3), float(10 * (i * 2) + j * 3))
        for i in range(10)
        for j in range(10)
    ]
    src = spark.createDataFrame(src_rows, "lat double, lon double, value double")
    rng = np.random.RandomState(5)
    dst_rows = [
        (k, float(rng.uniform(0, 18)), float(rng.uniform(0, 27)))
        for k in range(40)
    ]
    dst = spark.createDataFrame(
        dst_rows, "pid long, dst_lat double, dst_lon double"
    )
    out = {
        r["pid"]: r["value"]
        for r in bilinear_regrid(
            src, dst, lat0=0.0, dlat=2.0, lon0=0.0, dlon=3.0,
            dst_keys=("pid",),
        ).collect()
    }
    for k, la, lo in dst_rows:
        assert abs(out[k] - round(10 * la + lo, 6)) < 2e-6

    edge = spark.createDataFrame(
        [(0, 18.5, 1.0)], "pid long, dst_lat double, dst_lon double"
    )
    r = bilinear_regrid(
        src, edge, 0.0, 2.0, 0.0, 3.0, dst_keys=("pid",)
    ).collect()[0]
    assert r["n_corners"] == 2
    assert (
        bilinear_regrid(
            src, edge, 0.0, 2.0, 0.0, 3.0, dst_keys=("pid",), min_corners=4
        ).count()
        == 0
    )
    on_grid = spark.createDataFrame(
        [(0, 4.0, 6.0)], "pid long, dst_lat double, dst_lon double"
    )
    r3 = bilinear_regrid(
        src, on_grid, 0.0, 2.0, 0.0, 3.0, dst_keys=("pid",)
    ).collect()[0]
    assert r3["value"] == 46.0 and r3["n_corners"] == 1


def test_conservative_regrid_exact_on_aligned_tiles(spark):
    """2x2 blocks of 1-degree cells exactly tile one 2-degree dst cell:
    result equals the hand-computed spherical-area-weighted mean."""
    import math

    from bcdp_spark.operators.regrid import conservative_regrid

    rows = [
        ("m", la + 0.5, lo + 0.5, float(la * 100 + lo))
        for la in range(40, 44)
        for lo in range(10, 14)
    ]
    df = spark.createDataFrame(
        rows, "name string, lat double, lon double, value double"
    )
    got = {
        (r["dst_lat"], r["dst_lon"]): (r["value"], r["n_src"])
        for r in conservative_regrid(df, 2.0, 2.0, 1.0, 1.0).collect()
    }

    def w(a, b):
        return math.sin(math.radians(b)) - math.sin(math.radians(a))

    for (dla, dlo), (v, n) in got.items():
        d, e = int(dla - 1), int(dlo - 1)
        num = den = 0.0
        for la in range(d, d + 2):
            for lo in range(e, e + 2):
                ww = w(la, la + 1)
                num += ww * (la * 100 + lo)
                den += ww
        assert n == 4
        assert abs(v - round(num / den, 6)) < 2e-6


def test_conservative_regrid_preserves_constant_and_budget(spark):
    """Misaligned grids: a constant field stays constant, and the
    global area-weighted integral is conserved (the property that
    names the method)."""
    import math

    from bcdp_spark.operators.regrid import conservative_regrid

    rows = [
        ("m", 0.75 + 1.5 * i, 0.75 + 1.5 * j, float(1 + (i * 7 + j) % 5))
        for i in range(8)
        for j in range(8)
    ]
    df = spark.createDataFrame(
        rows, "name string, lat double, lon double, value double"
    )
    out = conservative_regrid(df, 2.0, 2.0, 1.5, 1.5).collect()

    def band(a, b):
        return math.sin(math.radians(b)) - math.sin(math.radians(a))

    # src integral: each src cell area x value
    src_int = sum(
        band(la - 0.75, la + 0.75) * 1.5 * v
        for _m, la, lo, v in rows
    )
    # dst integral: each dst value x ITS OVERLAP with the source domain
    # (edge dst cells are only partially covered; the conservative mean
    # times covered-area, summed, must equal the source integral)
    lat_lo, lat_hi = 0.0, 0.75 + 1.5 * 7 + 0.75
    lon_lo, lon_hi = 0.0, lat_hi
    dst_int = 0.0
    for r in out:
        d0, d1 = r["dst_lat"] - 1.0, r["dst_lat"] + 1.0
        e0, e1 = r["dst_lon"] - 1.0, r["dst_lon"] + 1.0
        cov = band(max(d0, lat_lo), min(d1, lat_hi)) * (
            min(e1, lon_hi) - max(e0, lon_lo)
        )
        dst_int += r["value"] * cov
    # dst values carry only the decimal(38,18) quantization of the
    # per-pair products (no output rounding), so the budget closes to
    # ~1e-12 relative
    assert abs(dst_int - src_int) / abs(src_int) < 1e-11

    const = spark.createDataFrame(
        [(m, la, lo, 3.5) for m, la, lo, _v in rows],
        "name string, lat double, lon double, value double",
    )
    for r in conservative_regrid(const, 2.0, 2.0, 1.5, 1.5).collect():
        assert r["value"] == pytest.approx(3.5, abs=1e-12)


def test_conservative_regrid_wrap_seam(spark):
    """A source cell straddling lon 0/360 contributes to BOTH edge
    destination columns (segment split, same lesson as the haversine
    dateline fix)."""
    from bcdp_spark.operators.regrid import conservative_regrid

    df = spark.createDataFrame(
        [("m", 10.0, 359.9, 7.0)],
        "name string, lat double, lon double, value double",
    )
    got = {
        (r["dst_lat"], r["dst_lon"]): r["value"]
        for r in conservative_regrid(df, 2.0, 2.0, 1.0, 1.0).collect()
    }
    # output longitudes are canonical [-180, 180): 359 -> -1
    assert (11.0, -1.0) in got and (11.0, 1.0) in got
    assert all(v == pytest.approx(7.0, abs=1e-12) for v in got.values())


def test_haversine_dateline_seam_near_cap(spark):
    """Regression (ADVICE r3, high): near-cap-latitude pair straddling
    +-180 that the old ceil()-based lon binning put 2 mod-bins apart
    (radius=150, lat=79.99, lons +-178.67 are ~51 km apart yet fell in
    bins 22 and 24 of 47). Exact tiling must recover it."""
    from bcdp_spark.operators.regrid import (
        binned_neighbor_pairs_haversine,
        nearest_regrid_haversine,
    )

    src = spark.createDataFrame(
        [(79.99, -178.67, 42.0, 1)],
        "slat double, slon double, sval double, sid long",
    )
    dst = spark.createDataFrame(
        [(1, 79.99, 178.67)], "did long, dlat double, dlon double"
    )
    pairs = binned_neighbor_pairs_haversine(
        src, dst, radius_km=150.0,
        src_lat="slat", src_lon="slon", dst_lat="dlat", dst_lon="dlon",
    ).collect()
    assert len(pairs) == 1 and pairs[0]["__km"] < 60.0
    got = nearest_regrid_haversine(
        src, dst, radius_km=150.0,
        src_lat="slat", src_lon="slon", value_col="sval",
        dst_lat="dlat", dst_lon="dlon", dst_keys=("did",), tiebreak=("sid",),
    ).collect()
    assert len(got) == 1 and got[0]["sval"] == 42.0


def test_haversine_seam_sweep_matches_bruteforce(spark):
    """Exact-tiling cover property: dense sweep of pairs hugging +-180
    at several latitudes == brute force (no silently dropped neighbors)."""
    from bcdp_spark.operators.regrid import nearest_regrid_haversine

    src_rows, dst_rows = [], []
    i = 0
    for lat in (-79.9, -45.0, 0.0, 45.0, 79.9):
        for eps in (0.05, 0.4, 1.3, 2.6):
            src_rows.append((lat, -180.0 + eps, float(i), i))
            dst_rows.append((i, lat, 180.0 - eps))
            i += 1
    src = spark.createDataFrame(
        src_rows, "slat double, slon double, sval double, sid long"
    )
    dst = spark.createDataFrame(dst_rows, "did long, dlat double, dlon double")
    got = {
        r["did"]: (round(r["km"], 6), r["sval"])
        for r in nearest_regrid_haversine(
            src, dst, radius_km=200.0,
            src_lat="slat", src_lon="slon", value_col="sval",
            dst_lat="dlat", dst_lon="dlon", dst_keys=("did",),
            tiebreak=("sid",),
        ).collect()
    }
    want = _brute_haversine_nearest(src_rows, dst_rows, 200.0)
    assert got == want
    assert len(want) >= 10


def test_ivf_topk_recall(spark):
    """IVF recall: with planted clusters as cells, the probe-then-rerank
    pipeline recovers the exact top-10 (assignment, probe and in-cell
    rerank all exercised end to end)."""
    from bcdp_spark.operators.similarity import (
        cosine_topk,
        ivf_assign_df,
        train_centroids_df,
    )
    from bcdp_spark.queries.similarity import flat_sqnorm  # noqa: F401

    rng = np.random.RandomState(23)
    base = rng.standard_normal(16)
    planted = [base + 0.15 * rng.standard_normal(16) for _ in range(12)]
    noise = [rng.standard_normal(16) for _ in range(300)]
    rows = []
    for i, v in enumerate(planted):
        rows.append((i, "0", [float(x) for x in v]))
    for j, v in enumerate(noise):
        rows.append((100 + j, str(1 + j % 3), [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    q = [float(x) for x in base]
    exact = {r["vec_id"] for r in cosine_topk(df, q, k=10).collect()}

    cents = train_centroids_df(df)
    assigned = ivf_assign_df(df, cents)
    # probe: nearest centroid to the query (driver-side tiny compare is
    # fine in a TEST; the query key keeps it in-plan)
    import math

    cent_rows = cents.collect()
    best = min(
        cent_rows,
        key=lambda r: sum((a - b) ** 2 for a, b in zip(r["centroid"], q)),
    )["label"]
    cand = assigned.filter(F.col("ivf_cell") == int(best)).drop("ivf_cell")
    approx = {r["vec_id"] for r in cosine_topk(cand, q, k=10).collect()}
    assert len(exact & approx) >= 9  # planted cell holds the true top-k


def test_dsir_logweights_directionality(spark):
    """DSIR (Xie et al. 2023) sanity: documents drawn from the target
    slice's vocabulary get strictly higher log importance weights than
    documents from a disjoint vocabulary, and the weight is a pure
    function of the token multiset (dup doc -> identical weight)."""
    from pyspark.sql import functions as F

    from bcdp_spark.operators.text import dsir_logweights

    rows = [(i, "alpha beta gamma delta", "en") for i in range(8)]
    rows += [(100 + i, "zork quux blorb fnord", "xx") for i in range(8)]
    rows += [(200, "alpha beta gamma delta", "xx")]  # target-vocab, raw-lang
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_logweights(
            df, "text", "doc_id", F.col("lang") == "en"
        ).collect()
    }
    assert out[0] > out[100]  # target vocabulary scores higher
    assert out[200] == out[0]  # weight depends on tokens, not the label
    assert all(out[i] == out[0] for i in range(8))


def test_dsir_logweights_plan_is_broadcast(spark):
    """The 256-row bucket-ratio table must broadcast back onto the token
    stream — a shuffle join there would re-shuffle the whole corpus."""
    from pyspark.sql import functions as F

    from bcdp_spark.operators.text import dsir_logweights

    df = spark.createDataFrame(
        [(1, "a b", "en"), (2, "c d", "de")],
        "doc_id long, text string, lang string",
    )
    plan = dsir_logweights(
        df, "text", "doc_id", F.col("lang") == "en"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lloyd_kmeans_recovers_planted_clusters(spark):
    """Two tight planted clusters, seeds one-per-cluster: two Lloyd
    iterations must assign every point to its plant and land centroids
    on the exact decimal-mean of each plant."""
    from bcdp_spark.operators.similarity import lloyd_kmeans

    rows = []
    for i in range(10):  # plant A near (0,0,...), ids 0,2,4,..
        rows.append((2 * i, [0.0 + i * 0.01] * 8))
    for i in range(10):  # plant B near (5,5,...), ids 1,3,5,..
        rows.append((2 * i + 1, [5.0 + i * 0.01] * 8))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = lloyd_kmeans(
        df, "embedding", "vec_id", k=2, n_iter=2, dim=8
    )
    got = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    assert all(got[v] == 0 for v in range(0, 20, 2))
    assert all(got[v] == 1 for v in range(1, 20, 2))
    c = {r["cell"]: r["centroid"] for r in cents.collect()}
    assert abs(c[0][0] - 0.045) < 1e-9 and abs(c[1][0] - 5.045) < 1e-9


def test_lloyd_kmeans_plan_is_shuffle_free(spark):
    """r12: the returned assignment plan must be a single map-only
    pass over the vector stream — no join, no window, no Exchange at
    all (the r11 form shuffled the corpus keyed on (id, vector) every
    iteration; centroids now travel as driver-held literals)."""
    from bcdp_spark.operators.similarity import lloyd_kmeans

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    assigned, _ = lloyd_kmeans(df, "embedding", "vec_id", k=2, n_iter=2, dim=2)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_assign_cells_arrow_matches_jvm_expressions(spark):
    """The vectorized Arrow assignment must be BIT-identical to the
    unrolled JVM literal expressions it replaced (same left-assoc IEEE
    sequence, NaN-is-largest ordering, lowest-cell tiebreak) — the
    _lit_argmin/_lit_sqdist helpers are kept as this cross-check twin.
    Includes a NaN row (argmin must avoid it while a finite distance
    exists) and an exact tie row (lowest cell must win)."""
    from pyspark.sql import functions as F

    from bcdp_spark.operators.similarity import (
        _assign_cells_arrow,
        _lit_argmin,
        _lit_sqdist,
    )

    cents = [(0, [0.0, 1.0]), (2, [4.0, 1.0])]
    rows = [
        (1, [0.1, 0.9]),
        (2, [3.9, 1.1]),
        (3, [2.0, 1.0]),            # exact tie → cell 0
        (4, [float("nan"), 0.0]),   # NaN dists → lowest cell
        (5, [2.0 + 1e-12, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = {
        r["vec_id"]: (r["cell"], r["d2"])
        for r in _assign_cells_arrow(
            df, "v", cents, 2, cell_col="cell", fin=cents, d2_col="d2"
        ).collect()
    }
    best = _lit_argmin("v", cents)
    exp_df = df.select(
        "vec_id",
        best["cell"].alias("cell"),
        F.when(best["cell"] == 0, _lit_sqdist("v", cents[0][1]))
        .otherwise(_lit_sqdist("v", cents[1][1]))
        .alias("d2"),
    )
    exp = {r["vec_id"]: (r["cell"], r["d2"]) for r in exp_df.collect()}
    import math

    assert set(got) == set(exp)
    for vid in exp:
        assert got[vid][0] == exp[vid][0], vid
        a, b = got[vid][1], exp[vid][1]
        assert (math.isnan(a) and math.isnan(b)) or a == b, vid
    assert got[3][0] == 0  # tie broken to the lowest cell


def test_bm25_hand_computed(spark):
    """Single-term query over a 2-doc corpus, hand-checked score."""
    import math

    from bcdp_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [(1, "x x y"), (2, "y z")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: float(r["bm25_dec"])
        for r in bm25_scores(df, "text", "doc_id", ("x",)).collect()
    }
    # N=2, df=1, idf=ln((2-1+.5)/(1+.5)+1)=ln(2); tf=2, dl=3, avgdl=2.5
    expect = math.log(2.0) * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.5))
    assert out.keys() == {1}
    assert abs(out[1] - round(expect, 8)) < 1e-8


def test_lloyd_kmeans_sparse_ids_still_seed_k(spark):
    """Seeding is first-k-BY-ID, not id<k: a corpus whose ids start at
    1000 must still get k seeded cells (regression: the old filter
    produced an empty centroid table and a silently empty result)."""
    from bcdp_spark.operators.similarity import lloyd_kmeans

    rows = [(1000 + i, [float(i % 2) * 5.0, 1.0]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = lloyd_kmeans(
        df, "embedding", "vec_id", k=2, n_iter=1, dim=2
    )
    assert assigned.count() == 12
    assert {r["cell"] for r in cents.collect()} == {0, 1}


def test_conservative_regrid_no_beyond_pole_cells(spark):
    """Regression (r4 self-review): a source cell clamped at the pole
    must NOT emit a beyond-the-pole destination row — sin is
    non-monotonic past 90 deg, so sin(90)-sin(92) is positive and the
    weight filter alone cannot catch the ceil() over-reach."""
    from bcdp_spark.operators.regrid import conservative_regrid

    df = spark.createDataFrame(
        [("m", 89.25, 10.0, 2.0), ("m", -89.25, 10.0, 2.0)],
        "name string, lat double, lon double, value double",
    )
    rows = conservative_regrid(df, 4.0, 4.0, 1.5, 1.5).collect()
    lats = {r["dst_lat"] for r in rows}
    assert all(-90.0 <= la <= 90.0 for la in lats), lats
    assert all(r["value"] == 2.0 for r in rows)


# ------------------------------------------------- r4 self-review batch 2
def test_hash_split_full_weight_threshold(spark):
    """Regression: a split whose cumulative weight rounds to 256 has no
    2-hex-char representation — format(256,'02x')='100' compared
    lexicographically against 2-char prefixes mis-assigned ~93% of rows
    to the ZERO-weight split."""
    from bcdp_spark.operators.split import hash_split

    df = spark.createDataFrame([(i,) for i in range(500)], "id long")
    out = hash_split(df, "id", (("train", 1.0), ("val", 0.0)))
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"train": 500}


def test_bin_interval_join_left_null_point_column(spark):
    """Regression: NULL in a point column must not duplicate the
    matched row null-extended (the anti join needs null-safe equality)."""
    from bcdp_spark.operators.rangejoin import bin_interval_join

    pts = spark.createDataFrame(
        [(5, None), (50, "x")], "t long, note string"
    )
    iv = spark.createDataFrame([(0, 10, 7)], "lo long, hi long, promo long")
    rows = bin_interval_join(
        pts, iv, "t", "lo", "hi", bin_width=10.0, how="left"
    ).collect()
    assert len(rows) == 2
    by_t = {r["t"]: r for r in rows}
    assert by_t[5]["promo"] == 7      # matched once, not duplicated
    assert by_t[50]["promo"] is None  # unmatched -> null-extended


def test_global_row_number_null_and_nan_range(spark):
    """Regression: NULL/NaN in the range column crashed the driver-side
    offset sort; now NULLs take the first positions (SQL NULLS FIRST)
    and NaNs the last (Spark sorts NaN above every double)."""
    from bcdp_spark.operators.totalorder import global_row_number

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 1.0), (4, float("nan"))],
        "id long, x double",
    )
    out = {
        r["id"]: r["rn"]
        for r in global_row_number(
            df, ["x", "id"], "x", 0.0, 10.0, n_ranges=4
        ).collect()
    }
    assert out[2] == 1          # NULL first
    assert out[3] == 2 and out[1] == 3
    assert out[4] == 4          # NaN last


def test_asof_join_null_right_timestamp(spark):
    """Regression: a right row with NULL `on` sorted NULLS-FIRST and was
    carried as a spurious match for left rows with no true predecessor."""
    from bcdp_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", "2020-01-01 00:00:00")], "k string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("u1", None, 99.0)], "k string, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = asof_join(left, right, on="ts", by=["k"]).collect()
    assert len(rows) == 1 and rows[0]["v_right"] is None


def test_connected_components_checkpoint_disabled(spark):
    """checkpoint_every=0 means 'disabled' (the pagerank convention),
    not ZeroDivisionError."""
    from bcdp_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["label"]
        for r in connected_components(edges, checkpoint_every=0).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_pq_roundtrip_and_adc_recall(spark):
    """PQ (r4): codes take m values in [0, ksub); reconstruction error is
    far below the data scale on planted clusters; the ADC top-k recovers
    the planted neighborhood of the query without touching raw vectors."""
    from bcdp_spark.operators.similarity import (
        pq_adc_topk,
        pq_train_encode,
        subvectors,
    )

    rng = np.random.RandomState(7)
    dim, m, ksub = 16, 4, 4
    centers = [rng.standard_normal(dim) * 3 for _ in range(4)]
    rows = []
    for i in range(200):
        v = centers[i % 4] + 0.05 * rng.standard_normal(dim)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes, codebook = pq_train_encode(
        df, dim=dim, m=m, ksub=ksub, n_iter=2
    )
    crows = codes.collect()
    assert len(crows) == 200 * m
    assert all(0 <= r["code"] < ksub for r in crows)
    assert codebook.count() <= m * ksub

    # ADC: query = vector 0's own sub-split; its planted cluster
    # (ids ≡ 0 mod 4) must dominate the top-10.
    qsubs = subvectors(
        df.filter(F.col("vec_id") == 0), dim=dim, m=m
    ).select("sub", F.col("__sv").alias("qsub"))
    top = pq_adc_topk(
        codes, codebook, qsubs, k=10, dsub=dim // m
    ).collect()
    assert top[0]["approx_d2"] >= 0.0
    same_cluster = sum(1 for r in top if r["vec_id"] % 4 == 0)
    assert same_cluster >= 9


def test_pq_rejects_indivisible_dim(spark):
    from bcdp_spark.operators.similarity import subvectors

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        subvectors(df, dim=3, m=2)


def test_incremental_exact_dedup(spark):
    """r4: batch docs already in the corpus are rejected; in-batch exact
    dups keep the lowest id; fresh docs are admitted."""
    from bcdp_spark.operators.dedup import (
        corpus_fingerprints,
        incremental_exact_dedup,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "hello world")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "hello world"),        # already admitted → reject
            (11, "fresh document one"),  # admit
            (12, "fresh document two"),  # admit (first of in-batch pair)
            (13, "fresh document two"),  # in-batch dup → reject
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"]
        for r in incremental_exact_dedup(
            batch, corpus_fingerprints(corpus, "text"), "text", "doc_id"
        ).collect()
    )
    assert got == [11, 12]


def test_incremental_minhash_dedup(spark):
    """r4: a batch doc near-identical to a corpus doc shares a band
    bucket and is rejected; unrelated docs are admitted; in-batch
    near-dups keep the lowest id."""
    from bcdp_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_buckets,
    )

    base = "the quick brown fox jumps over the lazy dog " * 8
    other = "entirely different content about spark catalyst planner " * 8
    third = "yet another unrelated corpus of words and tokens " * 8
    corpus = spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    )
    cb = minhash_band_buckets(corpus, "text", "doc_id")
    batch = spark.createDataFrame(
        [
            (10, base + "tail edit"),   # near-dup of corpus → reject
            (11, other),                # fresh → admit
            (12, third),                # fresh → admit
            (13, third + "tail edit"),  # in-batch near-dup → reject
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"]
        for r in incremental_minhash_dedup(
            batch, cb, "text", "doc_id"
        ).collect()
    )
    assert got == [11, 12]


def test_incremental_minhash_band_param_shape(spark):
    from bcdp_spark.operators.dedup import minhash_band_buckets

    df = spark.createDataFrame(
        [(1, "some text here")], "doc_id long, text string"
    )
    assert minhash_band_buckets(df, "text", "doc_id", 64, 16).count() == 16
    with pytest.raises(ValueError):
        minhash_band_buckets(df, "text", "doc_id", 64, 15)


def test_normalize_url_rules(spark):
    """r4 URL canonicalization: each RFC 3986 normalization rule (case,
    www, default ports, fragment, param order, trailing slash, empty
    path) collapses its obfuscation; distinct resources stay distinct."""
    from bcdp_spark.operators.text import normalize_url

    cases = [
        # (input, expected canonical)
        ("https://Example.org/Page?b=2&a=1", "https://example.org/Page?a=1&b=2"),
        ("HTTPS://WWW.EXAMPLE.ORG:443/Page?a=1&b=2", "https://example.org/Page?a=1&b=2"),
        ("http://example.org:80/x", "http://example.org/x"),
        ("http://example.org:8080/x", "http://example.org:8080/x"),
        ("https://example.org/x/#frag", "https://example.org/x"),
        ("https://example.org", "https://example.org/"),
        ("https://example.org/", "https://example.org/"),
        ("https://example.org/a/b/", "https://example.org/a/b"),
        # path case is NOT folded (paths are case-sensitive)
        ("https://example.org/CaseSensitive", "https://example.org/CaseSensitive"),
        # a '?' inside the fragment must NOT resurrect a query
        ("https://example.org/x#/route?b=1", "https://example.org/x"),
        ("https://example.org/x?a=1#frag?b=2", "https://example.org/x?a=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(normalize_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_hamming_bucket_cap_preserves_close_pairs(spark):
    """r4: bucket_cap drops degenerate chunk buckets without losing a
    genuinely-near pair — the pair agrees on ~all chunks, so one
    under-cap chunk is enough to emit it."""
    from bcdp_spark.operators.dedup import hamming_near_pairs

    # 300 ids share chunk 0 (low bits equal) but are far overall;
    # ids 1000/1001 are hamming-1 neighbors.
    rows = [(i, (i << 32) | 0xABCD) for i in range(300)]
    rows += [(1000, 0x7777_0000_1234_5678), (1001, 0x7777_0000_1234_5679)]
    df = spark.createDataFrame(rows, "vid long, h long")
    capped = hamming_near_pairs(
        df, "h", "vid", max_hamming=3, bucket_cap=50
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (1000, 1001) in got
    # the degenerate shared-chunk crowd must not flood the result
    assert all(a >= 1000 for a, _ in got)


def _signed64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= 1 << 63 else v


def test_hamming_bucket_cap_canonical_bucket_over_cap_keeps_pair(spark):
    """The pair's FIRST agreeing chunk (its canonical bucket) is over the
    cap, a later agreeing chunk is sparse: the pair must still be kept,
    and exactly once."""
    from bcdp_spark.operators.dedup import hamming_near_pairs

    # 4 x 16-bit chunks at h=3. The crowd shares chunk 0 (0xABCD) with
    # the pair and scatters chunks 1-3.
    rows = [
        (i, ((i + 2000) << 48) | ((i + 1000) << 32) | (i << 16) | 0xABCD)
        for i in range(1, 61)
    ]
    a = 0x7777_1234_5555_ABCD
    rows += [(1000, a), (1001, a ^ (1 << 16))]  # differ in chunk 1 only
    df = spark.createDataFrame(rows, "vid long, h long")
    got = [
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_pairs(
            df, "h", "vid", max_hamming=3, bucket_cap=50
        ).collect()
    ]
    assert got == [(1000, 1001, 1)]
    # uncapped, canonical emission still yields each pair once (the
    # crowd's close neighbours agree on chunk 0 only and now appear too)
    full = [
        (r["id_a"], r["id_b"])
        for r in hamming_near_pairs(df, "h", "vid", max_hamming=3).collect()
    ]
    assert (1000, 1001) in full and len(full) == len(set(full)) > 1


def test_hamming_multi_index_cap_canonical_combo_over_cap_keeps_pair(spark):
    """Multi-index twin: the lexicographically first agreeing combo
    (blocks 0+1) is over the cap, a later combo (0+3) is sparse."""
    from bcdp_spark.operators.dedup import hamming_multi_index_pairs

    # blocks=5 at h=3: widths 13,13,13,13,12, combos of m=2 blocks
    low26 = 0x2468ACE & ((1 << 26) - 1)
    rows = [
        (i, _signed64(((i * 0x9E3779B97F4A7C15) >> 26 << 26) | low26))
        for i in range(1, 61)
    ]
    a = _signed64(0x1357_9BDF_0000_0000 | low26)
    rows += [(1000, a), (1001, a ^ (1 << 30))]  # differ in block 2 only
    df = spark.createDataFrame(rows, "vid long, h long")
    got = hamming_multi_index_pairs(
        df, "h", "vid", max_hamming=3, blocks=5, bucket_cap=50
    ).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [
        (1000, 1001, 1)
    ]


def test_ivf_pq_composition(spark):
    """r4: IVF-PQ — coarse-quantize to cells (lloyd_kmeans), PQ-encode
    only cell members, ADC-scan the probed cell. The composed pipeline
    returns the query's planted cluster without scanning other cells."""
    from bcdp_spark.operators.similarity import (
        lloyd_kmeans,
        pq_adc_topk,
        pq_train_encode,
        subvectors,
    )

    rng = np.random.RandomState(3)
    dim, m, ksub = 16, 4, 4
    centers = [rng.standard_normal(dim) * 4 for _ in range(3)]
    rows = [
        (i, [float(x) for x in centers[i % 3] + 0.05 * rng.standard_normal(dim)])
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, _cents = lloyd_kmeans(df, "embedding", "vec_id", k=3, n_iter=2, dim=dim)
    with_cell = df.join(assigned.select("vec_id", "cell"), "vec_id")

    # query = vector 0; probe its assigned cell only
    qcell = with_cell.filter(F.col("vec_id") == 0).select("cell")
    probed = with_cell.join(F.broadcast(qcell), "cell").drop("cell")

    codes, codebook = pq_train_encode(probed, dim=dim, m=m, ksub=ksub, n_iter=1)
    qsubs = subvectors(
        df.filter(F.col("vec_id") == 0), dim=dim, m=m
    ).select("sub", F.col("__sv").alias("qsub"))
    top = pq_adc_topk(codes, codebook, qsubs, k=10, dsub=dim // m).collect()
    assert len(top) == 10
    # every returned id must belong to the query's planted cluster
    assert all(r["vec_id"] % 3 == 0 for r in top)


def test_snapshot_diff_classification_and_nulls(spark):
    """r4: added/removed/changed/unchanged classification, including a
    NULL→value transition (the to_json fingerprint keeps null fields,
    so NULL and empty string do not collide)."""
    from bcdp_spark.operators.split import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "")],
        "k long, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, ""), (5, "e")],
        "k long, v string",
    )
    got = {r["k"]: r["status"] for r in snapshot_diff(old, new, "k").collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "changed",   # NULL -> "" must NOT read as unchanged
        4: "removed",
        5: "added",
    }
    with pytest.raises(ValueError):
        snapshot_diff(old, new.drop("v"), "k")


def test_knn_join_ivf_recall_on_planted_clusters(spark):
    """r4 batch kNN: IVF-probed knn_join recovers the exact top-3 for
    every query when clusters are well separated (assignment, probe
    explosion, cell equi-join and in-cell rerank all exercised)."""
    from bcdp_spark.operators.similarity import knn_join, knn_join_ivf

    rng = np.random.RandomState(17)
    dim = 16
    centers = [rng.standard_normal(dim) * 5 for _ in range(3)]
    c_rows, q_rows = [], []
    for i in range(120):
        c_rows.append(
            (i, [float(x) for x in centers[i % 3] + 0.05 * rng.standard_normal(dim)])
        )
    for j in range(6):
        q_rows.append(
            (1000 + j,
             [float(x) for x in centers[j % 3] + 0.05 * rng.standard_normal(dim)])
        )
    corpus = spark.createDataFrame(c_rows, "c_id long, c_vec array<float>")
    queries = spark.createDataFrame(q_rows, "q_id long, q_vec array<float>")

    exact = {
        (r["q_id"], r["rank"]): r["c_id"]
        for r in knn_join(queries, corpus, k=3, dim=dim).collect()
    }
    approx = {
        (r["q_id"], r["rank"]): r["c_id"]
        for r in knn_join_ivf(
            queries, corpus, k=3, dim=dim, n_cells=3, nprobe=1
        ).collect()
    }
    assert approx == exact  # separated clusters: nprobe=1 is lossless


def test_assign_codes_by_sub_arrow_matches_min_by(spark):
    """r12: the PQ per-subspace Arrow code assignment must be
    BIT-identical to the r11 broadcast-join min_by(code, struct(d,
    code)) form it replaced — same left-assoc sqdist, NaN-is-largest,
    lowest-code tiebreak. Includes an exact-tie row and a NaN row."""
    from pyspark.sql import functions as F

    from bcdp_spark.operators.similarity import (
        _assign_codes_by_sub_arrow,
        flat_sqdist,
    )

    by_sub = {
        0: [(0, [0.0, 0.0]), (1, [2.0, 0.0])],
        1: [(0, [1.0, 1.0]), (1, [1.0, 3.0])],
    }
    rows = [
        (10, 0, [0.2, 0.0]),
        (10, 1, [1.0, 2.9]),
        (11, 0, [1.0, 0.0]),            # exact tie in sub 0 → code 0
        (11, 1, [float("nan"), 0.0]),   # NaN dists → lowest code
    ]
    df = spark.createDataFrame(rows, "vid long, sub int, __sv array<double>")
    got = {
        (r["vid"], r["sub"]): r["__code"]
        for r in _assign_codes_by_sub_arrow(df, by_sub, 2).collect()
    }
    # r11 reference: broadcast codebook join + min_by over (d, code)
    cb = spark.createDataFrame(
        [(s, c, v) for s, lst in by_sub.items() for c, v in lst],
        "sub int, __code int, __c array<double>",
    )
    ref = {
        (r["vid"], r["sub"]): r["__code"]
        for r in df.join(F.broadcast(cb), "sub")
        .withColumn("__d", flat_sqdist("__sv", "__c", 2))
        .groupBy("vid", "sub")
        .agg(F.min_by("__code", F.struct("__d", "__code")).alias("__code"))
        .collect()
    }
    assert got == ref and len(got) == 4


def test_knn_join_hoisted_norms_match_paired_form(spark):
    """r12: knn_join hoists the per-side sqnorms out of the per-pair
    expression (n+m evals instead of n·m). The sims must stay
    bit-identical to computing the full guarded cosine per pair —
    same unrolled left-assoc double sums on the same rows — including
    the zero-norm NULL guard (zero vectors must not rank; Spark sorts
    NaN above every real double, so an unguarded 0/0 would win)."""
    from bcdp_spark.operators.similarity import (
        flat_cosine_guarded,
        knn_join,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(5)
    dim = 16
    c_rows = [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(9)]
    c_rows.append((9, [0.0] * dim))  # zero-norm corpus row
    q_rows = [(100 + j, [float(x) for x in rng.standard_normal(dim)]) for j in range(5)]
    q_rows.append((105, [0.0] * dim))  # zero-norm query row
    corpus = spark.createDataFrame(c_rows, "c_id long, c_vec array<float>")
    queries = spark.createDataFrame(q_rows, "q_id long, q_vec array<float>")

    got = knn_join(queries, corpus, k=3, dim=dim).collect()
    # reference: per-pair guarded cosine (the pre-r12 form), same rank
    from pyspark.sql import Window

    paired = queries.join(F.broadcast(corpus))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id"))
    ref = (
        paired.select(
            "q_id", "c_id",
            flat_cosine_guarded("q_vec", "c_vec", dim).alias("sim"),
        )
        .filter(F.col("sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))
    # zero-norm rows: query 105 has no output rows; corpus 9 never ranks
    assert all(r["q_id"] != 105 for r in got)
    assert all(r["c_id"] != 9 for r in got)


def test_hamming_near_pairs_bounds(spark):
    """r4 review fixes: h=0 (exact-match bucketing, full-width mask)
    works; h>15 raises instead of silently breaking the pigeonhole
    guarantee."""
    from bcdp_spark.operators.dedup import hamming_near_pairs

    df = spark.createDataFrame(
        [(1, 42), (2, 42), (3, 43), (4, -1)], "vid long, h long"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in hamming_near_pairs(df, "h", "vid", max_hamming=0).collect()
    }
    assert got == {(1, 2)}
    with pytest.raises(ValueError):
        hamming_near_pairs(df, "h", "vid", max_hamming=16)


def test_chunk_documents_windows(spark):
    """r4 chunking: window boundaries, overlap, short-doc single chunk,
    and the no-chunk-past-end rule."""
    from bcdp_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [
            (1, " ".join(str(i) for i in range(10))),  # 10 toks
            (2, "a b"),                                 # short → 1 chunk
            (3, " ".join(str(i) for i in range(13))),  # 13 toks → 3 chunks
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_documents(
            df, "text", "doc_id", chunk_size=6, overlap=2
        ).collect()
    }
    # doc 1: stride 4 → chunks at 0,4,8 (ceil((10-2)/4)=2 → 0,4)
    assert got[(1, 0)] == ("0 1 2 3 4 5", 6)
    assert got[(1, 1)] == ("4 5 6 7 8 9", 6)
    assert (1, 2) not in got
    assert got[(2, 0)] == ("a b", 2)
    # doc 3: ceil((13-2)/4)=3 chunks at 0,4,8; last is 5 tokens
    assert got[(3, 2)] == ("8 9 10 11 12", 5)
    with pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", chunk_size=4, overlap=4)


def test_bigram_lm_scores_closed_form(spark):
    """Hand-computed add-1 bigram NLL on a 3-doc corpus; docs with <2
    tokens are absent by contract."""
    import math

    from bcdp_spark.operators.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    assert set(out) == {1, 2}  # doc 3 has no bigrams
    # corpus: tokens a,b,a,b,a,b,x → V=3; c1(a)=3, c1(b)=3
    # bigrams: (a,b)x3, (b,a)x1
    p_ab = (3 + 1) / (3 + 3)
    p_ba = (1 + 1) / (3 + 3)
    exp1 = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
    assert out[1]["n_bigrams"] == 3
    assert out[1]["avg_nll"] == round(exp1, 6)
    assert out[2]["n_bigrams"] == 1
    assert out[2]["avg_nll"] == round(-math.log(p_ab), 6)


def test_interp_plev_null_poisons_bracket_and_linear_mode(spark):
    from bcdp_spark.operators.regrid import interp_plev

    rows = [
        # profile 1: NULL at the upper bracket level → NULL result
        (1, 700.0, 3.0), (1, 800.0, 4.0), (1, 900.0, None),
        (1, 1000.0, 6.0),
        # profile 2: clean linear-in-p bracket 800→900, target 850
        (2, 800.0, 10.0), (2, 900.0, 20.0),
    ]
    df = spark.createDataFrame(rows, "pid int, lev double, value double")
    out = {r["pid"]: r["value"]
           for r in interp_plev(df, 850.0, by=("pid",), log_p=False)
           .collect()}
    assert out[1] is None  # poisoned, not skipped to 700-1000
    assert out[2] == 15.0  # exact midpoint in linear p


def test_interp_plev_duplicate_and_nonpositive_levels_raise(spark):
    """ADVICE fix: duplicate levels in a profile and non-positive
    levels under log_p fail loudly instead of emitting NaN rows."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from bcdp_spark.operators.regrid import interp_plev

    dup = spark.createDataFrame(
        [(1, 800.0, 1.0), (1, 800.0, 2.0), (1, 900.0, 3.0)],
        "pid int, lev double, value double",
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception),
                       match="invalid level axis"):
        interp_plev(dup, 850.0, by=("pid",), log_p=False).collect()

    neg = spark.createDataFrame(
        [(1, -1.0, 1.0), (1, 900.0, 3.0)],
        "pid int, lev double, value double",
    )
    with pytest.raises(Exception, match="invalid level axis"):
        interp_plev(neg, 850.0, by=("pid",), log_p=True).collect()

    with pytest.raises(ValueError, match="must be > 0"):
        interp_plev(neg, -5.0, by=("pid",), log_p=True)


def test_gram_blocked_matches_joined_and_partitioning(spark):
    """The blocked (applyInPandas outer-product) Gram matches the
    strict per-product-decimal join variant — exactly on dyadic
    values, within float tolerance on arbitrary doubles — and is
    bit-identical under hostile repartitioning (block membership is a
    pure hash of the space key, not of placement)."""
    import numpy as np

    from bcdp_spark.operators.eof import (
        gram_matrix_time,
        gram_matrix_time_joined,
    )

    rng = np.random.RandomState(7)
    # dyadic values: every product and partial sum float64-exact
    dyadic = [
        (t, float(a), float(o),
         float(rng.randint(-64, 65)) / 16.0)
        for t in range(8) for a in range(5) for o in range(6)
    ]
    schema = "t int, lat double, lon double, value double"
    df = spark.createDataFrame(dyadic, schema)
    key = lambda r: (r["t1"], r["t2"])
    blocked = {key(r): r["g"] for r in gram_matrix_time(df, time_col="t").collect()}
    joined = {key(r): r["g"] for r in gram_matrix_time_joined(df, time_col="t").collect()}
    assert blocked == joined

    rep = {
        key(r): r["g"]
        for r in gram_matrix_time(
            df.repartition(13, "lon"), time_col="t"
        ).collect()
    }
    assert rep == blocked

    # arbitrary doubles: tolerance agreement with the strict variant
    fuzz = [
        (t, float(a), float(o), float(rng.randn()))
        for t in range(6) for a in range(4) for o in range(5)
    ]
    df2 = spark.createDataFrame(fuzz, schema)
    b2 = {key(r): r["g"] for r in gram_matrix_time(df2, time_col="t").collect()}
    j2 = {key(r): r["g"] for r in gram_matrix_time_joined(df2, time_col="t").collect()}
    assert set(b2) == set(j2)
    for k in b2:
        assert abs(b2[k] - j2[k]) <= 1e-9 * max(1.0, abs(j2[k]))

    # missing (cell, time) entries: 0-fill == absent-pair semantics
    df3 = df.filter("not (t = 3 and lat = 2.0)")
    b3 = {key(r): r["g"] for r in gram_matrix_time(df3, time_col="t").collect()}
    j3 = {key(r): r["g"] for r in gram_matrix_time_joined(df3, time_col="t").collect()}
    assert b3 == j3


def test_eof_modes_recover_planted_orthogonal_modes(spark):
    """EOF via the distributed Gram matrix + driver eigh recovers the
    same subspace as a direct numpy SVD on a planted two-mode field;
    explained variance matches the planted amplitude split."""
    import numpy as np

    from bcdp_spark.operators.eof import anomalies, eof_modes

    nt, na, no = 12, 6, 8
    lat = np.arange(na)
    lon = np.arange(no)
    m1 = np.outer(np.sin(np.pi * (lat + 0.5) / na), np.ones(no))
    m1 /= np.linalg.norm(m1)
    m2 = np.outer(np.ones(na), np.cos(2 * np.pi * (lon + 0.5) / no))
    m2 /= np.linalg.norm(m2)
    pc1 = 10 * np.sin(np.arange(nt))
    pc2 = 3 * np.cos(2 * np.arange(nt))
    field = pc1[:, None, None] * m1[None] + pc2[:, None, None] * m2[None]
    rows = [
        (int(t), float(lat[a]), float(lon[o]), float(field[t, a, o]))
        for t in range(nt) for a in range(na) for o in range(no)
    ]
    df = spark.createDataFrame(
        rows, "time int, lat double, lon double, value double")
    an = anomalies(df, time_col="time")
    patterns, pcs, explained = eof_modes(an, n_modes=2, time_col="time")

    f_an = field - field.mean(axis=0, keepdims=True)
    u, s, vt = np.linalg.svd(f_an.reshape(nt, -1), full_matrices=False)
    for k in range(2):
        grid = np.zeros((na, no))
        for r in patterns.filter(f"mode = {k}").collect():
            grid[int(r["lat"]), int(r["lon"])] = r["eof"]
        g = grid.ravel() / np.linalg.norm(grid)
        ref = vt[k] / np.linalg.norm(vt[k])
        assert abs(float(g @ ref)) > 1 - 1e-9
        pc = np.array([
            r["pc"] for r in pcs.filter(f"mode = {k}")
            .orderBy("time").collect()
        ])
        refpc = u[:, k] * s[k]
        cos = abs(pc @ refpc / (np.linalg.norm(pc) * np.linalg.norm(refpc)))
        assert cos > 1 - 1e-9
    exp_ref = (s ** 2) / (s ** 2).sum()
    assert explained[0] == pytest.approx(float(exp_ref[0]), abs=1e-9)
    assert explained[1] == pytest.approx(float(exp_ref[1]), abs=1e-9)


def test_eof_sign_convention_deterministic(spark):
    """Eigenvector sign: the largest-|entry| PC component is positive,
    so repeated runs (and different LAPACK builds) agree."""
    import numpy as np

    from bcdp_spark.operators.eof import anomalies, eof_modes

    rng = np.random.default_rng(3)
    rows = [
        (t, float(a), 0.0, float(rng.normal()))
        for t in range(6) for a in range(10)
    ]
    df = spark.createDataFrame(
        rows, "time int, lat double, lon double, value double")
    an = anomalies(df, time_col="time").persist()
    _, pcs1, _ = eof_modes(an, n_modes=2, time_col="time")
    _, pcs2, _ = eof_modes(an, n_modes=2, time_col="time")
    a1 = sorted(map(tuple, pcs1.collect()))
    a2 = sorted(map(tuple, pcs2.collect()))
    assert a1 == a2
    for k in (0, 1):
        vec = [v for (_, m, v) in a1 if m == k]
        assert max(vec, key=abs) > 0


def test_gram_blocked_sparse_pair_set_matches_joined(spark):
    """Cells with DISJOINT time coverage: the blocked Gram must not
    conjure (t1, t2, 0.0) rows for pairs that never co-occur in any
    cell — its output row SET equals the join variant's."""
    from bcdp_spark.operators.eof import (
        gram_matrix_time,
        gram_matrix_time_joined,
    )

    rows = [
        # cell (0,0) has t in {0,1}; cell (1,1) has t in {2,3};
        # cell (2,2) bridges {1,2}
        (0, 0.0, 0.0, 1.25), (1, 0.0, 0.0, 2.5),
        (2, 1.0, 1.0, 0.75), (3, 1.0, 1.0, 1.0),
        (1, 2.0, 2.0, 3.0), (2, 2.0, 2.0, 0.5),
    ]
    df = spark.createDataFrame(
        rows, "t int, lat double, lon double, value double"
    )
    key = lambda r: (r["t1"], r["t2"])
    blocked = {key(r): r["g"]
               for r in gram_matrix_time(df, time_col="t").collect()}
    joined = {key(r): r["g"]
              for r in gram_matrix_time_joined(df, time_col="t").collect()}
    assert blocked == joined
    assert (0, 3) not in blocked  # never co-occurs anywhere
    assert (1, 2) in blocked      # bridged by cell (2,2)


# ---------------------------------------------------- decontamination
def test_decontaminate_flags_overlap_and_keeps_clean(spark):
    from bcdp_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),      # shares 3-gram with bench
            (2, "entirely different words here"),  # clean
            (3, "quick brown fox trailing junk"),  # shares 3-gram
            (4, "xx"),                             # shorter than n: clean
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "lead-in quick brown fox something")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(train, bench, n=3).collect()
    }
    assert out == {1: True, 2: False, 3: True, 4: False}


def test_decontaminate_preserves_train_columns(spark):
    from bcdp_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [(1, "a b c d", "keepme")], "doc_id long, text string, extra string"
    )
    bench = spark.createDataFrame([(9, "zzz")], "doc_id long, text string")
    row = decontaminate(train, bench, n=2).collect()[0]
    assert row["extra"] == "keepme" and row["contaminated"] is False


def test_decontaminate_reserved_column_guard(spark):
    from bcdp_spark.operators.dedup import decontaminate

    train = spark.createDataFrame([(1, "a", "x")], "doc_id long, text string, __gram string")
    bench = spark.createDataFrame([(9, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="__gram"):
        decontaminate(train, bench, n=1)


def test_ngram_sep_guard_rejects_regex_metacharacters(spark):
    # ADVICE r7: sep is a regex in F.split but a literal in array_join
    # (and in the DuckDB twins' string_split) — a metacharacter sep
    # would silently tokenize differently on the two sides.
    from bcdp_spark.operators.dedup import (
        decontaminate,
        repeated_ngram_doc_stats,
    )

    train = spark.createDataFrame([(1, "a.b")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "a.b")], "doc_id long, text string")
    for bad in (".", "|", "ab", ""):
        with pytest.raises(ValueError, match="single literal"):
            decontaminate(train, bench, n=1, sep=bad)
        with pytest.raises(ValueError, match="single literal"):
            repeated_ngram_doc_stats(train, k=1, sep=bad)


# ----------------------------------------------------------- z-order
def _py_morton(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zvalue_matches_reference_interleave(spark):
    from bcdp_spark.operators.zorder import zvalue

    pts = [(x, y) for x in (0, 1, 5, 1023, 4095) for y in (0, 2, 7, 900, 4095)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zvalue("x", "y", bits=12).alias("z")).collect()
    }
    for (x, y), z in got.items():
        assert z == _py_morton(x, y, 12), (x, y)


def test_zvalue_sql_twin_is_identical(spark, duck):
    from bcdp_spark.operators.zorder import zvalue, zvalue_sql

    pts = [(3, 9), (100, 7), (2047, 2047)]
    df = spark.createDataFrame(pts, "x long, y long")
    s = sorted(
        r["z"] for r in df.select(zvalue("x", "y", bits=11).alias("z")).collect()
    )
    vals = ", ".join(f"({x}, {y})" for x, y in pts)
    d = sorted(
        r[0]
        for r in duck.execute(
            f"SELECT {zvalue_sql('x', 'y', bits=11)} FROM (VALUES {vals}) t(x, y)"
        ).fetchall()
    )
    assert s == d


def test_zvalue_int32_input_default_bits_no_sign_wrap(spark, duck):
    # ADVICE r7: shiftleft preserves the input integer type, so an INT
    # column at the default bits=16 shifted into bit 31 and wrapped
    # negative. Casting to bigint inside the expression keeps all 32
    # interleaved positions exact; DuckDB twin must agree bit-for-bit.
    from bcdp_spark.operators.zorder import zvalue, zvalue_sql

    pts = [(0x8000, 0x8000), (0xFFFF, 0), (0, 0xFFFF), (0xABCD, 0x1234)]
    df = spark.createDataFrame(pts, "x int, y int")  # 32-bit ints
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zvalue("x", "y", bits=16).alias("z")
        ).collect()
    }
    for (x, y), z in got.items():
        assert z == _py_morton(x, y, 16) >= 0, (x, y)
    vals = ", ".join(f"({x}, {y})" for x, y in pts)
    d = sorted(
        r[0]
        for r in duck.execute(
            f"SELECT {zvalue_sql('x', 'y', bits=16)} FROM "
            f"(VALUES {vals}) t(x, y)"
        ).fetchall()
    )
    assert d == sorted(got.values())


def test_zvalue_bits_bounds():
    from bcdp_spark.operators.zorder import zvalue, zvalue_sql

    for bad in (0, 32):
        with pytest.raises(ValueError):
            zvalue("x", "y", bits=bad)
        with pytest.raises(ValueError):
            zvalue_sql("x", "y", bits=bad)


# ------------------------------------------------------ NFC normalize
def test_nfc_normalize_recomposes_and_passes_null(spark):
    from bcdp_spark.operators.text import nfc_normalize

    df = spark.createDataFrame(
        [(1, "cafe\u0301"), (2, "plain"), (3, None)],  # decomposed input
        "i long, s string",
    )
    out = {r["i"]: r["n"] for r in df.select("i", nfc_normalize("s").alias("n")).collect()}
    assert out[1] == "caf\u00e9"  # recomposed e-acute, NOT e + U+0301
    assert out[1] != "cafe\u0301"
    assert out[2] == "plain"
    assert out[3] is None


# ------------------------------------------------- Theil-Sen / PII (r8)


def test_theil_sen_known_slopes(spark):
    from bcdp_spark.operators.trend import theil_sen

    rows = []
    # group 'up': y = 2x exactly -> slope 2, S = n(n-1)/2 (all rising)
    for x in range(6):
        rows.append(("up", x, 2.0 * x))
    # group 'down': strictly falling -> S = -15
    for x in range(6):
        rows.append(("down", x, -1.5 * x + 10))
    # group 'outlier': y = x except one wild point — Theil-Sen must
    # shrug it off (the whole point vs OLS)
    for x in range(9):
        rows.append(("outlier", x, float(x) if x != 4 else 1000.0))
    df = spark.createDataFrame(rows, "g string, x int, y double")
    got = {
        r["g"]: r
        for r in theil_sen(df, ["g"], "x", "y").collect()
    }
    assert got["up"]["mk_s"] == 15 and got["up"]["slope"] == 2.0
    assert got["down"]["mk_s"] == -15 and got["down"]["slope"] == -1.5
    assert got["outlier"]["slope"] == 1.0  # robust to the spike
    assert got["outlier"]["n_points"] == 9


def test_theil_sen_plan_has_no_cartesian(spark):
    from bcdp_spark.operators.trend import theil_sen

    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(4)], "g string, x int, y double"
    )
    plan = theil_sen(df, ["g"], "x", "y")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pii_redact_counts_and_replacements(spark):
    from bcdp_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob@x.co then ping 10.0.3.1 ok"),
            (2, "call +1 555 123 4567 or +44 020 7946 0958"),
            (3, "v1.2.3.44 is a version, not an ip"),
            (4, "two mails a@b.io c@d.org one ip 8.8.8.8"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_ipv4"] == 1
    assert got[1]["text"] == "mail <EMAIL> then ping <IP> ok"
    assert got[2]["n_phone"] == 2 and "<PHONE>" in got[2]["text"]
    # \b guards: a version-like token must not count as an IP
    assert got[3]["n_ipv4"] == 0 and got[3]["text"] == df.collect()[2]["text"]
    assert got[4]["n_email"] == 2 and got[4]["n_ipv4"] == 1


def test_pii_redact_sequential_order_no_double_count(spark):
    # the email host is IP-shaped; counting AFTER the email scrub must
    # not also flag it as an IP
    from bcdp_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [(1, "root@10.0.0.1.example.dev and bare 10.0.0.1")],
        "doc_id long, text string",
    )
    r = pii_redact(df).collect()[0]
    assert r["n_email"] == 1
    assert r["n_ipv4"] == 1  # only the bare one survives the scrub
    assert r["text"] == "<EMAIL> and bare <IP>"


def test_pii_redact_null_text_passthrough(spark):
    from bcdp_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [(1, None), (2, "a@b.io")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert rows[1]["text"] is None and rows[1]["n_email"] is None
    assert rows[2]["n_email"] == 1


def test_pii_redact_refuses_column_collision(spark):
    from bcdp_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [(1, "x", 9)], "doc_id long, text string, n_email long"
    )
    with pytest.raises(ValueError, match="n_email"):
        pii_redact(df)


def test_theil_sen_reserved_column_guard(spark):
    from bcdp_spark.operators.trend import theil_sen

    df = spark.createDataFrame(
        [("a", 1, 1.0, 0.0)], "g string, x int, y double, __x double"
    )
    with pytest.raises(ValueError, match="__x"):
        theil_sen(df, ["g"], "x", "y")


# ------------------------------------------------- persisted IVF (r8)


def test_ivf_index_build_probe_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from bcdp_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_probe,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    meta = ivf_index_build(emb, path, k=4, n_iter=2)
    assert meta["n_cells"] == 4
    import os

    parts = [
        d for d in os.listdir(os.path.join(path, "vectors"))
        if d.startswith("ivf_cell=")
    ]
    assert 1 <= len(parts) <= 4  # empty cells may drop
    q = emb.filter("vec_id = 3").collect()[0]["embedding"]
    # probing ALL cells must equal exact brute-force cosine top-k
    got = ivf_index_probe(spark, path, q, topk=5, nprobe=4).collect()
    v = F.col("embedding").cast("array<double>")
    ql = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(
        F.zip_with(v, ql, lambda a, b: a * b),
        F.lit(0.0), lambda s, x: s + x,
    )
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.zip_with(c, c, lambda a, b: a * b),
        F.lit(0.0), lambda s, x: s + x,
    ))
    exact = (
        emb.select(
            "vec_id",
            F.round(dot / (nrm(v) * nrm(ql)), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exact]
    # self-query: the vector itself must lead with sim 1.0 even at
    # nprobe=1 (its own cell is the nearest by construction)
    top = ivf_index_probe(spark, path, q, topk=1, nprobe=1).collect()[0]
    assert top["vec_id"] == 3 and top["sim"] == 1.0


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    # the point of the persisted layout: nprobe < k probes must skip
    # the unprobed cell DIRECTORIES at planning time
    from bcdp_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_probe,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    ivf_index_build(emb, path, k=4, n_iter=2)
    q = emb.filter("vec_id = 0").collect()[0]["embedding"]
    df = ivf_index_probe(spark, path, q, topk=3, nprobe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_cell" in m.group(1), plan[:2000]
    # exactly one cell equality, not a full scan
    assert m.group(1).count("ivf_cell") <= 2  # isnotnull + one equality


def test_ivf_index_survives_fresh_reader(spark, tmp_path):
    # build, then probe via paths only — nothing cached in the session
    from bcdp_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_probe,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    ivf_index_build(emb, path, k=3, n_iter=1)
    spark.catalog.clearCache()
    q = [1.0] + [0.0] * 63  # unit vector, nothing session-cached
    rows = ivf_index_probe(spark, path, q, topk=2, nprobe=3).collect()
    assert len(rows) == 2 and rows[0]["sim"] >= rows[1]["sim"]


# --------------------------------------------- incremental IVF (r9)


def test_ivf_index_append_in_place_and_exact(spark, tmp_path):
    """Append assigns new vectors to the FROZEN centroids and writes
    only NEW part files — pre-append files untouched (mtime-asserted),
    probe-at-nprobe=k over the grown index equals exact brute-force
    cosine over the union, and the meta append counter accumulates."""
    import glob
    import json as _json
    import os

    from pyspark.sql import functions as F

    from bcdp_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_build,
        ivf_index_probe,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    ivf_index_build(emb.filter("vec_id < 100"), path, k=4, n_iter=2)
    cents_before = spark.read.parquet(f"{path}/centroids").collect()
    before = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/vectors/ivf_cell=*/*.parquet")
    }
    meta = ivf_index_append(spark, path, emb.filter("vec_id >= 100"))
    n_new = emb.filter("vec_id >= 100").count()
    assert meta["appended"] == n_new
    # pre-append part files byte-stable; centroids frozen
    after = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/vectors/ivf_cell=*/*.parquet")
    }
    assert set(before) < set(after)
    for f, m in before.items():
        assert after[f] == m, f"pre-append part file rewritten: {f}"
    assert spark.read.parquet(f"{path}/centroids").collect() == cents_before
    # grown index holds exactly the union: nprobe=k == brute force
    q = emb.filter("vec_id = 5").collect()[0]["embedding"]
    got = ivf_index_probe(spark, path, q, topk=6, nprobe=4).collect()
    v = F.col("embedding").cast("array<double>")
    ql = F.array(*[F.lit(float(x)) for x in q])
    dot = F.aggregate(F.zip_with(v, ql, lambda a, b: a * b),
                      F.lit(0.0), lambda s, x: s + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.zip_with(c, c, lambda a, b: a * b),
        F.lit(0.0), lambda s, x: s + x))
    exact = (
        emb.select("vec_id",
                   F.round(dot / (nrm(v) * nrm(ql)), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id").limit(6).collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exact]
    # a second append keeps counting (the growing-corpus reality)
    meta2 = ivf_index_append(
        spark, path, emb.filter("vec_id < 0")
    )  # empty: no new files, counter unchanged
    assert meta2["appended"] == n_new


def test_ivf_index_append_keeps_partition_pruning(spark, tmp_path):
    """nprobe < k probes after an append still skip unprobed cell
    directories at planning time — the append layout is invisible to
    the probe plan."""
    import re

    from bcdp_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_build,
        ivf_index_probe,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    ivf_index_build(emb.filter("vec_id < 100"), path, k=4, n_iter=2)
    ivf_index_append(spark, path, emb.filter("vec_id >= 100"))
    q = emb.filter("vec_id = 0").collect()[0]["embedding"]
    df = ivf_index_probe(spark, path, q, topk=3, nprobe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_cell" in m.group(1), plan[:2000]
    assert m.group(1).count("ivf_cell") <= 2


def test_ivf_index_append_preserves_duplicates_and_guards_names(
    spark, tmp_path
):
    """ADVICE r9: append used to groupBy(df.columns), silently
    deduplicating exact-duplicate input rows (the build path keeps
    them); and the injected temp columns could collide with user
    column names. Duplicates must survive; collisions must raise."""
    import pytest
    from pyspark.sql import functions as F

    from bcdp_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_build,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    path = str(tmp_path / "ivf")
    ivf_index_build(emb.filter("vec_id < 50"), path, k=2, n_iter=1)
    one = emb.filter("vec_id = 60")
    ivf_index_append(spark, path, one.union(one))  # exact duplicates
    got = (
        spark.read.parquet(f"{path}/vectors")
        .filter("vec_id = 60")
        .count()
    )
    assert got == 2, "exact-duplicate appended rows were deduplicated"
    with pytest.raises(ValueError, match="collide"):
        ivf_index_append(
            spark, path, one.withColumn("__cell", F.lit(1))
        )


def test_hamming_canonical_emission_matches_bruteforce(spark):
    """r13: canonical emission (keep a pair only in its first agreeing
    chunk/combo) must produce exactly the brute-force radius pair set,
    with NO duplicate rows and NO distinct() in the plan — the
    duplicate-pair exchange it replaced was 17x the true pair volume at
    sf0.1. Hash family chosen to exercise multi-chunk agreement (the
    duplicate-emission case the old distinct() absorbed)."""
    from itertools import combinations as _comb

    from bcdp_spark.operators.dedup import (
        hamming_multi_index_pairs,
        hamming_near_pairs,
    )

    # near-identical cluster (many agreeing chunks), a far point, and a
    # pair agreeing on exactly the guaranteed minimum of blocks
    hashes = [
        (1, 0x0123456789ABCDEF),
        (2, 0x0123456789ABCDEE),  # hamming 1 from id 1
        (3, 0x0123456789ABCDEF ^ 0xFF),  # hamming 8 from id 1
        (4, -0x0123456789ABCDF0),  # far from everything
        (5, 0x0123456789ABCDEF),  # identical to id 1
    ]
    df = spark.createDataFrame(hashes, "vid long, h long")

    def brute(h):
        keep = set()
        for (ia, ha), (ib, hb) in _comb(hashes, 2):
            if bin((ha ^ hb) & (2**64 - 1)).count("1") <= h:
                keep.add((min(ia, ib), max(ia, ib)))
        return keep

    for fn, kw, h in (
        (hamming_near_pairs, {}, 3),
        (hamming_multi_index_pairs, {"blocks": 6}, 4),
    ):
        out = fn(df, "h", "vid", max_hamming=h, **kw)
        rows = [(r["id_a"], r["id_b"]) for r in out.collect()]
        assert set(rows) == brute(h), (fn.__name__, sorted(rows))
        assert len(rows) == len(set(rows)), f"{fn.__name__}: duplicate emission"
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Distinct" not in plan and "deduplicate" not in plan.lower()


def test_ngram_jaccard_bitmap_prefilter_is_exact(spark):
    """r13: the 2048-bit gram-bitmap prefilter is rejection-only — the
    kept pairs, their row set AND the jaccard values must equal the r12
    pair-level exact compare (inlined below as the reference), including
    the edges the bound's proof leans on: identical docs (J = 1.0, the
    max-duplicate-emission case), just-below-threshold (must be dropped
    by the exact compare even when the bitmap bound passes it), short
    texts (single short gram by _shingles_expr's greatest() guard), and
    NULL text (null gram; xxhash64(NULL) returns the seed, so the
    bitmap must NOT count it — P <= union would otherwise break)."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from bcdp_spark.operators.dedup import _shingles_expr, ngram_jaccard

    docs = spark.createDataFrame(
        [
            (1, "abcdefghij"),      # 6 distinct 5-grams
            (2, "abcdefghij"),      # identical -> J = 1.0
            (3, "abcdefghix"),      # shares most grams with 1, J < 0.9
            (4, "abc"),             # shorter than k -> one short gram
            (5, "abc"),             # same short gram -> J = 1.0
            (6, None),              # null text -> [null] gram array
            (7, None),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5), (1, 4), (6, 7), (1, 6), (2, 3)],
        "id_a long, id_b long",
    )

    def reference(df, prs, k, threshold):  # the r12 form, verbatim
        fr = Fraction(threshold).limit_denominator(10**6)
        sh = df.select(
            F.col("doc_id"),
            F.array_distinct(_shingles_expr("text", k)).alias("__sh"),
        )
        j = (
            prs.select("id_a", "id_b")
            .join(sh.withColumnRenamed("doc_id", "id_a")
                    .withColumnRenamed("__sh", "sh_a"), "id_a")
            .join(sh.withColumnRenamed("doc_id", "id_b")
                    .withColumnRenamed("__sh", "sh_b"), "id_b")
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        sz_a, sz_b = F.size("sh_a"), F.size("sh_b")
        size_ok = F.least(sz_a, sz_b) * F.lit(int(fr.denominator)) >= (
            F.greatest(sz_a, sz_b) * F.lit(int(fr.numerator))
        )
        return j.filter(
            size_ok
            & (inter * F.lit(int(fr.denominator))
               >= union * F.lit(int(fr.numerator)))
        ).select(
            "id_a", "id_b", (inter.cast("double") / union).alias("jaccard")
        )

    want = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in reference(docs, pairs, 5, 0.9).collect()}
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard(
               docs, pairs, "text", "doc_id", k=5, threshold=0.9
           ).collect()}
    assert got == want, (got, want)
    assert (1, 2) in got and got[(1, 2)] == 1.0  # the case must be non-vacuous
    assert (1, 3) not in got


def test_ngram_jaccard_bucket_pairing_handles_gaps_and_boundaries(
    spark, tmp_path
):
    """r13: q_ngram_jaccard's bucket-window pairing (grams computed
    once) must equal the old right_id == left_id + 1 self-join on a
    corpus with id GAPS (filtered docs) and pairs straddling the
    B = 128 bucket boundary — (127, 128) lives in bucket 0 only via the
    boundary-duplicated row, and the duplicate must not pair onward."""
    from pyspark.sql import functions as F

    from bcdp_spark.queries.text import q_ngram_jaccard

    ids = [0, 1, 2, 126, 127, 128, 129, 255, 256, 300, 302, 384, 385]
    rows = [(i, f"doc number {i} shares a lot of text {i % 3}") for i in ids]
    rows.append((200, "x"))  # length < 3: filtered out -> gap at 200
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in q_ngram_jaccard(spark, str(tmp_path)).collect()
    }
    d = df.filter(F.length(F.lower(F.substring("text", 1, 256))) >= 3)
    g = d.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, length(lower(substring(text, 1,"
                " 256))) - 2), i -> substring(lower(substring(text, 1,"
                " 256)), i, 3))"
            )
        ).alias("grams"),
    )
    a = g.select(F.col("doc_id").alias("left_id"), F.col("grams").alias("ga"))
    b = g.select(F.col("doc_id").alias("right_id"), F.col("grams").alias("gb"))
    want = {
        (r["left_id"], r["right_id"]): r["jaccard"]
        for r in a.join(b, F.col("right_id") == F.col("left_id") + 1)
        .select(
            "left_id", "right_id",
            (F.size(F.array_intersect("ga", "gb")).cast("double")
             / F.size(F.array_union("ga", "gb"))).alias("jaccard"),
        ).collect()
    }
    assert got == want
    assert (127, 128) in got and (128, 129) in got  # boundary pair found once
    assert (1, 2) in got


def test_ngram_jaccard_ids_above_2_53_and_negative(spark, tmp_path):
    """The bucket is exact integer floor division: ids above 2^53 (where
    a double division rounds) and negative ids straddling bucket
    boundaries still pair every (i, i+1) exactly once."""
    from bcdp_spark.queries.text import q_ngram_jaccard

    big = 1 << 60
    ids = [big + d for d in (-129, -128, -127, -2, -1, 0, 1, 2, 127, 128, 129)]
    ids += [(1 << 53) + d for d in (-1, 0, 1, 2, 3)]
    ids += [-257, -256, -255, -129, -128, -127, -1, 0, 1]
    rows = [(i, f"document {i % 5} with shared words") for i in ids]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = [
        (r["left_id"], r["right_id"])
        for r in q_ngram_jaccard(spark, str(tmp_path)).collect()
    ]
    want = {(i, i + 1) for i in ids if i + 1 in set(ids)}
    assert len(got) == len(set(got))
    assert set(got) == want


def test_ngram_jaccard_duplicate_doc_id_fails_loudly(spark, tmp_path):
    """lead() pairing assumes unique doc_ids: a duplicate must fail the
    query rather than silently emit fewer pairs than the join would."""
    from bcdp_spark.queries.text import q_ngram_jaccard

    rows = [(1, "some text here"), (2, "more text here"), (2, "again text")]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    with pytest.raises(Exception, match="duplicate doc_id 2"):
        q_ngram_jaccard(spark, str(tmp_path)).collect()


def test_fuzzy_match_count_factorization_edges(spark, tmp_path):
    """r13: q_fuzzy_match's per-(brand, name) count factorization must
    equal the part-pair form on duplicate names (same-name C(c,2) term),
    names within/beyond lev 3, a single-part brand (no output row), and
    a NULL name (never matches — lev(null, null) is null)."""
    from pyspark.sql import functions as F

    from bcdp_spark.queries.robustness import q_fuzzy_match

    rows = [
        (1, "B1", "red cap"), (2, "B1", "red cap"), (3, "B1", "red cat"),
        (4, "B1", "utterly different"), (5, "B2", "red cap"),
        (6, "B2", None), (7, "B2", None), (8, "B3", "lonely"),
        (9, "B2", "red cape"),
    ]
    df = spark.createDataFrame(rows, "p_partkey long, p_brand string, p_name string")
    df.write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")

    got = {r["p_brand"]: (r["n_pairs"], r["total_dist"])
           for r in q_fuzzy_match(spark, str(tmp_path)).collect()}
    a = df.select("p_brand", F.col("p_partkey").alias("ka"), F.col("p_name").alias("na"))
    b = df.select(F.col("p_brand").alias("bb"), F.col("p_partkey").alias("kb"),
                  F.col("p_name").alias("nb"))
    d = F.levenshtein("na", "nb")
    want = {r["p_brand"]: (r["n_pairs"], r["total_dist"])
            for r in a.join(b, (F.col("p_brand") == F.col("bb")) & (F.col("ka") < F.col("kb")))
            .filter(d <= 3)
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(d).cast("long").alias("total_dist"))
            .collect()}
    assert got == want
    # non-vacuous: B1 has same-name + cross-name pairs; B3 must be absent
    assert got["B1"] == (3, 2)  # (1,2) d=0, (1,3)+(2,3) d=1 each
    assert "B3" not in got
