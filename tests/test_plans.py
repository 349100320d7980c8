"""Physical-plan quality gates (SURVEY.md §4): the scale story as
executable assertions — pushdown reaches parquet, projection prunes
columns, dims broadcast, aggregates stay in whole-stage codegen."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE


def test_range_filter_pushdown(spark):
    import bcdp_spark.queries as q
    from bcdp_spark.plans import has_pushed_filters

    df = q.queries()["q_range_filter"](spark, SF_ORACLE)
    assert has_pushed_filters(df), "range predicates must reach the parquet scan"


def test_scan_project_prunes_columns(spark):
    import bcdp_spark.queries as q
    from bcdp_spark.plans import read_schema_columns

    df = q.queries()["q_scan_project"](spark, SF_ORACLE)
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_quantity"}, (
        f"scan must read only projected columns, got {cols}"
    )


def test_star_join_broadcasts(spark):
    import bcdp_spark.queries as q
    from bcdp_spark.plans import uses_broadcast_join

    df = q.queries()["q_join_agg"](spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_join_agg_broadcasts_dims_only(spark):
    """Pins the recorded q_join_agg scale decision (docs/SCALE.md
    'Joins' / r5 decision record): nation and region — O(10-10k) rows
    forever — carry explicit broadcast hints; customer and orders,
    which SCALE with SF, are left to AQE. A future 'optimization' that
    hard-broadcasts the customer side would close ~10 ms at sf0.1 and
    OOM the driver at 100 TB — this test fails on any hint change."""
    import bcdp_spark.queries as q

    df = q.queries()["q_join_agg"](spark, SF_ORACLE)
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    hinted: list[str] = []
    for i, line in enumerate(lines):
        if "ResolvedHint" in line:
            assert "strategy=broadcast" in line
            rel = next(
                ln for ln in lines[i + 1 :] if "Relation" in ln
            )
            hinted.append(rel)
    # r12 shape: region(ASIA) inside the 5-row (nationkey, name) dim,
    # that dim's key-only projection (semi-filters customer), and the
    # same dim post-agg. The dim subtree is referenced twice, so its
    # inner region hint resolves once per reference — every hint must
    # still be rooted at nation/region, and only there.
    assert len(hinted) >= 3, f"expected >=3 broadcast hints: {hinted}"
    for r in hinted:
        assert "n_nationkey" in r or "r_regionkey" in r, r
    # the scale-variable sides must never be hint-broadcast
    assert not any("c_custkey" in r or "o_orderkey" in r for r in hinted)


def test_agg_in_codegen(spark):
    import bcdp_spark.queries as q
    from bcdp_spark.plans import codegen_stages

    df = q.queries()["q_pricing_summary"](spark, SF_ORACLE)
    assert codegen_stages(df) >= 1


def test_window_topk_single_shuffle(spark):
    import bcdp_spark.queries as q
    from bcdp_spark.plans import count_exchanges

    df = q.queries()["q_window_topk"](spark, SF_ORACLE)
    # the window's required distribution inserts exactly one hash
    # exchange; no second shuffle for the sort
    assert count_exchanges(df) == 1


def test_entropy_builds_without_jobs(spark):
    """q_entropy must be lazy: constructing the DataFrame schedules zero
    Spark jobs (a prior version called .count() eagerly, scanning events
    twice per invocation)."""
    import bcdp_spark.queries as q

    from bcdp_spark.tables import table

    sc = spark.sparkContext
    # Baseline: a bare scan build (spark.read.parquet footer inference may
    # itself schedule a tiny job; that is not an eager action).
    sc.setJobGroup("entropy-gate-baseline", "bare events scan build")
    try:
        table(spark, SF_ORACLE, "events").select("event_type")
    finally:
        sc.setJobGroup("", "")
    baseline = len(sc.statusTracker().getJobIdsForGroup("entropy-gate-baseline"))

    sc.setJobGroup("entropy-build-gate", "q_entropy plan construction")
    try:
        df = q.queries()["q_entropy"](spark, SF_ORACLE)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("entropy-build-gate")
    assert len(jobs) <= baseline, (
        f"building q_entropy ran {len(jobs)} jobs vs {baseline} for a bare "
        f"scan — an eager action is hiding in the callable"
    )
    # and the plan scans events exactly once (window-over-aggregate total)
    from bcdp_spark.plans import physical_plan

    assert physical_plan(df).count("FileScan") == 1


def test_bucketed_join_is_shuffle_free(spark):
    """Co-located join via bucketing (SURVEY.md §4 partitioning story):
    two tables bucketed+sorted on the join key sort-merge-join with ZERO
    shuffle exchanges."""
    from bcdp_spark.plans import count_exchanges, physical_plan
    from bcdp_spark.tables import table

    orders = table(spark, SF_ORACLE, "orders")
    customer = table(spark, SF_ORACLE, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    # the in-memory catalog forgets tables across sessions but their files
    # survive in the warehouse dir — remove orphans or saveAsTable errors
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_customer"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    (
        orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("b_orders")
    )
    (
        customer.withColumnRenamed("c_custkey", "o_custkey")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("b_customer")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        j.collect()
        assert count_exchanges(j) == 0, physical_plan(j)[:2000]
        assert "SortMergeJoin" in physical_plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partial_aggregation_order_insensitive(spark):
    """Property check (SURVEY.md §5.4): shuffling input partitioning does
    not change decimal-routed aggregates."""
    import bcdp_spark.queries as q

    a = q.queries()["q_pricing_summary"](spark, SF_ORACLE).toPandas()
    from bcdp_spark.tables import table
    from bcdp_spark.queries._helpers import dsum, davg
    from pyspark.sql import functions as F

    li = table(spark, SF_ORACLE, "lineitem").repartition(13)
    b = (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(F.col("l_quantity"), "sum_qty"))
        .toPandas()
    )
    a2 = a[["l_returnflag", "l_linestatus", "sum_qty"]].sort_values(
        ["l_returnflag", "l_linestatus"]
    ).reset_index(drop=True)
    b2 = b.sort_values(["l_returnflag", "l_linestatus"]).reset_index(drop=True)
    assert a2.equals(b2)


def test_exists_subquery_compiles_to_semi_join(spark):
    """Catalyst must rewrite the correlated EXISTS into a left-semi join —
    no per-row subquery execution (the 100 TB story for q_exists_subquery)."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_exists_subquery"](spark, SF_ORACLE)
    assert "LeftSemi" in physical_plan(df)


def test_shipping_priority_uses_takeordered(spark):
    """Top-10 by revenue must plan as TakeOrderedAndProject (per-partition
    heap), never a global sort of the full aggregate."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_shipping_priority"](spark, SF_ORACLE)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_revenue_forecast_pushdown_and_pruning(spark):
    """Q6 is the pushdown acid test: all three range predicates must reach
    the parquet reader and the scan must touch only the four columns the
    query mentions — at 100 TB this is the difference between reading
    ~5 GB and reading the table."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import has_pushed_filters, read_schema_columns

    df = q.queries()["q_revenue_forecast"](spark, SF_ORACLE)
    assert has_pushed_filters(df)
    assert set(read_schema_columns(df)) == {
        "l_shipdate",
        "l_discount",
        "l_quantity",
        "l_extendedprice",
    }


def test_funnel_is_single_shuffle(spark):
    """The funnel computes all three stages in one per-user aggregate:
    exactly one hash exchange on user_id, then a single-partition reduce.
    A self-join formulation would shuffle once per stage."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import count_exchanges

    df = q.queries()["q_funnel"](spark, SF_ORACLE)
    assert count_exchanges(df) <= 2  # user_id hash + 1-row final reduce


def test_ratio_to_report_windows_over_aggregate(spark):
    """The share-of-total window must consume the |nations|-row aggregate,
    not the fact table: the plan's Window node sits above the final
    HashAggregate, and the fact side joins via broadcast (no shuffle join
    exchanges on lineitem)."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan, uses_broadcast_join

    df = q.queries()["q_ratio_to_report"](spark, SF_ORACLE)
    plan = physical_plan(df)
    assert uses_broadcast_join(df)
    w = plan.find("Window")
    agg = plan.find("HashAggregate")
    assert w != -1 and agg != -1 and w < agg, (
        "Window must be above (before) the aggregate in the plan tree"
    )


def test_top_supplier_broadcasts_max_back(spark):
    """The 1-row MAX aggregate must come back as a broadcast join against
    the per-supplier aggregate — never a shuffle join."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import uses_broadcast_join

    df = q.queries()["q_top_supplier"](spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_ntile_has_no_single_partition_exchange(spark):
    """q_ntile must rank via range-bucket + partitioned window (VERDICT r1
    fix): no Exchange SinglePartition / global unpartitioned sort on the
    customer table anywhere in the plan."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_ntile"](spark, SF_ORACLE)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_connected_components_edges_have_no_single_partition(spark):
    """CC edge derivation must be the dense-id equi join, not a global
    LAG window (VERDICT r1 fix): no SinglePartition exchange in the plan."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_connected_components"](spark, SF_ORACLE)
    plan = physical_plan(df)
    assert "SinglePartition" not in plan, plan


def test_contamination_broadcasts_benchmark_grams(spark):
    """q_contamination must broadcast the (small) benchmark gram set
    against the exploded corpus side — a shuffle of the full corpus gram
    stream on gram value would be the 100-TB bottleneck."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan, uses_broadcast_join

    df = q.queries()["q_contamination"](spark, SF_ORACLE)
    assert uses_broadcast_join(df)
    assert "SinglePartition" not in physical_plan(df)


def test_contamination_gram_pipeline_evaluates_once_per_side(spark):
    """r12: plain explode made InferFiltersFromGenerate push a
    size(grams)>0/isnotnull(grams) guard below the gram projection,
    re-evaluating the interpreted transform+array_distinct pipeline 3x
    per document (measured 7.8 s -> 1.6 s at sf0.1 after the
    explode_outer + coalesce(n_grams) fix). Pin: the pipeline appears
    exactly once per side of the plan, never inside a scan filter."""
    import re

    import bcdp_spark.queries as q
    from bcdp_spark.plans import formatted

    plan = formatted(q.queries()["q_contamination"](spark, SF_ORACLE))
    assert plan.count("array_distinct") == 2, (
        "gram pipeline must appear once per side (corpus + benchmark), "
        f"found {plan.count('array_distinct')} occurrences"
    )
    for cond in re.findall(r"Condition : .*", plan):
        assert "array_distinct" not in cond, (
            f"gram pipeline leaked into a filter condition: {cond[:120]}"
        )


def test_model_metrics_broadcasts_reference(spark):
    """q_model_metrics joins the per-hour ensemble reference (|hours|
    rows) back to the member series via broadcast — the member frame must
    not re-shuffle on hour for the join."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan, uses_broadcast_join

    df = q.queries()["q_model_metrics"](spark, SF_ORACLE)
    assert uses_broadcast_join(df)
    assert "SinglePartition" not in physical_plan(df)


def test_semantic_dedup_pairs_via_cell_equi_join(spark):
    """q_semantic_dedup's pair generation must be an equi join on the
    sign-bit cell (hash-shuffled or broadcast) — a cartesian/BNLJ plan
    would materialize all O(n^2) vector pairs and die at corpus scale."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_semantic_dedup"](spark, SF_ORACLE)
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_data_mixture_scans_documents_once(spark):
    """q_data_mixture's corpus totals come from a window over the
    |sources|-row aggregate — a second scan of documents (the naive
    agg-then-cross-join shape) would double the 100-TB read."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_data_mixture"](spark, SF_ORACLE)
    assert physical_plan(df).count("FileScan") == 1


def test_curvilinear_regrid_no_cartesian(spark):
    """The curvilinear IDW regrid must candidate-join via the binned
    3x3-neighborhood EQUI join — never a cartesian/nested-loop pairing
    of source x destination points."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_curvilinear_regrid"](spark, SF_ORACLE)
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_scd2_reuses_one_exchange(spark):
    """q_scd2's two windows share the user_id partitioning — exactly ONE
    hash exchange in the plan (the CDC-history shape's scale contract)."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import count_exchanges

    df = q.queries()["q_scd2"](spark, SF_ORACLE)
    assert count_exchanges(df) == 1


def test_unigram_logprob_broadcasts_vocab(spark):
    """The vocab join must broadcast (tiny vs the token stream) — a
    shuffled join here would reshuffle every token position."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import uses_broadcast_join

    df = q.queries()["q_unigram_logprob"](spark, SF_ORACLE)
    assert uses_broadcast_join(df)


def test_triangle_count_no_cartesian(spark):
    """The oriented three-way self-join must plan as equi-joins; the only
    nested-loop allowed is the 1-row degree-stats broadcast."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_triangle_count"](spark, SF_ORACLE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    # BroadcastNestedLoopJoin appears once: the bounded 1-row stats join
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_pagerank_iteration_joins_are_equi(spark):
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_token_pagerank"](spark, SF_ORACLE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_span_dedup_sort_free_gram_path(spark):
    """q_span_dedup (r4): no CartesianProduct anywhere; the gram-count
    join is a ShuffledHashJoin (hinted — a sort-merge join would sort
    every gram position); no global Sort node (the only re-ordering is
    array_sort inside each doc's collected row)."""
    import re

    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_span_dedup"](spark, SF_ORACLE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "ShuffledHashJoin" in plan
    assert not re.search(r"\bSortMergeJoin\b", plan)
    assert not re.search(r"^\s*[+:*-]*\s*Sort \[", plan, re.M)


def test_netcdf4_and_zarr_scans_stay_arrow_batched(spark):
    """The r4 ingest keys run their decode inside mapInPandas /
    PythonDataSource scans (Arrow-batched) — no per-row Python UDF node
    may appear in either plan."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    for key in ("q_netcdf4_climatology", "q_zarr_climatology"):
        plan = physical_plan(q.queries()[key](spark, SF_ORACLE))
        assert "BatchEvalPython" not in plan, key


def test_pq_adc_join_is_broadcast_no_cartesian(spark):
    """q_pq_adc_knn's ADC scan must join codes to the distance table as
    a broadcast equi-join on (sub, code) and end in a TakeOrdered — a
    cartesian or shuffled plan would defeat the point of PQ (codes-only
    scan, no vector shuffle). The codebook-side BNLJ against the 1-row
    query is bounded (m·ksub rows) and acceptable."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_pq_adc_knn"](spark, SF_ORACLE)
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_incremental_dedup_anti_join_on_fingerprint(spark):
    """q_incremental_dedup must anti-join the batch against the corpus
    fingerprints (LeftAnti) and semi-join admitted ids back — both as
    hash joins; no cartesian, no document-payload shuffle in the
    fingerprint legs."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_incremental_dedup"](spark, SF_ORACLE)
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "LeftAnti" in p
    assert "LeftSemi" in p


def test_image_phash_pairs_bucketed_equi_join(spark):
    """q_image_phash_pairs' pair generation must be the pigeonhole
    chunk equi-self-join — never an all-pairs product of images."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_image_phash_pairs"](spark, SF_ORACLE)
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_knn_join_ivf_no_cartesian(spark):
    """q_knn_join_ivf must pair queries and corpus ONLY through the
    integer cell equi-join (centroid table is a bounded broadcast);
    a cartesian pairing would be the quadratic shape IVF exists to
    avoid. The k-row centroid BNLJ is bounded and acceptable."""
    import bcdp_spark.queries as q
    from bcdp_spark.plans import physical_plan

    df = q.queries()["q_knn_join_ivf"](spark, SF_ORACLE)
    p = physical_plan(df)
    assert "CartesianProduct" not in p


def test_every_registry_key_has_a_plan_dump():
    """r9 drift guard (VERDICT r8 item 4): every key in queries() must
    have docs/plans/<key>.txt — q_kerchunk_pqappend shipped in r8
    without one because tools/dump_plans.py had to be updated by hand.
    Regenerate with `python tools/dump_plans.py` (optionally passing
    just the new key names)."""
    import os

    import bcdp_spark.queries as q

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs", "plans",
    )
    missing = [
        k for k in q.queries()
        if not os.path.exists(os.path.join(plans_dir, f"{k}.txt"))
    ]
    assert not missing, (
        f"{len(missing)} registry keys lack plan dumps: {missing[:10]} — "
        "run `python tools/dump_plans.py " + " ".join(missing[:10]) + "`"
    )


def test_dump_plans_check_normalizes_run_specific_ids():
    """`tools/dump_plans.py --check` compares plans modulo what differs
    between two runs of one plan — expression IDs, exchange plan ids,
    lambda-variable counters, RDD ids, common-subexpression names — and
    nothing else."""
    import importlib.util
    import os

    from bcdp_spark.plans import normalize

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "dump_plans.py",
    )
    spec = importlib.util.spec_from_file_location("dump_plans", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.normalize is normalize
    a = ("Output [2]: [id#3048L, lat#12]\nArguments: hashpartitioning(lat#12, 8), "
         "[plan_id=5265]\naggregate(v#7, 0.0, lambdafunction((lambda x_222#9)))\n"
         "[_common_expr_1#40]\nScan ExistingRDD MapPartitionsRDD[12]")
    b = ("Output [2]: [id#17L, lat#3]\nArguments: hashpartitioning(lat#3, 8), "
         "[plan_id=12]\naggregate(v#1, 0.0, lambdafunction((lambda x_3#2)))\n"
         "[_common_expr_10#41]\nScan ExistingRDD MapPartitionsRDD[40]")
    assert normalize(a) == normalize(b)
    assert normalize(a) != normalize(b.replace("8)", "16)"))
