"""Benchmark harness (driver-run per round; see BASELINE.md).

Runs the headline query keys at $SPARK_GRAFT_SF_DIR (default sf0.1) on
one reused local[$SPARK_GRAFT_CPUS] session, with base tables cached once
(Spark's CacheManager substitutes the InMemoryRelation into every later
plan that embeds the same canonical scan). Reports per-query WARM times
(second run) and their sum as the headline metric — matching BASELINE.md's
warm DuckDB methodology (fetch included: we time through toPandas()).

r10 (VERDICT r9 item 7): the sf0.1 headline total (~0.3 s) sits on the
Spark session's ~100 ms/query fixed-cost floor, so a second suite runs
at sf1 — a deterministic 10x tiling of the driver fixtures
(tools/make_sf1.py, 6M-row lineitem) — alongside a freshly measured
DuckDB total over the SAME files and oracle SQL, so the 2x gate also
measures data-proportional work. Disable with SPARK_GRAFT_BENCH_SF1=0.

r11 (VERDICT r10 item 6): a third, sf10 leg (100x tiling, 60M-row
lineitem) runs ONLY the floor-bound keys q_join_agg/q_bigjoin with
same-run DuckDB — the scale where their per-query ratio measures data,
not session floor. Disable with SPARK_GRAFT_BENCH_SF10=0.

r13 (VERDICT r12 item 1): each sf10 key's Spark measurements run in
their OWN fresh child JVM (`python bench.py --sf10-leg <key>`, same
env/session config), reporting min AND median of 5 fresh-plan reps
after 2 warmups. The r12 driver run measured q_bigjoin at 12.7 s on a
byte-identical plan after ~1,200 stages of accumulated session state
(end-of-session GC pressure), while the isolated A/B measured 5.45 s —
the old leg position could not distinguish a real regression from
run-position noise; and a shared child JVM let q_bigjoin's heap churn
pollute q_join_agg's reps 2-3x (measured), hence per-key isolation.
The metric itself (fresh-plan min over the same keys) is unchanged;
only WHERE it runs moved, and a median landed beside it.

r13 (VERDICT r12 item 2): fresh-plan timers now start BEFORE the
DataFrame is constructed, so any work a query does at construction time
(e.g. driver-coordinated training jobs) is inside the timed region.
Construction turned out to be NON-trivial even for lazy headline plans
(50-260 ms of analysis/py4j per build, measured), so the payload also
carries the exec-only twin of every fresh number
("queries_fresh_exec", old timer placement) plus a
`fresh_timer: construct+exec` marker — cross-round fresh comparisons
against a pre-r13 BENCH baseline must use the twin (the tripwire does
this automatically; see OPTIMIZATION_r13.md).

Prints exactly ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
 "sf1": {"value": ..., "queries": {...}, "duckdb_total": ...},
 "sf10": {...same shape, q_join_agg/q_bigjoin only...}}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = (
    "q_pricing_summary",
    "q_join_agg",
    "q_window_topk",
    "q_tumbling_events",
    "q_dedup_docs",
    "q_anti_join",
    "q_rollup",
    "q_sim_knn",
)

CACHED_TABLES = (
    "lineitem",
    "orders",
    "customer",
    "nation",
    "region",
    "part",
    "events",
    "documents",
    "embeddings",
)


def run_suite(spark, sf_dir: str, keys=HEADLINE,
              cached_tables=CACHED_TABLES, runs: int = 15,
              ) -> tuple[dict, dict, list]:
    """Cache the base tables, then time each headline key: 3 warmups
    (analysis + whole-stage codegen + late AQE recompiles), then BEST
    and MEDIAN of fifteen warm executions — the prepared-query
    methodology BASELINE.md's warm DuckDB numbers use. r9 raised
    min-of-7 to min-of-15 (VERDICT r8 item 6): with byte-identical
    plans, per-query deltas across rounds were moving ±11-18% on box
    noise alone."""
    import bcdp_spark.queries as q
    from bcdp_spark.tables import table

    qs = q.queries()
    cached = []
    for name in cached_tables:
        df = table(spark, sf_dir, name)
        df.cache()
        df.count()
        cached.append(df)
    times: dict[str, float] = {}
    medians: dict[str, float] = {}
    for key in keys:
        df = qs[key](spark, sf_dir)
        df.toPandas()
        df.toPandas()
        df.toPandas()
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df.toPandas()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        times[key] = round(samples[0], 4)
        medians[key] = round(samples[len(samples) // 2], 4)
    return times, medians, cached


def fresh_suite(spark, sf_dir: str, keys=HEADLINE,
                runs: int = 3) -> dict[str, float]:
    """min-of-N over FRESH DataFrames (a new plan per run): full
    re-execution including scans, shuffles and broadcast builds.

    r11 methodology note: re-running the SAME DataFrame (run_suite)
    reuses completed shuffle map outputs — Spark skips stages whose
    shuffle files still exist — so warm re-runs time only the stages
    AFTER the last exchange. That is a real prepared-query behavior
    (and the r1-r10 headline continuity metric), but it is NOT
    data-proportional work; these fresh-plan numbers are. Planning
    itself is ~30 ms/query (measured), so the difference is execution.

    CALLER CONTRACT (review fix, r11): unpersist any cached base
    tables BEFORE calling — Spark's CacheManager substitutes a live
    InMemoryRelation into logically-identical NEW plans, which would
    quietly turn "full re-execution including scans" into RAM scans
    while DuckDB reads parquet. main() unpersists each leg's cache
    before its fresh pass.
    """
    import bcdp_spark.queries as q

    qs = q.queries()
    out: dict[str, float] = {}
    execs: dict[str, float] = {}
    for key in keys:
        qs[key](spark, sf_dir).toPandas()  # warm page cache + codegen
        samples = []
        exec_samples = []
        for _ in range(runs):
            # r13: the headline fresh timer covers construction +
            # execution (VERDICT r12 item 2) — construction-time jobs
            # must not escape the clock. The exec-only twin (the r12
            # timer placement) is reported alongside so round-over-round
            # fresh comparisons across the timer change stay
            # like-for-like (tools/perf_tripwire.py uses it when the
            # baseline predates the change).
            t0 = time.perf_counter()
            df = qs[key](spark, sf_dir)
            t1 = time.perf_counter()
            df.toPandas()
            t2 = time.perf_counter()
            samples.append(t2 - t0)
            exec_samples.append(t2 - t1)
        out[key] = round(min(samples), 4)
        execs[key] = round(min(exec_samples), 4)
    return out, execs


SF10_KEYS = ("q_join_agg", "q_bigjoin")


def sf10_leg_child(key: str) -> dict:
    """One sf10 key's Spark measurements, run as the FIRST thing in
    THIS process (bench.py --sf10-leg <key> spawns a fresh JVM per
    key). A first interleaved design put both keys in one child, but
    q_bigjoin's 60M-row sort-merge reps leave enough heap churn that
    the q_join_agg reps BETWEEN them read 2-3x their steady state —
    per-key JVM isolation removes the cross-key pollution entirely
    while keeping the fresh-JVM property (no ~1,200-stage session tail
    like the pre-r13 leg position). 2 warmup passes (cold-JVM JIT),
    then min + median of 5 fresh-plan reps; the parent measures DuckDB
    (no JVM state involved)."""
    import bcdp_spark.queries as q
    from bcdp_spark.session import get_spark
    from tools.make_sf1 import ensure_sf10

    # a 60M-row sort-merge join in a 12g driver degrades across
    # back-to-back reps (old-gen growth: rep 1 ≈ 4.7 s, rep 4+ ≈ 13 s
    # measured) — give the isolated leg the heap its data size needs
    # unless the caller pinned one explicitly
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark(f"bcdp_spark_bench_sf10_{key}")
    spark.sparkContext.setLogLevel("ERROR")
    sf10_dir = ensure_sf10()
    qs = q.queries()
    for _ in range(4):  # cold-JVM JIT needs several passes to settle
        qs[key](spark, sf10_dir).toPandas()
    samples = []
    for _ in range(5):
        t0 = time.perf_counter()
        df = qs[key](spark, sf10_dir)
        df.toPandas()
        samples.append(time.perf_counter() - t0)
    samples.sort()
    t10, _, c10 = run_suite(
        spark, sf10_dir, keys=(key,), cached_tables=(), runs=5,
    )
    for df in c10:
        df.unpersist()
    return {
        "min": round(samples[0], 4),
        "median": round(samples[len(samples) // 2], 4),
        # stage-reuse steady state, reported for transparency only
        "stage_reuse": t10[key],
    }


_LEG_KEYS = ("min", "median", "stage_reuse")


def _sf10_leg(stdout: str) -> dict | None:
    """The first JSON object line of a ``--sf10-leg`` child's stdout
    that carries every result key; None when there is none. Lines are
    parsed, not prefix-matched, so key order and log noise don't
    matter."""
    for ln in stdout.splitlines():
        try:
            leg = json.loads(ln)
        except ValueError:
            continue
        if isinstance(leg, dict) and all(k in leg for k in _LEG_KEYS):
            return leg
    return None


def duckdb_suite(sf_dir: str, keys=HEADLINE,
                 cached_tables=CACHED_TABLES, runs: int = 15,
                 ) -> dict[str, float]:
    """min-of-15 warm DuckDB over the same files and the registry's
    own oracle SQL — the in-run baseline for the sf1 section."""
    import duckdb

    import bcdp_spark.queries as q

    os_ = q.oracle_sql()
    con = duckdb.connect()
    for t in cached_tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    out: dict[str, float] = {}
    for key in keys:
        sql = os_[key]
        for _ in range(3):
            con.execute(sql).fetchall()
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        out[key] = round(min(samples), 4)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from bcdp_spark.session import get_spark

    spark = get_spark("bcdp_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    times, medians, cached = run_suite(spark, sf_dir)
    for df in cached:
        df.unpersist()  # fresh_suite must scan parquet (see its doc)
    total = round(sum(times.values()), 4)
    payload = {
        "metric": "headline_warm_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        # min-of-15 is the headline (continuity with r1-r3's min);
        # median reported alongside so the 2x gate doesn't rest on
        # the most favorable sample (VERDICT r3 item 3)
        "median_total": round(sum(medians.values()), 4),
        "queries_median": medians,
        "sf": float(sf),
    }
    fresh, fresh_exec = fresh_suite(spark, sf_dir)
    payload["fresh_plan_total"] = round(sum(fresh.values()), 4)
    payload["queries_fresh"] = fresh
    # r13 timer-semantics marker + exec-only twin (old timer placement):
    # additive keys; see fresh_suite docstring and OPTIMIZATION_r13.md
    payload["fresh_timer"] = "construct+exec"
    payload["fresh_plan_exec_total"] = round(sum(fresh_exec.values()), 4)
    payload["queries_fresh_exec"] = fresh_exec

    if os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0":
        from tools.make_sf1 import ensure_sf1

        sf1_dir = ensure_sf1()
        t1, m1, c1 = run_suite(spark, sf1_dir)
        for df in c1:
            df.unpersist()  # before fresh AND before the sf10 leg
        fresh1, fresh1_exec = fresh_suite(spark, sf1_dir)
        duck = duckdb_suite(sf1_dir)
        payload["sf1"] = {
            "value": round(sum(t1.values()), 4),
            "queries": t1,
            "median_total": round(sum(m1.values()), 4),
            "fresh_plan_total": round(sum(fresh1.values()), 4),
            "queries_fresh": fresh1,
            "fresh_plan_exec_total": round(sum(fresh1_exec.values()), 4),
            "queries_fresh_exec": fresh1_exec,
            "duckdb_total": round(sum(duck.values()), 4),
            "duckdb_queries": duck,
        }

    # r11 (VERDICT r10 item 6): a 100x-tiled leg for the FLOOR-BOUND
    # queries only — q_join_agg measured 2.46x DuckDB at sf1 while its
    # engine time FELL from sf0.1 to sf1 (session floor, not data);
    # at sf10 (60M-row lineitem) data-proportional work dominates, so
    # this ratio is the honest per-query gate for those keys.
    #
    # FRESH-PLAN measurement is the headline here: at 60M rows the
    # same-DF warm number is almost pure stage reuse (shuffle map
    # outputs survive between runs — measured 0.04 s "warm" vs ~7 s
    # full re-execution for q_bigjoin), which would be a fiction of
    # data-proportional work. No table cache: a 60M-row lineitem
    # is too large to pin in the local driver heap (12g default in
    # session.py), and DuckDB re-reads the same page-cached files,
    # so fresh scans are the like-for-like comparison and keep
    # pushdown/pruning on the measured path.
    #
    # r13: each key's Spark measurements run in their OWN fresh child
    # JVM (see module docstring and sf10_leg_child — the r12 leg
    # position made a 2.45x swing unattributable between GC-pressure
    # noise and a real regression, and a shared child let q_bigjoin's
    # heap churn pollute q_join_agg's reps). Falls back to the old
    # in-process measurement per key if a child fails, so the one-line
    # JSON contract survives either way.
    if os.environ.get("SPARK_GRAFT_BENCH_SF10", "1") != "0":
        import subprocess

        from tools.make_sf1 import ensure_sf10

        sf10_dir = ensure_sf10()  # build tiles BEFORE timing anything
        fresh10: dict[str, float] = {}
        fresh10_med: dict[str, float] = {}
        reuse10: dict[str, float] = {}
        protocol = "fresh_jvm_per_key"
        for key in SF10_KEYS:
            leg = None
            try:
                child = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--sf10-leg", key],
                    capture_output=True, text=True, timeout=3600,
                    cwd=os.path.dirname(os.path.abspath(__file__)),
                )
                leg = _sf10_leg(child.stdout)
            except Exception:
                leg = None
            if leg is None:
                protocol = "in_process_fallback"
                print(
                    f"bench: sf10 child for {key} gave no result line; "
                    "measuring in process (the median is not a "
                    "fresh-plan median)",
                    file=sys.stderr,
                )
                f, fe = fresh_suite(spark, sf10_dir, keys=(key,), runs=5)
                t10, m10, c10 = run_suite(
                    spark, sf10_dir, keys=(key,), cached_tables=(), runs=5,
                )
                for df in c10:
                    df.unpersist()
                leg = {"min": f[key], "median": m10[key],
                       "stage_reuse": t10[key]}
            fresh10[key] = leg["min"]
            fresh10_med[key] = leg["median"]
            reuse10[key] = leg["stage_reuse"]
        duck10 = duckdb_suite(
            sf10_dir, keys=SF10_KEYS,
            cached_tables=(
                "lineitem", "orders", "customer", "nation", "region",
            ),
            runs=7,
        )
        payload["sf10"] = {
            "value": round(sum(fresh10.values()), 4),
            "queries": fresh10,
            "queries_median": fresh10_med,
            "protocol": protocol,
            # stage-reuse steady state, reported for transparency only
            "stage_reuse_total": round(sum(reuse10.values()), 4),
            "stage_reuse_queries": reuse10,
            "duckdb_total": round(sum(duck10.values()), 4),
            "duckdb_queries": duck10,
        }

    print(json.dumps(payload))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--sf10-leg":
        print(json.dumps(sf10_leg_child(sys.argv[2])))
    else:
        main()
