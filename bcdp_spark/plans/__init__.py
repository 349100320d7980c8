"""Plan-inspection helpers: assert the physical plans we designed for are
the plans we got (SURVEY.md §4 — pushdown, pruning, codegen, broadcast).
Used by tests/test_plans.py as executable documentation of the scale
story, and by tools/dump_plans.py and tools/perf_tripwire.py, which
compare plan dumps after ``normalize``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# session-wide counters that renumber between two runs of one plan:
# expression and subquery ids (#123, #45L), exchange plan ids, lambda
# variables (lambda x_222), codegen variables, RDD ids
# (MapPartitionsRDD[446]) and common-subexpression names
_COUNTERS = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\bcv_\w+"), "cv_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
)


def normalize(plan: str) -> str:
    """``plan`` with every session-wide counter replaced by N, so two
    dumps of the same plan from different sessions compare equal."""
    for pattern, repl in _COUNTERS:
        plan = pattern.sub(repl, plan)
    return plan


def physical_plan(df: DataFrame, execute: bool = False) -> str:
    """Physical plan string. With AQE the *final* plan (including
    WholeStageCodegen wrapping and runtime join strategy changes) only
    exists after execution — pass execute=True to materialize it."""
    if execute:
        # must execute THIS DataFrame's QueryExecution (count() would build
        # a new one and leave this plan isFinalPlan=false)
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def formatted(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the parquet scan received pushed predicates."""
    s = formatted(df)
    return "PushedFilters: [" in s and "PushedFilters: []" not in s


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column pruning check)."""
    s = formatted(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    if not m:
        return []
    return [p.split(":")[0] for p in m.group(1).split(",") if p]


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan."""
    p = physical_plan(df)
    return p.count("Exchange hashpartitioning") + p.count(
        "Exchange rangepartitioning"
    )


def uses_broadcast_join(df: DataFrame) -> bool:
    p = physical_plan(df)
    return "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def codegen_stages(df: DataFrame) -> int:
    """Whole-stage-codegen span count (requires the AQE final plan; simple
    plan strings mark codegen membership with a ``*(id)`` prefix)."""
    import re

    p = physical_plan(df, execute=True)
    return len(set(re.findall(r"\*\((\d+)\)", p)))
