"""Physical-plan inspection helpers.

The judge of an operator isn't "returns right rows" but "returns right
rows with the plan you'd want at 100 TB": filters pushed into the
scan, dim tables broadcast, no accidental cartesian products, wide
whole-stage-codegen spans.  These helpers make those properties
assertable in tests instead of eyeballed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def plan_summary(df: DataFrame) -> dict[str, int | bool]:
    """Counts of the plan features that matter for scale review."""
    plan = formatted_plan(df)
    return {
        "broadcast_joins": plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "shuffles": plan.count("Exchange"),
        "round_robin": plan.count("RoundRobinPartitioning"),
        "cartesian": plan.count("CartesianProduct"),
        "pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan.split("PushedFilters: [", 1)[0],
        "codegen_stages": plan.count("WholeStageCodegen"),
        "python_eval": plan.count("ArrowEvalPython")
        + plan.count("BatchEvalPython")
        + plan.count("MapInPandas"),
    }


def shuffle_exchanges(df: DataFrame) -> int:
    """Count real shuffle exchanges (hash/range/round-robin/single
    partition), excluding BroadcastExchange — the number that grows a
    query's cost class at 100 TB.  Counted on the final plan so AQE
    reuse (ReusedExchange) is not double-counted."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        plan.count(f"Exchange {kind}")
        for kind in ("hashpartitioning", "rangepartitioning", "RoundRobinPartitioning", "SinglePartition")
    )


def global_windows(df: DataFrame) -> int:
    """Count window operators with an EMPTY partition spec — a global
    window is a single-task total sort, the one plan shape that cannot
    survive a 100x scale-up.

    In the plan string a window spec reads
    ``windowspecdefinition(part1, part2, ..., sortcol ASC NULLS FIRST,
    ..., specifiedwindowframe(...))`` — partition columns are bare
    references, sort items carry an ASC/DESC marker.  A spec whose
    FIRST argument is already a sort item has no partition columns.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = 0
    for part in plan.split("windowspecdefinition(")[1:]:
        first_arg = part.split(",", 1)[0]
        if " ASC" in first_arg or " DESC" in first_arg:
            n += 1
    return n


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if some scan's PushedFilters contains ``fragment``."""
    plan = formatted_plan(df)
    for part in plan.split("PushedFilters: [")[1:]:
        if fragment in part.split("]", 1)[0]:
            return True
    return False
