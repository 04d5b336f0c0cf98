"""Physical-plan assertions used by tests and perf iteration.

The reference has no optimizer (SURVEY.md §4) — these helpers exist to
verify that Catalyst actually delivers what the reference lacked: predicate
pushdown into parquet scans, broadcast joins for dimension tables, and
whole-stage codegen over the hot expressions. Tests call them so a future
refactor that silently breaks pushdown fails CI, not the 100 TB run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True if at least one parquet scan carries a pushed filter.

    Checked per scan — a multi-scan plan (joins) may legitimately have
    other scans with no pushable predicate.
    """
    plan = formatted_plan(df)
    return any(not seg.startswith("]") for seg in plan.split("PushedFilters: [")[1:])


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)  # one explain — each call replans the query
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Count DISTINCT whole-stage-codegen spans — wider/fewer is better.

    Reads the EXECUTED plan's ``*(N)`` codegen-id markers: formatted
    explain output never contains the literal string 'WholeStageCodegen'
    (the r10 review found the old substring count was identically 0),
    and under AQE the final plan only materializes after execution — so
    run an action on ``df`` first; an unexecuted adaptive plan reports 0
    spans rather than lying."""
    import re

    s = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", s)))
