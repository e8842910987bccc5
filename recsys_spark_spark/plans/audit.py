"""Physical-plan audit helpers — the explain()-driven feedback loop.

Used by tests/test_plans.py to assert plan *shape* (pushdown, pruning,
broadcast choice, shuffle-stage count) rather than just result values: a
plan regression is invisible at sf0.01 and fatal at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame, materialize: bool = False) -> str:
    """The physical plan string; with materialize=True the query is run first
    so AQE settles the final stages (needed for shuffle_stage_count)."""
    if materialize:
        df.count()
    return df._jdf.queryExecution().executedPlan().toString()


def shuffle_stage_count(plan: str) -> int:
    """Distinct materialized shuffle stages in an executed adaptive plan.

    Counts ShuffleQueryStage nodes by the plan_id of their child Exchange —
    robust against the cached-subtree re-prints (same plan_id at every scan
    site) and against pre-AQE '== Initial Plan ==' sections (which contain
    Exchanges but never ShuffleQueryStage nodes). Broadcast stages are
    BroadcastQueryStage and are deliberately not counted: broadcasts move
    dim-sized data, shuffles move fact-sized data."""
    return len(
        set(
            re.findall(
                r"ShuffleQueryStage \d+[^\n]*\n\s*[:+\- ]*Exchange hashpartitioning"
                r"[^\n]*plan_id=(\d+)",
                plan,
            )
        )
    )


def partition_filters(plan: str) -> list[str]:
    """Every PartitionFilters list (directory pruning) on a file scan."""
    return re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)


def read_schemas(plan: str) -> list[str]:
    """Every ReadSchema struct a file scan actually reads (column pruning)."""
    return re.findall(r"ReadSchema: (struct<[^>]*>)", plan)


def join_lines(plan: str, kind: str) -> list[str]:
    """Plan lines containing a join of the given kind (e.g. 'LeftAnti',
    'BroadcastHashJoin', 'SortMergeJoin')."""
    return [ln for ln in plan.splitlines() if kind in ln]
