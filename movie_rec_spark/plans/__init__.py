"""Physical-plan introspection + assertions.

The 100 TB design promises (predicate pushdown reaching the parquet
scan, column pruning, broadcast dimension joins, distributed top-K, no
accidental cartesian products) are invariants worth enforcing, not just
inspecting once: tests/test_plans.py uses these helpers so a regression
that re-introduces a full-table scan or a shuffle join of a dimension
table fails CI.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed (pre-AQE-finalization) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if `fragment` appears inside a PushedFilters: [...] list —
    i.e. the predicate reached the parquet reader."""
    plan = physical_plan(df)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if fragment in m.group(1):
            return True
    return False


def scan_read_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each parquet scan (ReadSchema) —
    the ground truth for column pruning."""
    plan = physical_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0].strip() for c in m.group(1).split(",") if c}
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def has_shuffle_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in physical_plan(df) or \
        "ShuffledHashJoin" in physical_plan(df)


def has_cartesian(df: DataFrame) -> bool:
    """True on CartesianProduct or a broadcast nested-loop join with a
    non-trivial condition — the accidental-cross-join smell."""
    return "CartesianProduct" in physical_plan(df)


def has_window_group_limit(df: DataFrame) -> bool:
    """Spark ≥3.5 WindowGroupLimit: rank-filter window rewritten into a
    per-partition top-K (no full group sort/materialization)."""
    return "WindowGroupLimit" in physical_plan(df)


def has_top_k(df: DataFrame) -> bool:
    """ORDER BY + LIMIT planned as TakeOrderedAndProject (heap top-K per
    partition, merge on driver) instead of a global sort."""
    return "TakeOrderedAndProject" in physical_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchanges (broadcast exchanges excluded) — the
    unit of cost to minimize at scale."""
    plan = physical_plan(df)
    return len(re.findall(r"\bExchange hashpartitioning", plan)) + \
        len(re.findall(r"\bExchange rangepartitioning", plan)) + \
        len(re.findall(r"\bExchange RoundRobinPartitioning", plan))


def partition_filters(df: DataFrame) -> list[str]:
    """PartitionFilters of each scan — non-empty means directory-level
    pruning happened at planning time (partitioned layout honored)."""
    plan = physical_plan(df)
    return [m.group(1) for m in
            re.finditer(r"PartitionFilters: \[([^\]]*)\]", plan)
            if m.group(1).strip()]


def scanned_bucketed(df: DataFrame) -> bool:
    """True if any scan reads a bucketed layout (SelectedBucketsCount
    appears) — pre-shuffled storage feeding the join/agg directly."""
    return "Bucketed: true" in physical_plan(df) or \
        "SelectedBucketsCount" in physical_plan(df)
