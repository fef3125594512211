"""Physical-plan signatures: operator-count fingerprints of a query's
executed plan. The committed PLAN_LOCK.json pins every declared query's
signature at sf0.001; tests/test_plan_lock.py recomputes and diffs them, so
a silent plan regression — a broadcast join flipping to sort-merge, an
extra shuffle appearing, pushdown breaking a scan into a wider one — fails
CI even when results stay correct. These are the properties that decide
whether the same query survives a 100 TB input.

Signatures count the AQE-initial plan (deterministic for fixed inputs);
resident-table mode (KB_CACHE_TABLES) must be OFF when comparing, since it
legitimately replaces FileScans with InMemoryTableScans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Ordered so substrings don't shadow each other (counts are independent).
PLAN_OPS = [
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange SinglePartition",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    # a statless-side cross join silently planning as CartesianProduct
    # re-reads the big side's shuffle once per left partition — caught in
    # x_hist_quantile_accuracy (r07); locked so the class cannot return.
    # The ONE legitimate instance is the block-GEMM's all-pairs block
    # pairing (plans/hints.block_pairs — every block pair is needed,
    # exactly a matmul's data movement): pinned at count 1 in the
    # triangle-family lock entries.
    "CartesianProduct",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "TakeOrderedAndProject",
    "FileScan parquet",
    "InMemoryTableScan",
]


def plan_signature(df: DataFrame) -> dict[str, int]:
    s = df._jdf.queryExecution().executedPlan().toString()
    return {op: s.count(op) for op in PLAN_OPS if op in s}
