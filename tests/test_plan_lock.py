"""Plan-regression lock: every declared query's physical-plan operator
signature must match the committed PLAN_LOCK.json (regenerate with
scripts/update_plan_lock.py after INTENTIONAL plan changes). Catches the
regressions correctness tests cannot: a broadcast join flipping to
sort-merge, an extra exchange, pushdown breaking — the properties that
decide whether the plan survives a 100 TB input.
"""

from __future__ import annotations

import json
import os

import pytest

from kinbaku_spark import state
from kinbaku_spark.plans.signature import plan_signature
from kinbaku_spark.queries import QUERIES

LOCK_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_LOCK.json")

with open(LOCK_PATH) as _f:
    LOCK = json.load(_f)


@pytest.mark.skipif(
    os.environ.get("KB_CACHE_TABLES") == "1",
    reason="resident-table mode legitimately rewrites scans",
)
@pytest.mark.skipif(
    os.environ.get("KB_TEST_SF_DIR", "/root/testdata/sf0.001")
    != "/root/testdata/sf0.001",
    reason="lock is pinned to sf0.001 (plan shapes may legally differ by SF)",
)
def test_plan_signatures_match_lock(spark, sf_dir):
    # Hermetic steady state: earlier tests in the same session materialize,
    # unpersist, or re-register the shared derived state in arbitrary
    # order, which flips InMemoryTableScan/exchange-reuse markers in plan
    # STRINGS without changing any plan. Rebuild that state from scratch so
    # signatures are computed exactly as scripts/update_plan_lock.py does
    # in a fresh session.
    state.reset()
    spark.catalog.clearCache()

    missing = sorted(set(QUERIES) - set(LOCK))
    assert not missing, (
        f"queries missing from PLAN_LOCK.json (run scripts/update_plan_lock.py): {missing}"
    )
    # SOFT queries persist shared state whose materialization (driven by
    # whatever ran earlier in the session) changes exchange-reuse markers
    # in the plan STRING without changing the plan: for them only the
    # join-strategy counts are pinned (a broadcast->sort-merge flip still
    # fails); everything else must match exactly.
    soft = {"g_pagerank"}
    strategy_ops = ("SortMergeJoin", "BroadcastNestedLoopJoin", "ShuffledHashJoin")
    diffs = {}
    for name in sorted(QUERIES):
        # steady-state plan: see scripts/update_plan_lock.py
        QUERIES[name](spark, sf_dir)
        got = plan_signature(QUERIES[name](spark, sf_dir))
        want = LOCK[name]
        if name in soft:
            got = {k: got.get(k, 0) for k in strategy_ops}
            want = {k: want.get(k, 0) for k in strategy_ops}
        if got != want:
            diffs[name] = {"locked": want, "got": got}
    assert not diffs, f"plan regressions: {json.dumps(diffs, indent=1)}"
