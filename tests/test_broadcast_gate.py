"""Size-gated broadcast hints (plans/hints.py, VERDICT r02 #2).

An explicit ``F.broadcast`` hint is never demoted by AQE, so every
|V|-sized table in the iterative graph queries (rank vectors, keep-lists,
label/degree maps, id maps) goes through the ``maybe_broadcast`` /
``size_hint`` gate. These tests simulate a past-the-bound deployment
(|V| > 5M nodes) by forcing the gate shut with ``KB_BROADCAST_BOUND=0`` —
the demoted plan must contain NO broadcast hint anywhere (the planner is
then free to shuffle-join, and AQE may still *promote* from runtime stats,
which is a demotable decision). The default mode's hinted plans are locked
by PLAN_LOCK.json; here we additionally assert the hint genuinely engages
below the bound.
"""

from __future__ import annotations

import os

import pytest

from kinbaku_spark import state
from kinbaku_spark.plans import hints
from kinbaku_spark.queries import QUERIES


@pytest.fixture
def gate_closed(spark):
    state.reset()
    os.environ["KB_BROADCAST_BOUND"] = "0"
    try:
        yield
    finally:
        os.environ.pop("KB_BROADCAST_BOUND", None)
        state.reset()


def test_gate_helpers_respect_bound(spark):
    df = spark.range(3)
    assert hints.broadcast_bound() == hints.DEFAULT_BROADCAST_BOUND
    assert hints.broadcast_bound(123) == 123
    # under the bound: hinted
    hinted = hints.maybe_broadcast(df, 10)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    # over the bound: untouched
    assert hints.maybe_broadcast(df, 10_000_000) is df
    assert hints.size_hint(10_000_000)(df) is df
    # site-specific default bound
    assert hints.maybe_broadcast(df, 500, default_bound=100) is df
    # env override wins in both directions
    os.environ["KB_BROADCAST_BOUND"] = "0"
    try:
        assert hints.maybe_broadcast(df, 1) is df
        assert hints.size_hint(1)(df) is df
    finally:
        os.environ.pop("KB_BROADCAST_BOUND", None)


# queries whose FINAL plan retains the hint below the bound (no lineage
# truncation between the gated join and the returned DataFrame)
_HINT_VISIBLE = [
    "g_adjacency_coo",
    "g_assortativity",
    "g_modularity",
    "g_node_features",
    "g_jaccard_links",
    "g_resource_allocation",
    "g_ego_network",
    "g_pagerank",
]

# gated iterative queries — checkpoints may truncate the final lineage, so
# only the demoted (no-hint-anywhere) direction is assertable on the plan
_GATED_ITERATIVE = [
    "g_kcore",
    "g_hits",
    "g_label_propagation",
    "g_sssp_bounded",
    "g_random_walks",
    "g_node2vec_walks",
    "g_boruvka_mst",
    "g_greedy_matching",
    "g_eccentricity",
    "g_butterflies",
    "g_negative_samples",
    "g_ppr_seeded",
    # triangle family: exercises triangle_block_gemm's id-map gate; its
    # surviving hints are the audited co_proj 1-row threshold copies
    "g_triangles",
    "g_transitivity",
    # Katz/eigenvector/densest/SCC family: score/label vectors + keep-sets are all
    # |V|-gated; eigenvector's surviving hint is its 1-row Σw total
    "g_katz_bounded",
    "g_eigenvector_bounded",
    "g_densest_subgraph",
    "g_local_clustering",
    "g_scc_bounded",
    "g_scc",
]


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


# Hints that legitimately survive past the bound are BOUNDED-size tables —
# 1-row aggregates (|E| totals, max-normalizers, mean thresholds) whose
# broadcast is unconditional by design because they cannot grow with |V|.
# The check below is by IDENTITY, not count (ADVICE r03): every surviving
# ResolvedHint's child subtree must provably produce at most one row
# (logical-plan maxRows == 1, the global-aggregate shape). A regression
# reintroducing an ungated |V|-sized hint cannot hide behind another
# bounded hint disappearing — the |V|-sized subtree has no maxRows bound
# and fails regardless of how many hints remain.


def _surviving_hint_children(df):
    """JVM-walk the analyzed plan; return (description, maxRows Option)
    for the child of every ResolvedHint node."""
    out = []

    def walk(node):
        if node.getClass().getSimpleName() == "ResolvedHint":
            child = node.child()
            out.append((child.nodeName(), child.maxRows()))
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().analyzed())
    return out


@pytest.mark.parametrize("name", _HINT_VISIBLE)
def test_hint_engages_below_bound(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert "ResolvedHint" in _analyzed(df), (
        f"{name}: expected a broadcast hint below the bound (test graph is"
        " far under 5M nodes)"
    )


@pytest.mark.parametrize("name", _HINT_VISIBLE + _GATED_ITERATIVE)
def test_demoted_plan_past_bound(spark, sf_dir, name, gate_closed):
    """KB_BROADCAST_BOUND=0 simulates |V| past the gate: no explicit
    broadcast hint may survive anywhere in the final plan."""
    df = QUERIES[name](spark, sf_dir)
    for node_name, max_rows in _surviving_hint_children(df):
        assert max_rows.isDefined() and max_rows.get() == 1, (
            f"{name}: broadcast hint survives past the bound on a"
            f" {node_name} subtree with no 1-row bound"
            f" (maxRows={max_rows}) — an ungated data-sized broadcast"
        )
    # and the demoted plan still computes: a row-count job must succeed
    assert df.count() >= 0


def test_streaming_cc_correct_with_gate_closed(spark, gate_closed):
    """ADVICE r04: cc_ingest_batch's batch-sized hints (resolved label map,
    contraction relabel map) go through size_hint. With the gate forced
    shut the hints must disengage (demoted deployment shape) and the
    ingest must still converge to the exact batch-mode CC labels."""
    import shutil
    import tempfile

    import networkx as nx

    from kinbaku_spark.streaming.graph_cc import cc_ingest_batch, cc_read_state

    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(40)]
    d = tempfile.mkdtemp(prefix="kb_cc_gate_")
    try:
        for chunk in (edges[0::2], edges[1::2]):
            cc_ingest_batch(
                spark.createDataFrame(chunk, "src string, dst string"), f"{d}/labels"
            )
        got = sorted(
            (r.key, r.label) for r in cc_read_state(spark, f"{d}/labels").collect()
        )
        g = nx.Graph(edges)
        want = sorted((n, min(c)) for c in nx.connected_components(g) for n in c)
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)
