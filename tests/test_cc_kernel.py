"""Property tests for the convergent min-label CC kernel
(operators/cc_kernel.py) — the VERDICT r04 fix: fixpoint on adversarial
diameters (paths, cycles, random graphs) vs NetworkX, logarithmic round
count, and a RAISE (never silent truncation) on budget exhaustion."""

from __future__ import annotations

import random

import networkx as nx
import pytest
from pyspark.sql import functions as F

from kinbaku_spark.graph import Graph
from kinbaku_spark.operators.cc_kernel import (
    CCConvergenceError,
    min_label_fixpoint,
)
from kinbaku_spark.operators.dedup import duplicate_clusters


def _labels_und(spark, edges):
    nodes = sorted({x for e in edges for x in e})
    labels = spark.createDataFrame(
        [(n, n) for n in nodes], "u string, label string"
    )
    und = spark.createDataFrame(
        sorted({(u, v) for u, v in edges} | {(v, u) for u, v in edges}),
        "u string, v string",
    )
    return labels, und


def _expected(edges):
    g = nx.Graph(edges)
    return sorted(
        (n, min(c)) for c in nx.connected_components(g) for n in c
    )


@pytest.mark.parametrize(
    "name,edges",
    [
        # the adversarial shapes the old bounded kernel (20/30 rounds)
        # silently truncated: label distance >> cap
        ("path100", [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(100)]),
        ("cycle80", [(f"n{i:03d}", f"n{(i + 1) % 80:03d}") for i in range(80)]),
        # reversed-order path: min label at the FAR end of the chain
        ("revpath60", [(f"n{59 - i:03d}", f"n{58 - i:03d}") for i in range(59)]),
    ],
)
def test_fixpoint_on_adversarial_diameters(spark, name, edges):
    labels, und = _labels_und(spark, edges)
    got = sorted(
        (r.u, r.label) for r in min_label_fixpoint(labels, und).collect()
    )
    assert got == _expected(edges), f"{name} did not reach fixpoint"


@pytest.mark.parametrize("seed,n,m", [(11, 30, 20), (12, 40, 45), (13, 25, 70)])
def test_fixpoint_on_random_graphs_vs_networkx(spark, seed, n, m):
    rng = random.Random(seed)
    edges = sorted(
        {
            (f"r{rng.randrange(n):02d}", f"r{rng.randrange(n):02d}")
            for _ in range(m)
        }
    )
    edges = [(u, v) for u, v in edges if u != v]
    labels, und = _labels_und(spark, edges)
    got = sorted(
        (r.u, r.label) for r in min_label_fixpoint(labels, und).collect()
    )
    assert got == _expected(edges)


def test_logarithmic_rounds_suffice_on_long_path(spark):
    """Pointer doubling makes a 200-hop path converge well inside 12
    rounds (plain propagation would need 200) — the budget that locks the
    O(log d) claim rather than just 'eventually converges'."""
    edges = [(f"q{i:03d}", f"q{i + 1:03d}") for i in range(200)]
    labels, und = _labels_und(spark, edges)
    got = sorted(
        (r.u, r.label)
        for r in min_label_fixpoint(labels, und, max_rounds=12).collect()
    )
    assert got == _expected(edges)


def test_budget_exhaustion_raises_not_truncates(spark):
    edges = [(f"x{i:02d}", f"x{i + 1:02d}") for i in range(30)]
    labels, und = _labels_und(spark, edges)
    with pytest.raises(CCConvergenceError):
        min_label_fixpoint(labels, und, max_rounds=1)


def test_duplicate_clusters_long_chain(spark):
    """The dedup-facing entry point (duplicate_clusters) inherits the
    convergent kernel: a 50-link dup chain (> the old 20-round cap) labels
    every doc with the chain min."""
    n = 50
    docs = spark.createDataFrame([(f"d{i:02d}",) for i in range(n + 1)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(n)],
        "doc_id_a string, doc_id_b string",
    )
    got = {
        r.doc_id: r.cluster_id for r in duplicate_clusters(docs, pairs).collect()
    }
    assert set(got.values()) == {"d00"} and len(got) == n + 1


def test_graph_connected_components_deep_diameter(spark):
    """Graph.connected_components (the facade) on a 70-hop path — over the
    old 30-round cap — plus an isolated node keeping its own label."""
    edges = [(f"g{i:02d}", f"g{i + 1:02d}", 0) for i in range(70)]
    g = Graph.from_edges(
        spark.createDataFrame(edges, "src string, dst string, type int")
    )
    g.add_node("zzz_isolated")
    got = {r.key: r.component for r in g.connected_components().collect()}
    assert got["zzz_isolated"] == "zzz_isolated"
    assert {v for k, v in got.items() if k != "zzz_isolated"} == {"g00"}


def test_label_stats_stay_bounded(spark):
    """Latent-scale-bug regression (round 6): localCheckpoint preserves
    the origin plan's static size estimate, and per-round join products
    DOUBLE the stats BigInteger's digit count — by the ~30 rounds a
    10^8-diameter graph needs, non-AQE planning allocates a multi-GB
    BigInteger on the driver. The kernel now re-materializes through
    persist() each round (InMemoryRelation stats = real bytes); this
    pins that the label table's static estimate stays bounded."""
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(f"s{i:03d}", f"s{i + 1:03d}") for i in range(300)],
        "u string, v string",
    )
    und = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    labels = und.select("u").distinct().select(
        "u", F.col("u").alias("label")
    )
    out = min_label_fixpoint(labels, und)  # ~10 rounds on a 300-path
    digits = len(
        str(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    assert digits < 40, (
        f"label-table static size estimate has {digits} digits — the"
        " per-round stats product is compounding again (the persist-"
        "before-checkpoint fix regressed)"
    )
    assert out.agg(F.count_distinct("label").alias("n")).collect()[0]["n"] == 1


def test_duplicate_clusters_paths_agree_on_ids_absent_from_docs(spark, monkeypatch):
    """A pair naming an id that is not a doc is no edge: the distributed
    kernel (KB_CC_LOCAL_THRESHOLD=0) and the serial union-find tail
    return the same rows, one per doc, with doc ids as cluster ids — the
    absent id neither appears nor links d2 to d4."""
    docs = spark.createDataFrame([(f"d{i}",) for i in range(6)], ["doc_id"])
    pairs = spark.createDataFrame(
        [("d0", "d1"), ("d2", "a_x"), ("a_x", "d4"), ("d3", "zz")],
        "doc_id_a string, doc_id_b string",
    )

    def run():
        return {tuple(r) for r in duplicate_clusters(docs, pairs).collect()}

    local = run()
    monkeypatch.setenv("KB_CC_LOCAL_THRESHOLD", "0")
    dist = run()
    want = {("d0", "d0"), ("d1", "d0"), ("d2", "d2"), ("d3", "d3"), ("d4", "d4"), ("d5", "d5")}
    assert dist == local == want
