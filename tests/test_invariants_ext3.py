"""Structural invariants for the round-2 batch-3 operators (PQ/coreset/
MST/matching/bootstrap/sweeps/probe/nDCG) — properties that must hold on
ANY input, checked at sf0.001 on top of the oracle-parity gate.

Where cheap, results are re-derived independently in plain Python from
the collected base tables (the graph/corpus is small at test SF), so a
Spark-side logic bug and a matching oracle bug cannot cancel out.
"""

from __future__ import annotations

import pytest

from kinbaku_spark.queries import QUERIES


@pytest.fixture(scope="module")
def run(spark, sf_dir):
    def _run(name):
        return QUERIES[name](spark, sf_dir).collect()

    return _run


def test_boruvka_components_monotone(run):
    rows = sorted(run("g_boruvka_mst"), key=lambda r: r.mst_round)
    assert len(rows) == 2
    assert all(r.edges_added >= 1 for r in rows)
    assert all(r.weight_added_micro >= 0 for r in rows)
    assert rows[1].n_components <= rows[0].n_components
    assert rows[0].n_components >= 1


def test_boruvka_round1_is_per_node_min_edge(run, spark, sf_dir):
    """At round 1 every component is a single node, so the chosen edge
    set must be exactly the distinct per-node minimum-(w, a, b) incident
    edges — replayed in plain Python on the collected edge list."""
    from kinbaku_spark.queries.graph_metrics import _weighted_und

    edges = _weighted_und(spark, sf_dir).collect()
    best: dict[str, tuple] = {}
    for e in edges:
        key = (e.w, e.a, e.b)
        if e.u not in best or key < best[e.u]:
            best[e.u] = key
    chosen = {k for k in best.values()}
    rows = sorted(run("g_boruvka_mst"), key=lambda r: r.mst_round)
    assert rows[0].edges_added == len(chosen)
    assert rows[0].weight_added_micro == sum(w for w, _, _ in chosen)


def test_matching_is_node_disjoint_and_mutual_min(run, spark, sf_dir):
    from kinbaku_spark.queries.graph_metrics import _weighted_und

    matched = run("g_greedy_matching")
    seen: set[str] = set()
    for r in matched:
        assert r.a not in seen and r.b not in seen, "matching not disjoint"
        seen.add(r.a)
        seen.add(r.b)

    # round-1 matches replayed: mutual minimum proposals
    edges = _weighted_und(spark, sf_dir).collect()
    prop: dict[str, tuple] = {}
    for e in edges:
        key = (e.w, e.a, e.b)
        if e.u not in prop or key < prop[e.u]:
            prop[e.u] = key
    hand1 = {
        k
        for k, v in (
            (key, sum(1 for p in prop.values() if p == key))
            for key in set(prop.values())
        )
        if v == 2
    }
    got1 = {(r.w, r.a, r.b) for r in matched if r.match_round == 1}
    assert got1 == hand1


def test_kcenter_distances_weakly_decrease(run):
    rows = sorted(run("x_coreset_kcenter"), key=lambda r: r.pick_round)
    assert rows[0].pick_round == 0 and rows[0].d2 == 0
    ds = [r.d2 for r in rows[1:]]
    assert all(a >= b for a, b in zip(ds, ds[1:])), "max-min must not grow"
    assert len({r.vec_id for r in rows}) == len(rows)


def test_pq_exact_dot_matches_numpy(run, spark, sf_dir):
    """The exact_dot column must equal the int64 micro-unit dot product
    computed independently with numpy."""
    import math

    import numpy as np

    from kinbaku_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {
        r.vec_id: np.floor(
            np.array(r.embedding, dtype=np.float64) * 1_000_000.0
        ).astype(np.int64)
        for r in emb
    }
    q = vecs[0]
    for r in run("x_ann_pq_adc"):
        assert r.exact_dot == int(vecs[r.vec_id] @ q)
        assert not math.isnan(r.adc_dot)


def test_pq_recall_bounds(run):
    rows = run("x_ann_pq_recall")
    assert len(rows) == 1
    r = rows[0]
    assert 0 <= r.hits <= r.k
    assert 0 <= r.recall_ppm <= 1_000_000
    assert r.recall_ppm == r.hits * 1_000_000 // r.k


def test_bootstrap_ci_ordering(run):
    rows = run("x_bootstrap_ci")
    assert len(rows) == 1
    r = rows[0]
    assert r.ci_lo_cents <= r.mean_of_means_cents <= r.ci_hi_cents
    assert r.n_replicas == 16


def test_vocab_sweep_monotone(run):
    rows = sorted(run("x_vocab_size_sweep"), key=lambda r: r.vocab_size)
    cov = [r.coverage_ppm for r in rows]
    assert all(a <= b for a, b in zip(cov, cov[1:]))
    assert all(0 <= c <= 1_000_000 for c in cov)
    assert all(r.covered <= r.total for r in rows)


def test_shard_skew_totals(run, spark, sf_dir):
    from kinbaku_spark.sources.tables import load_table

    rows = run("x_shard_skew_audit")
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.docs for r in rows) == n_docs
    share = sum(r.byte_share_ppm for r in rows)
    assert 1_000_000 - len(rows) <= share <= 1_000_000


def test_packing_waste_bounds(run):
    for r in run("x_packing_waste"):
        assert r.padded_total >= r.tokens_total
        assert 0 <= r.waste_ppm < 1_000_000
        assert r.bucket_max // 16 == r.bucket


def test_probe_excludes_itself(run, spark, sf_dir):
    rows = run("x_dedup_probe")
    for r in rows:
        assert 0 < r.jaccard <= 1.0


def test_quality_dup_matrix_band_shares(run):
    rows = run("x_quality_dup_matrix")
    by_band: dict[int, int] = {}
    for r in rows:
        by_band[r.score_band] = by_band.get(r.score_band, 0) + r.band_share_ppm
    for band, s in by_band.items():
        assert 1_000_000 - 2 <= s <= 1_000_000, (band, s)


def test_ndcg_bounds(run):
    for r in run("x_ndcg_eval"):
        assert 0 <= r.dcg_ppm <= r.idcg_ppm
        assert 0 <= r.ndcg_ppm <= 1_000_000
        assert 1 <= r.n_rel <= 10


def test_join_size_estimator_consistency(run, spark, sf_dir):
    from kinbaku_spark.sources.tables import load_table

    rows = run("x_join_size_estimate")
    assert len(rows) == 1
    r = rows[0]
    n_rows = load_table(spark, sf_dir, "lineitem").count()
    assert r.exact_size >= n_rows  # sum n(k)^2 >= sum n(k)
    assert r.est_size >= 0
    assert 0 < r.n_sampled_keys < r.n_keys


def test_vocab_drift_bounds(run):
    rows = run("x_vocab_drift")
    assert rows, "expected source pairs"
    for r in rows:
        assert 0 <= r.tvd_ppm <= 1_000_000
        assert r.source_a < r.source_b


def test_topic_diversity_bounds(run):
    for r in run("x_topic_diversity"):
        assert 0 <= r.simpson_ppm <= 1_000_000
        assert r.n_docs >= 2


def test_linkage_lift_fields_and_bounds(run):
    rows = run("x_linkage_agreement_lift")
    assert {r.field for r in rows} == {"mktsegment", "bal_sign", "bal_kbucket"}
    for r in rows:
        assert 0 <= r.block_agree_ppm <= 1_000_000
        assert 0 < r.overall_agree_ppm <= 1_000_000
        assert r.lift_ppm >= 0


def test_hist_quantile_within_one_bucket(run, spark, sf_dir):
    from pyspark.sql import functions as F

    from kinbaku_spark.queries.stats import HQ_BUCKETS
    from kinbaku_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    st = o.agg(
        F.min(F.floor(F.col("o_totalprice") * 100)).alias("mn"),
        F.max(F.floor(F.col("o_totalprice") * 100)).alias("mx"),
    ).collect()[0]
    width = (st.mx - st.mn + 1 + HQ_BUCKETS - 1) // HQ_BUCKETS
    rows = sorted(run("x_hist_quantile_accuracy"), key=lambda r: r.q_pct)
    assert [r.q_pct for r in rows] == [50, 90, 99]
    ests = [r.est_cents for r in rows]
    assert all(a <= b for a, b in zip(ests, ests[1:])), "est must be monotone"
    for r in rows:
        assert r.abs_err_cents <= width, (r, width)


def test_motif_brokers_are_backbone_nodes(run, spark, sf_dir):
    from kinbaku_spark.queries.graph_metrics import _truss_proj

    proj = _truss_proj(spark, sf_dir).collect()
    nodes = {r.s1 for r in proj} | {r.s2 for r in proj}
    rows = run("g_motif_brokers")
    for r in rows:
        assert r.broker in nodes
        assert r.open_triads >= 1
