"""Semantic invariants for the round-2 additions (window dedup, DSIR,
tokenizer stats, RRF, bounded truss, eccentricity, bounded betweenness) —
properties the row-level DuckDB parity check cannot express, including a
full independent pure-Python replay of the Brandes recursion."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from kinbaku_spark.queries import QUERIES


def _und_edges(spark, sf_dir):
    from kinbaku_spark.queries.graph_queries import und_edges

    return [(r["u"], r["v"]) for r in und_edges(spark, sf_dir).collect()]


def test_betweenness_matches_pure_python(spark, sf_dir):
    """Independent replay: BFS layering, sigma counting, and the exact
    truncating-div delta recursion re-implemented from scratch on the
    collected edge list must reproduce every output row."""
    from kinbaku_spark.queries.graph_metrics import BETW_SCALE
    from kinbaku_spark.queries.graph_metrics import GEO_MAX_DEPTH, GEO_SOURCE

    adj = defaultdict(set)
    for u, v in _und_edges(spark, sf_dir):
        adj[u].add(v)
    # forward: depth + sigma
    depth = {GEO_SOURCE: 0}
    sigma = {GEO_SOURCE: 1}
    frontier = [GEO_SOURCE]
    for d in range(1, GEO_MAX_DEPTH + 1):
        nxt = defaultdict(int)
        for u in frontier:
            for v in adj[u]:
                if v not in depth:
                    nxt[v] += sigma[u]
        for v, s in nxt.items():
            depth[v] = d
            sigma[v] = s
        frontier = list(nxt)
        if not frontier:
            break
    # backward: delta, deepest layer first, truncating div per term
    delta = {k: 0 for k, d in depth.items() if d == GEO_MAX_DEPTH}
    for d in range(GEO_MAX_DEPTH - 1, 0, -1):
        for v in [k for k, dd in depth.items() if dd == d]:
            acc = 0
            for w in adj[v]:
                if depth.get(w) == d + 1:
                    acc += sigma[v] * (BETW_SCALE + delta[w]) // sigma[w]
            delta[v] = acc
    rows = QUERIES["g_betweenness_bounded"](spark, sf_dir).collect()
    assert rows and len(rows) == sum(1 for dd in depth.values() if dd >= 1)
    for r in rows:
        assert depth[r["key"]] == r["depth"]
        assert sigma[r["key"]] == r["sigma"]
        assert delta[r["key"]] == r["dependency_ppm"], r["key"]


def test_truss_survivors_have_support(spark, sf_dir):
    """Every surviving edge's reported support equals its common-neighbor
    count within the survivor edge set, and meets the k-2 floor."""
    from kinbaku_spark.queries.graph_metrics import TRUSS_K

    rows = QUERIES["g_truss_bounded"](spark, sf_dir).collect()
    assert rows, "bounded truss must be non-trivial at this SF"
    adj = defaultdict(set)
    for r in rows:
        adj[r["s1"]].add(r["s2"])
        adj[r["s2"]].add(r["s1"])
    for r in rows:
        sup = len(adj[r["s1"]] & adj[r["s2"]])
        assert sup == r["sup"]
        assert sup >= TRUSS_K - 2


def test_eccentricity_landmarks_and_bounds(spark, sf_dir):
    """Landmarks are exactly the top-degree nodes (independent recount);
    each reaches at least its own neighborhood."""
    from kinbaku_spark.queries.graph_metrics import N_LANDMARKS

    deg = defaultdict(int)
    for u, _ in _und_edges(spark, sf_dir):
        deg[u] += 1
    expect = sorted(deg, key=lambda k: (-deg[k], k))[:N_LANDMARKS]
    rows = QUERIES["g_eccentricity"](spark, sf_dir).collect()
    assert sorted(r["lm"] for r in rows) == sorted(expect)
    for r in rows:
        assert r["ecc_bounded"] >= 1
        assert r["n_reached"] >= deg[r["lm"]]


def test_window_dedup_pairs_really_share_text(spark, sf_dir):
    """Reported pairs share at least shared_windows distinct 8-word
    windows in the raw text (the df-cap can only remove shared windows,
    never invent them)."""
    from kinbaku_spark.queries.curation import WINDOW_W
    from kinbaku_spark.sources.tables import load_table

    rows = QUERIES["x_window_dedup"](spark, sf_dir).collect()
    assert rows, "window dedup must find pairs at this SF"
    ids = {r["doc_id_a"] for r in rows[:5]} | {r["doc_id_b"] for r in rows[:5]}
    texts = dict(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(list(ids)))
        .select("doc_id", "text")
        .collect()
    )

    def windows(t):
        w = t.split()
        return {
            " ".join(w[i : i + WINDOW_W]) for i in range(len(w) - WINDOW_W + 1)
        }

    for r in rows[:5]:
        shared = windows(texts[r["doc_id_a"]]) & windows(texts[r["doc_id_b"]])
        assert len(shared) >= r["shared_windows"] >= 1


def test_dsir_weights_are_valid_shares(spark, sf_dir):
    """Weights are target-mass shares: in (0, 10⁶], sorted descending,
    over non-empty docs."""
    rows = QUERIES["x_dsir_weights"](spark, sf_dir).collect()
    assert rows
    weights = [r["weight_ppm"] for r in rows]
    assert weights == sorted(weights, reverse=True)
    for r in rows:
        assert 0 < r["weight_ppm"] <= 1_000_000
        assert r["n_tokens"] > 0


def test_tokenizer_fertility_bounds(spark, sf_dir):
    """Fertility ≥ 1 piece/word; vocab ≤ words; every lang present."""
    from kinbaku_spark.sources.tables import load_table

    rows = QUERIES["x_tokenizer_fertility"](spark, sf_dir).collect()
    langs = {
        r["lang"]
        for r in load_table(spark, sf_dir, "documents").select("lang").distinct().collect()
    }
    assert {r["lang"] for r in rows} == langs
    for r in rows:
        assert r["fertility_ppm"] >= 1_000_000
        assert 0 < r["vocab"] <= r["n_words"]
        assert r["ttr_ppm"] == r["vocab"] * 1_000_000 // r["n_words"]


def test_rrf_score_recomputes_from_ranks(spark, sf_dir):
    """rrf_score is exactly the sum of 10⁶ div (K + rank) over present
    legs, and the output is the top slice of that ordering."""
    from kinbaku_spark.queries.similarity import RRF_K, RRF_TOP_K

    rows = QUERIES["x_rrf_fusion"](spark, sf_dir).collect()
    assert 0 < len(rows) <= RRF_TOP_K
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        expect = 0
        if r["lex_rank"] > 0:
            expect += 1_000_000 // (RRF_K + r["lex_rank"])
        if r["dense_rank"] > 0:
            expect += 1_000_000 // (RRF_K + r["dense_rank"])
        assert r["rrf_score"] == expect
        assert r["lex_rank"] > 0 or r["dense_rank"] > 0
