"""Semantic (non-oracle) checks for the spectral / density / SCC queries
of queries/graph_metrics.py: differential against NetworkX / numpy replays
of the same recurrences — independent of the DuckDB oracles, which share
the SQL formulation."""

from __future__ import annotations

import networkx as nx
import numpy as np
from pyspark.sql import functions as F

from kinbaku_spark.queries.graph_metrics import (
    KATZ_ROUNDS,
    KATZ_SCALE,
    WALK_ROUNDS,
    g_densest_subgraph,
    g_eigenvector_bounded,
    g_katz_bounded,
    g_local_clustering,
    g_scc_bounded,
)
from kinbaku_spark.sources.tables import part_succession_edges, supplier_part_edges


def _und_adj(spark, sf_dir):
    edges = supplier_part_edges(spark, sf_dir).select("src", "dst").collect()
    keys = sorted({r.src for r in edges} | {r.dst for r in edges})
    idx = {k: i for i, k in enumerate(keys)}
    a = np.zeros((len(keys), len(keys)), dtype=np.int64)
    for r in edges:
        a[idx[r.src], idx[r.dst]] = 1
        a[idx[r.dst], idx[r.src]] = 1
    return keys, a


def test_katz_matches_numpy_recurrence(spark, sf_dir):
    keys, a = _und_adj(spark, sf_dir)
    s = np.ones(len(keys), dtype=np.int64)
    for t in range(1, KATZ_ROUNDS + 1):
        s = a @ s + KATZ_SCALE**t
    want = sorted(zip(-s, keys))[:20]
    got = g_katz_bounded(spark, sf_dir).collect()
    assert [(r.key, r.katz_scaled) for r in got] == [
        (k, -neg) for neg, k in want
    ]
    for r in got:
        assert r.katz == r.katz_scaled / KATZ_SCALE**KATZ_ROUNDS


def test_eigenvector_walk_counts_match_numpy(spark, sf_dir):
    keys, a = _und_adj(spark, sf_dir)
    w = np.ones(len(keys), dtype=np.int64)
    for _ in range(WALK_ROUNDS):
        w = a @ w
    tot = int(w.sum())
    want = sorted(zip(-w, keys))[:20]
    got = g_eigenvector_bounded(spark, sf_dir).collect()
    assert [(r.key, r.walks) for r in got] == [(k, -neg) for neg, k in want]
    for r in got:
        assert r.score_ppm == r.walks * 1_000_000 // tot


def test_densest_peel_matches_python_replay(spark, sf_dir):
    edges = {
        (r.src, r.dst)
        for r in supplier_part_edges(spark, sf_dir).select("src", "dst").collect()
    }
    trace = []
    e = set(edges)
    for r in range(5):
        deg: dict[str, int] = {}
        for a, b in e:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        v, m = len(deg), len(e)
        trace.append((r, v, m, m * 1_000_000 // v if v else None))
        keep = {n for n, d in deg.items() if d * v * 10 > 22 * m}
        e = {(a, b) for a, b in e if a in keep and b in keep}
    got = [
        (r["round"], r.n_nodes, r.n_edges, r.density_ppm)
        for r in g_densest_subgraph(spark, sf_dir).collect()
    ]
    assert got == trace
    # the peel removes low-degree nodes: node counts strictly shrink while
    # edges remain, and the trace's max density is >= the starting density
    counts = [t[1] for t in trace]
    assert all(a >= b for a, b in zip(counts, counts[1:]))


def test_local_clustering_matches_networkx(spark, sf_dir):
    from kinbaku_spark.queries.graph_queries import co_proj

    proj = co_proj(spark, sf_dir).collect()
    g = nx.Graph((r.s1, r.s2) for r in proj)
    tri = nx.triangles(g)
    for r in g_local_clustering(spark, sf_dir).collect():
        d = g.degree[r.key]
        assert r.d == d
        assert r.n_triangles == tri[r.key]
        assert r.lcc_ppm == 2 * tri[r.key] * 1_000_000 // (d * (d - 1))


def test_scc_certified_groups_lie_within_true_sccs(spark, sf_dir):
    edges = [
        (r.src, r.dst)
        for r in part_succession_edges(spark, sf_dir).select("src", "dst").collect()
    ]
    g = nx.DiGraph(edges)
    scc_of = {}
    for comp in nx.strongly_connected_components(g):
        for n in comp:
            scc_of[n] = frozenset(comp)
    rows = g_scc_bounded(spark, sf_dir).collect()
    # total: every succession-graph node labeled exactly once
    assert sorted(r.key for r in rows) == sorted(g.nodes)
    groups: dict[str, set] = {}
    for r in rows:
        if r.peel is not None:  # certified
            groups.setdefault(r.comp, set()).add(r.key)
    assert groups, "expected at least one certified component"
    for comp, members in groups.items():
        # soundness: a certified group is contained in ONE true SCC — the
        # one holding its label node (bounded rounds may split, never merge)
        assert members <= scc_of[comp], (comp, members - scc_of[comp])
    # the certified groups must include at least one non-trivial SCC at
    # every test scale (the succession graph is cycle-rich by construction)
    assert any(len(m) > 1 for m in groups.values())


def test_scc_pending_rows_carry_null_peel_and_own_key(spark, sf_dir):
    rows = g_scc_bounded(spark, sf_dir).collect()
    for r in rows:
        if r.peel is None:
            assert r.comp == r.key
        else:
            assert r.comp <= r.key  # comp label is a min over the group
