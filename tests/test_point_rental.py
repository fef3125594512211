"""Ski-rental whole-table fetch on the default point-read path: each table
(nodes, edges) fetches per key and counts its misses, and at the miss where
``misses_so_far × ROWS_PER_MISS ≥ N`` (N: the row count in the plan
statistics) fetches itself whole and is held complete. Covers answers
against a dict model under every price setting (never buy, buy at the
second miss, buy after a few misses, the module default, a small
``cache_len``), through pending writes, flushes, remove_node and
set_neighbors/set_predecessors; and pins the job counts: the miss the buy
happens at, no job for present and absent keys after it, no buy without a
known row count, and preload() as two jobs, then none."""

from __future__ import annotations

import math
import random

import pytest

from kinbaku_spark import graph as graph_mod
from kinbaku_spark.exceptions import EdgeNotFound, NodeNotFound
from kinbaku_spark.graph import Graph
from test_point_blocks import _jobs

N_NODES, N_EDGES = 24, 60


def _rows(seed: int):
    rng = random.Random(seed)
    keys = [f"k{i:02d}" for i in range(N_NODES)]
    nodes = [(k, f"name-{k}", i) for i, k in enumerate(keys)]
    edges = {}
    while len(edges) < N_EDGES:
        s, d, t = rng.choice(keys), rng.choice(keys), rng.randrange(2)
        edges[(s, d, t)] = round(rng.random(), 3)
    return nodes, [(s, d, t, w) for (s, d, t), w in sorted(edges.items())]


@pytest.fixture
def resident(spark):
    """Persisted, materialized tables, so their plan statistics carry the
    exact row count; unpersisted afterwards."""
    nodes_rows, edges_rows = _rows(5)
    nodes = spark.createDataFrame(nodes_rows, "key string, name string, age int").persist()
    edges = spark.createDataFrame(
        edges_rows, "src string, dst string, type int, weight double"
    ).persist()
    assert nodes.count() == N_NODES and edges.count() == N_EDGES
    yield nodes, edges
    nodes.unpersist()
    edges.unpersist()


def test_plan_rows_of_resident_and_unknown_tables(spark, resident):
    assert graph_mod._plan_rows(resident[0]) == N_NODES
    assert graph_mod._plan_rows(resident[1]) == N_EDGES
    assert graph_mod._plan_rows(spark.createDataFrame([("a",)], "key string")) is None


class Model:
    """Dict model of the graph: node attrs by key, edge weight by triple."""

    def __init__(self, nodes_rows, edges_rows):
        self.nodes = {k: {"key": k, "name": n, "age": a} for k, n, a in nodes_rows}
        self.edges = {(s, d, t): w for s, d, t, w in edges_rows}

    def ensure(self, k):
        self.nodes.setdefault(k, {"key": k, "name": None, "age": None})

    def add_edge(self, s, d, t, w):
        self.ensure(s)
        self.ensure(d)
        self.edges[(s, d, t)] = w

    def remove_node(self, k):
        del self.nodes[k]
        self.edges = {e: w for e, w in self.edges.items() if k not in e[:2]}

    def set_adjacent(self, k, others, t, out):
        for o in [k, *others]:
            self.ensure(o)
        end = 0 if out else 1
        kept = {e: w for e, w in self.edges.items() if not (e[end] == k and e[2] == t)}
        for o in sorted(set(others)):
            e = (k, o, t) if out else (o, k, t)
            kept[e] = self.edges.get(e)
        self.edges = kept

    def succ(self, k):
        return sorted({d for s, d, _ in self.edges if s == k})

    def pred(self, k):
        return sorted({s for s, d, _ in self.edges if d == k})


def _check_reads(g, m, keys, rng):
    for k in rng.sample(keys, 2):
        if k in m.nodes:
            assert g.node(k) == m.nodes[k], k
            assert g.has_node(k)
        else:
            assert not g.has_node(k)
            with pytest.raises(NodeNotFound):
                g.node(k)
        assert list(g.neighbors(k)) == m.succ(k), k
        assert list(g.predecessors(k)) == m.pred(k), k
        assert g.out_degree(k) == sum(s == k for s, _, _ in m.edges), k
        assert g.in_degree(k) == sum(d == k for _, d, _ in m.edges), k
    for _ in range(3):
        s, d, t = rng.choice(keys), rng.choice(keys), rng.randrange(2)
        if rng.random() < 0.5 and m.edges:
            s, d, t = rng.choice(sorted(m.edges))
        assert g.has_edge(s, d, t) == ((s, d, t) in m.edges), (s, d, t)
        if (s, d, t) in m.edges:
            assert g.edge(s, d, t) == {"src": s, "dst": d, "type": t, "weight": m.edges[(s, d, t)]}
        else:
            with pytest.raises(EdgeNotFound):
                g.edge(s, d, t)


@pytest.mark.parametrize(
    "price, cache_len",
    [(0, None), (10**9, None), ("later", None), ("default", None), (10**9, 5)],
    ids=["never-buy", "buy-at-second-miss", "buy-later", "default", "small-cache"],
)
def test_answers_match_dict_model(spark, resident, monkeypatch, price, cache_len):
    if price == "later":
        # price 20: the edge table buys at its 4th miss, the node table at
        # its 3rd, after some keys and absent keys were cached one by one
        price = math.ceil(N_EDGES / 3)
    if price != "default":
        monkeypatch.setattr(graph_mod, "ROWS_PER_MISS", price)
    kw = {} if cache_len is None else {"cache_len": cache_len}
    g = Graph(spark, nodes=resident[0], edges=resident[1], **kw)
    m = Model(*_rows(5))
    rng = random.Random(11)
    keys = sorted(m.nodes) + ["zz0", "zz1"]  # two keys never stored at first
    _check_reads(g, m, keys, rng)
    for step in ("writes", "flush", "remove_node", "set_neighbors", "set_predecessors"):
        if step == "writes":
            for _ in range(4):
                s, d, t = rng.choice(keys), rng.choice(keys), rng.randrange(2)
                g.add_edge(s, d, {"weight": 0.5}, type=t)
                m.add_edge(s, d, t, 0.5)
            s, d, t = rng.choice(sorted(m.edges))
            g.remove_edge(s, d, t)
            del m.edges[(s, d, t)]
            k = rng.choice(keys)
            g.add_node(k, {"name": "upserted"})
            m.nodes[k] = {"key": k, "name": "upserted", "age": None}
        elif step == "flush":
            g._flush()
        elif step == "remove_node":
            k = rng.choice(sorted(m.nodes))
            g.remove_node(k)
            m.remove_node(k)
        else:
            k, others = rng.choice(keys), rng.sample(keys, 3)
            out = step == "set_neighbors"
            (g.set_neighbors if out else g.set_predecessors)(k, others, type=1)
            m.set_adjacent(k, others, 1, out)
        _check_reads(g, m, keys, rng)
    # counts last: unless held, each flushes the pending ops and counts
    assert g.n_nodes == len(m.nodes)
    assert g.n_edges == len(m.edges)
    if price == 0 or cache_len is not None:
        assert not (g._nodes_complete or g._edges_complete)
    else:
        assert g._nodes_complete and g._edges_complete


def test_buy_happens_at_the_paying_miss(spark, resident, monkeypatch):
    # price ceil(N/3): misses 1-3 fetch one key each, the 4th (3 × price ≥ N)
    # fetches the whole table
    monkeypatch.setattr(graph_mod, "ROWS_PER_MISS", math.ceil(N_EDGES / 3))
    g = Graph(spark, nodes=resident[0], edges=resident[1])
    for i, src in enumerate(["k00", "k01", "k02"]):
        assert _jobs(spark, lambda: g.out_degree(src))[1] == 1
        assert not g._edges_complete and g._edge_misses == i + 1
    assert _jobs(spark, lambda: list(g.predecessors("k03")))[1] == 1  # the 4th miss buys
    assert g._edges_complete and g._block_rows == N_EDGES
    for read in (
        lambda: g.out_degree("k04"),
        lambda: g.has_edge("k05", "k06"),
        lambda: list(g.neighbors("absent")),
        lambda: list(g.predecessors("k07")),
        lambda: g.in_degree("absent"),
        lambda: g.n_edges,
    ):
        assert _jobs(spark, read)[1] == 0
    # the node table rents on its own count: 2 × 20 ≥ 24 first holds at
    # its 3rd miss
    assert not g._nodes_complete
    assert _jobs(spark, lambda: g.node("k00")["name"]) == ("name-k00", 1)
    assert _jobs(spark, lambda: g.has_node("zz")) == (False, 1)
    assert not g._nodes_complete and g._node_misses == 2
    assert _jobs(spark, lambda: g.node("k01")["name"]) == ("name-k01", 1)
    assert g._nodes_complete and g._node_misses == 2
    for read, want in (
        (lambda: g.node("k09")["age"], 9),
        (lambda: g.has_node("zz9"), False),
        (lambda: g.n_nodes, N_NODES),
    ):
        assert _jobs(spark, read) == (want, 0)
    # a bulk mutation ends the held state and restarts the rent
    g.add_edges(spark.createDataFrame([("k00", "new", 0)], "src string, dst string, type int"))
    assert not (g._nodes_complete or g._edges_complete)
    assert (g._node_misses, g._edge_misses) == (0, 0)


def test_unknown_row_count_never_buys(spark, monkeypatch):
    monkeypatch.setattr(graph_mod, "ROWS_PER_MISS", 10**9)
    nodes_rows, edges_rows = _rows(5)
    g = Graph(
        spark,
        nodes=spark.createDataFrame(nodes_rows, "key string, name string, age int"),
        edges=spark.createDataFrame(edges_rows, "src string, dst string, type int, weight double"),
    )
    for k in ("k00", "k01", "k02", "k03"):
        assert _jobs(spark, lambda: g.out_degree(k))[1] == 1
        assert _jobs(spark, lambda: g.has_node(k)) == (True, 1)
    assert not (g._nodes_complete or g._edges_complete)
    assert (g._node_misses, g._edge_misses) == (4, 4)


def test_table_over_cache_len_never_buys(spark, resident, monkeypatch):
    monkeypatch.setattr(graph_mod, "ROWS_PER_MISS", 10**9)
    g = Graph(spark, nodes=resident[0], edges=resident[1], cache_len=N_NODES - 1)
    for k in ("k00", "k01", "k02"):
        assert _jobs(spark, lambda: g.node(k)["name"]) == (f"name-{k}", 1)
    assert not g._nodes_complete and len(g._node_lru) == 3


def test_preload_is_two_jobs_then_none(spark, resident):
    g = Graph(spark, nodes=resident[0], edges=resident[1])
    assert _jobs(spark, g.preload)[1] == 2
    assert g._nodes_complete and g._edges_complete
    assert _jobs(spark, g.preload)[1] == 0
    for read in (
        lambda: g.node("k03"),
        lambda: g.has_node("absent"),
        lambda: list(g.neighbors("k03")),
        lambda: list(g.predecessors("k03")),
        lambda: g.n_nodes,
        lambda: g.n_edges,
    ):
        assert _jobs(spark, read)[1] == 0
