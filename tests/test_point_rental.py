"""The hold rule on the default point-read path: at its first miss each
store (nodes, edges) holds its table whole if the table is resident, that
is, its optimized plan's root is one persisted, materialized cached table
of at most ``cache_len`` rows; any other table is read per key. Covers
answers against a dict model for a held table, a table that is not
resident and one over ``cache_len``, through pending writes, flushes,
remove_node and set_neighbors/set_predecessors; and pins the job counts: a
resident table's first miss is one job and later misses none, an
unpersisted table and a createDataFrame table stay per key, a table over
``cache_len`` stays per key, and preload() is two jobs, then none."""

from __future__ import annotations

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
    (n_nodes, node_rdd), (n_edges, edge_rdd) = map(graph_mod._resident, resident)
    assert (n_nodes, n_edges) == (N_NODES, N_EDGES)
    assert isinstance(node_rdd, int) and isinstance(edge_rdd, int) and node_rdd != edge_rdd
    assert graph_mod._resident(spark.createDataFrame([("a",)], "key string")) is None
    # an anti-join of a resident table reads its cached buffers, but it is
    # no resident table itself
    anti = resident[0].join(spark.createDataFrame([("k00",)], "key string"), "key", "left_anti")
    assert graph_mod._resident(anti) is None


def test_unpersisted_table_is_not_resident(spark):
    """After ``unpersist()`` a Dataset's plan still reads the released
    cached table, and its statistics still carry the row count; the table
    is no longer resident, so it is read per key and never held."""
    nodes_rows, edges_rows = _rows(5)
    nodes = spark.createDataFrame(nodes_rows, "key string, name string, age int").persist()
    edges = spark.createDataFrame(edges_rows, "src string, dst string, type int, weight double").persist()
    assert nodes.count() == N_NODES and edges.count() == N_EDGES
    assert graph_mod._resident(nodes)[0] == N_NODES  # the statistics are read before the release
    nodes.unpersist()
    edges.unpersist()
    assert graph_mod._resident(nodes) is graph_mod._resident(edges) is None
    g = Graph(spark, nodes=nodes, edges=edges)
    m = Model(nodes_rows, edges_rows)
    for k in ("k00", "k01", "k02", "zz"):
        assert _jobs(spark, lambda: g.has_node(k)) == (k in m.nodes, 1)
        assert _jobs(spark, lambda: g.out_degree(k)) == (sum(s == k for s, _, _ in m.edges), 1)
    assert not (g._node_recs.held or g._edge_recs.held)


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


def _created(spark):
    """The tables of ``_rows(5)`` as createDataFrame tables: not resident."""
    nodes_rows, edges_rows = _rows(5)
    return (
        spark.createDataFrame(nodes_rows, "key string, name string, age int"),
        spark.createDataFrame(edges_rows, "src string, dst string, type int, weight double"),
    )


@pytest.mark.parametrize("case", ["default", "not-resident", "small-cache"])
def test_answers_match_dict_model(spark, resident, case):
    nodes, edges = _created(spark) if case == "not-resident" else resident
    kw = {"cache_len": 5} if case == "small-cache" else {}
    g = Graph(spark, nodes=nodes, edges=edges, **kw)
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
    held = case == "default"
    assert (g._node_recs.held, g._edge_recs.held) == (held, held)


def test_resident_table_is_held_at_its_first_miss(spark, resident):
    g = Graph(spark, nodes=resident[0], edges=resident[1])
    assert _jobs(spark, lambda: g.out_degree("k00"))[1] == 1  # the whole edge table
    assert g._edge_recs.held and sum(map(len, g._edge_recs.entries.values())) == N_EDGES
    for read in (
        lambda: g.out_degree("k04"),
        lambda: g.has_edge("k05", "k06"),
        lambda: list(g.neighbors("absent")),
        lambda: list(g.predecessors("k07")),
        lambda: g.in_degree("absent"),
        lambda: g.n_edges,
    ):
        assert _jobs(spark, read)[1] == 0
    # the node table is held at its own first miss
    assert not g._node_recs.held
    assert _jobs(spark, lambda: g.node("k00")["name"]) == ("name-k00", 1)
    assert g._node_recs.held
    for read, want in (
        (lambda: g.node("k09")["age"], 9),
        (lambda: g.has_node("zz9"), False),
        (lambda: g.n_nodes, N_NODES),
    ):
        assert _jobs(spark, read) == (want, 0)
    # a bulk mutation ends the held state, and the rewritten tables are
    # not resident: they are read per key (a join plan: several jobs)
    g.add_edges(spark.createDataFrame([("k00", "new", 0)], "src string, dst string, type int"))
    assert not (g._node_recs.held or g._edge_recs.held)
    for read in (lambda: g.has_node("new"), lambda: g.has_node("new2"), lambda: g.out_degree("k00")):
        assert _jobs(spark, read)[1] > 0
    assert not (g._node_recs.held or g._edge_recs.held)


def test_unknown_row_count_never_buys(spark):
    """A createDataFrame table is not resident: every miss fetches one key
    and the table is never held."""
    g = Graph(spark, *_created(spark))
    for k in ("k00", "k01", "k02", "k03"):
        assert _jobs(spark, lambda: g.out_degree(k))[1] == 1
        assert _jobs(spark, lambda: g.has_node(k)) == (True, 1)
    assert not (g._node_recs.held or g._edge_recs.held)


def test_table_over_cache_len_never_buys(spark, resident):
    g = Graph(spark, nodes=resident[0], edges=resident[1], cache_len=N_NODES - 1)
    for k in ("k00", "k01", "k02"):
        assert _jobs(spark, lambda: g.node(k)["name"]) == (f"name-{k}", 1)
    assert not g._node_recs.held and len(g._node_recs.entries) == 3


def test_preload_is_two_jobs_then_none(spark, resident):
    g = Graph(spark, nodes=resident[0], edges=resident[1])
    assert _jobs(spark, g.preload)[1] == 2
    assert g._node_recs.held and g._edge_recs.held
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
    # tables that are not resident are fetched whole for the one Graph
    # that preloads them: a second Graph pays again
    created = _created(spark)
    for _ in range(2):
        c = Graph(spark, *created)
        assert _jobs(spark, c.preload)[1] == 2
        assert _jobs(spark, lambda: (c.n_nodes, c.n_edges)) == ((N_NODES, N_EDGES), 0)
