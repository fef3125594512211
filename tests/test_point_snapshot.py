"""Record snapshots shared across Graph handles: a whole fetch of a resident
table (the ski-rental buy or preload()) publishes its records in the session
registry (``state.snapshot``), and a later Graph over the same resident
tables holds them at its first miss with no job. Covers: a second Graph's
point reads run no job; the writes, flushes, remove_node and
set_neighbors/set_predecessors of one Graph are never seen by another,
either way round; a store whose ``cache_len`` is below the row count does
not adopt; an unpersisted table is not adopted and its snapshot is gone;
a snapshot is held only under the binary type it was fetched with; and
Graphs opened and written on several threads at once all answer like their
dict model."""

from __future__ import annotations

import random
import traceback

import pytest

from kinbaku_spark import graph as graph_mod
from kinbaku_spark import state
from kinbaku_spark.graph import Graph
from test_point_blocks import _jobs
from test_point_rental import N_NODES, Model, _rows, resident  # noqa: F401 (a fixture)


def _same(g, m, keys):
    """Every point read of ``g`` on ``keys`` and on every edge of ``m``
    answers like the dict model ``m``; the counts last."""
    for k in keys:
        assert g.has_node(k) == (k in m.nodes), k
        if k in m.nodes:
            assert g.node(k) == m.nodes[k], k
        assert list(g.neighbors(k)) == m.succ(k), k
        assert list(g.predecessors(k)) == m.pred(k), k
        assert g.out_degree(k) == sum(s == k for s, _, _ in m.edges), k
        assert g.in_degree(k) == sum(d == k for _, d, _ in m.edges), k
        assert not g.has_edge(k, "zz9")
    for (s, d, t), w in m.edges.items():
        assert g.edge(s, d, t) == {"src": s, "dst": d, "type": t, "weight": w}, (s, d, t)
    assert (g.n_nodes, g.n_edges) == (len(m.nodes), len(m.edges))


def _mutate(g, m, step, keys, rng):
    """Apply one kind of write to ``g`` and to its model ``m``."""
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


STEPS = ("writes", "flush", "remove_node", "set_neighbors", "set_predecessors")


@pytest.mark.parametrize("fill", ["buy", "preload"])
def test_second_graph_reads_run_no_job(spark, resident, monkeypatch, fill):
    # price 10**9: a store buys its table at its second miss
    monkeypatch.setattr(graph_mod, "ROWS_PER_MISS", 10**9)
    a = Graph(spark, nodes=resident[0], edges=resident[1])
    if fill == "preload":
        a.preload()
    else:
        for k in ("k00", "k01"):
            a.node(k)
            a.out_degree(k)
    assert a._node_recs.held and a._edge_recs.held
    m = Model(*_rows(5))
    s, d, t = sorted(m.edges)[0]
    b = Graph(spark, nodes=resident[0], edges=resident[1])
    for read, want in (
        (lambda: b.node("k03"), m.nodes["k03"]),
        (lambda: b.edge(s, d, t), {"src": s, "dst": d, "type": t, "weight": m.edges[(s, d, t)]}),
        (lambda: b.has_edge(s, d, t), True),
        (lambda: b.has_edge("k00", "zz"), False),
        (lambda: list(b.neighbors("k04")), m.succ("k04")),
        (lambda: b.out_degree("k05"), sum(s == "k05" for s, _, _ in m.edges)),
        (lambda: list(b.predecessors("k06")), m.pred("k06")),
        (lambda: b.has_node("zz"), False),
    ):
        assert _jobs(spark, read) == (want, 0)
    assert b._node_recs.held and b._edge_recs.held
    assert (b._node_recs.misses, b._edge_recs.misses) == (0, 0)
    assert _jobs(spark, b.preload)[1] == 0
    # a store bounded below the row count does not adopt, as it would not buy
    c = Graph(spark, nodes=resident[0], edges=resident[1], cache_len=N_NODES - 1)
    assert _jobs(spark, lambda: c.node("k03")) == (m.nodes["k03"], 1)
    assert _jobs(spark, lambda: c.out_degree("k03"))[1] == 1
    assert not (c._node_recs.held or c._edge_recs.held)


@pytest.mark.parametrize("writer", ["publisher", "adopter"])
def test_writes_of_one_graph_stay_invisible_to_another(spark, resident, writer):
    pub = Graph(spark, nodes=resident[0], edges=resident[1], preload=True)
    adopter = Graph(spark, nodes=resident[0], edges=resident[1])
    assert _jobs(spark, adopter.preload)[1] == 0
    w, r = (pub, adopter) if writer == "publisher" else (adopter, pub)
    base, mw = Model(*_rows(5)), Model(*_rows(5))
    keys = sorted(base.nodes) + ["zz0", "zz1"]
    rng = random.Random(3)
    for step in STEPS:
        _mutate(w, mw, step, keys, rng)
        _same(w, mw, keys)
        assert _jobs(spark, lambda: _same(r, base, keys))[1] == 0, step
    # a Graph opened after all of it adopts the unchanged snapshot
    fresh = Graph(spark, nodes=resident[0], edges=resident[1])
    assert _jobs(spark, lambda: _same(fresh, base, keys))[1] == 0


@pytest.mark.parametrize("release", ["unpersist", "empty_cache"])
def test_released_table_is_not_adopted(spark, resident, release):
    a = Graph(spark, nodes=resident[0], edges=resident[1], preload=True)
    rdds = {graph_mod._resident(t)[1] for t in resident}
    assert rdds <= {k[1] for k in state._SNAPSHOTS}
    if release == "unpersist":
        for t in resident:
            t.unpersist()
    else:
        a.empty_cache()
    b = Graph(spark, nodes=resident[0], edges=resident[1])
    assert _jobs(spark, lambda: b.node("k00"))[1] == 1
    assert _jobs(spark, lambda: b.out_degree("k00"))[1] == 1
    assert not (b._node_recs.held or b._edge_recs.held)
    # the misses looked the registry up, which dropped both snapshots
    assert not rdds & {k[1] for k in state._SNAPSHOTS}


def test_snapshot_is_held_only_under_its_binary_type(spark):
    """A snapshot fetched while ``collect()`` returned binary values as
    ``bytes`` is not held once the session returns ``bytearray``: the
    store fetches per key, as ``collect()`` would return it."""
    conf = "spark.sql.execution.pyspark.binaryAsBytes"
    before = spark.conf.get(conf, "true")
    nodes = spark.createDataFrame([("a", bytearray(b"\x01"))], "key string, bin binary").persist()
    edges = spark.createDataFrame([("a", "a", 0)], "src string, dst string, type int").persist()
    assert nodes.count() == edges.count() == 1
    try:
        spark.conf.set(conf, "true")
        Graph(spark, nodes=nodes, edges=edges, preload=True)
        for flag, jobs in (("false", 1), ("true", 0)):
            spark.conf.set(conf, flag)
            g = Graph(spark, nodes=nodes, edges=edges)
            want = type(nodes.collect()[0]["bin"])
            assert _jobs(spark, lambda: type(g.node("a")["bin"])) == (want, jobs), flag
    finally:
        spark.conf.set(conf, before)
        nodes.unpersist()
        edges.unpersist()


def test_concurrent_graphs_match_their_models(spark, resident, monkeypatch, run_threads):
    """Six threads at once (more than the cores of a 4-core host) each open
    Graphs over the same resident tables (buying or adopting), read, write
    and flush: every Graph answers like its own model, whatever the others
    wrote."""
    monkeypatch.setattr(graph_mod, "ROWS_PER_MISS", 10**9)
    errors = []

    def session(i):
        try:
            rng = random.Random(i)
            for _ in range(2):
                g, m = Graph(spark, nodes=resident[0], edges=resident[1]), Model(*_rows(5))
                keys = sorted(m.nodes) + ["zz0"]
                _same(g, m, keys)
                for step in ("writes", "flush", "set_neighbors"):
                    _mutate(g, m, step, keys, rng)
                    _same(g, m, keys)
        except Exception:  # noqa: BLE001 - a thread's failure is reported below
            errors.append((i, traceback.format_exc()))

    run_threads(6, session)
    assert errors == []
