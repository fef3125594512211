"""Point-read KV front (VERDICT r02 #6): one pair of record caches — the
node LRU and the per-source out-edge blocks — serves both Graph modes.
By default they read through, one job per miss; preload() fills them and
marks them complete, so every point read answers at driver-dict speed
with no job. Either way the caches stay exact under every point mutation
(flushed ops, remove_node and set_neighbors are applied to the cached
records), pending ops are laid over them at read time, and bulk mutations
drop them. Reference parity: preload=True loads all node attributes at
open (reference graph.py:31,59,304-306); the LRU mirrors its
cache_pos_to_node (graph.py:100-106)."""

from __future__ import annotations

import time

import pytest

from kinbaku_spark.exceptions import EdgeNotFound, NodeNotFound
from kinbaku_spark.graph import Graph
from test_point_blocks import _jobs


@pytest.fixture
def g(spark):
    nodes = spark.createDataFrame(
        [("a", "Alice", 30), ("b", "Bob", 40), ("c", "Cara", 50)],
        "key string, name string, age int",
    )
    edges = spark.createDataFrame(
        [("a", "b", 0, 1.5), ("b", "c", 0, 2.5)],
        "src string, dst string, type int, weight double",
    )
    return Graph(spark, nodes=nodes, edges=edges)


def test_preload_point_reads(g):
    g.preload()
    assert g.node("a")["name"] == "Alice"
    assert g.edge("a", "b")["weight"] == 1.5
    assert g.has_node("b") and g.has_edge("b", "c")
    with pytest.raises(NodeNotFound):
        g.node("zzz")
    with pytest.raises(EdgeNotFound):
        g.edge("a", "c")


def test_preload_is_driver_speed(g):
    g.preload()
    t0 = time.monotonic()
    for _ in range(200):
        g.node("a")
        g.edge("a", "b")
        g.has_node("b")
        g.has_edge("b", "c")
    elapsed = time.monotonic() - t0
    # 800 point reads: distributed scans would take minutes (~300 ms each);
    # dict answers take microseconds. 1 s is three orders of slack.
    assert elapsed < 1.0, f"preload point reads took {elapsed:.2f}s"


def test_preload_coherent_under_point_mutations(g):
    g.preload()
    # upsert replaces the whole record
    g.add_node("a", {"name": "Ann"})
    assert g.node("a")["name"] == "Ann"
    assert g.node("a")["age"] is None
    # edge upsert + endpoint auto-create (existing attrs never clobbered)
    g.add_edge("b", "d", {"weight": 9.0})
    assert g.node("b")["name"] == "Bob"  # ensure kept stored attrs
    assert g.node("d")["name"] is None  # auto-created blank
    assert g.edge("b", "d")["weight"] == 9.0
    # delete
    g.remove_edge("a", "b")
    with pytest.raises(EdgeNotFound):
        g.edge("a", "b")
    # cascade removes incident edge records
    g.remove_node("c")
    with pytest.raises(NodeNotFound):
        g.node("c")
    with pytest.raises(EdgeNotFound):
        g.edge("b", "c")
    # ...and the state survives a flush (records were maintained eagerly)
    g._flush()
    assert g.node("a")["name"] == "Ann"
    assert g.edge("b", "d")["weight"] == 9.0
    with pytest.raises(EdgeNotFound):
        g.edge("a", "b")


def test_preload_coherent_under_set_neighbors(g):
    g.preload()
    g.set_neighbors("a", ["b", "d"])
    # surviving edge keeps attrs; removed target is gone; new one is blank
    assert g.edge("a", "b")["weight"] == 1.5
    assert g.edge("a", "d")["weight"] is None
    assert g.node("d")["name"] is None
    g.set_neighbors("a", ["d"])
    with pytest.raises(EdgeNotFound):
        g.edge("a", "b")


def test_bulk_mutations_invalidate_preload(g, spark):
    g.preload()
    assert g._node_recs.held and g._edge_recs.held and len(g._node_recs.entries) == 3
    g.add_edges(
        spark.createDataFrame(
            [("c", "e", 0, 3.5)], "src string, dst string, type int, weight double"
        )
    )
    # bulk paths are set algebra on DataFrames — the cached records cannot
    # be maintained per-row, so they drop and point reads read through
    assert not (g._node_recs.held or g._edge_recs.held)
    assert not g._node_recs.entries and not g._edge_recs.entries
    assert g.edge("c", "e")["weight"] == 3.5
    assert g.node("e")["name"] is None
    # preload can be rebuilt after the bulk load
    g.preload()
    assert g.edge("c", "e")["weight"] == 3.5


def test_lru_read_through_and_invalidation(g):
    # no preload: first read scans, second hits the LRU
    assert g.node("a")["name"] == "Alice"
    assert "a" in g._node_recs.entries
    t0 = time.monotonic()
    for _ in range(100):
        g.node("a")
    assert time.monotonic() - t0 < 1.0
    # mutation invalidates the cached record
    g.add_node("a", {"name": "Ann"})
    g._flush()
    assert g.node("a")["name"] == "Ann"
    assert g.edge("a", "b")["weight"] == 1.5
    # the read kept a's out-edge block: the second read is a cache hit
    assert ("b", 0) in g._edge_recs.entries["a"]
    stored, g._edges = g._edges, None  # a stored-table read would raise
    assert g.edge("a", "b")["weight"] == 1.5
    g._edges = stored
    g.remove_edge("a", "b")
    g._flush()
    with pytest.raises(EdgeNotFound):
        g.edge("a", "b")


def test_lru_capacity_bound(spark):
    nodes = spark.createDataFrame(
        [(f"n{i}", i) for i in range(6)], "key string, age int"
    )
    g = Graph(spark, nodes=nodes, cache_len=3)
    for i in range(6):
        assert g.node(f"n{i}")["age"] == i
    assert len(g._node_recs.entries) == 3  # oldest evicted
    assert "n5" in g._node_recs.entries and "n0" not in g._node_recs.entries


def test_preload_adjacency_point_reads(g):
    g.preload()
    assert list(g.neighbors("a")) == ["b"]
    assert list(g.predecessors("c")) == ["b"]
    t0 = time.monotonic()
    for _ in range(200):
        list(g.neighbors("a"))
        list(g.predecessors("c"))
    assert time.monotonic() - t0 < 1.0
    # point mutations keep the caches complete; pending ops lay over them
    g.add_edge("a", "c")
    assert g._node_recs.held and g._edge_recs.held
    assert list(g.neighbors("a")) == ["b", "c"]
    # preload again is a no-op on complete caches
    g.preload()
    assert list(g.neighbors("a")) == ["b", "c"]
    g.set_neighbors("a", ["c"])
    assert g._node_recs.held and g._edge_recs.held
    assert list(g.neighbors("a")) == ["c"]


def test_preload_point_reads_run_no_job_after_mutations(spark, g):
    g.preload()
    g.add_edge("a", "d", {"weight": 4.5})
    g.add_node("b", {"name": "Bea"})
    g._flush()
    g.add_edge("c", "a")
    g.remove_edge("b", "c")
    g.remove_node("c")  # flushes the ops above, then cascades
    g.set_neighbors("d", ["a", "e"])
    g.set_predecessors("b", ["e"])
    g.add_edge("e", "b", {"weight": 0.5})  # left pending
    reads = [
        (lambda: g.node("a")["name"], "Alice"),
        (lambda: g.node("b")["name"], "Bea"),
        (lambda: g.node("e")["name"], None),
        (lambda: g.has_node("c"), False),
        (lambda: g.edge("a", "d")["weight"], 4.5),
        (lambda: g.edge("e", "b")["weight"], 0.5),
        (lambda: g.has_edge("a", "b"), False),
        (lambda: g.has_edge("d", "a"), True),
        (lambda: list(g.neighbors("a")), ["d"]),
        (lambda: list(g.neighbors("d")), ["a", "e"]),
        (lambda: list(g.predecessors("a")), ["d"]),
        (lambda: list(g.predecessors("b")), ["e"]),
        (lambda: g.out_degree("e"), 1),
        (lambda: g.in_degree("e"), 1),
        (lambda: g.in_degree("c"), 0),
        (lambda: g.n_nodes, 4),
        (lambda: g.n_edges, 4),
    ]
    for read, want in reads:
        assert _jobs(spark, read) == (want, 0)
    with pytest.raises(NodeNotFound):
        _jobs(spark, lambda: g.node("c"))
    # the stored tables agree with the caches
    assert set(g.edges) == {("a", "d"), ("d", "a"), ("d", "e"), ("e", "b")}
    assert sorted(g.nodes) == ["a", "b", "d", "e"]


def test_in_edge_reads_lay_pending_ops_over_stored_edges(spark, g):
    assert list(g.predecessors("b")) == ["a"] and g.in_degree("c") == 1
    g.add_edge("c", "b")
    g.add_edge("a", "c", type=1)
    g.remove_edge("a", "b")
    pending = dict(g._edge_ops)
    assert _jobs(spark, lambda: list(g.predecessors("b"))) == (["c"], 1)
    assert _jobs(spark, lambda: g.in_degree("b")) == (1, 1)
    assert _jobs(spark, lambda: g.in_degree("c")) == (2, 1)
    assert _jobs(spark, lambda: list(g.predecessors("c"))) == (["a", "b"], 1)
    assert g._edge_ops == pending and g._flushes == 0
