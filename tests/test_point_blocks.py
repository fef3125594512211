"""Per-source out-edge blocks on the default (no preload) path: edge,
has_edge, neighbors and out_degree answer from one cached block of the
source's stored out-edges (the reference's per-node out-edge tree,
graph.py:472-492) with the source's pending edge ops laid over it, so a
read never flushes. Covers read-your-writes, the job count of hits and
misses, blocks kept warm and exact across flushes and every other
rewrite, the cache_len row bound, and the plan size across repeated
flushes and set_neighbors/set_predecessors calls."""

from __future__ import annotations

import datetime
import decimal
import inspect
import itertools
import pathlib
import re
import time

import pytest
from pyspark.sql import Row

from kinbaku_spark import graph as graph_mod
from kinbaku_spark.exceptions import EdgeNotFound, NodeNotFound
from kinbaku_spark.graph import Graph

_group_ids = itertools.count()


def _jobs(spark, fn):
    """Run ``fn`` and return ``(result, number of Spark jobs it launched)``.
    Job starts reach the status store asynchronously but in order, so a
    sentinel job launched afterwards marks when the count is complete."""
    sc = spark.sparkContext
    n = next(_group_ids)
    group, sentinel = f"blocks-{n}", f"blocks-{n}-end"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(sentinel, sentinel)
        sc.parallelize([0], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel) and time.monotonic() < deadline:
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


@pytest.fixture
def tables(spark, tmp_path):
    """Stored (parquet) tables, so every stored-table read is a real job."""
    nodes = spark.createDataFrame(
        [("a", "Alice"), ("b", "Bob"), ("c", "Cara"), ("d", "Dan"), ("hub", "Hub")]
        + [(f"x{i}", None) for i in range(10)],
        "key string, name string",
    )
    edges = spark.createDataFrame(
        [
            ("a", "b", 0, 1.0),
            ("a", "b", 1, 2.0),  # parallel edge of another type
            ("a", "a", 0, 3.0),  # self-loop
            ("a", "c", 0, 4.0),
            ("b", "c", 0, 5.0),
            ("c", "a", 0, 6.0),
        ]
        + [("hub", f"x{i}", 0, float(i)) for i in range(10)],
        "src string, dst string, type int, weight double",
    )
    nodes.write.parquet(str(tmp_path / "nodes"))
    edges.write.parquet(str(tmp_path / "edges"))
    return spark.read.parquet(str(tmp_path / "nodes")), spark.read.parquet(str(tmp_path / "edges"))


@pytest.fixture
def g(spark, tables):
    return Graph(spark, nodes=tables[0], edges=tables[1])


def test_read_your_writes_without_flush(g):
    assert list(g.neighbors("a")) == ["a", "b", "c"]  # block cached first
    g.add_edge("a", "d", {"weight": 7.0})
    g.remove_edge("a", "c")
    g.add_edge("b", "d")  # a source with no cached block
    assert list(g.neighbors("a")) == ["a", "b", "d"]
    assert g.out_degree("a") == 4
    assert g.edge("a", "d")["weight"] == 7.0
    assert g.has_edge("a", "d") and not g.has_edge("a", "c")
    with pytest.raises(EdgeNotFound):
        g.edge("a", "c")
    assert list(g.neighbors("b")) == ["c", "d"]
    assert g.out_degree("b") == 2
    assert g._flushes == 0
    assert set(g._edge_ops) == {("a", "d", 0), ("a", "c", 0), ("b", "d", 0)}
    # the stored block itself is untouched by pending writes
    assert ("c", 0) in g._edge_recs.entries["a"] and ("d", 0) not in g._edge_recs.entries["a"]


def test_one_job_per_miss_zero_per_hit(spark, g):
    assert _jobs(spark, lambda: g.edge("a", "b")) == (
        {"src": "a", "dst": "b", "type": 0, "weight": 1.0},
        1,
    )
    for read in (
        lambda: g.edge("a", "b", 1),
        lambda: g.has_edge("a", "zz"),
        lambda: g.out_degree("a"),
        lambda: list(g.neighbors("a")),
        lambda: g.remove_edge("a", "c"),
    ):
        assert _jobs(spark, read)[1] == 0
    # an absent source is one job, then a cached empty block
    assert _jobs(spark, lambda: g.has_edge("nobody", "a")) == (False, 1)
    assert _jobs(spark, lambda: g.out_degree("nobody")) == (0, 0)
    # node reads: one job per miss, found or not; zero per hit
    assert _jobs(spark, lambda: g.node("b")["name"]) == ("Bob", 1)
    assert _jobs(spark, lambda: g.node("b")["name"]) == ("Bob", 0)
    assert _jobs(spark, lambda: g.has_node("b")) == (True, 0)
    assert _jobs(spark, lambda: g.has_node("nope")) == (False, 1)
    with pytest.raises(NodeNotFound):
        _jobs(spark, lambda: g.node("nope"))
    assert _jobs(spark, lambda: g.has_node("c")) == (True, 1)
    assert _jobs(spark, lambda: g.node("c")["name"]) == ("Cara", 0)


def test_flush_keeps_touched_blocks_warm(spark, g):
    assert g.out_degree("a") == 4 and g.out_degree("b") == 1
    g.add_edge("a", "d", {"weight": 8.0})
    g.remove_edge("a", "c")
    g._flush()
    # the flushed ops were applied to a's block, which stays cached
    assert set(g._edge_recs.entries["a"]) == {("a", 0), ("b", 0), ("b", 1), ("d", 0)}
    assert "b" in g._edge_recs.entries
    assert _jobs(spark, lambda: list(g.neighbors("a"))) == (["a", "b", "d"], 0)
    assert _jobs(spark, lambda: g.edge("a", "d")["weight"]) == (8.0, 0)
    assert _jobs(spark, lambda: g.has_edge("a", "c")) == (False, 0)
    assert g._edge_recs.size == sum(max(1, len(b)) for b in g._edge_recs.entries.values())


def test_remove_node_cascade_reaches_other_blocks(spark, g):
    assert g.has_edge("a", "c") and g.has_edge("b", "c") and g.out_degree("c") == 1
    g.remove_node("c")
    # the cascade is applied to every cached block, which stay cached
    assert set(g._edge_recs.entries) == {"a", "b", "c"}
    assert g._edge_recs.size == sum(max(1, len(b)) for b in g._edge_recs.entries.values())
    for read, want in (
        (lambda: list(g.neighbors("a")), ["a", "b"]),
        (lambda: g.has_edge("b", "c"), False),
        (lambda: g.out_degree("b"), 0),
        (lambda: g.out_degree("c"), 0),
    ):
        assert _jobs(spark, read) == (want, 0)
    with pytest.raises(EdgeNotFound):
        g.edge("a", "c")


def test_set_adjacent_keeps_blocks_coherent(spark, g):
    assert g.out_degree("a") == 4 and g.out_degree("b") == 1
    g.set_neighbors("a", ["d"])  # type 0 only: a->b of type 1 stays
    assert _jobs(spark, lambda: list(g.neighbors("a"))) == (["b", "d"], 0)
    assert g.out_degree("a") == 2
    assert g.edge("a", "b", 1)["weight"] == 2.0
    g.set_predecessors("c", ["a"])  # drops b->c from b's cached block
    assert _jobs(spark, lambda: g.has_edge("b", "c")) == (False, 0)
    assert g.has_edge("a", "c") and g.edge("a", "c")["weight"] is None
    assert _jobs(spark, lambda: g.out_degree("b")) == (0, 0)
    assert list(g.predecessors("c")) == ["a"]
    assert set(g.edges) == {("a", "b"), ("a", "c"), ("a", "d"), ("c", "a")} | {
        ("hub", f"x{i}") for i in range(10)
    }


def test_bulk_mutations_keep_blocks_coherent(spark, g):
    assert g.out_degree("a") == 4
    g.add_edges(
        spark.createDataFrame(
            [("a", "e", 0, 9.0)], "src string, dst string, type int, weight double"
        )
    )
    assert list(g.neighbors("a")) == ["a", "b", "c", "e"]
    assert g.edge("a", "e")["weight"] == 9.0
    g.remove_edges(spark.createDataFrame([("a", "b", 1)], "src string, dst string, type int"))
    assert g.out_degree("a") == 4
    assert not g.has_edge("a", "b", 1) and g.has_edge("a", "b", 0)


def test_parallel_types_and_self_loops_count(g):
    assert g.out_degree("a") == 4
    assert list(g.neighbors("a")) == ["a", "b", "c"]
    g.add_edge("a", "b", type=2)
    g.add_edge("a", "a", type=3)
    assert g.out_degree("a") == 6
    assert list(g.neighbors("a")) == ["a", "b", "c"]
    g.remove_edge("a", "b", 0)
    assert g.out_degree("a") == 5
    assert list(g.neighbors("a")) == ["a", "b", "c"]


@pytest.mark.parametrize("preload", [True, False], ids=["preload", "default"])
def test_common_neighbors_match_networkx_with_pending_writes(spark, tables, preload):
    """common_neighbors/common_predecessors answer through the point reads:
    NetworkX parity with pending writes laid over the stored edges, no
    pending op flushed, and no Spark job on a preloaded graph."""
    nx = pytest.importorskip("networkx")
    g = Graph(spark, nodes=tables[0], edges=tables[1], preload=preload)
    nxg = nx.DiGraph((r.src, r.dst) for r in tables[1].collect())
    for u, v in [("a", "d"), ("b", "a"), ("d", "c"), ("hub", "c"), ("x0", "b")]:
        g.add_edge(u, v)
        nxg.add_edge(u, v)
    g.remove_edge("a", "c")
    nxg.remove_edge("a", "c")
    pending = (dict(g._node_ops), dict(g._edge_ops))
    keys = ["a", "b", "c", "d", "hub", "x0", "nobody"]

    def both():
        return {
            (u, v): (g.common_neighbors(u, v), g.common_predecessors(u, v))
            for u in keys
            for v in keys
        }

    got, jobs = _jobs(spark, both)
    succ = {k: set(nxg.successors(k)) if k in nxg else set() for k in keys}
    pred = {k: set(nxg.predecessors(k)) if k in nxg else set() for k in keys}
    assert got == {
        (u, v): (succ[u] & succ[v], pred[u] & pred[v]) for u in keys for v in keys
    }
    assert any(n for n, _ in got.values()) and any(p for _, p in got.values())
    if preload:
        assert jobs == 0
    assert g._flushes == 0
    assert (g._node_ops, g._edge_ops) == pending


def test_block_rows_bounded_by_cache_len(spark, tables):
    g = Graph(spark, nodes=tables[0], edges=tables[1], cache_len=5)
    assert g.out_degree("a") == 4
    assert g.out_degree("b") == 1
    assert list(g._edge_recs.entries) == ["a", "b"] and g._edge_recs.size == 5
    assert g.out_degree("c") == 1  # evicts the least recently used block
    assert list(g._edge_recs.entries) == ["b", "c"] and g._edge_recs.size == 2
    # a hub over the cap is answered but not kept
    assert _jobs(spark, lambda: g.out_degree("hub")) == (10, 1)
    assert "hub" not in g._edge_recs.entries and g._edge_recs.size <= 5
    assert _jobs(spark, lambda: g.has_edge("hub", "x3")) == (True, 1)
    assert g._edge_recs.size <= 5


def test_one_edge_record_cache(spark):
    """One record store type for both tables: a Graph holds exactly two
    ``_Records`` and, after preload and point mutations, no other record or
    key structure; the per-table twins of the store's state and methods are
    gone."""
    src = inspect.getsource(graph_mod)
    assert "_edge_lru" not in src
    stores = sorted(k for k, v in vars(Graph(spark)).items() if isinstance(v, graph_mod._Records))
    assert stores == ["_edge_recs", "_node_recs"]
    g = Graph(spark, preload=True)
    g.add_edge("a", "b")
    g.remove_node("a")
    g.add_edge("b", "c")
    # (an OrderedDict is a dict)
    held = {k for k, v in vars(g).items() if isinstance(v, (dict, set, frozenset))}
    assert held == {"_node_ops", "_edge_ops"}
    assert g._node_recs.held and g._edge_recs.held
    twins = (
        "_hold_nodes", "_hold_edges", "_nodes_held", "_edges_held", "_pays",
        "_node_cap", "_edge_cap", "_keep_block", "_edit_blocks", "_lru_get",
        "_lru_put", "_nodes_complete", "_edges_complete", "_node_misses",
        "_edge_misses", "_block_rows", "_blocks", "_node_lru", "_cache_len",
        "_node_row", "_edge_row", "_blank_node_row",
        "ROWS_PER_MISS",
    )
    assert [n for n in twins if re.search(rf"\b{n}\b", src)] == []
    assert not hasattr(g._node_recs, "misses") and not hasattr(g._edge_recs, "misses")


def test_preload_only_structures_are_gone():
    """One point-read cache for both modes: the preload-only driver
    structures and the query layer's key-index path do not come back."""
    root = pathlib.Path(graph_mod.__file__).parent
    names = (
        "_node_keys", "_edge_keys", "_node_rec", "_edge_rec", "_adj", "_pred",
        "_ensure_index", "_invalidate_adjacency",
    )
    src = (root / "graph.py").read_text()
    assert [n for n in names if re.search(rf"\b{n}\b", src)] == []
    queries = "".join(p.read_text() for p in (root / "queries").glob("*.py"))
    assert "with_index" not in queries and "index_keys" not in queries


def test_rewrites_add_one_partition_per_union(spark, tables):
    g = Graph(spark, nodes=tables[0], edges=tables[1])

    def parts():
        return g._nodes.rdd.getNumPartitions(), g._edges.rdd.getNumPartitions()

    nodes0, edges0 = parts()
    for i in range(3):
        g.add_edge("a", f"p{i}")  # one new node row, one new edge row
        g._flush()
    assert parts() == (nodes0 + 3, edges0 + 3)


def test_rewrites_leave_no_python_rdd(spark, tables):
    # a rewrite's rows are a local relation (Graph._rows_df), so later scans
    # of the stored tables run JVM tasks only, not Python workers
    g = Graph(spark, nodes=tables[0], edges=tables[1])
    g.add_edge("a", "p0")
    g._flush()
    for df in (g._nodes, g._edges):
        assert "PythonRDD" not in df.rdd.toDebugString().decode()


def _leaves(df) -> int:
    return df._jdf.queryExecution().logical().collectLeaves().size()


def test_repeated_flushes_grow_node_plan_linearly(spark, tables):
    g = Graph(spark, nodes=tables[0], edges=tables[1])
    leaves = []
    for i in range(7):  # the 8th flush would checkpoint
        g.add_edge("a", f"new{i}")  # "ensure" rows for both endpoints
        g.add_node(f"up{i}", {"name": f"U{i}"})  # an upsert
        g._flush()
        leaves.append(_leaves(g._nodes))
    steps = {b - a for a, b in zip(leaves, leaves[1:])}
    assert len(steps) == 1, leaves  # the same growth per flush
    assert leaves[-1] <= leaves[0] + 6 * 4, leaves
    # insert-if-absent still holds: stored attrs kept, new keys blank
    assert g.node("a")["name"] == "Alice"
    assert g.node("new3")["name"] is None
    assert g.node("up5")["name"] == "U5"
    assert g.nodes_df.count() == 15 + 14


def test_repeated_set_adjacent_grows_edge_plan_linearly(spark, tables, monkeypatch):
    # each call flushes and rewrites the edge table: keep the periodic
    # checkpoint out of the measured window
    monkeypatch.setattr(graph_mod, "CHECKPOINT_EVERY_FLUSHES", 10**6)
    g = Graph(spark, nodes=tables[0], edges=tables[1])
    leaves = []
    for i in range(7):
        if i % 2 == 0:
            g.set_neighbors("a", ["b", "c", f"new{i}"])
        else:
            g.set_predecessors("c", ["a", f"new{i}"])
        leaves.append(_leaves(g._edges))
    steps = {b - a for a, b in zip(leaves, leaves[1:])}
    assert len(steps) == 1, leaves  # the same growth per call
    assert leaves[-1] <= leaves[0] + 6 * 2, leaves
    # the set differences held: surviving attrs kept, new targets blank
    assert list(g.neighbors("a")) == ["b", "c", "new6"]
    assert g.edge("a", "b", 1)["weight"] == 2.0
    assert g.edge("a", "c")["weight"] == 4.0
    assert list(g.predecessors("c")) == ["a", "new5"]
    assert g.edge("new5", "c")["weight"] is None


def test_repeated_add_edges_grows_node_plan_linearly(spark, tables):
    g = Graph(spark, nodes=tables[0], edges=tables[1])
    node_leaves, edge_leaves = [], []
    for i in range(7):
        g.add_edges(
            spark.createDataFrame(
                [("a", f"bulk{i}", 0, float(i)), (f"bulk{i}", "hub", 0, None)],
                "src string, dst string, type int, weight double",
            )
        )
        node_leaves.append(_leaves(g._nodes))
        edge_leaves.append(_leaves(g._edges))
    for leaves in (node_leaves, edge_leaves):
        steps = {b - a for a, b in zip(leaves, leaves[1:])}
        assert len(steps) == 1, leaves  # the same growth per call
        assert leaves[-1] <= leaves[0] + 6 * 2, leaves
    # stored attrs kept, new endpoints blank, every key once
    stored = tables[0].collect()
    names = [tuple(r) for r in g.nodes_df.collect()]
    assert sorted(names) == sorted([tuple(r) for r in stored] + [(f"bulk{i}", None) for i in range(7)])
    assert g.edges_df.filter("dst = 'hub' or src = 'a'").count() == 4 + 14


def test_absent_node_is_remembered_until_inserted(spark, g):
    assert _jobs(spark, lambda: g.has_node("zz")) == (False, 1)
    assert _jobs(spark, lambda: g.has_node("zz")) == (False, 0)
    with pytest.raises(NodeNotFound):
        _jobs(spark, lambda: g.node("zz"))
    assert "zz" in g._node_recs.entries and g._node_recs.entries["zz"] is None
    g.add_node("zz", {"name": "Zed"})
    assert _jobs(spark, lambda: g.node("zz")["name"]) == ("Zed", 0)  # pending op
    g._flush()
    # the flushed insert replaced the absent entry
    assert _jobs(spark, lambda: g.node("zz")["name"]) == ("Zed", 0)
    assert _jobs(spark, lambda: g.has_node("zz")) == (True, 0)
    # an auto-created endpoint replaces it too
    assert not g.has_node("yy")
    g.add_edge("a", "yy")
    g._flush()
    assert _jobs(spark, lambda: g.node("yy")) == ({"key": "yy", "name": None}, 0)


def test_absent_node_entries_count_against_cache_len(spark, tables):
    g = Graph(spark, nodes=tables[0], edges=tables[1], cache_len=2)
    for k in ("zz0", "zz1", "a"):
        g.has_node(k)
    assert list(g._node_recs.entries) == ["zz1", "a"]
    assert _jobs(spark, lambda: g.has_node("zz0")) == (False, 1)


# every column type a record may carry, NULLs included; the stores must hand
# back what collect() does: a nested struct as a Row, a map as a dict, a
# binary value as collect() returns it
_ATTRS = (
    "s string, i int, l bigint, d double, b boolean, dt date, ts timestamp,"
    " dec decimal(12,2), bin binary, arr array<string>, m map<string,int>,"
    " st struct<x:int, y:string, z:struct<w:double>>"
)
_FULL = (
    "text",
    7,
    2**40,
    1.25,
    True,
    datetime.date(2024, 2, 29),
    datetime.datetime(2024, 3, 1, 12, 30, 45, 123456),
    decimal.Decimal("1234.50"),
    bytearray(b"\x00\xffbin"),
    ["p", None, "q"],
    {"k": 1, "none": None},
    (3, "y", (0.5,)),
)
_NULLS = (None,) * len(_FULL)
_SPARSE = ("", 0, -1, -0.0, False, None, None, decimal.Decimal("-0.01"), bytearray(), [], {}, (None, None, None))


def _typed(v):
    """``v`` with the Python type of every value, nested ones included, so
    that equal results of two reads also agree in type."""
    if isinstance(v, Row):
        return ("Row", tuple(v.__fields__), tuple(map(_typed, v)))
    if isinstance(v, dict):
        return ("dict", sorted((k, _typed(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return (type(v).__name__, [_typed(x) for x in v])
    return (type(v).__name__, v)


@pytest.mark.parametrize("preload", [False, True], ids=["miss", "preload"])
def test_records_match_collect_in_value_and_type(spark, tmp_path, preload):
    nodes = spark.createDataFrame(
        [("n1", *_FULL), ("n2", *_NULLS), ("n3", *_SPARSE)], f"key string, {_ATTRS}"
    )
    edges = spark.createDataFrame(
        [("n1", "n2", 0, *_FULL), ("n1", "n3", 1, *_NULLS), ("n2", "n1", 0, *_SPARSE)],
        f"src string, dst string, type int, {_ATTRS}",
    )
    nodes.write.parquet(str(tmp_path / "nodes"))
    edges.write.parquet(str(tmp_path / "edges"))
    nodes, edges = spark.read.parquet(str(tmp_path / "nodes")), spark.read.parquet(str(tmp_path / "edges"))
    want_nodes = {r["key"]: r.asDict() for r in nodes.collect()}
    want_edges = {(r["src"], r["dst"], r["type"]): r.asDict() for r in edges.collect()}
    g = Graph(spark, nodes=nodes, edges=edges, preload=preload)
    assert g._node_recs.held is g._edge_recs.held is preload
    for key, want in want_nodes.items():
        assert _typed(g.node(key)) == _typed(want)
    for (src, dst, type_), want in want_edges.items():
        assert _typed(g.edge(src, dst, type_)) == _typed(want)
    for src in ("n1", "n2", "n3"):
        assert list(g.neighbors(src)) == sorted(d for s, d, _ in want_edges if s == src)
        block = {(d, t): rec for (s, d, t), rec in want_edges.items() if s == src}
        assert _typed(g._edge_recs.entries.get(src, {})) == _typed(block)  # held: no block, no edges
    assert list(g.predecessors("n1")) == ["n2"]
    # a record written by add_node/add_edge (the Arrow write path,
    # Graph._rows_df) and read back from the stored tables after the flush
    # equals what was written in value, and collect() in value and type
    attrs = dict(zip(nodes.columns[1:], _FULL))
    g.add_node("n4", attrs)
    g.add_edge("n4", "n1", attrs)
    g._flush()
    back = Graph(spark, nodes=g._nodes, edges=g._edges, preload=preload)
    node_row = next(r for r in g._nodes.collect() if r["key"] == "n4").asDict()
    edge_row = next(r for r in g._edges.collect() if r["src"] == "n4").asDict()
    assert back.node("n4") == node_row == {"key": "n4", **attrs}
    assert _typed(back.node("n4")) == _typed(node_row)
    assert back.edge("n4", "n1") == edge_row == {"src": "n4", "dst": "n1", "type": 0, **attrs}
    assert _typed(back.edge("n4", "n1")) == _typed(edge_row)
