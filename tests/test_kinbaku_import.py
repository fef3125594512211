"""Differential test of the native-file importer: graphs are written by the
ACTUAL reference library (loaded from /root/reference with a 2-line
cachetools shim — its optional LRU/cityhash deps aren't installed here),
then imported via Graph.from_kinbaku_file and compared set-for-set.

Covers: plain graphs, tombstones from node/edge removal (incl. slot
recycling), edge types / self-loops, custom node+edge attribute schemas
(str/int/float/bool), and the distributed slot-range decode path.
"""

# NOTE: no `from __future__ import annotations` here — PEP 563 string
# annotations would break the reference's dataclass reflection
# (graph.py:177-202 compares field.type against the real `int`/`str` types).

import random
import sys
import types
import zlib

import pytest

from kinbaku_spark.graph import Graph


@pytest.fixture(scope="module")
def kn():
    if "cachetools" not in sys.modules:
        ct = types.ModuleType("cachetools")

        class LRUCache(dict):
            def __init__(self, maxsize=0, *a, **k):
                super().__init__()

        ct.LRUCache = LRUCache
        sys.modules["cachetools"] = ct
    sys.path.insert(0, "/root/reference")
    try:
        import kinbaku
    except ModuleNotFoundError as err:
        if err.name != "kinbaku":
            raise
        kinbaku = None
    if kinbaku is not None:
        yield kinbaku
    sys.path.remove("/root/reference")
    if kinbaku is None:
        pytest.skip(
            "reference kinbaku checkout not found: these differential tests "
            "write graphs with the reference library itself"
        )


def _crc(s: str) -> int:
    return zlib.crc32(s.encode()) & 0xFFFFFFFF


def _ref_graph(kn, path, **kw):
    return kn.Graph(str(path), hash_func=_crc, **kw)


def _edge_set(g_ref):
    # reference `edges` yields (src, dst); edge types need the records
    out = set()
    cursor = 0
    while cursor != -1:
        batch, cursor = g_ref.batch_get_edges(batch_size=1000, cursor=cursor)
        out.update(batch)
    return out


def test_roundtrip_random_graph_with_tombstones(spark, kn, tmp_path):
    rng = random.Random(7)
    g_ref = _ref_graph(kn, tmp_path / "g.db")
    edges = set()
    for _ in range(400):
        u, v = f"n{rng.randrange(40)}", f"n{rng.randrange(40)}"
        g_ref.add_edge(u, v)
        edges.add((u, v))
    # deletions -> tombstones + recycling on later adds
    for u, v in rng.sample(sorted(edges), 120):
        g_ref.remove_edge(u, v)
        edges.discard((u, v))
    for _ in range(60):
        u, v = f"m{rng.randrange(10)}", f"n{rng.randrange(40)}"
        g_ref.add_edge(u, v)
        edges.add((u, v))
    for key in [f"n{i}" for i in range(5)]:
        if g_ref.has_node(key):
            g_ref.remove_node(key)  # cascades to incident edges
            edges = {(u, v) for (u, v) in edges if u != key and v != key}
    g_ref.add_edge("s", "s")  # self-loop
    edges.add(("s", "s"))
    ref_nodes = set(g_ref.nodes)
    ref_edges = set(g_ref.edges)
    assert ref_edges == edges
    g_ref.close()

    g = Graph.from_kinbaku_file(spark, str(tmp_path / "g.db"))
    assert set(r.key for r in g.nodes_df.collect()) == ref_nodes
    got = {(r.src, r.dst) for r in g.edges_df.collect()}
    assert got == ref_edges
    assert g.n_nodes == len(ref_nodes)
    assert g.n_edges == len(ref_edges)


def test_edge_types_and_attributes(spark, kn, tmp_path):
    from dataclasses import dataclass

    @dataclass
    class MyNode(kn.structure.Node):
        population: int = 0
        score: float = 0.0
        active: bool = False
        label: str = ""

    # NOTE: edge attrs are numeric/bool only — the reference itself cannot
    # read back custom edge classes with str fields (its _get_edge_at,
    # graph.py:830-834, lacks the per-char string reassembly _get_node_at
    # has), so no real kinbaku file contains them.
    @dataclass
    class MyEdge(kn.structure.Edge):
        weight: float = 0.0
        count: int = 0

    g_ref = _ref_graph(
        kn, tmp_path / "attrs.db", node_class=MyNode, edge_class=MyEdge
    )
    g_ref.add_node("paris", {"population": 2229, "score": 1.5, "active": True,
                             "label": "city"})
    g_ref.add_node("lyon", {"population": 506, "score": 0.25, "active": False,
                            "label": "ville"})
    g_ref.add_edge("paris", "lyon", {"weight": 2.5, "count": 3})
    g_ref.add_edge("paris", "lyon", {"weight": 0.5, "count": 1}, edge_type=1)
    g_ref.add_edge("lyon", "paris", {"weight": 1.0, "count": 9})
    g_ref.close()

    g = Graph.from_kinbaku_file(
        spark,
        str(tmp_path / "attrs.db"),
        node_attrs=[("population", "int"), ("score", "float"),
                    ("active", "bool"), ("label", "str")],
        edge_attrs=[("weight", "float"), ("count", "int")],
    )
    nodes = {r.key: r for r in g.nodes_df.collect()}
    assert nodes["paris"].population == 2229
    assert nodes["paris"].score == 1.5
    assert nodes["paris"].active is True
    assert nodes["paris"].label == "city"
    assert nodes["lyon"].population == 506
    edges = {(r.src, r.dst, r.type): r for r in g.edges_df.collect()}
    assert set(edges) == {("paris", "lyon", 0), ("paris", "lyon", 1),
                          ("lyon", "paris", 0)}
    assert edges[("paris", "lyon", 0)].weight == 2.5
    assert edges[("paris", "lyon", 1)]["count"] == 1  # .count is Row's method
    assert edges[("lyon", "paris", 0)]["count"] == 9


def test_distributed_range_decode_matches_sequential(spark, kn, tmp_path):
    rng = random.Random(13)
    g_ref = _ref_graph(kn, tmp_path / "big.db")
    for _ in range(1500):
        g_ref.add_edge(f"a{rng.randrange(120)}", f"b{rng.randrange(120)}",
                       edge_type=rng.randrange(2))
    ref_nodes = set(g_ref.nodes)
    ref_edges = set(g_ref.edges)
    g_ref.close()

    from kinbaku_spark.sources.kinbaku_file import read_kinbaku_file

    # force the mapInPandas slot-range path with tiny ranges
    n_dist, e_dist = read_kinbaku_file(
        spark, str(tmp_path / "big.db"), slots_per_task=500
    )
    n_seq, e_seq = read_kinbaku_file(
        spark, str(tmp_path / "big.db"), slots_per_task=10**9
    )
    assert {r.key for r in n_dist.collect()} == ref_nodes
    assert {r.key for r in n_seq.collect()} == ref_nodes
    dist_edges = {(r.src, r.dst, r.type) for r in e_dist.collect()}
    seq_edges = {(r.src, r.dst, r.type) for r in e_seq.collect()}
    assert dist_edges == seq_edges
    assert {(u, v) for (u, v, _) in dist_edges} == ref_edges


def test_imported_graph_queries_match_reference(spark, kn, tmp_path):
    rng = random.Random(99)
    g_ref = _ref_graph(kn, tmp_path / "q.db")
    for _ in range(300):
        g_ref.add_edge(f"x{rng.randrange(30)}", f"x{rng.randrange(30)}")
    g = Graph.from_kinbaku_file(spark, str(tmp_path / "q.db"))
    for key in ["x0", "x5", "x17"]:
        if g_ref.has_node(key):
            assert set(g.neighbors(key)) == set(g_ref.neighbors(key))
            assert set(g.predecessors(key)) == set(g_ref.predecessors(key))
            assert g.out_degree(key) == g_ref.out_degree(key)
            assert g.in_degree(key) == g_ref.in_degree(key)
    g_ref.close()


def test_export_opens_in_reference(spark, kn, tmp_path):
    """Round trip OUT: our exporter writes a file the reference opens and
    queries natively — including point lookups (BST descent over our
    pointers), traversals (edge-tree DFS), counts, and WRITES (the
    reference keeps inserting into our trees)."""
    rng = random.Random(21)
    edges = set()
    while len(edges) < 250:
        edges.add((f"u{rng.randrange(25)}", f"v{rng.randrange(25)}",
                   rng.randrange(2)))
    edf = spark.createDataFrame(
        sorted(edges), "src string, dst string, type int"
    )
    g = Graph.from_edges(edf)
    out = str(tmp_path / "export.db")
    g.to_kinbaku_file(out)

    g_ref = _ref_graph(kn, out)
    assert g_ref.n_nodes == g.n_nodes
    assert g_ref.n_edges == len(edges)
    assert set(g_ref.nodes) == {r.key for r in g.nodes_df.collect()}
    assert set(g_ref.edges) == {(u, v) for (u, v, _) in edges}
    for key in ["u0", "u7", "v3", "v19"]:
        if g_ref.has_node(key):
            assert set(g_ref.neighbors(key)) == set(g.neighbors(key))
            assert set(g_ref.predecessors(key)) == set(g.predecessors(key))
            assert g_ref.out_degree(key) == g.out_degree(key)
    # point lookups exercise the node BST we built
    some = sorted({u for (u, _, _) in edges})[:5]
    for key in some:
        assert g_ref.node(key).key == key
    # typed edge lookup exercises the out-tree descent
    u, v, t = sorted(edges)[0]
    assert g_ref.edge(u, v, t).type == t
    # the reference can keep WRITING into our file
    g_ref.add_edge("brandnew", "u0")
    assert g_ref.has_edge("brandnew", "u0")
    assert set(g_ref.neighbors("brandnew")) == {"u0"}
    g_ref.close()


def test_export_with_attrs_roundtrip(spark, kn, tmp_path):
    from dataclasses import dataclass

    from pyspark.sql import Row

    nodes = spark.createDataFrame(
        [Row(key="a", rank=3, score=1.25), Row(key="b", rank=7, score=0.5)]
    )
    edges = spark.createDataFrame(
        [Row(src="a", dst="b", type=0, weight=2.5)]
    )
    g = Graph(spark, nodes=nodes, edges=edges)
    out = str(tmp_path / "attrs_out.db")
    g.to_kinbaku_file(
        out,
        node_attrs=[("rank", "int"), ("score", "float")],
        edge_attrs=[("weight", "float")],
    )

    @dataclass
    class ExpNode(kn.structure.Node):
        rank: int = 0
        score: float = 0.0

    @dataclass
    class ExpEdge(kn.structure.Edge):
        weight: float = 0.0

    g_ref = _ref_graph(kn, out, node_class=ExpNode, edge_class=ExpEdge)
    assert g_ref.node("a").rank == 3
    assert g_ref.node("a").score == 1.25
    assert g_ref.node("b").rank == 7
    assert g_ref.edge("a", "b").weight == 2.5
    g_ref.close()

    # round trip back through our reader
    g2 = Graph.from_kinbaku_file(
        spark, out,
        node_attrs=[("rank", "int"), ("score", "float")],
        edge_attrs=[("weight", "float")],
    )
    back = {r.key: r for r in g2.nodes_df.collect()}
    assert back["a"].rank == 3 and back["b"].score == 0.5
    assert [r.weight for r in g2.edges_df.collect()] == [2.5]


def test_property_roundtrip_random_graphs(spark, kn, tmp_path):
    """Property-style sweep: several random graph shapes (different sizes,
    densities, type multiplicity, attr values) must survive
    our-export -> reference-read -> our-import unchanged."""
    for seed in (3, 11, 29):
        rng = random.Random(seed)
        n_nodes = rng.randrange(5, 40)
        edges = set()
        for _ in range(rng.randrange(10, 120)):
            edges.add(
                (
                    f"n{rng.randrange(n_nodes)}",
                    f"n{rng.randrange(n_nodes)}",
                    rng.randrange(3),
                )
            )
        edf = spark.createDataFrame(
            sorted(edges), "src string, dst string, type int"
        )
        g = Graph.from_edges(edf)
        out = str(tmp_path / f"prop_{seed}.db")
        g.to_kinbaku_file(out)

        g_ref = _ref_graph(kn, out)
        assert g_ref.n_edges == len(edges), seed
        assert set(g_ref.nodes) == {r.key for r in g.nodes_df.collect()}, seed
        # every single node's neighborhood, via the reference's own BSTs
        for key in sorted(g_ref.nodes):
            assert set(g_ref.neighbors(key)) == set(g.neighbors(key)), (
                seed, key,
            )
        g_ref.close()

        g2 = Graph.from_kinbaku_file(spark, out)
        back = {(r.src, r.dst, r.type) for r in g2.edges_df.collect()}
        assert back == edges, seed


def test_export_raises_key_too_long(spark):
    """The reference's fixed-width key limit applies only on export into
    its binary format — and surfaces as its own exception type."""
    import pytest as _pytest

    from kinbaku_spark.exceptions import KeyTooLong

    edges = spark.createDataFrame(
        [("a" * 40, "b", 0)], "src string, dst string, type int"
    )
    g = Graph.from_edges(edges)
    with _pytest.raises(KeyTooLong):
        g.to_kinbaku_file("/tmp/too_long.db")
