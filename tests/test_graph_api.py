"""Unit tests for Graph facade semantics the reference pins down:
upsert-replaces-whole-record, endpoint auto-create, cascade delete, dunder
sugar, batch mutations, I/O round-trips across formats.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kinbaku_spark.exceptions import BadArgument, EdgeNotFound, NodeNotFound
from kinbaku_spark.graph import Graph
from kinbaku_spark.sources.io import load_graph, read_table, save_graph, write_table


@pytest.fixture()
def g(spark):
    nodes = spark.createDataFrame(
        [("a", "Alice", 30, 1.0), ("b", "Bob", 25, 2.0)],
        "key string, name string, age int, score double",
    )
    edges = spark.createDataFrame(
        [("a", "b", 0, 0.5)], "src string, dst string, type int, weight double"
    )
    return Graph(spark, nodes=nodes, edges=edges)


def test_upsert_replaces_whole_record(g):
    """Reference semantics (graph.py:1385-1405 + docs 'attention' note):
    attribute writes replace the record, never merge."""
    g.add_node("a", {"name": "Alicia"})  # age/score NOT carried over
    row = g.node("a")
    assert row["name"] == "Alicia"
    assert row["age"] is None and row["score"] is None
    assert g.n_nodes == 2  # still an upsert, not an insert


def test_edge_upsert_on_triple(g):
    g.add_edge("a", "b", {"weight": 9.9})  # same (src,dst,type) -> replace
    assert g.n_edges == 1
    assert g.edge("a", "b")["weight"] == 9.9
    g.add_edge("a", "b", {"weight": 1.1}, type=7)  # new type -> parallel edge
    assert g.n_edges == 2


def test_autocreate_endpoints(g):
    g.add_edge("a", "zzz")
    assert g.has_node("zzz")
    assert g.node("zzz")["name"] is None


def test_remove_node_cascade(g):
    g.add_edge("b", "a")
    g.add_edge("a", "a")  # self-loop
    assert [r["key"] for r in g.node_id_map().orderBy("id").collect()] == ["a", "b"]
    g.remove_node("a")
    assert not g.has_node("a")
    assert g.n_edges == 0
    with pytest.raises(NodeNotFound):
        g.node("a")
    # the dense key-ordered ids follow the removal
    assert [r["key"] for r in g.node_id_map().orderBy("id").collect()] == ["b"]


def test_dunder_sugar(g):
    assert g["a"]["name"] == "Alice"
    assert g["a", "b"]["weight"] == 0.5
    assert ("a", "b") in g and ("b", "a") not in g
    g["c"] = {"name": "Carol"}
    assert "c" in g
    g["c", "a"] = {"weight": 3.0}
    assert g["c", "a", 0]["weight"] == 3.0
    with pytest.raises(BadArgument):
        g[1.5]
    with pytest.raises(BadArgument):
        ("a",) in g


def test_batch_mutations(spark, g):
    new_edges = spark.createDataFrame(
        [("x", "y", 0, 1.0), ("y", "z", 0, 2.0), ("a", "b", 0, 42.0)],
        "src string, dst string, type int, weight double",
    )
    g.add_edges(new_edges)  # upserts (a,b); creates x,y,z
    assert g.n_edges == 3
    assert g.edge("a", "b")["weight"] == 42.0
    assert g.has_node("x") and g.has_node("z")
    g.remove_edges(spark.createDataFrame([("x", "y", 0)], "src string, dst string, type int"))
    assert g.n_edges == 2
    g.remove_nodes(spark.createDataFrame([("a",)], "key string"), cascade=True)
    assert g.n_edges == 1 and not g.has_node("a")


def test_degree_counts_parallel_edges(g):
    """Degrees count EDGES (per-type), matching SELECT count(*) WHERE src=?
    (reference graph.py:985-997 counts the out-tree DFS)."""
    g.add_edge("a", "b", type=1)
    assert g.out_degree("a") == 2
    assert g.in_degree("b") == 2


def test_io_roundtrip_formats(spark, g, tmp_path):
    for fmt in ("parquet", "csv", "json", "orc"):
        path = str(tmp_path / f"g_{fmt}")
        save_graph(g, path, fmt)
        g2 = load_graph(
            spark,
            path,
            fmt,
            nodes_schema="key string, name string, age int, score double",
            edges_schema="src string, dst string, type int, weight double",
        )
        assert sorted(g2.edges) == sorted(g.edges), fmt
        assert set(g2.nodes) == set(g.nodes), fmt


def test_write_table_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], "k string, v int"
    )
    path = str(tmp_path / "part")
    write_table(df, path, partition_by=["k"])
    back = read_table(spark, path)
    assert back.count() == 3
    # partition pruning: reading one partition dir touches only its files
    pruned = read_table(spark, path).filter(F.col("k") == "a")
    assert pruned.count() == 2


def test_sql_facade(spark, g):
    """Graph.sql runs ANSI SQL over the registered node/edge views."""
    out = g.sql("SELECT src, COUNT(*) AS d FROM g_edges GROUP BY src ORDER BY src")
    got = [(r.src, r.d) for r in out.collect()]
    srcs = sorted({r.src for r in g.edges_df.select("src").collect()})
    assert got == [(k, g.out_degree(k)) for k in srcs]


def test_adjacency_and_subgraph(spark):
    edges = spark.createDataFrame(
        [("a", "b", 0), ("b", "c", 0), ("c", "a", 0), ("a", "c", 0)],
        "src string, dst string, type int",
    )
    g = Graph.from_edges(edges)
    coo = {(r["sid"], r["tid"]) for r in g.adjacency_coo().collect()}
    # canonical ids: a=0, b=1, c=2 (key order)
    assert coo == {(0, 1), (1, 2), (2, 0), (0, 2)}
    sub = {(r["sid"], r["tid"]) for r in g.subgraph_coo(["a", "b"]).collect()}
    assert sub == {(0, 1)}  # induced: only a->b survives


def test_empty_and_errors(spark):
    g = Graph(spark)
    assert g.n_nodes == 0 and g.n_edges == 0
    with pytest.raises(EdgeNotFound):
        g.remove_edge("u", "v")
    with pytest.raises(NodeNotFound):
        g.remove_node("u")
    g.add_node("solo")
    assert list(g.nodes) == ["solo"]
    assert list(g.neighbors("solo")) == []


def test_bucketed_graph_colocated_joins(spark):
    """Bucketed-by-src edge storage must make src-keyed self-joins and
    aggregations shuffle-free (0 Exchange) — the scale replacement for the
    reference's per-node edge trees."""
    from kinbaku_spark.plans import explain_str
    from kinbaku_spark.sources.io import load_graph_bucketed, save_graph_bucketed

    edges = spark.range(5000).select(
        F.concat(F.lit("n"), (F.col("id") % 200)).alias("src"),
        F.concat(F.lit("n"), ((F.col("id") * 7) % 200)).alias("dst"),
        F.lit(0).alias("type"),
    )
    g = Graph.from_edges(edges)
    # leftover state from a previous run can leave catalog and warehouse
    # location out of sync (DROP clears the catalog, rmtree the location)
    import os

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for t in ("t_bucketed_edges_by_src", "t_bucketed_edges_by_dst", "t_bucketed_nodes"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(
            os.path.join(warehouse.removeprefix("file:"), t), ignore_errors=True
        )
    save_graph_bucketed(g, "t_bucketed", buckets=8)
    g2, edges_by_dst = load_graph_bucketed(spark, "t_bucketed")
    assert sorted(g2.edges) == sorted(g.edges)

    # co-located link-prediction-style self-join (no broadcast: force SMJ)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = g2.edges_df
        j = t.alias("a").join(t.alias("b"), F.col("a.src") == F.col("b.src"))
        assert explain_str(j, "simple").count("Exchange") == 0
        # bucketed groupBy on the bucket column: no exchange either
        agg = t.groupBy("src").count()
        assert explain_str(agg, "simple").count("Exchange") == 0
        # the dst copy serves predecessor scans the same way
        jd = edges_by_dst.alias("a").join(
            edges_by_dst.alias("b"), F.col("a.dst") == F.col("b.dst")
        )
        assert explain_str(jd, "simple").count("Exchange") == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_schema_from_dataclass_and_lifecycle(spark):
    """Reference migration surface: dataclass schemas (node_class/edge_class
    pattern), empty_cache, find_tombstones, close, subgraph parity shape."""
    import dataclasses

    from kinbaku_spark.structure import Edge, Node, text

    @dataclasses.dataclass
    class MyNode(Node):
        name: str = ""
        age: int = 0
        bio: text(40) = ""  # fixed-width in the reference; variable here

    @dataclasses.dataclass
    class MyEdge(Edge):
        weight: float = 0.0

    g = Graph.with_schema(spark, node_class=MyNode, edge_class=MyEdge, preload=True)
    g.add_node("a", {"name": "Ann", "age": 3, "bio": "hi"})
    g.add_edge("a", "b", {"weight": 2.5})
    assert g.node("a")["age"] == 3
    assert g.edge("a", "b")["weight"] == 2.5
    assert g.node("b")["name"] is None  # auto-created endpoint
    mat, ids = g.subgraph(["a", "b"])
    assert ids == {"a": 0, "b": 1}
    assert mat["rows"] == [0] and mat["cols"] == [1]  # a->b only
    assert g.find_tombstones() == []
    g.empty_cache()
    assert g.n_edges == 1  # still queryable after cache drop
    g.close()


def test_compact_rewrites_sorted_and_equal(spark, tmp_path):
    """compact(): fewer+sorted files, identical graph content, and the
    reload's point lookup still pushes the key filter down."""
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7) % 40}", 0) for i in range(200)],
        "src string, dst string, type int",
    )
    g = Graph.from_edges(edges.repartition(16))
    path = str(tmp_path / "compacted")
    g2 = g.compact(path, target_partitions=2)
    assert sorted(g2.edges) == sorted(g.edges)
    assert set(g2.nodes) == set(g.nodes)
    import glob

    files = glob.glob(f"{path}/edges/part-*")
    assert len(files) <= 2, files
    from kinbaku_spark.plans import has_pushed_filter

    assert has_pushed_filter(g2.nodes_df.filter(F.col("key") == "n7"), "key")


# -- motif finding (Graph.find) ----------------------------------------------


def _motif_graph(spark):
    from kinbaku_spark.graph import Graph

    edges = spark.createDataFrame(
        [
            ("a", "b", 0), ("b", "c", 0), ("a", "c", 0),
            ("c", "d", 0), ("d", "e", 0), ("e", "c", 0),
        ],
        "src string, dst string, type int",
    )
    return Graph.from_edges(edges)


def test_motif_two_hop(spark):
    g = _motif_graph(spark)
    got = sorted(
        tuple(r) for r in g.find("(x)-[]->(y); (y)-[]->(z)")
        .select("x", "y", "z").collect()
    )
    # manual two-hop enumeration over the 6 edges
    E = {("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"), ("e", "c")}
    want = sorted(
        (x, y, z) for (x, y) in E for (y2, z) in E if y2 == y
    )
    assert got == sorted(set(want))


def test_motif_open_triad_negation(spark):
    g = _motif_graph(spark)
    got = sorted(
        tuple(r)
        for r in g.find("(x)-[]->(y); (y)-[]->(z); !(x)-[]->(z)")
        .select("x", "y", "z")
        .collect()
    )
    E = {("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"), ("e", "c")}
    want = sorted(
        set(
            (x, y, z)
            for (x, y) in E
            for (y2, z) in E
            if y2 == y and (x, z) not in E
        )
    )
    assert got == want
    # (a,b,c) is closed by a->c, so it must NOT appear
    assert ("a", "b", "c") not in got


def test_motif_triangle_matches_networkx(spark):
    import networkx as nx

    g = _motif_graph(spark)
    tri = g.find("(x)-[]->(y); (y)-[]->(z); (z)-[]->(x)")
    got = sorted(tuple(r) for r in tri.select("x", "y", "z").collect())
    G = nx.DiGraph()
    G.add_edges_from(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"), ("e", "c")]
    )
    want = sorted(
        set(
            (x, y, z)
            for x in G
            for y in G.successors(x)
            for z in G.successors(y)
            if G.has_edge(z, x)
        )
    )
    assert got == want
    assert len(got) == 3  # the c→d→e cycle in its 3 rotations


def test_motif_bad_patterns(spark):
    from kinbaku_spark.exceptions import BadArgument

    g = _motif_graph(spark)
    for bad in [
        "(x)->(y)",                        # malformed term
        "!(x)-[]->(y)",                    # negated first term
        "(x)-[]->(y); (p)-[]->(q)",        # disconnected
        "(x)-[]->(y); !(x)-[]->(z)",       # negation with unbound vertex
        "(x)-[e]->(y); (y)-[e]->(z)",      # duplicate edge name
        "(x)-[y]->(y)",                    # edge name clashes with vertex
        "(x)-[]->(y); !(y)-[e]->(x)",      # negated term naming its edge
        "(x)-[e]->(x)",                    # self-loop term
    ]:
        try:
            g.find(bad)
        except BadArgument:
            continue
        raise AssertionError(f"pattern {bad!r} should raise BadArgument")


def test_motif_named_edges_expose_attrs(spark):
    """VERDICT r05 #6: (a)-[e]->(b) exposes the edge as a struct column
    (type + attrs) filterable like any column; anonymous terms unchanged."""
    from kinbaku_spark.graph import Graph

    edges = spark.createDataFrame(
        [
            ("a", "b", 1), ("b", "c", 2), ("a", "c", 1),
            ("c", "d", 2), ("d", "e", 1), ("e", "c", 2),
        ],
        "src string, dst string, type int",
    )
    g = Graph.from_edges(edges)
    got = sorted(
        (r.x, r.y, r.z, r.e1["type"], r.e2["type"])
        for r in g.find("(x)-[e1]->(y); (y)-[e2]->(z)").collect()
    )
    E = {("a","b",1),("b","c",2),("a","c",1),("c","d",2),("d","e",1),("e","c",2)}
    want = sorted(
        (x, y, z, t1, t2)
        for (x, y, t1) in E
        for (y2, z, t2) in E
        if y2 == y
    )
    assert got == want
    typed = sorted(
        (r.x, r.y, r.z)
        for r in g.find("(x)-[e1]->(y); (y)-[e2]->(z)")
        .filter("e1.type = 2 AND e2.type = 2")
        .collect()
    )
    assert typed == sorted(
        (x, y, z)
        for (x, y, t1) in E
        for (y2, z, t2) in E
        if y2 == y and t1 == 2 and t2 == 2
    )
    # mixed anonymous + named: columns = sorted vertices then edge names
    mixed = g.find("(x)-[]->(y); (y)-[e2]->(z)")
    assert mixed.columns == ["x", "y", "z", "e2"]


def test_ordered_zero_ids_match_global_rownumber(spark):
    """Two-phase range ids must equal row_number() OVER (ORDER BY key) - 1
    for ANY partitioning the sampler picks, and be repeat-stable. Guards
    the sf0.1 regression where the un-materialized range partitioning was
    recomputed differently for the rank and offset branches, pairing one
    partitioning's offsets with the other's ranks."""
    from pyspark.sql import Window, functions as F

    from kinbaku_spark.operators.ids import ordered_zero_ids

    keys = spark.range(5000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("key")
    )
    got = ordered_zero_ids(keys, num_partitions=13)
    want = keys.select(
        "key",
        (F.row_number().over(Window.orderBy("key")) - 1).cast("long").alias("id"),
    )
    assert (
        got.join(want.withColumnRenamed("id", "id2"), "key")
        .filter(F.col("id") != F.col("id2"))
        .count()
        == 0
    )
    again = ordered_zero_ids(keys, num_partitions=13)
    assert (
        got.join(again.withColumnRenamed("id", "id2"), "key")
        .filter(F.col("id") != F.col("id2"))
        .count()
        == 0
    )
