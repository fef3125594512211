"""Graph operator queries — the reference's full query surface (SURVEY.md
§2.1/§2.2) exercised through the Graph facade on the supplier→part graph
derived from lineitem (FIXTURES.md §2), each with a DuckDB oracle.

Anchors 'S1' (supplier 1) and 'P1' (part 1) exist at every scale factor
(verified against sf0.001/0.01/0.1). Mutation queries (m_*) apply a
deterministic mutation through the facade and return the resulting table;
the oracle replays the same mutation in SQL (anti-join + union semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kinbaku_spark.graph import Graph
from kinbaku_spark.operators.ids import ordered_zero_ids
from kinbaku_spark.operators.supersteps import peel, propagate
from kinbaku_spark.plans.hints import maybe_broadcast, size_hint
from kinbaku_spark.queries import register
from kinbaku_spark.sources.tables import (
    CUSTOMER_ORDER_EDGES_SQL,
    SUPPLIER_PART_EDGES_SQL,
    SUPPLIER_PART_NODES_SQL,
    customer_order_edges,
    supplier_part_edges,
)
from kinbaku_spark.state import shared

GRAPH_CTE = f"""
WITH g_edges AS ({SUPPLIER_PART_EDGES_SQL}),
g_nodes AS ({SUPPLIER_PART_NODES_SQL.replace("lineitem", "lineitem")})
"""


# The supplier→part graph is the engine's STORED table (at 100 TB the
# derivation is one-time ETL, not per-query work), so queries share one
# persisted copy per sf_dir: the "graph" entry of the engine-state registry
# (kinbaku_spark/state.py). Every table derived from it is its own entry,
# registered through _graph_state with the graph's one input, lineitem, so
# a rewritten lineitem rebuilds them all. Mutation queries get a FRESH Graph
# over the same immutable DataFrames (facade mutations never touch their
# inputs) plus a copy of the pre-collected identity index.


def _graph_state(spark: SparkSession, sf_dir: str, name: str, build):
    """Registry entry ``name`` derived from the stored graph of sf_dir."""
    return shared(spark, sf_dir, name, build, ["lineitem"])


def _cached(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) of the stored supplier→part graph."""
    def build():
        edges = supplier_part_edges(spark, sf_dir).persist()
        # derive nodes FROM the cached edges (same canonical result as
        # supplier_part_nodes, without re-running the lineitem aggregation)
        keys = (
            edges.select(F.col("src").alias("key"))
            .union(edges.select("dst"))
            .distinct()
        )
        # two-phase range ids (operators/ids.py): deterministic key-ordered
        # dense index with range-parallel sorts, no single-task global window.
        # localCheckpoint truncates the build lineage — the nodes table is
        # the engine's STORED state, so query plans scan the materialized
        # table instead of replaying (and replicating) the id-assignment
        # subtree under every reference.
        nodes = (
            ordered_zero_ids(keys, id_col="index")
            .select(
                "key",
                "index",
                F.col("key").alias("name"),
                F.lit(0).alias("age"),
                F.lit(0.0).alias("score"),
            )
            .localCheckpoint(eager=True)
        )
        # materialize eagerly: this is one-time ETL (the stored graph), not
        # per-query work — queries then run against warm storage
        edges.count()
        return nodes, edges

    return _graph_state(spark, sf_dir, "graph", build)


def _n_nodes(spark: SparkSession, sf_dir: str) -> int:
    """|V| of the stored graph, counted once per sf_dir — the bound every
    size-gated broadcast of a |V|-sized table (rank vectors, keep-lists,
    label/degree maps) is checked against."""
    return _graph_state(spark, sf_dir, "n_nodes", lambda: _cached(spark, sf_dir)[0].count())


def _graph(spark: SparkSession, sf_dir: str) -> Graph:
    nodes, edges = _cached(spark, sf_dir)
    return Graph(spark, nodes=nodes, edges=edges)


def _edges_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, outd): the stored edges annotated with the source's
    out-degree, persisted once per sf_dir — the loop- and call-invariant
    input of every PageRank round. The degree table is |V|-sized, so its
    join is size-gated on |V|."""
    def build():
        edges = _cached(spark, sf_dir)[1].select("src", "dst")
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
        hint = size_hint(_n_nodes(spark, sf_dir))
        return edges.join(hint(deg), "src").persist()

    return _graph_state(spark, sf_dir, "edges_deg", build)


# -- R1/R21: point node lookup ------------------------------------------------

def g_node_lookup(spark, sf_dir):
    g = _graph(spark, sf_dir)
    return g.nodes_df.filter(F.col("key") == "S1")


G_NODE_LOOKUP_SQL = GRAPH_CTE + "SELECT * FROM g_nodes WHERE key = 'S1'"


# -- R2: point edge lookup (S1 -> its smallest part, exists at every SF) ------

def g_edge_lookup(spark, sf_dir):
    g = _graph(spark, sf_dir)
    e = g.edges_df
    target = e.filter(F.col("src") == "S1").agg(F.min("dst").alias("dst"))
    return e.join(F.broadcast(target), "dst").filter(F.col("src") == "S1").select(
        "src", "dst", "type", "weight"
    )


G_EDGE_LOOKUP_SQL = GRAPH_CTE + """
SELECT src, dst, type, weight FROM g_edges
WHERE src = 'S1' AND dst = (SELECT min(dst) FROM g_edges WHERE src = 'S1')
"""


# -- R3/R4/R22: existence probes ----------------------------------------------

def g_exists(spark, sf_dir):
    g = _graph(spark, sf_dir)
    # coalesce: SUM over zero rows is NULL, but EXISTS (the oracle) is
    # false — an empty graph must answer false, not NULL
    def _any(cond):
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)) > 0

    nodes = g.nodes_df.agg(
        _any(F.col("key") == "S1").alias("has_node_s1"),
        _any(F.col("key") == "NOPE").alias("has_node_nope"),
    )
    edges = g.edges_df.agg(
        _any((F.col("src") == "S1") & (F.col("dst") == "P1")).alias("has_edge_s1_p1"),
        _any((F.col("src") == "P1") & (F.col("dst") == "S1")).alias("has_edge_p1_s1"),
    )
    return nodes.crossJoin(edges)


G_EXISTS_SQL = GRAPH_CTE + """
SELECT
  EXISTS(SELECT 1 FROM g_nodes WHERE key='S1') AS has_node_s1,
  EXISTS(SELECT 1 FROM g_nodes WHERE key='NOPE') AS has_node_nope,
  EXISTS(SELECT 1 FROM g_edges WHERE src='S1' AND dst='P1') AS has_edge_s1_p1,
  EXISTS(SELECT 1 FROM g_edges WHERE src='P1' AND dst='S1') AS has_edge_p1_s1
"""


# -- R5/R6: traversal ----------------------------------------------------------

def g_neighbors(spark, sf_dir):
    return _graph(spark, sf_dir).neighbors_df("S1")


G_NEIGHBORS_SQL = GRAPH_CTE + "SELECT DISTINCT dst AS key FROM g_edges WHERE src='S1'"


def g_predecessors(spark, sf_dir):
    return _graph(spark, sf_dir).predecessors_df("P1")


G_PREDECESSORS_SQL = GRAPH_CTE + "SELECT DISTINCT src AS key FROM g_edges WHERE dst='P1'"


# -- R7/R8: batched traversal (one broadcast join, not N lookups) --------------

def g_neighbors_from(spark, sf_dir):
    return _graph(spark, sf_dir).neighbors_from(["S1", "S2", "S3"])


G_NEIGHBORS_FROM_SQL = GRAPH_CTE + """
SELECT DISTINCT src AS key, dst FROM g_edges WHERE src IN ('S1','S2','S3')
"""


def g_predecessors_from(spark, sf_dir):
    return _graph(spark, sf_dir).predecessors_from(["P1", "P2", "P3"])


G_PREDECESSORS_FROM_SQL = GRAPH_CTE + """
SELECT DISTINCT dst AS key, src FROM g_edges WHERE dst IN ('P1','P2','P3')
"""


# -- R9/R10: common neighbors ---------------------------------------------------

def g_common_neighbors(spark, sf_dir):
    g = _graph(spark, sf_dir)
    return g.neighbors_df("S1").intersect(g.neighbors_df("S2"))


G_COMMON_NEIGHBORS_SQL = GRAPH_CTE + """
SELECT dst AS key FROM g_edges WHERE src='S1'
INTERSECT
SELECT dst AS key FROM g_edges WHERE src='S2'
"""


def g_common_predecessors(spark, sf_dir):
    g = _graph(spark, sf_dir)
    return g.predecessors_df("P1").intersect(g.predecessors_df("P2"))


G_COMMON_PREDECESSORS_SQL = GRAPH_CTE + """
SELECT src AS key FROM g_edges WHERE dst='P1'
INTERSECT
SELECT src AS key FROM g_edges WHERE dst='P2'
"""


# -- R11/R12 bulk degrees + histogram ------------------------------------------

def g_out_degrees(spark, sf_dir):
    return _graph(spark, sf_dir).out_degrees()


G_OUT_DEGREES_SQL = GRAPH_CTE + (
    "SELECT src AS key, COUNT(*) AS out_degree FROM g_edges GROUP BY src"
)


def g_in_degrees(spark, sf_dir):
    return _graph(spark, sf_dir).in_degrees()


G_IN_DEGREES_SQL = GRAPH_CTE + (
    "SELECT dst AS key, COUNT(*) AS in_degree FROM g_edges GROUP BY dst"
)


def g_degree_histogram(spark, sf_dir):
    return (
        _graph(spark, sf_dir)
        .out_degrees()
        .groupBy("out_degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


G_DEGREE_HISTOGRAM_SQL = GRAPH_CTE + """
SELECT out_degree, COUNT(*) AS n_nodes FROM (
  SELECT src, COUNT(*) AS out_degree FROM g_edges GROUP BY src
) GROUP BY out_degree
"""


# -- R13/R14/R15/R16: iteration + counts ----------------------------------------

def g_nodes_table(spark, sf_dir):
    return _graph(spark, sf_dir).nodes_df


G_NODES_TABLE_SQL = GRAPH_CTE + "SELECT * FROM g_nodes"


def g_edges_table(spark, sf_dir):
    return _graph(spark, sf_dir).edges_df.select("src", "dst", "type", "weight")


G_EDGES_TABLE_SQL = GRAPH_CTE + "SELECT src, dst, type, weight FROM g_edges"


def g_counts(spark, sf_dir):
    g = _graph(spark, sf_dir)
    return g.nodes_df.agg(F.count(F.lit(1)).alias("n_nodes")).crossJoin(
        g.edges_df.agg(F.count(F.lit(1)).alias("n_edges"))
    )


G_COUNTS_SQL = GRAPH_CTE + """
SELECT (SELECT COUNT(*) FROM g_nodes) AS n_nodes,
       (SELECT COUNT(*) FROM g_edges) AS n_edges
"""


# -- R17/R18: pagination (second page, size 100) ---------------------------------

def g_batch_nodes_page2(spark, sf_dir):
    # limit-first: orderBy().limit(page_end) compiles to
    # TakeOrderedAndProject (per-partition K-heaps, driver merge of
    # page_end rows); the offset window then ranks only the <= 200
    # surviving rows. Page k costs O(page_end), never a full-table rank.
    # Deep pages use keyset pagination instead (Graph.batch_get_nodes:
    # WHERE key > cursor ORDER BY key LIMIT n — the 100-TB cursor).
    g = _graph(spark, sf_dir)
    w = Window.orderBy("key")
    return (
        g.nodes_df.orderBy("key")
        .limit(200)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 100)
        .drop("rn")
    )


G_BATCH_NODES_SQL = GRAPH_CTE + "SELECT * FROM g_nodes ORDER BY key LIMIT 100 OFFSET 100"


def g_batch_edges_page2(spark, sf_dir):
    # same limit-first shape as g_batch_nodes_page2 (see above)
    g = _graph(spark, sf_dir)
    w = Window.orderBy("src", "dst", "type")
    return (
        g.edges_df.select("src", "dst", "type")
        .orderBy("src", "dst", "type")
        .limit(200)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 100)
        .drop("rn")
    )


G_BATCH_EDGES_SQL = GRAPH_CTE + (
    "SELECT src, dst, type FROM g_edges ORDER BY src, dst, type LIMIT 100 OFFSET 100"
)


# -- R19/R20: adjacency export ----------------------------------------------------

def g_adjacency_coo(spark, sf_dir):
    return _graph(spark, sf_dir).adjacency_coo(weight="weight")


G_ADJACENCY_SQL = GRAPH_CTE + """
, ids AS (
  SELECT key, CAST(ROW_NUMBER() OVER (ORDER BY key) - 1 AS BIGINT) AS id FROM g_nodes
)
SELECT s.id AS sid, t.id AS tid, e.weight AS w
FROM g_edges e JOIN ids s ON e.src = s.key JOIN ids t ON e.dst = t.key
"""


def g_subgraph_coo(spark, sf_dir):
    g = _graph(spark, sf_dir)
    keys_df = g.nodes_df.select("key").orderBy("key").limit(40)
    w = Window.orderBy("key")
    ids = F.broadcast(
        keys_df.select("key", (F.row_number().over(w) - 1).cast("long").alias("id"))
    )
    e = g.edges_df
    return (
        e.select("src", "dst", F.col("weight").alias("w"))
        .join(ids.withColumnRenamed("key", "src").withColumnRenamed("id", "sid"), "src")
        .join(ids.withColumnRenamed("key", "dst").withColumnRenamed("id", "tid"), "dst")
        .select("sid", "tid", "w")
    )


G_SUBGRAPH_SQL = GRAPH_CTE + """
, keys AS (SELECT key FROM g_nodes ORDER BY key LIMIT 40),
ids AS (SELECT key, CAST(ROW_NUMBER() OVER (ORDER BY key) - 1 AS BIGINT) AS id FROM keys)
SELECT s.id AS sid, t.id AS tid, e.weight AS w
FROM g_edges e JOIN ids s ON e.src = s.key JOIN ids t ON e.dst = t.key
"""


# -- M1: add_node upsert (replace-whole-record semantics, graph.py:1385-1405) ---

def m_add_node_upsert(spark, sf_dir):
    g = _graph(spark, sf_dir)
    g.add_node("S1", {"index": -1, "name": "updated", "age": 99, "score": 1.5})
    return g.nodes_df


M_ADD_NODE_SQL = GRAPH_CTE + """
SELECT * FROM g_nodes WHERE key <> 'S1'
UNION ALL
SELECT 'S1', CAST(-1 AS BIGINT), 'updated', 99, 1.5
"""


# -- M2: add_edge with endpoint auto-create (graph.py:1446-1453) -----------------

def m_add_edge_autocreate(spark, sf_dir):
    g = _graph(spark, sf_dir)
    g.add_edge("S1", "NEW_PART_X", {"weight": 0.5})
    return g.edges_df.select("src", "dst", "type", "weight")


M_ADD_EDGE_SQL = GRAPH_CTE + """
SELECT src, dst, type, weight FROM g_edges
UNION ALL
SELECT 'S1', 'NEW_PART_X', 0, 0.5
"""


# -- M3: remove_edge --------------------------------------------------------------

def m_remove_edge(spark, sf_dir):
    g = _graph(spark, sf_dir)
    victim = g.edges_df.filter(F.col("src") == "S1").agg(F.min("dst")).collect()[0][0]
    g.remove_edge("S1", victim)
    return g.edges_df.filter(F.col("src") == "S1").select("src", "dst", "type", "weight")


M_REMOVE_EDGE_SQL = GRAPH_CTE + """
SELECT src, dst, type, weight FROM g_edges
WHERE src = 'S1' AND dst <> (SELECT min(dst) FROM g_edges WHERE src = 'S1')
"""


# -- M4: remove_node cascades incident edges (graph.py:1543-1563) -----------------

def m_remove_node_cascade(spark, sf_dir):
    g = _graph(spark, sf_dir)
    g.remove_node("S1")
    n = g.nodes_df.agg(F.count(F.lit(1)).alias("n_nodes"))
    e = g.edges_df.agg(F.count(F.lit(1)).alias("n_edges"))
    return n.crossJoin(e)


M_REMOVE_NODE_SQL = GRAPH_CTE + """
SELECT (SELECT COUNT(*) FROM g_nodes WHERE key <> 'S1') AS n_nodes,
       (SELECT COUNT(*) FROM g_edges WHERE src <> 'S1' AND dst <> 'S1') AS n_edges
"""


# -- M5/M6: declarative neighbor-set replacement (graph.py:886-926) ----------------

def m_set_neighbors(spark, sf_dir):
    g = _graph(spark, sf_dir)
    keep = g.edges_df.filter(F.col("src") == "S1").agg(F.min("dst")).collect()[0][0]
    # keep is None on an empty graph: set only the new target (the SQL
    # oracle's first branch matches nothing on NULL the same way)
    g.set_neighbors("S1", ([keep] if keep is not None else []) + ["NEW_PART_Y"])
    return g.edges_df.filter(F.col("src") == "S1").select("src", "dst", "type", "weight")


M_SET_NEIGHBORS_SQL = GRAPH_CTE + """
SELECT src, dst, type, weight FROM g_edges
WHERE src = 'S1' AND dst = (SELECT min(dst) FROM g_edges WHERE src = 'S1')
UNION ALL
SELECT 'S1', 'NEW_PART_Y', 0, CAST(NULL AS DOUBLE)
"""


def m_set_predecessors(spark, sf_dir):
    g = _graph(spark, sf_dir)
    keep = g.edges_df.filter(F.col("dst") == "P1").agg(F.min("src")).collect()[0][0]
    g.set_predecessors("P1", ([keep] if keep is not None else []) + ["NEW_SUPP_Z"])
    return g.edges_df.filter(F.col("dst") == "P1").select("src", "dst", "type", "weight")


M_SET_PREDECESSORS_SQL = GRAPH_CTE + """
SELECT src, dst, type, weight FROM g_edges
WHERE dst = 'P1' AND src = (SELECT min(src) FROM g_edges WHERE dst = 'P1')
UNION ALL
SELECT 'NEW_SUPP_Z', 'P1', 0, CAST(NULL AS DOUBLE)
"""


# -- Batch mutations (the 100 TB path: pure joins, no driver state) ----------------

def m_bulk_add_edges(spark, sf_dir):
    g = _graph(spark, sf_dir)
    g.add_edges(customer_order_edges(spark, sf_dir))
    n = g.nodes_df.agg(F.count(F.lit(1)).alias("n_nodes"))
    e = g.edges_df.agg(F.count(F.lit(1)).alias("n_edges"))
    return n.crossJoin(e)


M_BULK_ADD_EDGES_SQL = GRAPH_CTE + f"""
, co_edges AS ({CUSTOMER_ORDER_EDGES_SQL}),
all_keys AS (
  SELECT key FROM g_nodes
  UNION SELECT src FROM co_edges
  UNION SELECT dst FROM co_edges
)
SELECT (SELECT COUNT(*) FROM all_keys) AS n_nodes,
       (SELECT COUNT(*) FROM g_edges) + (SELECT COUNT(*) FROM co_edges) AS n_edges
"""


def m_bulk_remove_nodes(spark, sf_dir):
    g = _graph(spark, sf_dir)
    victims = spark.createDataFrame([("S1",), ("S2",), ("S3",)], "key string")
    g.remove_nodes(victims, cascade=True)
    n = g.nodes_df.agg(F.count(F.lit(1)).alias("n_nodes"))
    e = g.edges_df.agg(F.count(F.lit(1)).alias("n_edges"))
    return n.crossJoin(e)


M_BULK_REMOVE_NODES_SQL = GRAPH_CTE + """
SELECT (SELECT COUNT(*) FROM g_nodes WHERE key NOT IN ('S1','S2','S3')) AS n_nodes,
       (SELECT COUNT(*) FROM g_edges
        WHERE src NOT IN ('S1','S2','S3') AND dst NOT IN ('S1','S2','S3')) AS n_edges
"""


register(g_node_lookup, G_NODE_LOOKUP_SQL)
register(g_edge_lookup, G_EDGE_LOOKUP_SQL)
register(g_exists, G_EXISTS_SQL)
register(g_neighbors, G_NEIGHBORS_SQL)
register(g_predecessors, G_PREDECESSORS_SQL)
register(g_neighbors_from, G_NEIGHBORS_FROM_SQL)
register(g_predecessors_from, G_PREDECESSORS_FROM_SQL)
register(g_common_neighbors, G_COMMON_NEIGHBORS_SQL)
register(g_common_predecessors, G_COMMON_PREDECESSORS_SQL)
register(g_out_degrees, G_OUT_DEGREES_SQL)
register(g_in_degrees, G_IN_DEGREES_SQL)
register(g_degree_histogram, G_DEGREE_HISTOGRAM_SQL)
register(g_nodes_table, G_NODES_TABLE_SQL)
register(g_edges_table, G_EDGES_TABLE_SQL)
register(g_counts, G_COUNTS_SQL)
register(g_batch_nodes_page2, G_BATCH_NODES_SQL)
register(g_batch_edges_page2, G_BATCH_EDGES_SQL)
register(g_adjacency_coo, G_ADJACENCY_SQL)
register(g_subgraph_coo, G_SUBGRAPH_SQL)
register(m_add_node_upsert, M_ADD_NODE_SQL)
register(m_add_edge_autocreate, M_ADD_EDGE_SQL)
register(m_remove_edge, M_REMOVE_EDGE_SQL)
register(m_remove_node_cascade, M_REMOVE_NODE_SQL)
register(m_set_neighbors, M_SET_NEIGHBORS_SQL)
register(m_set_predecessors, M_SET_PREDECESSORS_SQL)
register(m_bulk_add_edges, M_BULK_ADD_EDGES_SQL)
register(m_bulk_remove_nodes, M_BULK_REMOVE_NODES_SQL)


# -- Graph analytics extensions (multi-hop traversal, link prediction,
#    iterative PageRank) — natural extensions beyond the reference surface
#    (SURVEY.md §4.3: multi-hop would use iterative joins; no engine fork). --

def g_cosuppliers(spark, sf_dir):
    """2-hop neighborhood of S1 (suppliers sharing a part with S1):
    one self-join on dst — the iterative-join traversal pattern."""
    e = _graph(spark, sf_dir).edges_df
    a = e.filter(F.col("src") == "S1").select(F.col("dst").alias("d"))
    return (
        e.join(a, F.col("dst") == F.col("d"))
        .filter(F.col("src") != "S1")
        .select(F.col("src").alias("key"))
        .distinct()
    )


G_COSUPPLIERS_SQL = GRAPH_CTE + """
SELECT DISTINCT b.src AS key
FROM g_edges a JOIN g_edges b ON a.dst = b.dst
WHERE a.src = 'S1' AND b.src <> 'S1'
"""


def g_three_hop_parts(spark, sf_dir):
    """3-hop: parts supplied by S1's co-suppliers (but ANY part they supply)."""
    e = _graph(spark, sf_dir).edges_df
    s1_parts = e.filter(F.col("src") == "S1").select(F.col("dst").alias("d"))
    cosup = (
        e.join(s1_parts, F.col("dst") == F.col("d"))
        .filter(F.col("src") != "S1")
        .select(F.col("src").alias("cs"))
        .distinct()
    )
    return (
        e.join(cosup, F.col("src") == F.col("cs"))
        .select(F.col("dst").alias("key"))
        .distinct()
    )


G_THREE_HOP_SQL = GRAPH_CTE + """
SELECT DISTINCT c.dst AS key
FROM (SELECT DISTINCT b.src FROM g_edges a JOIN g_edges b ON a.dst = b.dst
      WHERE a.src = 'S1' AND b.src <> 'S1') cs
JOIN g_edges c ON c.src = cs.src
"""


def g_link_prediction(spark, sf_dir):
    """Common-neighbor link-prediction scores: top-20 supplier pairs by
    shared part count. Self-join on dst, one aggregation — at 100 TB the
    join key (dst) is the bipartite hub side, so AQE skew-join handles hot
    parts."""
    # the pair counting IS the session-persisted co_shared table (engine
    # state shared with the triangle family) — one TakeOrderedAndProject
    # over warm storage, no re-run of the quadratic self-join
    return (
        co_shared(spark, sf_dir)
        .select(
            F.col("s1").alias("key_a"),
            F.col("s2").alias("key_b"),
            F.col("shared_parts").alias("common"),
        )
        .orderBy(F.desc("common"), "key_a", "key_b")
        .limit(20)
    )


G_LINK_PREDICTION_SQL = GRAPH_CTE + """
SELECT a.src AS key_a, b.src AS key_b, COUNT(*) AS common
FROM g_edges a JOIN g_edges b ON a.dst = b.dst
WHERE a.src < b.src
GROUP BY 1, 2
ORDER BY common DESC, key_a, key_b
LIMIT 20
"""


PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def g_pagerank(spark, sf_dir):
    """PageRank, PAGERANK_ITERS fixed iterations (deterministic — the SQL
    oracle replays the identical recurrence). Dangling-node mass is dropped,
    documented deviation from the redistribution variant.

    Scale: each iteration is one join + one aggregation on the edge table;
    rank vectors are (key, double) — at 100 TB co-partition edges and ranks
    on src to make the join shuffle-free after the first iteration.
    """
    g = _graph(spark, sf_dir)
    nodes = g.nodes_df.select("key")
    n = _n_nodes(spark, sf_dir)
    if n == 0:  # empty graph: empty ranking, like the oracle
        return spark.createDataFrame([], "key string, pagerank double")
    base = (1.0 - PAGERANK_DAMPING) / n
    # rank vector and degree table are |V|-sized: broadcast them while |V|
    # is broadcastable so each iteration is a map-side join over edges (no
    # edge shuffle); past the bound switch to co-partitioned shuffle joins
    hint = size_hint(n)
    # the degree join is hoisted out of the loop AND shared per sf_dir, so
    # each iteration is ONE join + one aggregation. Division stays pr/outd
    # (not pr * 1/outd) to match the oracle bit-for-bit.
    edges_deg = _edges_deg(spark, sf_dir)
    # The rank vector stays SPARSE throughout: it holds only nodes with
    # in-edges, and an absent key means pr == base exactly (base + d·0).
    # This removes the |V|-densifying join from every iteration; iteration 1
    # needs no rank join at all because pr0 is the uniform constant 1/n.
    contribs = edges_deg.groupBy("dst").agg(
        F.sum(F.lit(1.0 / n) / F.col("outd")).alias("m")
    )
    step = (F.lit(base) + F.lit(PAGERANK_DAMPING) * F.col("m")).alias("pr")
    pr = contribs.select(F.col("dst").alias("key"), step)
    for _ in range(PAGERANK_ITERS - 1):
        contribs = (
            edges_deg.join(hint(pr), F.col("key") == F.col("src"), "left")
            .groupBy("dst")
            .agg(
                F.sum(F.coalesce(F.col("pr"), F.lit(base)) / F.col("outd")).alias("m")
            )
        )
        pr = contribs.select(F.col("dst").alias("key"), step)
    # densify once at the end: every node not in the sparse vector is base
    full = nodes.join(hint(pr), "key", "left").select(
        "key", F.coalesce(F.col("pr"), F.lit(base)).alias("pr")
    )
    return (
        full.select("key", F.round("pr", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "key")
        .limit(20)
    )


def _pagerank_sql() -> str:
    d = PAGERANK_DAMPING
    its = []
    prev = "pr0"
    for i in range(1, PAGERANK_ITERS + 1):
        its.append(f"""
it{i} AS (
  SELECT k.key,
         (CAST('{1 - d!r}' AS DOUBLE) / n.n)
         + CAST('{d!r}' AS DOUBLE) * COALESCE(c.m, CAST(0 AS DOUBLE)) AS pr
  FROM g_nodes k CROSS JOIN n
  LEFT JOIN (
    SELECT e.dst AS key, SUM(p.pr / dg.outd) AS m
    FROM g_edges e
    JOIN {prev} p ON p.key = e.src
    JOIN deg dg ON dg.src = e.src
    GROUP BY e.dst
  ) c ON c.key = k.key
)""")
        prev = f"it{i}"
    return GRAPH_CTE + f"""
, deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outd FROM g_edges GROUP BY src),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM g_nodes),
pr0 AS (SELECT key, CAST(1 AS DOUBLE) / n.n AS pr FROM g_nodes CROSS JOIN n),
{",".join(its)}
SELECT key, ROUND(pr, 6) AS pagerank FROM {prev}
ORDER BY pagerank DESC, key
LIMIT 20
"""


register(g_cosuppliers, G_COSUPPLIERS_SQL)
register(g_three_hop_parts, G_THREE_HOP_SQL)
register(g_link_prediction, G_LINK_PREDICTION_SQL)
register(g_pagerank, _pagerank_sql())


# -- Queries over the other two FIXTURES.md §2 graph derivations ----------------

def g_co_top_customers(spark, sf_dir):
    """customer→order graph (tree-like, high fan-out): top-20 customers by
    out-degree with total edge weight (spend) — Graph facade over the
    second derivation."""
    g = Graph.from_edges(customer_order_edges(spark, sf_dir))
    weights = g.edges_df.groupBy(F.col("src").alias("key")).agg(
        F.sum(F.col("weight").cast("decimal(18,6)")).cast("double").alias("total_spend")
    )
    return (
        g.out_degrees()
        .join(weights, "key")
        .orderBy(F.desc("total_spend"), "key")
        .limit(20)
    )


G_CO_TOP_CUSTOMERS_SQL = f"""
WITH co_edges AS ({CUSTOMER_ORDER_EDGES_SQL})
SELECT src AS key, COUNT(*) AS out_degree,
       CAST(SUM(CAST(weight AS DECIMAL(18,6))) AS DOUBLE) AS total_spend
FROM co_edges
GROUP BY src
ORDER BY total_spend DESC, key
LIMIT 20
"""


def g_ue_activity(spark, sf_dir):
    """user→event-type graph (third derivation): per event-type in-degree
    and accumulated weight."""
    from kinbaku_spark.sources.tables import user_event_edges

    g = Graph.from_edges(user_event_edges(spark, sf_dir))
    return (
        g.edges_df.groupBy(F.col("dst").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("in_degree"),
            F.sum(F.col("weight").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .orderBy("key")
    )


G_UE_ACTIVITY_SQL = """
WITH ue_edges AS (
SELECT 'U' || CAST(user_id AS VARCHAR) AS src,
       'E:' || event_type AS dst,
       0 AS type,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS weight
FROM events
GROUP BY 1, 2, 3
)
SELECT dst AS key, COUNT(*) AS in_degree,
       CAST(SUM(CAST(weight AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM ue_edges
GROUP BY dst
ORDER BY key
"""


register(g_co_top_customers, G_CO_TOP_CUSTOMERS_SQL)
register(g_ue_activity, G_UE_ACTIVITY_SQL)


# -- BFS depths (iterative frontier expansion; recursive-CTE oracle) ------------

BFS_SOURCE = "S1"
BFS_MAX_DEPTH = 6


def und_edges(spark, sf_dir):
    """The symmetrized (undirected) edge set, deduped and persisted once
    per sf_dir — shared by every iterative traversal (BFS, geodesic
    counting) so the distinct-shuffle is paid once, not once per round."""
    def build():
        g = _graph(spark, sf_dir)
        und = (
            g.edges_df.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .union(g.edges_df.select(F.col("dst"), F.col("src")))
            .distinct()
            .persist()
        )
        und.count()
        return und

    return _graph_state(spark, sf_dir, "und_plain", build)


def co_shared(spark, sf_dir):
    """The co-supplier pair counts (s1 < s2, shared part count) — the
    quadratic pair aggregation behind the triangle/transitivity family
    AND common-neighbor link prediction, built and persisted ONCE per
    sf_dir as engine state. Exact integer counts; identical to every
    consumer's inline SQL-oracle CTE."""
    def build():
        g = _graph(spark, sf_dir)
        sp = g.edges_df.select("src", "dst").distinct()
        b = sp.select(F.col("src").alias("s2"), F.col("dst").alias("p"))
        counts = (
            sp.select(F.col("src").alias("s1"), F.col("dst").alias("p"))
            .join(b, "p")
            .filter(F.col("s1") < F.col("s2"))
            .groupBy("s1", "s2")
            .agg(F.count(F.lit(1)).alias("shared_parts"))
            .persist()
        )
        counts.count()
        return counts

    return _graph_state(spark, sf_dir, "co_shared", build)


def co_proj(spark, sf_dir):
    """The mean-thresholded co-supplier projection (s1 < s2 pairs sharing
    >= ceil(avg) parts) over :func:`co_shared`, persisted once per
    sf_dir."""
    def build():
        counts = co_shared(spark, sf_dir)
        thr = counts.agg(F.ceil(F.avg("shared_parts")).cast("long").alias("t"))
        proj = (
            counts.join(F.broadcast(thr))
            .filter(F.col("shared_parts") >= F.col("t"))
            .select("s1", "s2")
            .persist()
        )
        proj.count()
        return proj

    return _graph_state(spark, sf_dir, "co_proj", build)


def tri_per_node(spark, sf_dir):
    """Per-node triangle counts of :func:`co_proj` (exact block GEMM,
    operators/triangles.py), session-persisted: derived engine state
    shared by g_triangles, g_transitivity's exact path and
    g_local_clustering — the projection is multiplied ONCE per sf_dir,
    however many metrics read it."""
    from kinbaku_spark.operators.triangles import triangle_block_gemm

    def build():
        t = triangle_block_gemm(co_proj(spark, sf_dir), per_node=True).persist()
        t.count()
        return t

    return _graph_state(spark, sf_dir, "tri_per_node", build)


def g_bfs_depths(spark, sf_dir):
    """Undirected BFS from S1: (key, depth) for every reachable node within
    BFS_MAX_DEPTH. Iterative min-depth frontier expansion — each round is one
    join + one aggregation over the frontier only (not the full vertex set),
    the standard distributed-BFS shape.
    """
    # the depth table is derived engine state shared by g_closeness (same
    # pattern as und_edges / co_shared): built once per sf_dir, the second
    # consumer reads the checkpointed pieces instead of re-running 6
    # frontier rounds (census: g_closeness 6.6s -> aggregate-only)
    return _graph_state(spark, sf_dir, "bfs_depths", lambda: _bfs_depths(spark, sf_dir))


def _bfs_depths(spark, sf_dir):
    und = und_edges(spark, sf_dir)
    depths = spark.createDataFrame([(BFS_SOURCE, 0)], "key string, depth int")
    frontier = depths
    for d in range(1, BFS_MAX_DEPTH + 1):
        neighbors = (
            und.join(frontier.withColumnRenamed("key", "u2"), und.u == F.col("u2"))
            .select(F.col("v").alias("key"))
            .distinct()
        )
        # lazy checkpoint + full count: ONE job both materializes the
        # round's frontier and answers the early-exit probe
        new = neighbors.join(depths.select("key"), "key", "left_anti").select(
            "key", F.lit(d).cast("int").alias("depth")
        ).localCheckpoint(eager=False)
        if new.count() == 0:
            break
        depths = depths.unionByName(new)
        frontier = new
    return depths


G_BFS_SQL = GRAPH_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + f"""
, und AS (
  SELECT src AS u, dst AS v FROM g_edges
  UNION
  SELECT dst, src FROM g_edges
),
reach AS (
  SELECT '{BFS_SOURCE}' AS key, 0 AS depth
  UNION
  SELECT u.v AS key, r.depth + 1
  FROM reach r JOIN und u ON u.u = r.key
  WHERE r.depth < {BFS_MAX_DEPTH}
)
SELECT key, CAST(MIN(depth) AS INTEGER) AS depth
FROM reach
GROUP BY key
"""


# -- per-group top-k: two heaviest edges per supplier ----------------------------

def g_top_edges_per_node(spark, sf_dir):
    g = _graph(spark, sf_dir)
    w = Window.partitionBy("src").orderBy(F.desc("weight"), F.col("dst"))
    return (
        g.edges_df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("src", "dst", "weight", "rk")
    )


G_TOP_EDGES_SQL = GRAPH_CTE + """
SELECT src, dst, weight, rk FROM (
  SELECT src, dst, weight,
         CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY weight DESC, dst) AS INTEGER) AS rk
  FROM g_edges
) WHERE rk <= 2
"""


register(g_bfs_depths, G_BFS_SQL)
register(g_top_edges_per_node, G_TOP_EDGES_SQL)


# -- k-core decomposition (fixed-round peeling) ------------------------------

KCORE_ROUNDS = 3


def g_kcore(spark, sf_dir):
    """k-core peeling, KCORE_ROUNDS fixed rounds (deterministic: the SQL
    oracle replays the identical peels): repeatedly drop nodes with total
    degree (in+out) < k, restrict edges to survivors, recount. k is the
    graph's mean total degree floor(2|E|/|V|) — integer-exact in both
    engines, and scale-adaptive so the peel actually bites at every SF. The
    reference has no subgraph-mining ops at all (SURVEY.md §2.4); this is
    the Spark-native extension on its own graph model.

    Scale: each round is one degree aggregation over the live edge set plus
    two semi-joins — the surviving-node set shrinks monotonically, and the
    keep-list broadcasts. Fixed rounds (not to-convergence) keep the
    lineage bounded; each round's edge set is checkpointed because it has
    three consumers (next degree agg + both semi-joins) and would otherwise
    re-execute 3^rounds times.
    """
    g = _graph(spark, sf_dir)
    edges = g.edges_df.select("src", "dst")
    n_nodes = g.nodes_df.count()
    if n_nodes == 0:  # empty graph: empty core, like the oracle
        return spark.createDataFrame([], "key string, deg long")
    k = edges.count() // n_nodes

    def core(edges):  # (key, deg) of the nodes with total degree >= k
        return (
            edges.select(F.col("src").alias("key"))
            .unionAll(edges.select(F.col("dst").alias("key")))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
        )

    # the keep-list is |V|-sized: peel hints it only while |V| is under
    # the bound (an explicit hint is never demoted by AQE — ungated it is
    # an OOM at 10^9 nodes) and pins it past the bound, where the
    # semi-joins fall back to shuffle
    for _ in range(KCORE_ROUNDS):
        edges = peel(edges, core(edges).select("key"), "src", "dst", n_nodes)
    return core(edges).orderBy("key")


def _kcore_sql() -> str:
    rounds = KCORE_ROUNDS
    parts = [
        "kk AS (SELECT (SELECT COUNT(*) FROM g_edges)"
        " // (SELECT COUNT(*) FROM g_nodes) AS k)",
        "e0 AS (SELECT src, dst FROM g_edges)",
    ]
    for i in range(rounds):
        parts.append(f"""
d{i} AS (
  SELECT key, COUNT(*) AS deg FROM (
    SELECT src AS key FROM e{i} UNION ALL SELECT dst FROM e{i}
  ) GROUP BY key
),
k{i} AS (SELECT key FROM d{i} WHERE deg >= (SELECT k FROM kk)),
e{i + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{i} e
  WHERE e.src IN (SELECT key FROM k{i}) AND e.dst IN (SELECT key FROM k{i})
)""")
    body = ",".join(parts)
    return GRAPH_CTE.rstrip() + ", " + body + f"""
SELECT key, deg FROM (
  SELECT key, COUNT(*) AS deg FROM (
    SELECT src AS key FROM e{rounds} UNION ALL SELECT dst FROM e{rounds}
  ) GROUP BY key
) WHERE deg >= (SELECT k FROM kk)
ORDER BY key
"""


register(g_kcore, _kcore_sql())


# -- triangle participation on the co-supplier projection --------------------

def g_triangles(spark, sf_dir):
    """Per-node triangle participation, top 20, on the co-supplier
    similarity graph (the stored graph is bipartite supplier→part, so it
    is triangle-free by construction; triangles live in its one-mode
    projection: suppliers sharing >= t parts, t = ceil(mean shared-part
    count) — integer-exact in both engines, scale-adaptive so the
    projection stays sparse). The reference has no multi-hop analytics at
    all (SURVEY.md §2.4).

    Scale: the projection join (sp ⋈ sp on part) is the quadratic risk —
    per-part supplier lists blow up on hub parts; the mean-threshold cut
    keeps only strongly-co-occurring pairs. Triangles are enumerated on
    canonically ORIENTED edges (s1 < s2): each triangle counted exactly
    once via the wedge join e1(a,b) ⋈ e2(b,c) closed by e3(a,c) — the
    standard distributed formulation (one shuffle per hop on the edge
    endpoint); at 1000-executor scale the orientation would be by degree
    (lower-degree endpoint first) to bound wedge fan-out, which changes no
    results, only the join sizes. Participation = each triangle credited
    to all 3 corners (union-all + groupBy, partial aggregation map-side).
    """
    # per-node counts from the session-shared block GEMM ((A³)_uu/2 per
    # node — operators/triangles.py, cached by tri_per_node), instead of
    # materializing every wedge row through a 3-way join
    return (
        tri_per_node(spark, sf_dir)
        .orderBy(F.desc("n_triangles"), "key")
        .limit(20)
    )


G_TRIANGLES_SQL = (
    GRAPH_CTE.rstrip()
    + """,
sp AS (SELECT DISTINCT src, dst FROM g_edges),
shared AS (
  SELECT a.src AS s1, b.src AS s2, COUNT(*) AS shared_parts
  FROM sp a JOIN sp b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
),
thr AS (SELECT CAST(CEIL(AVG(shared_parts)) AS BIGINT) AS t FROM shared),
proj AS (SELECT s1, s2 FROM shared WHERE shared_parts >= (SELECT t FROM thr)),
tri AS (
  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
  FROM proj e1
  JOIN proj e2 ON e2.s1 = e1.s2
  WHERE EXISTS (SELECT 1 FROM proj e3 WHERE e3.s1 = e1.s1 AND e3.s2 = e2.s2)
),
corners AS (
  SELECT a AS key FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT key, COUNT(*) AS n_triangles
FROM corners
GROUP BY key
ORDER BY n_triangles DESC, key
LIMIT 20
"""
)


register(g_triangles, G_TRIANGLES_SQL)


# -- bounded weighted SSSP (Bellman-Ford rounds) ------------------------------

SSSP_ROUNDS = 3
SSSP_SOURCE = "S1"


def g_sssp_bounded(spark, sf_dir):
    """Weighted single-source shortest paths from S1 over the undirected
    (symmetrized) graph, SSSP_ROUNDS Bellman-Ford rounds — (key, dist)
    for every node reachable within that many hops. Fixed rounds keep the
    oracle an exact replay (the SQL materializes the identical rounds) and
    bound the lineage; to-convergence is the same loop with an early-stop
    count, the standard distributed SSSP (Pregel) shape.

    Each round is one join of the CURRENT distance table to the edge list
    plus a min-aggregation — never a full-graph materialization. Distances
    stay exact: every path sum is the same left-to-right double addition
    chain in both engines, and MIN over a set is order-free.
    """
    g = _graph(spark, sf_dir)
    # the symmetrized edge table is loop-invariant and consumed once per
    # round: cache it per sf_dir alongside the other derived-graph state
    # so rounds (and repeat invocations) never recompute the union
    und = _graph_state(spark, sf_dir, "und_weighted", lambda: (
        g.edges_df.select(F.col("src").alias("u"), F.col("dst").alias("v"), "weight")
        .unionAll(g.edges_df.select(F.col("dst"), F.col("src"), "weight"))
        .persist()
    ))
    # the distance table is bounded by the reached vertex set (<= |V|):
    # propagate broadcasts it while |V| is under the gate, so the
    # persisted edge table is scanned in place per round
    n = _n_nodes(spark, sf_dir)
    dist = spark.createDataFrame([(SSSP_SOURCE, 0.0)], "key string, dist double")
    for _ in range(SSSP_ROUNDS):
        # the reached set grows: the old distances ride in as extra rows
        dist = propagate(
            dist,
            und,
            src="u",
            dst="v",
            message=[(F.col("dist") + F.col("weight")).alias("dist")],
            aggs=[F.min("dist").alias("dist")],
            extra_rows=dist,
            bound=n,
        ).localCheckpoint(eager=False)
    return dist.orderBy("key")


def _sssp_sql() -> str:
    parts = [
        "und AS (SELECT src AS u, dst AS v, weight FROM g_edges"
        " UNION ALL SELECT dst, src, weight FROM g_edges)",
        f"d0 AS (SELECT '{SSSP_SOURCE}' AS key, CAST(0.0 AS DOUBLE) AS dist)",
    ]
    for i in range(SSSP_ROUNDS):
        parts.append(f"""
c{i} AS (
  SELECT und.v AS key, d.dist + und.weight AS dist
  FROM und JOIN d{i} d ON und.u = d.key
),
d{i + 1} AS MATERIALIZED (
  SELECT key, MIN(dist) AS dist FROM (
    SELECT * FROM d{i} UNION ALL SELECT * FROM c{i}
  ) GROUP BY key
)""")
    return (
        GRAPH_CTE.rstrip()
        + ", "
        + ",".join(parts)
        + f"\nSELECT key, dist FROM d{SSSP_ROUNDS} ORDER BY key\n"
    )


register(g_sssp_bounded, _sssp_sql())


# -- deterministic random walks (node2vec-style sampling primitive) -----------

WALK_STEPS = 3


def g_random_walks(spark, sf_dir):
    """One walk per supplier node over the undirected graph, WALK_STEPS
    steps, next hop chosen as argmin of the shared md5 hash over
    (walk, step, candidate) — a deterministic stand-in for uniform
    sampling that both engines replay bit-identically. This is the
    sampling primitive under DeepWalk/node2vec embedding pipelines.

    Each step is one join of the |walks|-sized frontier to the edge list
    plus a per-walk argmin (min_by) — frontier-sized state, never the
    full graph; at 100 TB walks batch by the thousands per executor and
    the edge list is the only big table touched.
    """
    from kinbaku_spark.functions.hashing import md5_long

    g = _graph(spark, sf_dir)
    und = g.edges_df.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(g.edges_df.select(F.col("dst"), F.col("src")))
    cur = (
        g.nodes_df.filter(F.col("key").startswith("S"))
        .select(F.col("key").alias("walk_id"), F.col("key").alias("node"))
    )
    out = cur.select("walk_id", F.lit(0).alias("step"), "node")
    # walker state is one row per walk: broadcast it while broadcastable so
    # the edge table is scanned in place per step (explicit hints are never
    # demoted by AQE, hence the count gate — g_pagerank pattern)
    hint = size_hint(cur.count(), default_bound=1_000_000)
    for i in range(1, WALK_STEPS + 1):
        h = md5_long(
            F.concat_ws(":", F.col("walk_id"), F.lit(str(i)), F.col("v"))
        )
        cur = (
            und.join(hint(cur), und.u == cur.node)
            .select("walk_id", "v", h.alias("h"))
            .groupBy("walk_id")
            .agg(F.min_by("v", "h").alias("node"))
            .localCheckpoint(eager=False)
        )
        out = out.unionAll(cur.select("walk_id", F.lit(i).alias("step"), "node"))
    return out.orderBy("walk_id", "step")


def _walks_cte() -> str:
    from kinbaku_spark.functions.hashing import sql_md5_long

    h = sql_md5_long("w.walk_id || ':' || '{i}' || ':' || und.v")
    parts = [
        "und AS (SELECT src AS u, dst AS v FROM g_edges"
        " UNION ALL SELECT dst, src FROM g_edges)",
        "w0 AS (SELECT key AS walk_id, key AS node FROM g_nodes"
        " WHERE key LIKE 'S%')",
    ]
    for i in range(1, WALK_STEPS + 1):
        hi = h.replace("{i}", str(i))
        parts.append(f"""
w{i} AS MATERIALIZED (
  SELECT w.walk_id, arg_min(und.v, {hi}) AS node
  FROM w{i - 1} w JOIN und ON und.u = w.node
  GROUP BY w.walk_id
)""")
    selects = [
        f"SELECT walk_id, {i} AS step, node FROM w{i}"
        for i in range(0, WALK_STEPS + 1)
    ]
    walks_union = "\n  UNION ALL ".join(selects)
    return (
        GRAPH_CTE.rstrip()
        + ", "
        + ",".join(parts)
        + f", walks AS (\n  {walks_union}\n)"
    )


def _walks_sql() -> str:
    return _walks_cte() + "\nSELECT walk_id, step, node FROM walks ORDER BY walk_id, step\n"


register(g_random_walks, _walks_sql())


# -- HITS hubs & authorities (bounded rounds) ---------------------------------

HITS_ROUNDS = 2
HITS_TOP = 20


def g_hits(spark, sf_dir):
    """HITS on the bipartite supplier→part graph — suppliers are the hubs,
    parts the authorities (the natural HITS shape: a(p) = Σ h(s) over
    s→p, h(s) = Σ a(p)). HITS_ROUNDS fixed rounds, max-normalized each
    half-step (max is order-free, unlike an L2 norm whose summation order
    would drift across engines); the SQL oracle replays the identical
    recurrence. Top HITS_TOP per role, ties on key.

    Scale: each half-step is one join of the |V|-sized score vector
    (broadcast) to the edge table plus a groupBy — the edge table never
    shuffles; scores stay in [0,1] so cross-engine double drift is far
    below the 6dp compare.
    """
    g = _graph(spark, sf_dir)
    edges = g.edges_df.select("src", "dst")
    # hub/auth score vectors are |V|-sized: propagate size-gates their
    # hints (the 1-row max aggregate in normalize stays unconditional)
    n = _n_nodes(spark, sf_dir)

    def normalize(df, col):
        # pin the raw scores first: the max-aggregate AND the division both
        # consume df, and each subsequent round consumes the result twice
        # more — without the checkpoint the edge-join lineage re-executes
        # a compounding 2^rounds times (measured 30 s -> 3 s at sf0.1)
        df = df.localCheckpoint(eager=True)
        mx = df.agg(F.max(col).alias("mx"))
        return df.crossJoin(F.broadcast(mx)).select(
            "key", (F.col(col) / F.col("mx")).alias(col)
        )

    # h0 = 1 for every supplier: a1(p) = in-degree of p
    auth = edges.groupBy("dst").agg(F.count(F.lit(1)).cast("double").alias("a"))
    auth = normalize(auth.select(F.col("dst").alias("key"), "a"), "a")
    for _ in range(HITS_ROUNDS):
        hub = propagate(
            auth, edges, src="dst", dst="src",
            message=[F.col("a").alias("h")], aggs=[F.sum("h").alias("h")], bound=n,
        )
        hub = normalize(hub, "h")
        auth = propagate(
            hub, edges, src="src", dst="dst",
            message=[F.col("h").alias("a")], aggs=[F.sum("a").alias("a")], bound=n,
        )
        auth = normalize(auth, "a")
    # rank on the 6dp-rounded score: raw doubles carry engine-order drift
    # in the last bits, and near-max scores tie at 6dp — rounding first
    # makes the top-k cut (ties broken on key) identical across engines
    top_h = (
        hub.select(
            F.lit("hub").alias("role"), "key", F.round("h", 6).alias("score")
        )
        .orderBy(F.desc("score"), "key")
        .limit(HITS_TOP)
    )
    top_a = (
        auth.select(
            F.lit("authority").alias("role"), "key", F.round("a", 6).alias("score")
        )
        .orderBy(F.desc("score"), "key")
        .limit(HITS_TOP)
    )
    return top_h.unionAll(top_a).orderBy("role", F.desc("score"), "key")


def _hits_sql() -> str:
    parts = [
        "a0 AS (SELECT dst AS key, CAST(COUNT(*) AS DOUBLE) AS a"
        " FROM g_edges GROUP BY dst)",
        "a0n AS (SELECT key, a / (SELECT MAX(a) FROM a0) AS a FROM a0)",
    ]
    prev = "a0n"
    for i in range(1, HITS_ROUNDS + 1):
        parts.append(f"""
h{i} AS (
  SELECT e.src AS key, SUM(v.a) AS h
  FROM g_edges e JOIN {prev} v ON v.key = e.dst GROUP BY e.src
),
h{i}n AS MATERIALIZED (
  SELECT key, h / (SELECT MAX(h) FROM h{i}) AS h FROM h{i}
),
a{i} AS (
  SELECT e.dst AS key, SUM(v.h) AS a
  FROM g_edges e JOIN h{i}n v ON v.key = e.src GROUP BY e.dst
),
a{i}n AS MATERIALIZED (
  SELECT key, a / (SELECT MAX(a) FROM a{i}) AS a FROM a{i}
)""")
        prev = f"a{i}n"
    n = HITS_ROUNDS
    return (
        GRAPH_CTE.rstrip()
        + ", "
        + ",".join(parts)
        + f"""
SELECT * FROM (
  SELECT 'hub' AS role, key, ROUND(h, 6) AS score FROM h{n}n
  ORDER BY score DESC, key LIMIT {HITS_TOP}
)
UNION ALL
SELECT * FROM (
  SELECT 'authority' AS role, key, ROUND(a, 6) AS score FROM a{n}n
  ORDER BY score DESC, key LIMIT {HITS_TOP}
)
ORDER BY role, score DESC, key
"""
    )


register(g_hits, _hits_sql())


# -- label-propagation components (bounded min-label rounds) ------------------

LABEL_ROUNDS = 3


def g_label_propagation(spark, sf_dir):
    """Min-label propagation over the undirected graph, LABEL_ROUNDS
    rounds: every node takes the minimum of its own and its neighbors'
    labels (labels start as the node key). After enough rounds this is
    connected components; fixed rounds keep the oracle an exact replay and
    the lineage bounded. Returns (key, label) for every node.

    Each round is one join of the label vector to the edge list plus one
    min-aggregation over the node's own label and its neighbors' — MIN
    over strings is order-free, so the replay is exact at any scale. The
    per-round label table is |V|-sized and broadcast; the edge table never
    shuffles.
    """
    g = _graph(spark, sf_dir)
    und = g.edges_df.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(g.edges_df.select(F.col("dst"), F.col("src")))
    lab = g.nodes_df.select("key", F.col("key").alias("label"))
    n = _n_nodes(spark, sf_dir)
    for _ in range(LABEL_ROUNDS):
        # LEAST(label, COALESCE(MIN(neighbor labels), label)) ≡ MIN over
        # the self row and the neighbor labels: one aggregation, no merge
        lab = propagate(
            lab,
            und,
            src="u",
            dst="v",
            message=[F.col("label")],
            aggs=[F.min("label").alias("label")],
            self_rows=lab,
            bound=n,
        ).localCheckpoint(eager=False)
    return lab.orderBy("key")


def _label_prop_sql() -> str:
    parts = [
        "und AS (SELECT src AS u, dst AS v FROM g_edges"
        " UNION ALL SELECT dst, src FROM g_edges)",
        "l0 AS (SELECT key, key AS label FROM g_nodes)",
    ]
    for i in range(LABEL_ROUNDS):
        parts.append(f"""
n{i} AS (
  SELECT und.v, MIN(l.label) AS nlabel
  FROM und JOIN l{i} l ON l.key = und.u GROUP BY und.v
),
l{i + 1} AS MATERIALIZED (
  SELECT l.key, LEAST(l.label, COALESCE(n.nlabel, l.label)) AS label
  FROM l{i} l LEFT JOIN n{i} n ON n.v = l.key
)""")
    return (
        GRAPH_CTE.rstrip()
        + ", "
        + ",".join(parts)
        + f"\nSELECT key, label FROM l{LABEL_ROUNDS} ORDER BY key\n"
    )


register(g_label_propagation, _label_prop_sql())


# -- salted two-phase degree count (skew mitigation, identical result) --------

def g_in_degrees_salted(spark, sf_dir):
    """In-degrees via operators/skew.salted_count: phase 1 groups on
    (dst, salt) so a hub key (the reference's 200k-degree node,
    examples/one_node_many_neighbors.py) spreads over 16 reducers; phase 2
    re-aggregates the partials. Counts are associative, so the result is
    IDENTICAL to the direct groupBy — the oracle is the same plain GROUP BY
    as g_in_degrees, which is exactly the point: salting changes the
    shuffle shape, never the answer.
    """
    from kinbaku_spark.operators.skew import salted_count

    _, edges = _cached(spark, sf_dir)
    return salted_count(edges.select("dst"), ["dst"], salt=16).select(
        F.col("dst").alias("key"), F.col("count").alias("in_degree")
    )


register(g_in_degrees_salted, G_IN_DEGREES_SQL)


def _lp_labels(spark, sf_dir):
    """Cached label-propagation vector: call-invariant for the stored graph,
    computed once per sf_dir and persisted (at 100 TB community labels are
    a materialized table, not per-query work — same policy as pagerank's
    degree table)."""
    def build():
        labels = g_label_propagation(spark, sf_dir).persist()
        labels.count()
        return labels

    return _graph_state(spark, sf_dir, "lp_labels", build)


# -- modularity of the label-propagation communities --------------------------

def g_modularity(spark, sf_dir):
    """Newman modularity contribution of every community found by
    g_label_propagation: Q_c = e_c/m - (d_c/2m)^2 with e_c = intra-community
    edges, d_c = community degree sum, m = |E| (undirected convention on
    the symmetrized graph). The community-quality metric that turns the
    LP/community surface into something measurable.

    Shape: the label vector is |V|-sized and broadcast twice onto the edge
    list (no edge shuffle); everything after is community-cardinality.
    Counts stay integer end-to-end; the two divisions are written as one
    fixed expression replayed verbatim by the oracle.
    """
    g = _graph(spark, sf_dir)
    lab = _lp_labels(spark, sf_dir)
    edges = g.edges_df.select("src", "dst")
    # label and degree maps (and the community tables derived from them)
    # are |V|-sized: size-gate; the 1-row m aggregate stays unconditional
    hint = size_hint(_n_nodes(spark, sf_dir))
    m_row = edges.agg(F.count(F.lit(1)).alias("m"))
    lab_src = lab.select(F.col("key").alias("src"), F.col("label").alias("lsrc"))
    lab_dst = lab.select(F.col("key").alias("dst"), F.col("label").alias("ldst"))
    intra = (
        edges.join(hint(lab_src), "src")
        .join(hint(lab_dst), "dst")
        .filter(F.col("lsrc") == F.col("ldst"))
        .groupBy(F.col("lsrc").alias("label"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    und = edges.select(F.col("src").alias("u")).unionAll(
        edges.select(F.col("dst"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    comm = (
        lab.join(hint(deg), lab.key == deg.u, "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.coalesce("d", F.lit(0))).alias("degree_sum"),
        )
    )
    e_c = F.coalesce("intra_edges", F.lit(0))
    two_m = F.lit(2).cast("double") * F.col("m").cast("double")
    frac = F.col("degree_sum").cast("double") / two_m
    return (
        comm.join(hint(intra), "label", "left")
        .crossJoin(F.broadcast(m_row))
        .select(
            "label",
            "n_nodes",
            e_c.alias("intra_edges"),
            "degree_sum",
            (
                F.round(
                    e_c.cast("double") / F.col("m").cast("double")
                    - frac * frac,
                    6,
                )
                + F.lit(0.0)  # normalize -0.0 from tiny negative contribs
            ).alias("q_contrib"),
        )
    )


def _modularity_sql() -> str:
    q = (
        "CAST(COALESCE(i.intra_edges, 0) AS DOUBLE) / CAST(m AS DOUBLE)"
        " - (CAST(c.degree_sum AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(m AS DOUBLE)))"
        " * (CAST(c.degree_sum AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(m AS DOUBLE)))"
    )
    return GRAPH_CTE.rstrip() + f""",
lp AS (SELECT key, label FROM ({_label_prop_sql()})),
mt AS (SELECT COUNT(*) AS m FROM g_edges),
intra AS (
  SELECT ls.label AS label, COUNT(*) AS intra_edges
  FROM g_edges e JOIN lp ls ON ls.key = e.src JOIN lp ld ON ld.key = e.dst
  WHERE ls.label = ld.label GROUP BY 1
),
und AS (SELECT src AS u FROM g_edges UNION ALL SELECT dst FROM g_edges),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
comm AS (
  SELECT lp.label, COUNT(*) AS n_nodes,
         CAST(SUM(COALESCE(deg.d, 0)) AS BIGINT) AS degree_sum
  FROM lp LEFT JOIN deg ON deg.u = lp.key GROUP BY lp.label
)
SELECT c.label, c.n_nodes,
       CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
       c.degree_sum,
       (ROUND({q}, 6) + CAST(0 AS DOUBLE)) AS q_contrib
FROM comm c LEFT JOIN intra i ON i.label = c.label CROSS JOIN mt
"""


register(g_modularity, _modularity_sql())


# -- degree assortativity (Pearson r over edge endpoint degrees) --------------

def g_assortativity(spark, sf_dir):
    """Directed out-in degree assortativity: Pearson correlation between
    out-degree(src) and in-degree(dst) across all edges — do high-fanout
    suppliers feed high-fanin parts? One number that characterizes the
    graph's wiring (the reference has no metric surface at all).

    Every moment (n, Σx, Σy, Σxy, Σx², Σy²) is an exact integer
    (DECIMAL(38,0) sums), so the single final double expression replays
    bit-for-bit. Shape: two |V|-sized degree tables broadcast onto the
    edge list; ONE scalar aggregation; no edge shuffle.
    """
    g = _graph(spark, sf_dir)
    edges = g.edges_df.select("src", "dst")
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("x"))
    ind = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("y"))
    # degree tables are |V|-sized: size-gate the hints
    hint = size_hint(_n_nodes(spark, sf_dir))
    joined = edges.join(hint(outd), "src").join(hint(ind), "dst")
    d38 = "decimal(38,0)"
    mom = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).cast("long").alias("sx"),
        F.sum(F.col("y").cast(d38)).cast("long").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).cast("long").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).cast("long").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).cast("long").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = F.sqrt((n * F.col("sxx") - sx * sx).cast("double")) * F.sqrt(
        (n * F.col("syy") - sy * sy).cast("double")
    )
    return mom.select(
        "n", "sx", "sy", "sxy", "sxx", "syy",
        F.round(num / den, 6).alias("assortativity"),
    )


G_ASSORTATIVITY_SQL = GRAPH_CTE + """
, outd AS (SELECT src, COUNT(*) AS x FROM g_edges GROUP BY src),
ind AS (SELECT dst, COUNT(*) AS y FROM g_edges GROUP BY dst),
j AS (
  SELECT o.x, i.y FROM g_edges e
  JOIN outd o ON o.src = e.src JOIN ind i ON i.dst = e.dst
),
mom AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS BIGINT) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS BIGINT) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS BIGINT) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS BIGINT) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS BIGINT) AS syy
  FROM j
)
SELECT n, sx, sy, sxy, sxx, syy,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS assortativity
FROM mom
"""


register(g_assortativity, G_ASSORTATIVITY_SQL)


# -- deterministic negative edge sampling (link-prediction training data) -----

NEG_PER_NODE = 5
NEG_OVERSAMPLE = 12  # candidates drawn per node before filtering


def g_negative_samples(spark, sf_dir):
    """Per-node negative edge samples: for every source node, NEG_PER_NODE
    (src, dst) pairs that are NOT edges — the negative half of a
    link-prediction training set. Candidates come from the shared md5 hash
    of (src, slot) mapped into the dense node-index space, so the sample
    is deterministic (no engine RNG), then real edges and self-loops are
    removed by one anti-join and the first NEG_PER_NODE surviving slots
    are kept per node.

    Shape: the (key, index) map broadcasts twice (|V|-sized); the only
    big-table touch is the anti-join against edges on (src, dst) — the
    same shuffle a positive-sample join needs anyway.
    """
    from kinbaku_spark.functions.hashing import md5_long

    g = _graph(spark, sf_dir)
    nodes = g.nodes_df.select("key", "index")
    n_row = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    cand = (
        nodes.select(F.col("key").alias("src"))
        .crossJoin(F.broadcast(n_row))
        .select(
            "src",
            F.explode(
                F.array(*[F.lit(i) for i in range(NEG_OVERSAMPLE)])
            ).alias("slot"),
            "n_nodes",
        )
        .select(
            "src",
            "slot",
            F.pmod(
                md5_long(F.concat(F.col("src"), F.lit(":"), F.col("slot"))),
                F.col("n_nodes"),
            ).alias("cand_idx"),
        )
    )
    cand = cand.join(
        # the (index, key) map is |V|-sized: size-gate (n_row stays
        # unconditional — it is one row)
        maybe_broadcast(
            nodes.select(F.col("index").alias("cand_idx"),
                         F.col("key").alias("dst")),
            _n_nodes(spark, sf_dir),
        ),
        "cand_idx",
    ).filter(F.col("dst") != F.col("src"))
    neg = cand.join(
        g.edges_df.select("src", "dst").distinct(), ["src", "dst"], "left_anti"
    )
    w = Window.partitionBy("src").orderBy("slot")
    return (
        neg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= NEG_PER_NODE)
        .select("src", "dst", F.col("slot").cast("int").alias("slot"))
    )


def _negative_samples_sql() -> str:
    from kinbaku_spark.functions.hashing import sql_md5_long

    h = sql_md5_long("src || ':' || CAST(slot AS VARCHAR)")
    return GRAPH_CTE + f"""
, idx AS (
  SELECT key, ROW_NUMBER() OVER (ORDER BY key) - 1 AS index FROM g_nodes
),
nctr AS (SELECT COUNT(*) AS n_nodes FROM g_nodes),
cand AS (
  SELECT i.key AS src, s.slot,
         {h} % n.n_nodes AS cand_idx
  FROM idx i
  CROSS JOIN (SELECT unnest(generate_series(0, {NEG_OVERSAMPLE - 1})) AS slot) s
  CROSS JOIN nctr n
),
resolved AS (
  SELECT c.src, c.slot, d.key AS dst
  FROM cand c JOIN idx d ON d.index = c.cand_idx
  WHERE d.key <> c.src
),
neg AS (
  SELECT r.* FROM resolved r
  WHERE NOT EXISTS (
    SELECT 1 FROM g_edges e WHERE e.src = r.src AND e.dst = r.dst
  )
)
SELECT src, dst, CAST(slot AS INTEGER) AS slot FROM (
  SELECT src, dst, slot,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY slot) AS rk
  FROM neg
) WHERE rk <= {NEG_PER_NODE}
"""


register(g_negative_samples, _negative_samples_sql())


# -- personalized PageRank, exact integer arithmetic --------------------------

PPR_SEED = "S1"
PPR_ROUNDS = 4
PPR_UNIT = 1_000_000_000  # rank mass in nano-units


def g_ppr_seeded(spark, sf_dir):
    """Personalized PageRank from PPR_SEED with damping 0.85, PPR_ROUNDS
    rounds, in EXACT integer nano-units: per-edge contribution is
    pr_u div out_degree, damping is (85 * m) div 100 — every operation is
    integer, so the replay is bit-exact REGARDLESS of aggregation order
    (no double-summation order hazard at all; the deterministic mass
    truncation is part of the declared semantics).

    The rank vector stays SPARSE (seed + reached nodes only); each round
    is one join of the vector to the degree-annotated edge table plus an
    integer aggregation. Rank surface for "related nodes from here" —
    recommendations, local graph exploration.
    """
    # the degree table is |V|-sized and the pr vector can reach |V| rows
    # once the seed's component is fully explored: size-gate both
    n = _n_nodes(spark, sf_dir)
    edges_deg = _edges_deg(spark, sf_dir)
    pr = spark.createDataFrame([(PPR_SEED, PPR_UNIT)], "key string, pr_u long")
    base_u = (15 * PPR_UNIT) // 100
    seed = spark.createDataFrame([(PPR_SEED, base_u)], "key string, base long")
    for _ in range(PPR_ROUNDS):
        # (85 · Σ msgs) div 100 + the seed's teleport mass, in ONE
        # aggregation: the seed row sums into `b`, the messages into `m`
        pr = propagate(
            pr,
            edges_deg,
            src="src",
            dst="dst",
            message=[F.expr("pr_u div outd").alias("m")],
            aggs=[F.sum("m").alias("m"), F.sum("base").alias("b")],
            extra_rows=seed,
            bound=n,
        ).select(
            "key",
            (
                F.coalesce(F.expr("(85 * m) div 100"), F.lit(0))
                + F.coalesce(F.col("b"), F.lit(0))
            ).cast("long").alias("pr_u"),
        ).localCheckpoint(eager=False)
    return pr.select(
        "key",
        "pr_u",
        F.round(F.col("pr_u").cast("double") / F.lit(1000000000.0), 6).alias(
            "pr"
        ),
    )


def _ppr_sql() -> str:
    base_u = (15 * PPR_UNIT) // 100
    parts = [
        "outd AS (SELECT src, COUNT(*) AS outd FROM g_edges GROUP BY src)",
        "ed AS (SELECT e.src, e.dst, o.outd FROM g_edges e JOIN outd o ON o.src = e.src)",
        f"p0 AS (SELECT '{PPR_SEED}' AS key, CAST({PPR_UNIT} AS BIGINT) AS pr_u)",
    ]
    for i in range(PPR_ROUNDS):
        parts.append(f"""
c{i} AS (
  SELECT ed.dst AS key, CAST(SUM(p.pr_u // ed.outd) AS BIGINT) AS m
  FROM ed JOIN p{i} p ON p.key = ed.src GROUP BY ed.dst
),
p{i + 1} AS (
  SELECT key, CAST(SUM(part) AS BIGINT) AS pr_u FROM (
    SELECT key, (85 * m) // 100 AS part FROM c{i}
    UNION ALL
    SELECT '{PPR_SEED}', CAST({base_u} AS BIGINT)
  ) GROUP BY key
)""")
    return (
        GRAPH_CTE.rstrip()
        + ", "
        + ",".join(parts)
        + f"""
SELECT key, pr_u,
       ROUND(CAST(pr_u AS DOUBLE) / CAST(1000000000.0 AS DOUBLE), 6) AS pr
FROM p{PPR_ROUNDS}
"""
    )


register(g_ppr_seeded, _ppr_sql())


# -- per-node structural feature table (graph features for ML) ----------------

def g_node_features(spark, sf_dir):
    """One feature row per node: out/in degree, community label
    (label propagation), and personalized-PageRank mass from PPR_SEED —
    the graph-side feature extraction step of an ML pipeline, composed
    from the engine's own cached operators (labels and degree tables are
    shared materializations; joins are |V|-sized broadcasts).
    """
    g = _graph(spark, sf_dir)
    edges = g.edges_df.select("src", "dst")
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    ind = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("in_degree"))
    lab = _lp_labels(spark, sf_dir)
    ppr = g_ppr_seeded(spark, sf_dir).select("key", "pr_u")
    # every joined feature table is |V|-sized: size-gate the hints (past
    # the bound these become co-partitioned shuffle joins on key)
    hint = size_hint(_n_nodes(spark, sf_dir))
    return (
        g.nodes_df.select("key")
        .join(hint(outd.withColumnRenamed("src", "key")), "key", "left")
        .join(hint(ind.withColumnRenamed("dst", "key")), "key", "left")
        .join(hint(lab.withColumnRenamed("label", "community")), "key")
        .join(hint(ppr), "key", "left")
        .select(
            "key",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            "community",
            F.coalesce("pr_u", F.lit(0)).cast("long").alias("ppr_u"),
        )
    )


def _node_features_sql() -> str:
    return GRAPH_CTE + f"""
, outd AS (SELECT src, COUNT(*) AS out_degree FROM g_edges GROUP BY src),
ind AS (SELECT dst, COUNT(*) AS in_degree FROM g_edges GROUP BY dst),
lp AS (SELECT key, label AS community FROM ({_label_prop_sql()})),
ppr AS (SELECT key, pr_u FROM ({_ppr_sql()}))
SELECT n.key,
       COALESCE(o.out_degree, 0) AS out_degree,
       COALESCE(i.in_degree, 0) AS in_degree,
       lp.community,
       CAST(COALESCE(p.pr_u, 0) AS BIGINT) AS ppr_u
FROM g_nodes n
LEFT JOIN outd o ON o.src = n.key
LEFT JOIN ind i ON i.dst = n.key
JOIN lp ON lp.key = n.key
LEFT JOIN ppr p ON p.key = n.key
"""


register(g_node_features, _node_features_sql())


# -- ego network: induced subgraph within radius 2 of a seed ------------------

EGO_SEED = "S1"


def g_ego_network(spark, sf_dir):
    """Radius-2 ego network of EGO_SEED over the undirected view: the
    induced edge list among nodes within 2 hops — the reference's
    ``subgraph`` (graph.py:1231-1265) generalized from an explicit node
    list to a radius query (the neighborhood-explorer shape).

    Two frontier joins find the ball (each touches only frontier-sized
    inputs); the induced filter is the same double semi-join as R20.
    """
    g = _graph(spark, sf_dir)
    edges = g.edges_df.select("src", "dst")
    und = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    hop1 = (
        und.filter(F.col("src") == EGO_SEED)
        .select(F.col("dst").alias("key"))
        .distinct()
    )
    hint = size_hint(_n_nodes(spark, sf_dir))
    hop2 = (
        und.join(hint(hop1.withColumnRenamed("key", "src")), "src")
        .select(F.col("dst").alias("key"))
        .distinct()
    )
    ball = (
        spark.createDataFrame([(EGO_SEED,)], "key string")
        .unionByName(hop1)
        .unionByName(hop2)
        .distinct()
    )
    return (
        edges.join(hint(ball.withColumnRenamed("key", "src")), "src")
        .join(hint(ball.withColumnRenamed("key", "dst")), "dst")
        .select("src", "dst")
    )


G_EGO_SQL = GRAPH_CTE + f"""
, und AS (
  SELECT src, dst FROM g_edges
  UNION ALL
  SELECT dst, src FROM g_edges
),
hop1 AS (SELECT DISTINCT dst AS key FROM und WHERE src = '{EGO_SEED}'),
hop2 AS (
  SELECT DISTINCT u.dst AS key FROM und u JOIN hop1 h ON h.key = u.src
),
ball AS (
  SELECT '{EGO_SEED}' AS key UNION SELECT key FROM hop1 UNION SELECT key FROM hop2
)
SELECT e.src, e.dst
FROM g_edges e
JOIN ball a ON a.key = e.src
JOIN ball b ON b.key = e.dst
"""


register(g_ego_network, G_EGO_SQL)


# -- closeness centrality of the BFS seed (bounded undirected BFS) -----------

def g_closeness(spark, sf_dir):
    """Closeness + harmonic centrality of BFS_SOURCE from the bounded
    undirected BFS depths (g_bfs_depths): closeness_ppm =
    (n_reached - 1) * 1e6 / Σdepth, harmonic_ppm = Σ floor(1e6 / depth).

    One row out; all arithmetic on exact BIGINTs (floor-div per depth, then
    integer sums), so the replay is order-free. The BFS itself is the
    per-round frontier join of g_bfs_depths — at 100 TB each round touches
    the frontier only, and the centrality aggregate is a single map-side
    reduction of (count, depth-sum) pairs.
    """
    depths = g_bfs_depths(spark, sf_dir)
    return (
        depths.agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum("depth").cast("long").alias("total_depth"),
            F.sum(F.when(F.col("depth") > 0, F.expr("1000000 div depth")).otherwise(F.lit(0)))
            .cast("long")
            .alias("harmonic_ppm"),
        )
        .select(
            F.lit(BFS_SOURCE).alias("source"),
            "n_reached",
            "total_depth",
            # NULL (not an ANSI divide error) when only the seed is
            # reachable — DuckDB's 0 // 0 yields NULL on the same input
            F.expr(
                "CASE WHEN total_depth = 0 THEN NULL"
                " ELSE (n_reached - 1) * 1000000 div total_depth END"
            ).alias("closeness_ppm"),
            "harmonic_ppm",
        )
    )


G_CLOSENESS_SQL = f"""
WITH b AS ({G_BFS_SQL}),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_reached,
         CAST(SUM(depth) AS BIGINT) AS total_depth,
         CAST(SUM(CASE WHEN depth > 0 THEN 1000000 // depth ELSE 0 END) AS BIGINT) AS harmonic_ppm
  FROM b
)
SELECT '{BFS_SOURCE}' AS source, n_reached, total_depth,
       CAST(((n_reached - 1) * 1000000) // total_depth AS BIGINT) AS closeness_ppm,
       harmonic_ppm
FROM s
"""


register(g_closeness, G_CLOSENESS_SQL)


# -- normalized link prediction: Jaccard + resource-allocation ---------------

def g_jaccard_links(spark, sf_dir):
    """Jaccard-normalized link prediction over the co-neighbor pairs of
    g_link_prediction: jaccard_ppm = |A∩B| * 1e6 div (|A|+|B|-|A∩B|) on
    exact integer degrees — the normalized variant that doesn't just rank
    high-degree hubs first. Top-20.

    Same one-shuffle wedge join as g_link_prediction plus two broadcast
    degree joins (the degree table is node-sized, dimension-small relative
    to edges at any scale).
    """
    g = _graph(spark, sf_dir)
    e = g.edges_df.select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    a = e.withColumnRenamed("src", "key_a")
    b = e.withColumnRenamed("src", "key_b")
    common = (
        a.join(b, "dst")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.select(F.col("src").alias("key_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("key_b"), F.col("deg").alias("deg_b"))
    hint = size_hint(_n_nodes(spark, sf_dir))
    return (
        common.join(hint(da), "key_a")
        .join(hint(db), "key_b")
        .select(
            "key_a",
            "key_b",
            "common",
            F.expr("common * 1000000 div (deg_a + deg_b - common)").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy(F.desc("jaccard_ppm"), "key_a", "key_b")
        .limit(20)
    )


G_JACCARD_LINKS_SQL = GRAPH_CTE + """
, deg AS (SELECT src, COUNT(*) AS deg FROM g_edges GROUP BY src),
common AS (
  SELECT a.src AS key_a, b.src AS key_b, COUNT(*) AS common
  FROM g_edges a JOIN g_edges b ON a.dst = b.dst
  WHERE a.src < b.src
  GROUP BY 1, 2
)
SELECT key_a, key_b, common,
       CAST((common * 1000000) // (da.deg + db.deg - common) AS BIGINT) AS jaccard_ppm
FROM common
JOIN deg da ON da.src = key_a
JOIN deg db ON db.src = key_b
ORDER BY jaccard_ppm DESC, key_a, key_b
LIMIT 20
"""


def g_resource_allocation(spark, sf_dir):
    """Resource-allocation link scores (Zhou et al.): for supplier pairs
    sharing parts, ra_ppm = Σ_z 1e6 div in_degree(z) over shared parts z —
    hubs contribute less. Exact integer per-part quotas, so the sum is
    order-free. Top-20.

    The per-part quota join is dst-side (the part in-degree table), then
    the SAME wedge join as g_link_prediction aggregates quota sums instead
    of counts — no extra shuffle vs the raw common-neighbor count.
    """
    g = _graph(spark, sf_dir)
    e = g.edges_df.select("src", "dst")
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    quota = maybe_broadcast(indeg, _n_nodes(spark, sf_dir)).select(
        "dst", F.expr("1000000 div indeg").alias("quota")
    )
    a = e.withColumnRenamed("src", "key_a")
    b = e.withColumnRenamed("src", "key_b")
    return (
        a.join(b, "dst")
        .filter(F.col("key_a") < F.col("key_b"))
        .join(quota, "dst")
        .groupBy("key_a", "key_b")
        .agg(F.sum("quota").cast("long").alias("ra_ppm"))
        .orderBy(F.desc("ra_ppm"), "key_a", "key_b")
        .limit(20)
    )


G_RESOURCE_ALLOCATION_SQL = GRAPH_CTE + """
, quota AS (
  SELECT dst, CAST(1000000 // COUNT(*) AS BIGINT) AS quota
  FROM g_edges GROUP BY dst
)
SELECT a.src AS key_a, b.src AS key_b,
       CAST(SUM(q.quota) AS BIGINT) AS ra_ppm
FROM g_edges a
JOIN g_edges b ON a.dst = b.dst
JOIN quota q ON q.dst = a.dst
WHERE a.src < b.src
GROUP BY 1, 2
ORDER BY ra_ppm DESC, key_a, key_b
LIMIT 20
"""


register(g_jaccard_links, G_JACCARD_LINKS_SQL)
register(g_resource_allocation, G_RESOURCE_ALLOCATION_SQL)


# -- skip-gram training pairs from the deterministic walks -------------------

SKIPGRAM_WINDOW = 2
SKIPGRAM_TOP = 30


def g_skipgram_pairs(spark, sf_dir):
    """(center, context) co-occurrence pairs from the deterministic random
    walks (window ±SKIPGRAM_WINDOW, the DeepWalk/node2vec → word2vec
    training-pair generation), counted and top-SKIPGRAM_TOP.

    One self-join of the walks table on walk_id with a bounded step-delta
    predicate — walk length is a constant, so the join fan-out per walk is
    O(len·window), and the pair count shuffles only (center, context)
    pairs. At 100 TB the walks table is the big side and this is a single
    range-predicate self-join per walk partition.
    """
    walks = g_random_walks(spark, sf_dir)
    a = walks.select("walk_id", F.col("step").alias("sa"), F.col("node").alias("center"))
    b = walks.select("walk_id", F.col("step").alias("sb"), F.col("node").alias("context"))
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("sa") != F.col("sb"))
            & (F.abs(F.col("sa") - F.col("sb")) <= SKIPGRAM_WINDOW)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "center", "context")
        .limit(SKIPGRAM_TOP)
    )


def _skipgram_sql() -> str:
    return _walks_cte() + f"""
SELECT a.node AS center, b.node AS context, COUNT(*) AS cnt
FROM walks a JOIN walks b
  ON a.walk_id = b.walk_id
 AND a.step <> b.step
 AND abs(a.step - b.step) <= {SKIPGRAM_WINDOW}
GROUP BY 1, 2
ORDER BY cnt DESC, center, context
LIMIT {SKIPGRAM_TOP}
"""


register(g_skipgram_pairs, _skipgram_sql())
