"""Bounded Borůvka minimum spanning forest and deterministic greedy
maximal matching — the two classic distributed edge-selection operators
(cluster backbones / assignment problems) over the same weighted
supplier→part graph the §2 queries use.

The reference (kerighan/kinbaku) stores edge weights (graph.py edge
records) but has no weighted-graph algorithms at all; these extend the
graph-analytics family.

- Borůvka rounds: every component selects its minimum-weight outgoing
  edge, selected edges merge components (bounded min-label rounds over
  the COMPONENT graph — star contraction), repeat. `MST_ROUNDS` fixed
  rounds keep the oracle an exact SQL replay; full Borůvka needs
  O(log V) rounds, and each bounded round is the exact prefix of it.
- greedy matching: every live node proposes its minimum-weight incident
  edge; an edge joins the matching iff BOTH endpoints proposed it
  (the Israeli–Itai handshake, made deterministic by total-ordering
  proposals on (weight, u, v)); matched nodes leave, repeat.

Shuffle shapes (the 100 TB story):

- Borůvka: per round, the edge list joins the |V|-sized label vector
  twice (broadcast — the label table is the small side by construction)
  and aggregates per-component minima with map-side partials; the merge
  rounds run on the COMPONENT graph (≤ one edge per component — strictly
  smaller each round), never the corpus-sized edge list. This is the
  textbook MST-at-scale shape (GraphX/Pregel Borůvka).
- matching: per round, one groupBy(node) min-proposal aggregate + one
  (a, b)-keyed handshake aggregate; matched nodes leave via broadcast
  anti-joins. Every shuffle key is a node or canonical edge — no
  quadratic products anywhere.

Determinism: weights quantized to integer micro-units
(floor(w·10⁶ + 0.5) — the weight column is already rounded to 6dp, so
this is exact), ALL argmins total-ordered on (w, a, b); label merges are
MIN over strings (order-free). The DuckDB oracle replays every round
bit-for-bit via MATERIALIZED CTE chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kinbaku_spark.operators.supersteps import propagate
from kinbaku_spark.plans.hints import size_hint

QUERIES: dict = {}
ORACLES: dict = {}

MST_ROUNDS = 2
MERGE_ROUNDS = 4  # min-label rounds over the component graph per Borůvka round
MATCH_ROUNDS = 3

_W_INT = "CAST(floor(weight * 1000000.0 + 0.5) AS BIGINT)"


def _weighted_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized weighted edges (u, v, w, a, b): w in exact micro-units,
    (a, b) the canonical undirected form (a < b). Session-persisted per
    sf_dir (a graph_queries._graph_state entry) — loop-invariant input of
    both the Borůvka rounds and the matching rounds, so the
    union+canonicalize is paid once, like und_edges for the unweighted
    traversals."""
    from kinbaku_spark.queries.graph_queries import _graph, _graph_state

    def build():
        g = _graph(spark, sf_dir)
        e = g.edges_df.select(
            "src", "dst", F.expr(_W_INT).alias("w")
        )
        both = e.select(
            F.col("src").alias("u"), F.col("dst").alias("v"), "w"
        ).unionAll(e.select(F.col("dst"), F.col("src"), "w"))
        wed = both.select(
            "u",
            "v",
            "w",
            F.least("u", "v").alias("a"),
            F.greatest("u", "v").alias("b"),
        ).persist()
        wed.count()
        return wed

    return _graph_state(spark, sf_dir, "wed_canon", build)


# -- g_boruvka_mst: bounded Borůvka minimum spanning forest --------------------

def g_boruvka_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`MST_ROUNDS` Borůvka rounds over the weighted undirected graph:
    per round, every component's minimum-weight outgoing edge joins the
    spanning forest and components merge (bounded `MERGE_ROUNDS`
    min-label star contraction on the component graph).

    Output: one row per round — edges added, their total weight in
    micro-units, and the component count after the merge.

    Round-1 identity shortcut precondition (ADVICE r02): every wed
    endpoint IS in nodes_df — the stored graph derives its node set as the
    distinct union of edge endpoints (graph_queries._cached), so the
    identity relabel and the explicit label joins of rounds >= 2 see the
    same edge set by construction. Label maps are |V|-sized and their
    broadcast hints size-gated (plans/hints.py) — past the bound the
    relabel joins fall back to shuffle.
    """
    from kinbaku_spark.queries.graph_queries import _graph, _n_nodes

    wed = _weighted_und(spark, sf_dir)
    g = _graph(spark, sf_dir)
    lab = g.nodes_df.select("key", F.col("key").alias("label"))
    n = _n_nodes(spark, sf_dir)
    hint = size_hint(n)

    out = []
    for r in range(1, MST_ROUNDS + 1):
        if r == 1:
            # round 1: every label is its own key (identity), so relabeling
            # is a no-op — read the component columns straight off the edge
            # table instead of two broadcast joins against the identity map
            el = wed.select(
                F.col("u").alias("cu"), "w", "a", "b", F.col("v").alias("cv")
            ).filter(F.col("cu") != F.col("cv"))
        else:
            el = (
                wed.join(
                    hint(lab.select(F.col("key").alias("uk"), F.col("label").alias("cu"))),
                    wed.u == F.col("uk"),
                )
                .join(
                    hint(lab.select(F.col("key").alias("vk"), F.col("label").alias("cv"))),
                    wed.v == F.col("vk"),
                )
                .filter(F.col("cu") != F.col("cv"))
            )
        pick = (
            el.groupBy("cu")
            .agg(F.min(F.struct("w", "a", "b", "cv")).alias("m"))
            .select("cu", "m.w", "m.a", "m.b", "m.cv")
        ).localCheckpoint(eager=False)
        chosen = pick.select("a", "b", "w").distinct()

        # star contraction: min-label rounds over the COMPONENT graph
        comp = pick.select(F.col("cu").alias("x"), F.col("cv").alias("y")).unionAll(
            pick.select(F.col("cv"), F.col("cu"))
        )
        clab = (
            lab.select(F.col("label").alias("c"))
            .distinct()
            .select("c", F.col("c").alias("nc"))
        )
        for _ in range(MERGE_ROUNDS):
            # MIN over the self row and the neighbor labels; every comp
            # endpoint is a label, so the domain stays exactly clab's
            clab = propagate(
                clab, comp, src="x", dst="y", key="c",
                message=[F.col("nc")], aggs=[F.min("nc").alias("nc")],
                self_rows=clab, bound=n,
            ).localCheckpoint(eager=False)
        lab = (
            lab.join(hint(clab), lab.label == clab.c)
            .select("key", F.col("nc").alias("label"))
            .localCheckpoint(eager=False)
        )

        st = chosen.agg(
            F.count(F.lit(1)).alias("edges_added"),
            F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("weight_added_micro"),
        )
        nc_df = lab.agg(F.countDistinct("label").alias("n_components"))
        out.append(
            st.crossJoin(nc_df).select(
                F.lit(r).alias("mst_round"),
                "edges_added",
                "weight_added_micro",
                "n_components",
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionAll(df)
    return res.orderBy("mst_round")


def _boruvka_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    parts = [
        f"""wed AS MATERIALIZED (
  SELECT u, v, w, LEAST(u, v) AS a, GREATEST(u, v) AS b FROM (
    SELECT src AS u, dst AS v, {_W_INT} AS w FROM g_edges
    UNION ALL
    SELECT dst, src, {_W_INT} FROM g_edges
  )
)""",
        "lab1 AS MATERIALIZED (SELECT key, key AS label FROM g_nodes)",
    ]
    for r in range(1, MST_ROUNDS + 1):
        parts.append(
            f"""el{r} AS MATERIALIZED (
  SELECT e.w, e.a, e.b, lu.label AS cu, lv.label AS cv
  FROM wed e
  JOIN lab{r} lu ON lu.key = e.u
  JOIN lab{r} lv ON lv.key = e.v
  WHERE lu.label <> lv.label
),
pick{r} AS MATERIALIZED (
  SELECT cu, w, a, b, cv FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cu ORDER BY w, a, b, cv) AS rn
    FROM el{r}
  ) WHERE rn = 1
),
clab{r}_0 AS MATERIALIZED (
  SELECT DISTINCT label AS c, label AS nc FROM lab{r}
)"""
        )
        for j in range(MERGE_ROUNDS):
            parts.append(
                f"""nb{r}_{j} AS MATERIALIZED (
  SELECT t.y, MIN(l.nc) AS mn FROM (
    SELECT cu AS x, cv AS y FROM pick{r}
    UNION ALL SELECT cv, cu FROM pick{r}
  ) t JOIN clab{r}_{j} l ON l.c = t.x GROUP BY t.y
),
clab{r}_{j + 1} AS MATERIALIZED (
  SELECT l.c, LEAST(l.nc, COALESCE(n.mn, l.nc)) AS nc
  FROM clab{r}_{j} l LEFT JOIN nb{r}_{j} n ON n.y = l.c
)"""
            )
        parts.append(
            f"""lab{r + 1} AS MATERIALIZED (
  SELECT l.key, m.nc AS label
  FROM lab{r} l JOIN clab{r}_{MERGE_ROUNDS} m ON m.c = l.label
),
stats{r} AS MATERIALIZED (
  SELECT {r} AS mst_round,
         CAST(COUNT(*) AS BIGINT) AS edges_added,
         CAST(COALESCE(SUM(w), 0) AS BIGINT) AS weight_added_micro,
         (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM lab{r + 1})
           AS n_components
  FROM (SELECT DISTINCT a, b, w FROM pick{r})
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT * FROM stats{r}" for r in range(1, MST_ROUNDS + 1)
    )
    return (
        GRAPH_CTE.rstrip()
        + ", "
        + ",\n".join(parts)
        + "\n"
        + unions
        + "\nORDER BY mst_round"
    )


# -- g_greedy_matching: deterministic maximal matching -------------------------

def g_greedy_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`MATCH_ROUNDS` handshake rounds of greedy matching: each live
    node proposes its minimum-(w, a, b) incident edge; edges proposed by
    BOTH endpoints join the matching; matched nodes leave. Returns the
    matched edges (match_round, a, b, w).
    """
    from kinbaku_spark.queries.graph_queries import _n_nodes

    wed = _weighted_und(spark, sf_dir)
    live = wed
    # the matched-node tombstone list grows toward |V|: size-gate its
    # anti-join hints (plans/hints.py)
    hint = size_hint(_n_nodes(spark, sf_dir))
    matched = []
    for r in range(1, MATCH_ROUNDS + 1):
        prop = (
            live.groupBy("u")
            .agg(F.min(F.struct("w", "a", "b")).alias("m"))
            .select("u", "m.w", "m.a", "m.b")
        )
        hand = (
            prop.groupBy("a", "b", "w")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") == 2)
            .select("a", "b", "w")
        ).localCheckpoint(eager=False)
        matched.append(
            hand.select(F.lit(r).alias("match_round"), "a", "b", "w")
        )
        gone = hand.select(F.col("a").alias("k")).unionAll(
            hand.select(F.col("b"))
        ).distinct()
        live = (
            live.join(hint(gone), live.u == gone.k, "left_anti")
            .join(hint(gone), live.v == gone.k, "left_anti")
            .localCheckpoint(eager=False)
        )
    res = matched[0]
    for df in matched[1:]:
        res = res.unionAll(df)
    return res.orderBy("match_round", "a", "b")


def _matching_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    parts = [
        f"""live1 AS MATERIALIZED (
  SELECT u, v, w, LEAST(u, v) AS a, GREATEST(u, v) AS b FROM (
    SELECT src AS u, dst AS v, {_W_INT} AS w FROM g_edges
    UNION ALL
    SELECT dst, src, {_W_INT} FROM g_edges
  )
)"""
    ]
    for r in range(1, MATCH_ROUNDS + 1):
        parts.append(
            f"""prop{r} AS MATERIALIZED (
  SELECT u, w, a, b FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY u ORDER BY w, a, b) AS rn
    FROM live{r}
  ) WHERE rn = 1
),
hand{r} AS MATERIALIZED (
  SELECT a, b, w FROM prop{r} GROUP BY a, b, w HAVING COUNT(*) = 2
),
gone{r} AS MATERIALIZED (
  SELECT a AS k FROM hand{r} UNION SELECT b FROM hand{r}
),
live{r + 1} AS MATERIALIZED (
  SELECT l.* FROM live{r} l
  WHERE l.u NOT IN (SELECT k FROM gone{r})
    AND l.v NOT IN (SELECT k FROM gone{r})
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS match_round, a, b, w FROM hand{r}"
        for r in range(1, MATCH_ROUNDS + 1)
    )
    return (
        GRAPH_CTE.rstrip()
        + ", "
        + ",\n".join(parts)
        + "\n"
        + unions
        + "\nORDER BY match_round, a, b"
    )


QUERIES["g_boruvka_mst"] = g_boruvka_mst
ORACLES["g_boruvka_mst"] = _boruvka_sql()
QUERIES["g_greedy_matching"] = g_greedy_matching
ORACLES["g_greedy_matching"] = _matching_sql()


# -- g_motif_brokers: Graph.find() open triads through the oracle gate --------

MOTIF_TOP = 10


def g_motif_brokers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-hole brokers on the tight co-supplier backbone: the
    nodes heading the most OPEN triads a→b→c with no a→c closure,
    found with the GraphFrames-style motif surface
    (``Graph.find("(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")``) — the
    multi-hop pattern query the reference has no surface for, compiled
    to Catalyst join chains and verified against a NOT EXISTS oracle.
    Top `MOTIF_TOP` by open-triad count.
    """
    from kinbaku_spark.graph import Graph
    from kinbaku_spark.queries.graphmetrics_ext2 import truss_backbone

    proj = truss_backbone(spark, sf_dir)
    edges = proj.select(
        F.col("s1").alias("src"), F.col("s2").alias("dst")
    ).unionAll(proj.select(F.col("s2"), F.col("s1")))
    g = Graph.from_edges(edges)
    triads = g.find("(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
    return (
        triads.filter(F.col("a") != F.col("c"))
        .groupBy(F.col("a").alias("broker"))
        .agg(F.count(F.lit(1)).alias("open_triads"))
        .orderBy(F.desc("open_triads"), "broker")
        .limit(MOTIF_TOP)
    )


def _motif_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    return (
        GRAPH_CTE.rstrip()
        + f""",
sp AS (SELECT DISTINCT src, dst FROM g_edges),
shared AS MATERIALIZED (
  SELECT a.src AS s1, b.src AS s2, COUNT(*) AS shared_parts
  FROM sp a JOIN sp b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
),
thr AS (SELECT CAST(CEIL(AVG(shared_parts)) AS BIGINT) AS t,
               CAST(MAX(shared_parts) AS BIGINT) AS mx FROM shared),
e0 AS MATERIALIZED (
  SELECT s1, s2 FROM shared
  WHERE shared_parts >= (SELECT t + (mx - t) // 3 FROM thr)),
und AS MATERIALIZED (
  SELECT s1 AS u, s2 AS v FROM e0 UNION ALL SELECT s2, s1 FROM e0),
triads AS (
  SELECT DISTINCT ab.u AS a, ab.v AS b, bc.v AS c
  FROM und ab JOIN und bc ON bc.u = ab.v
  WHERE ab.u <> bc.v
    AND NOT EXISTS (SELECT 1 FROM und ac
                    WHERE ac.u = ab.u AND ac.v = bc.v)
)
SELECT a AS broker, CAST(COUNT(*) AS BIGINT) AS open_triads
FROM triads GROUP BY a
ORDER BY open_triads DESC, broker
LIMIT {MOTIF_TOP}
"""
    )


QUERIES["g_motif_brokers"] = g_motif_brokers
ORACLES["g_motif_brokers"] = _motif_sql()


# -- g_motif_typed_chain: named-edge motifs with attribute predicates ---------

TYPED_CHAIN_TOP = 10


def g_motif_typed_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed 2-hop chains through the NAMED-EDGE motif surface (VERDICT
    r05 next-round #6 — GraphFrames parity: ``(a)-[e1]->(b)`` exposes the
    edge as a struct column carrying ``type`` and any attrs, and
    attribute predicates are plain filters on it). Edge table: the part
    succession graph with type = min(succession count, 3) — a recurrence
    strength bucket. The motif finds a→b→c chains where BOTH hops recur
    (type ≥ 2) and ranks the middle node b by chain count.

    Plan shape (the docstring claim, audited): the struct-field
    predicates e1.type/e2.type each reference ONE motif term, so Catalyst
    pushes them below the join — the 2-hop self-join runs on the ~1%
    recurring-edge subset, never the full succession fan-out.
    """
    from kinbaku_spark.graph import Graph
    from kinbaku_spark.sources.tables import part_succession_counts

    edges = part_succession_counts(spark, sf_dir).select(
        "src", "dst", F.least(F.col("cnt"), F.lit(3)).cast("int").alias("type")
    )
    g = Graph.from_edges(edges)
    chains = g.find("(a)-[e1]->(b); (b)-[e2]->(c)").filter(
        (F.col("e1.type") >= 2) & (F.col("e2.type") >= 2) & (F.col("a") != F.col("c"))
    )
    return (
        chains.groupBy(F.col("b").alias("hub"))
        .agg(F.count(F.lit(1)).alias("chains"))
        .orderBy(F.desc("chains"), "hub")
        .limit(TYPED_CHAIN_TOP)
    )


def _typed_chain_sql() -> str:
    from kinbaku_spark.sources.tables import PART_SUCCESSION_COUNTS_SQL

    return f"""
WITH pc AS ({PART_SUCCESSION_COUNTS_SQL}),
te AS (SELECT src, dst, LEAST(cnt, 3) AS type FROM pc),
strong AS (SELECT src, dst FROM te WHERE type >= 2),
chains AS (
  SELECT DISTINCT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM strong ab JOIN strong bc ON bc.src = ab.dst
  WHERE ab.src <> bc.dst
)
SELECT b AS hub, CAST(COUNT(*) AS BIGINT) AS chains
FROM chains GROUP BY b
ORDER BY chains DESC, hub
LIMIT {TYPED_CHAIN_TOP}
"""


QUERIES["g_motif_typed_chain"] = g_motif_typed_chain
ORACLES["g_motif_typed_chain"] = _typed_chain_sql()
