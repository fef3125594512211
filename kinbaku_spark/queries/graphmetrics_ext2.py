"""Bounded k-truss peeling and landmark eccentricity.

The reference (kerighan/kinbaku) exposes raw adjacency (neighbors /
adjacency_matrix, graph.py:506,625) and leaves cohesion metrics to the
caller; these add the two standard cohesion/diameter probes on top of the
same supplier→part graph the §2 queries use.

- bounded k-truss: edges of the tight co-supplier projection surviving
  R = 3 support-peel rounds at k = 4 (every surviving edge closes ≥ 2
  triangles among survivors). Full k-truss iterates to a fixpoint; a
  FIXED round count keeps the computation replayable as plain SQL while
  preserving the peeling semantics (each round provably shrinks toward
  the fixpoint; R rounds = the standard bounded-convergence cut, same
  contract as the engine's bounded BFS/SSSP queries).
- landmark eccentricity: bounded BFS eccentricity (max hop distance
  within ECC_MAX_DEPTH) from the N_LANDMARKS highest-degree nodes — the
  landmark heuristic that estimates graph diameter without all-pairs BFS.

Shuffle shapes (the 100 TB story):

- truss: the projection is the session-persisted co-supplier pair table
  (graph_queries.co_shared) tightened to shared_parts ≥ t + (max−t) div 3
  — a deliberately sparse backbone (2 k edges at sf0.1 vs 240 k at the
  transitivity threshold), so each peel round is two equi-joins + one
  aggregation over a bounded edge set, checkpointed per round to pin
  lineage. Support counting joins edges to the symmetrized neighbor list
  twice on node keys — the standard distributed triangle-join, never an
  all-pairs product.
- eccentricity: one multi-source frontier BFS — the (landmark, node)
  frontier advances all landmarks in the SAME per-round join against the
  persisted undirected edge list (graph_queries.und_edges), so round
  count, not landmark count, bounds the number of jobs. Landmark
  selection is a k-bounded top-4 (degree DESC, key) — no collect of the
  vertex set.

Determinism: supports and degrees are exact integers; landmark selection
and all outputs use total orders ((d DESC, key), (s1, s2), (lm)); the
threshold arithmetic is truncating integer div in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kinbaku_spark.plans.hints import size_hint

QUERIES: dict = {}
ORACLES: dict = {}


TRUSS_K = 4
TRUSS_ROUNDS = 3
ECC_MAX_DEPTH = 6
N_LANDMARKS = 4


def _truss_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tight co-supplier backbone: pairs sharing ≥ t + (max−t) div 3
    parts, where t = ceil(avg shared_parts) — one notch above the
    transitivity projection's mean threshold, sized so the peel joins
    stay bounded at any SF (sf0.1: ~10 k edges vs 240 k at mean)."""
    from kinbaku_spark.queries.graph_queries import co_shared

    shared = co_shared(spark, sf_dir)
    thr = shared.agg(
        F.ceil(F.avg("shared_parts")).cast("long").alias("t"),
        F.max("shared_parts").alias("mx"),
    )
    return (
        shared.join(F.broadcast(thr))
        .filter(F.col("shared_parts") >= F.expr("t + (mx - t) div 3"))
        .select("s1", "s2")
    )


def _truss_state(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """:func:`_truss_proj` and its row count, materialized ONCE per sf_dir
    as session state (a graph_queries._graph_state entry — the
    co_shared/wed_canon pattern): both g_truss_bounded's peel rounds and
    g_motif_brokers' motif join consume the identical backbone, and each
    used to re-run the threshold aggregation + an eager per-call
    checkpoint (r07 work profile)."""
    from kinbaku_spark.queries.graph_queries import _graph_state

    def build():
        # eager localCheckpoint (the ids.py state pattern), NOT persist:
        # g_motif_brokers references the backbone ~12 times inside one
        # motif join chain, and a persisted table embeds its full origin
        # lineage at every reference (plan size grows ×refs), while a
        # checkpoint is a leaf RDD scan
        backbone = _truss_proj(spark, sf_dir).localCheckpoint(eager=True)
        # measured edge count (one cheap count over the just-materialized
        # checkpoint blocks, once per sf_dir): the ACTUAL broadcast bound
        # for the peel joins — the backbone is data-dependent, so a
        # formula guess would violate the ADVICE r02 no-guessed-bounds rule
        return backbone, backbone.count()

    return _graph_state(spark, sf_dir, "truss_backbone", build)


def truss_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-state truss backbone (see :func:`_truss_state`)."""
    return _truss_state(spark, sf_dir)[0]


def truss_backbone_n(spark: SparkSession, sf_dir: str) -> int:
    """Measured row count of :func:`truss_backbone` (built alongside it)."""
    return _truss_state(spark, sf_dir)[1]


def g_truss_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges of the tight co-supplier backbone surviving 3 rounds of
    4-truss peeling (support ≥ k−2 = 2 recomputed over survivors each
    round), with their final-round support.
    """
    edges = truss_backbone(spark, sf_dir)
    # The r07 shuffle regression (VERDICT "What's wrong #3", 2.31 →
    # 12.75 MB) was NOT the lazy per-round checkpoints — an eager revert
    # re-measured at the identical 12.75 MB (plans/r08 receipts). Per-job
    # profiling attributes ~10 MB to ONE job: the round-1 support join
    # planned as a SHUFFLE join of the wedge stream, because the
    # checkpointed backbone leaf carries no usable size estimate. Fix:
    # explicit size-gated broadcast hints on the (bounded, shrinking)
    # und/neighbor sides, gated on the backbone's MEASURED count — the
    # wedge stream then never shuffles; only the (s1, s2) support
    # aggregation exchanges rows. Lazy per-round checkpoints stay (the
    # whole peel resolves in one action).
    hint = size_hint(2 * truss_backbone_n(spark, sf_dir))
    last = None
    for _ in range(TRUSS_ROUNDS):
        und = edges.select(F.col("s1").alias("u"), F.col("s2").alias("v")).union(
            edges.select(F.col("s2"), F.col("s1"))
        )
        sup = (
            edges.join(
                hint(und.select(F.col("u").alias("s1"), F.col("v").alias("w"))),
                "s1",
            )
            .join(
                hint(und.select(F.col("u").alias("s2"), F.col("v").alias("w"))),
                ["s2", "w"],
            )
            .groupBy("s1", "s2")
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        last = sup.filter(F.col("sup") >= TRUSS_K - 2).localCheckpoint(eager=False)
        edges = last.select("s1", "s2")
    return last.select("s1", "s2", "sup").orderBy("s1", "s2")


def _truss_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    parts = [
        """sp AS (SELECT DISTINCT src, dst FROM g_edges),
shared AS MATERIALIZED (
  SELECT a.src AS s1, b.src AS s2, COUNT(*) AS shared_parts
  FROM sp a JOIN sp b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
),
thr AS (SELECT CAST(CEIL(AVG(shared_parts)) AS BIGINT) AS t,
               CAST(MAX(shared_parts) AS BIGINT) AS mx FROM shared),
e0 AS MATERIALIZED (
  SELECT s1, s2 FROM shared
  WHERE shared_parts >= (SELECT t + (mx - t) // 3 FROM thr))"""
    ]
    for r in range(1, TRUSS_ROUNDS + 1):
        parts.append(
            f"""und{r} AS MATERIALIZED (
  SELECT s1 AS u, s2 AS v FROM e{r - 1} UNION ALL SELECT s2, s1 FROM e{r - 1}),
sup{r} AS MATERIALIZED (
  SELECT e.s1, e.s2, CAST(COUNT(*) AS BIGINT) AS sup
  FROM e{r - 1} e
  JOIN und{r} a ON a.u = e.s1
  JOIN und{r} b ON b.u = e.s2 AND b.v = a.v
  GROUP BY 1, 2
),
e{r} AS MATERIALIZED (SELECT s1, s2 FROM sup{r} WHERE sup >= {TRUSS_K - 2})"""
        )
    return (
        GRAPH_CTE.rstrip()
        + ",\n"
        + ",\n".join(parts)
        + f"""
SELECT s1, s2, sup FROM sup{TRUSS_ROUNDS} WHERE sup >= {TRUSS_K - 2}
ORDER BY s1, s2
"""
    )


def g_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded eccentricity (max hop distance within ECC_MAX_DEPTH) and
    reach count from the 4 highest-degree nodes — the landmark diameter
    probe. One multi-source frontier BFS over the persisted undirected
    edge list; all landmarks advance in the same per-round join.
    """
    from kinbaku_spark.queries.graph_queries import und_edges

    und = und_edges(spark, sf_dir)
    lm = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.desc("d"), "u")
        .limit(N_LANDMARKS)
        .select(F.col("u").alias("lm"))
    )
    depths = lm.select(
        "lm", F.col("lm").alias("key"), F.lit(0).cast("int").alias("depth")
    ).localCheckpoint(eager=True)
    # frontier/depths are bounded by N_LANDMARKS * |V| rows: broadcast
    # them while that bound is broadcastable so the big persisted edge
    # table is scanned in place each round instead of re-shuffled. The
    # gate matters because an EXPLICIT broadcast hint is always honored
    # (AQE promotes SMJ->BHJ but never demotes a hint): past ~5M
    # landmark-rows, fall back to shuffled joins (g_pagerank pattern).
    from kinbaku_spark.queries.graph_queries import _graph

    from kinbaku_spark.queries.graph_queries import _n_nodes

    n_bound = N_LANDMARKS * _n_nodes(spark, sf_dir)
    hint = size_hint(n_bound)
    frontier = depths
    for d in range(1, ECC_MAX_DEPTH + 1):
        neighbors = (
            und.join(
                hint(frontier.select("lm", F.col("key").alias("u2"))),
                und.u == F.col("u2"),
            )
            .select("lm", F.col("v").alias("key"))
            .distinct()
        )
        # fully lazy chain (r08, guide §1.2 — the g_betweenness_bounded
        # layer shape): no per-round driver probe at all. An exhausted
        # frontier makes every later round's join empty, so the result is
        # identical to the early-exit form, while the whole ECC_MAX_DEPTH
        # BFS resolves inside the ONE final action instead of paying a
        # serial count job per round (r07: 25 jobs, one probe per depth).
        # The lazy checkpoints still pin each round's frontier so it
        # materializes once for its two consumers (depths union + next
        # round's joins).
        new = (
            neighbors.join(
                hint(depths.select("lm", "key")), ["lm", "key"], "left_anti"
            )
            .select("lm", "key", F.lit(d).cast("int").alias("depth"))
            .localCheckpoint(eager=False)
        )
        depths = depths.unionByName(new)
        frontier = new
    return (
        depths.groupBy("lm")
        .agg(
            F.max("depth").cast("int").alias("ecc_bounded"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_reached"),
        )
        .orderBy("lm")
    )


def _eccentricity_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    return GRAPH_CTE.replace("WITH ", "WITH RECURSIVE ", 1).rstrip() + f""",
und AS (
  SELECT src AS u, dst AS v FROM g_edges
  UNION
  SELECT dst, src FROM g_edges
),
lm AS (
  SELECT u AS lm FROM (
    SELECT u, COUNT(*) AS d FROM und GROUP BY u
    ORDER BY d DESC, u LIMIT {N_LANDMARKS}
  )
),
reach AS (
  SELECT lm AS lm, lm AS key, 0 AS depth FROM lm
  UNION
  SELECT r.lm, u.v AS key, r.depth + 1
  FROM reach r JOIN und u ON u.u = r.key
  WHERE r.depth < {ECC_MAX_DEPTH}
),
md AS (SELECT lm, key, MIN(depth) AS depth FROM reach GROUP BY 1, 2)
SELECT lm, CAST(MAX(depth) AS INTEGER) AS ecc_bounded,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_reached
FROM md GROUP BY lm ORDER BY lm
"""


# -- g_betweenness_bounded: single-source Brandes dependency, depth-bounded --

BETW_SCALE = 1_000_000


def g_betweenness_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes single-source dependency δ_S1(v) over shortest paths of
    length ≤ GEO_MAX_DEPTH — the backward pass completing
    g_geodesic_counts' forward σ counting (profiling_ext.py); summed over
    sources this is betweenness centrality, and the k-bounded single-source
    form is the standard approximation at scale.

    Backward pass, layer by layer (deepest first):
    δ(v) = Σ_{w ∈ succ(v)} σ(v)·(SCALE + δ(w)) div σ(w), truncating
    integer division per term in DECIMAL(38,0)/HUGEINT — both engines
    replay the identical recursion, so δ is bit-exact (ppm scale).
    Each layer is one edge join + one aggregation over that layer only.
    """
    from kinbaku_spark.queries.graph_queries import und_edges
    from kinbaku_spark.queries.profiling_ext import GEO_MAX_DEPTH, geo_forward

    und = und_edges(spark, sf_dir)
    # forward pass: the session-persisted (key, depth, sigma) state shared
    # with g_geodesic_counts — the BFS rounds are paid once per sf_dir
    fwd = geo_forward(spark, sf_dir)

    term = F.expr(
        f"CAST(sigma_v AS DECIMAL(38,0))"
        f" * CAST({BETW_SCALE} + delta_w AS DECIMAL(38,0))"
        f" div CAST(sigma_w AS DECIMAL(38,0))"
    )
    deltas = {
        GEO_MAX_DEPTH: fwd.filter(F.col("depth") == GEO_MAX_DEPTH).select(
            "key", F.lit(0).cast("long").alias("delta")
        )
    }
    for d in range(GEO_MAX_DEPTH - 1, 0, -1):
        v_layer = fwd.filter(F.col("depth") == d).select(
            F.col("key").alias("vk"), F.col("sigma").alias("sigma_v")
        )
        w_layer = fwd.filter(F.col("depth") == d + 1).select(
            F.col("key").alias("wk"), F.col("sigma").alias("sigma_w")
        ).join(
            deltas[d + 1].select(
                F.col("key").alias("wk"), F.col("delta").alias("delta_w")
            ),
            "wk",
        )
        dsum = (
            und.join(v_layer, und.u == F.col("vk"))
            .join(w_layer, und.v == F.col("wk"))
            .groupBy("vk")
            .agg(F.sum(term).cast("long").alias("delta"))
        )
        # LAZY pin: each layer is referenced twice (next layer's join +
        # the final union) so the checkpoint stops plan doubling, but the
        # whole backward pass resolves inside the ONE final action — no
        # per-layer driver probe exists to need an eager build (the
        # g_truss_bounded peel-round conversion, guide §1.2)
        deltas[d] = (
            v_layer.select("vk")
            .join(dsum, "vk", "left")
            .select(
                F.col("vk").alias("key"),
                F.coalesce(F.col("delta"), F.lit(0)).cast("long").alias("delta"),
            )
            .localCheckpoint(eager=False)
        )
    all_delta = None
    for d in range(1, GEO_MAX_DEPTH + 1):
        all_delta = (
            deltas[d] if all_delta is None else all_delta.unionByName(deltas[d])
        )
    return (
        fwd.filter(F.col("depth") >= 1)
        .join(all_delta, "key")
        .select("key", "depth", "sigma", F.col("delta").alias("dependency_ppm"))
        .orderBy("key")
    )


def _betweenness_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE
    from kinbaku_spark.queries.profiling_ext import GEO_MAX_DEPTH, GEO_SOURCE

    md = GEO_MAX_DEPTH
    parts = [
        f"""und AS MATERIALIZED (
  SELECT src AS u, dst AS v FROM g_edges
  UNION
  SELECT dst, src FROM g_edges
),
walks AS (
  SELECT '{GEO_SOURCE}' AS key, 0 AS depth
  UNION ALL
  SELECT u.v, w.depth + 1
  FROM walks w JOIN und u ON u.u = w.key
  WHERE w.depth < {md}
),
mind AS (SELECT key, MIN(depth) AS d FROM walks GROUP BY key),
fwd AS MATERIALIZED (
  SELECT m.key, CAST(m.d AS INTEGER) AS depth, CAST(COUNT(*) AS BIGINT) AS sigma
  FROM mind m JOIN walks w ON w.key = m.key AND w.depth = m.d
  GROUP BY m.key, m.d
),
del{md} AS (SELECT key, CAST(0 AS HUGEINT) AS delta FROM fwd WHERE depth = {md})"""
    ]
    for d in range(md - 1, 0, -1):
        parts.append(
            f"""terms{d} AS (
  SELECT v.key AS vk,
         (CAST(v.sigma AS HUGEINT) * ({BETW_SCALE} + dw.delta)) // w.sigma AS t
  FROM fwd v
  JOIN und e ON e.u = v.key
  JOIN fwd w ON w.key = e.v AND w.depth = {d + 1}
  JOIN del{d + 1} dw ON dw.key = w.key
  WHERE v.depth = {d}
),
del{d} AS MATERIALIZED (
  SELECT f.key, COALESCE(s.delta, 0) AS delta
  FROM (SELECT key FROM fwd WHERE depth = {d}) f
  LEFT JOIN (SELECT vk, SUM(t) AS delta FROM terms{d} GROUP BY vk) s
    ON s.vk = f.key
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT key, delta FROM del{d}" for d in range(1, md + 1)
    )
    return (
        GRAPH_CTE.replace("WITH ", "WITH RECURSIVE ", 1).rstrip()
        + ",\n"
        + ",\n".join(parts)
        + f""",
alld AS ({union})
SELECT f.key, f.depth, f.sigma, CAST(a.delta AS BIGINT) AS dependency_ppm
FROM fwd f JOIN alld a ON a.key = f.key
WHERE f.depth >= 1
ORDER BY f.key
"""
    )


# -- g_node2vec_walks: second-order (p/q-biased) walks ------------------------

N2V_STEPS = 3
# integer bias weights: return (v == prev) = 1, stay local (v adjacent to
# prev) = 2, explore (distance 2 from prev) = 4 — i.e. p = 2, q = 0.5, the
# community-exploring node2vec setting, kept integral so the biased pick
# (argmin of h div w) replays exactly in both engines
N2V_W_RETURN = 1
N2V_W_LOCAL = 2
N2V_W_EXPLORE = 4


def g_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One second-order biased walk per supplier node (node2vec, Grover &
    Leskovec 2016): the next hop is the argmin of md5(walk, step, cand)
    div bias_weight, where the bias classifies each candidate against the
    PREVIOUS node (return / local / explore) — a deterministic stand-in
    for p,q-biased sampling that both engines replay bit-identically,
    extending g_random_walks' first-order rule (graph_queries.py:1185).

    Each step is the frontier-edge join of the first-order walk plus ONE
    left join flagging prev-adjacency — frontier-sized state; the edge
    list is the only big table touched, same 100-TB shape as DeepWalk
    sampling.
    """
    from kinbaku_spark.functions.hashing import md5_long
    from kinbaku_spark.queries.graph_queries import _graph

    g = _graph(spark, sf_dir)
    und = g.edges_df.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(g.edges_df.select(F.col("dst"), F.col("src")))
    cur = g.nodes_df.filter(F.col("key").startswith("S")).select(
        F.col("key").alias("walk_id"),
        F.col("key").alias("node"),
        F.lit(None).cast("string").alias("prev"),
    )
    out = cur.select("walk_id", F.lit(0).alias("step"), "node")
    adj = und.select(F.col("u").alias("pu"), F.col("v").alias("pv"))
    # walker state is one row per walk (= per supplier); the filtered
    # prev-adjacency is at most (walkers × max-degree) rows. Both bounds
    # are ACTUAL (ADVICE r02: no avg-degree guesses — a hot node would
    # blow a guessed bound, and an EXPLICIT hint is never demoted by
    # AQE): walkers from the state count, max degree measured once and
    # session-cached (loop- and call-invariant on the stored graph).
    from kinbaku_spark.queries.graph_queries import _graph_state

    max_out_degree = _graph_state(spark, sf_dir, "max_out_degree_und", lambda: (
        adj.groupBy("pu").agg(F.count(F.lit(1)).alias("d")).agg(F.max("d")).collect()[0][0]
        or 0
    ))
    n_walkers = cur.count()
    hint = size_hint(n_walkers, default_bound=1_000_000)
    adj_hint = size_hint(n_walkers * max(max_out_degree, 1))
    for i in range(1, N2V_STEPS + 1):
        h = md5_long(
            F.concat_ws(":", F.col("walk_id"), F.lit(str(i)), F.col("v"))
        )
        w = (
            F.when(F.col("v") == F.col("prev"), F.lit(N2V_W_RETURN))
            .when(F.col("pv").isNotNull(), F.lit(N2V_W_LOCAL))
            .otherwise(F.lit(N2V_W_EXPLORE))
        )
        prev_adj = adj.join(
            hint(
                cur.filter(F.col("prev").isNotNull())
                .select(F.col("prev").alias("pu"))
                .distinct()
            ),
            "pu",
        )
        scored = (
            und.join(hint(cur), und.u == cur.node)
            .join(
                adj_hint(prev_adj),
                (F.col("pu") == F.col("prev")) & (F.col("pv") == F.col("v")),
                "left",
            )
            .select("walk_id", "node", "v", h.alias("h"), w.alias("w"))
            # exact integer division (h is 60-bit: float division would
            # lose the low bits that break ties)
            .select("walk_id", "node", "v", F.expr("h div w").alias("hd"))
        )
        pick = scored.groupBy("walk_id").agg(
            F.min_by(
                F.struct(F.col("v"), F.col("node")),
                F.struct(F.col("hd"), F.col("v")),
            ).alias("p")
        )
        cur = pick.select(
            "walk_id",
            F.col("p.v").alias("node"),
            F.col("p.node").alias("prev"),
        ).localCheckpoint(eager=False)
        out = out.unionAll(cur.select("walk_id", F.lit(i).alias("step"), "node"))
    return out.orderBy("walk_id", "step")


def _node2vec_sql() -> str:
    from kinbaku_spark.functions.hashing import sql_md5_long
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    parts = [
        "und AS (SELECT src AS u, dst AS v FROM g_edges"
        " UNION ALL SELECT dst, src FROM g_edges)",
        "n0 AS (SELECT key AS walk_id, key AS node,"
        " CAST(NULL AS VARCHAR) AS prev FROM g_nodes WHERE key LIKE 'S%')",
    ]
    for i in range(1, N2V_STEPS + 1):
        h = sql_md5_long(f"w.walk_id || ':' || '{i}' || ':' || und.v")
        parts.append(
            f"""c{i} AS (
  SELECT w.walk_id, und.v, w.node AS cur_node,
         {h} // (CASE WHEN und.v = w.prev THEN {N2V_W_RETURN}
                      WHEN a.v IS NOT NULL THEN {N2V_W_LOCAL}
                      ELSE {N2V_W_EXPLORE} END) AS hd
  FROM n{i - 1} w
  JOIN und ON und.u = w.node
  LEFT JOIN und a ON a.u = w.prev AND a.v = und.v
),
n{i} AS MATERIALIZED (
  SELECT walk_id, v AS node, cur_node AS prev FROM (
    SELECT c{i}.*, ROW_NUMBER() OVER (PARTITION BY walk_id ORDER BY hd, v) AS rn
    FROM c{i}
  ) WHERE rn = 1
)"""
        )
    selects = "\n  UNION ALL ".join(
        f"SELECT walk_id, {i} AS step, node FROM n{i}"
        for i in range(0, N2V_STEPS + 1)
    )
    return (
        GRAPH_CTE.rstrip()
        + ",\n"
        + ",\n".join(parts)
        + f"""
SELECT walk_id, CAST(step AS INTEGER) AS step, node FROM (
  {selects}
) ORDER BY walk_id, step
"""
    )
QUERIES["g_truss_bounded"] = g_truss_bounded
ORACLES["g_truss_bounded"] = _truss_sql()
QUERIES["g_eccentricity"] = g_eccentricity
ORACLES["g_eccentricity"] = _eccentricity_sql()
QUERIES["g_betweenness_bounded"] = g_betweenness_bounded
ORACLES["g_betweenness_bounded"] = _betweenness_sql()
# -- g_butterflies: bipartite 4-cycle census ----------------------------------

def g_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterfly (bipartite 4-cycle) census of the supplier→part graph:
    B = Σ_{s1<s2} C(shared_parts, 2) over the session-persisted
    co-supplier pair table (graph_queries.co_shared — the quadratic pair
    aggregation is engine state, paid once), caterpillars (3-paths)
    L = Σ_{(s,p) edge} (deg s − 1)(deg p − 1), and the Robins–Alexander
    bipartite clustering coefficient 4B/L in exact ppm. The standard
    cohesion metric where triangles cannot exist (bipartite graphs have
    none) — Sanei-Mehri et al. 2018's counting identity.

    Wide-integer discipline: B and L use DECIMAL(38,0)/HUGEINT sums (at
    10⁹ edges the (deg−1) products overflow int64).
    """
    from kinbaku_spark.queries.graph_queries import _graph, co_shared

    d38 = "decimal(38,0)"
    shared = co_shared(spark, sf_dir)
    b = shared.agg(
        F.sum(
            F.expr(f"CAST(shared_parts * (shared_parts - 1) div 2 AS {d38})")
        ).alias("butterflies")
    )
    e = _graph(spark, sf_dir).edges_df.select("src", "dst").distinct()
    ds = e.groupBy("src").agg(F.count(F.lit(1)).alias("ds"))
    dp = e.groupBy("dst").agg(F.count(F.lit(1)).alias("dp"))
    from kinbaku_spark.queries.graph_queries import _n_nodes

    hint = size_hint(_n_nodes(spark, sf_dir))
    l3 = (
        e.join(hint(ds), "src")
        .join(hint(dp), "dst")
        .agg(
            F.sum(
                F.expr(f"CAST(ds - 1 AS {d38}) * CAST(dp - 1 AS {d38})")
            ).alias("caterpillars")
        )
    )
    return b.crossJoin(l3).select(
        F.col("butterflies").cast("long").alias("butterflies"),
        F.col("caterpillars").cast("long").alias("caterpillars"),
        F.expr(
            "CASE WHEN caterpillars = 0 THEN 0"
            " ELSE CAST(4 AS DECIMAL(38,0)) * butterflies * 1000000"
            " div caterpillars END"
        )
        .cast("long")
        .alias("bcc_ppm"),
    )


def _butterflies_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    return GRAPH_CTE.rstrip() + """,
sp AS (SELECT DISTINCT src, dst FROM g_edges),
shared AS (
  SELECT a.src AS s1, b.src AS s2, CAST(COUNT(*) AS BIGINT) AS shared_parts
  FROM sp a JOIN sp b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
),
bf AS (
  SELECT SUM(CAST(shared_parts * (shared_parts - 1) // 2 AS HUGEINT))
           AS butterflies
  FROM shared
),
ds AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS ds FROM sp GROUP BY src),
dp AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS dp FROM sp GROUP BY dst),
l3 AS (
  SELECT SUM(CAST(ds.ds - 1 AS HUGEINT) * CAST(dp.dp - 1 AS HUGEINT))
           AS caterpillars
  FROM sp JOIN ds ON ds.src = sp.src JOIN dp ON dp.dst = sp.dst
)
SELECT CAST(bf.butterflies AS BIGINT) AS butterflies,
       CAST(l3.caterpillars AS BIGINT) AS caterpillars,
       CAST(CASE WHEN l3.caterpillars = 0 THEN 0
                 ELSE CAST(4 AS HUGEINT) * bf.butterflies * 1000000
                      // l3.caterpillars END AS BIGINT) AS bcc_ppm
FROM bf CROSS JOIN l3
"""


QUERIES["g_node2vec_walks"] = g_node2vec_walks
ORACLES["g_node2vec_walks"] = _node2vec_sql()
QUERIES["g_butterflies"] = g_butterflies
ORACLES["g_butterflies"] = _butterflies_sql()
