"""Bounded spectral / density / component analytics: Katz centrality,
eigenvector centrality (walk counts), Charikar densest-subgraph peeling,
per-node local clustering coefficients, and distributed strongly-connected
components (FW-BW min-label peeling, the Orzan coloring shape GraphX-style
engines use).

The reference (kerighan/kinbaku) has no analytics surface at all
(SURVEY.md §2.4 — its docs/source/reference/graph.rst stops at point reads
and degree queries); these extend the graph-metric family the earlier
rounds built (pagerank/HITS/kcore/truss/MST).

Shuffle shapes (the 100 TB story):

- Katz / eigenvector: each round is ONE join of the |V|-sized score vector
  to the symmetrized edge list plus a sum-aggregation with map-side
  partials — the Pregel power-iteration shape. The score vector is
  size-gated broadcast (plans/hints.py) while |V| is broadcastable; past
  the gate both sides co-partition on the node key and the edge table
  shuffles ONCE (first round), then reuses its partitioning.
- densest subgraph: per peel round, one degree aggregation + two
  semi-joins against the surviving-node set (node-sized, size-gated). The
  edge set only ever SHRINKS, so round r+1 is cheaper than round r.
- SCC: per propagation round, the (key, f, b) state vector joins the edge
  list once per direction and both contribution streams union into ONE
  min-aggregation + one merge join. MIN over strings is order-free, so
  every round replays exactly at any partitioning. Retired components
  leave via node-keyed semi-joins; the active edge set shrinks
  monotonically.
- local clustering: per-node triangle counts come from the SAME block-GEMM
  state g_triangles/g_transitivity share (operators/triangles.py, cached
  per sf_dir) — the projection is multiplied once per session, not once
  per metric.

Determinism: Katz folds α = 1/8 into a pure-integer scaling (s_t = 8^t·x_t
⇒ s_{t+1} = A·s_t + 8^{t+1}, exact BIGINT arithmetic, order-free sums —
the final division by 8^T is exact in doubles); eigenvector scores are raw
BIGINT walk counts with an integer-ppm normalization; densest-subgraph
densities and local clustering coefficients are integer ppm; SCC labels
are string MINs. No floating-point accumulation anywhere, so the DuckDB
oracles replay every query bit-for-bit.

Bounded semantics (same contract as g_sssp_bounded / g_kcore /
g_betweenness_bounded): fixed round counts keep the oracle an exact replay
and the lineage bounded. For SCC that means certified components are SOUND
(every emitted group is inside one true SCC — certification requires the
min label to be reached in BOTH directions) but an SCC whose radius from
its min-key node exceeds the round budget may surface as several certified
groups or stay pending; tests/test_graphmetrics4.py differential-checks
exactly that containment against NetworkX.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kinbaku_spark.plans.hints import size_hint

QUERIES: dict = {}
ORACLES: dict = {}

KATZ_ROUNDS = 3
KATZ_SCALE = 8  # α = 1/KATZ_SCALE, folded into integer scaling
WALK_ROUNDS = 3
PEEL_ROUNDS = 5  # Charikar peel: ε = 0.1 → remove deg ≤ 2.2·avg
SCC_PROP_ROUNDS = 3
SCC_PEELS = 2

_UND_SQL = (
    "und AS (SELECT src AS u, dst AS v FROM g_edges"
    " UNION ALL SELECT dst, src FROM g_edges)"
)


# -- g_katz_bounded: Katz centrality, integer-exact power iteration ----------


def g_katz_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (α = 1/8, β = 1) on the symmetrized supplier→part
    graph, KATZ_ROUNDS fixed rounds of x_{t+1} = α·A·x_t + 1, top-20.

    Runs entirely in scaled integers: s_t = 8^t·x_t satisfies
    s_{t+1} = A·s_t + 8^{t+1} with s_0 = 1, so every partial sum is an
    exact BIGINT (order-free — no float accumulation) and the final
    katz = s_T / 8^T division is exact in doubles. BIGINT headroom:
    s_T ≲ (max_degree)^T · 8^T, ~10^13 at sf1 — overflow would need a
    graph ~10^5× denser; lower KATZ_ROUNDS (or widen to the decimal path)
    long before that.
    """
    from kinbaku_spark.operators.components import katz_scores
    from kinbaku_spark.queries.graph_queries import _cached, _n_nodes

    nodes, edges = _cached(spark, sf_dir)
    return (
        katz_scores(
            edges,
            rounds=KATZ_ROUNDS,
            scale=KATZ_SCALE,
            nodes=nodes,
            bound_rows=_n_nodes(spark, sf_dir),
        )
        .orderBy(F.desc("katz_scaled"), "key")
        .limit(20)
    )


def _katz_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    parts = [_UND_SQL, "s0 AS (SELECT key, CAST(1 AS BIGINT) AS s FROM g_nodes)"]
    for t in range(1, KATZ_ROUNDS + 1):
        parts.append(f"""
n{t} AS (
  SELECT und.v, SUM(s.s) AS ns
  FROM und JOIN s{t - 1} s ON s.key = und.u GROUP BY und.v
),
s{t} AS MATERIALIZED (
  SELECT k.key, CAST({KATZ_SCALE**t} + COALESCE(n.ns, 0) AS BIGINT) AS s
  FROM g_nodes k LEFT JOIN n{t} n ON n.v = k.key
)""")
    return (
        GRAPH_CTE.rstrip()
        + ", "
        + ",".join(parts)
        + f"""
SELECT key, s AS katz_scaled, s / {float(KATZ_SCALE**KATZ_ROUNDS)!r} AS katz
FROM s{KATZ_ROUNDS}
ORDER BY katz_scaled DESC, key
LIMIT 20
"""
    )


# -- g_eigenvector_bounded: walk-count power iteration ------------------------


def g_eigenvector_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector-centrality estimate via WALK COUNTS: w_T(v) = number of
    length-T walks ending at v (w_{t+1} = A·w_t, w_0 = 1) — the power
    iteration with the normalization deferred to one final integer-ppm
    division, so every intermediate is an exact BIGINT. Top-20 with both
    the raw count and score_ppm = w_T·10^6 div Σw_T. BIGINT headroom:
    the ppm numerator needs w_T < 9.2·10^12 (w_T ≲ avg_deg^T ~ 10^8 at
    sf1); lower WALK_ROUNDS before any graph gets near that.
    """
    from kinbaku_spark.operators.components import walk_counts
    from kinbaku_spark.queries.graph_queries import _cached, _n_nodes

    nodes, edges = _cached(spark, sf_dir)
    w = walk_counts(
        edges,
        rounds=WALK_ROUNDS,
        nodes=nodes,
        bound_rows=_n_nodes(spark, sf_dir),
    ).select("key", F.col("walks").alias("w"))
    tot = w.agg(F.sum("w").alias("tot"))
    return (
        w.join(F.broadcast(tot))  # 1-row aggregate: always broadcastable
        .select(
            "key",
            F.col("w").alias("walks"),
            F.expr("w * 1000000 div tot").alias("score_ppm"),
        )
        .orderBy(F.desc("walks"), "key")
        .limit(20)
    )


def _eigenvector_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    parts = [_UND_SQL, "w0 AS (SELECT key, CAST(1 AS BIGINT) AS w FROM g_nodes)"]
    for t in range(1, WALK_ROUNDS + 1):
        parts.append(f"""
wn{t} AS (
  SELECT und.v, SUM(w.w) AS nw
  FROM und JOIN w{t - 1} w ON w.key = und.u GROUP BY und.v
),
w{t} AS MATERIALIZED (
  SELECT k.key, CAST(COALESCE(n.nw, 0) AS BIGINT) AS w
  FROM g_nodes k LEFT JOIN wn{t} n ON n.v = k.key
)""")
    return (
        GRAPH_CTE.rstrip()
        + ", "
        + ",".join(parts)
        + f""",
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM w{WALK_ROUNDS})
SELECT key, w AS walks, (w * 1000000) // tot AS score_ppm
FROM w{WALK_ROUNDS} CROSS JOIN tot
ORDER BY walks DESC, key
LIMIT 20
"""
    )


# -- g_densest_subgraph: Charikar greedy peel (density trace) -----------------


def g_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charikar densest-subgraph peel on the (distinct, undirected-as-
    bipartite) supplier→part edge set, PEEL_ROUNDS rounds: report
    (round, n_nodes, n_edges, density_ppm = E·10^6 div V), then remove
    every node with deg ≤ (1+ε)·avg (ε = 0.1, integer test
    deg·V·10 ≤ 22·E) and keep edges with both endpoints surviving.
    The max-density row of the trace is the 2(1+ε)-approximation of the
    densest subgraph (Charikar 2000); emitting the whole trace keeps the
    output a fixed, hashable PEEL_ROUNDS rows.
    """
    from kinbaku_spark.operators.components import densest_subgraph_trace
    from kinbaku_spark.queries.graph_queries import _cached, _n_nodes

    _, edges = _cached(spark, sf_dir)
    # keep-sets are node-sized and only shrink: |V| of the stored graph is
    # a sound bound for every peel round's semi-join sides
    return densest_subgraph_trace(
        edges, peel_rounds=PEEL_ROUNDS, bound_rows=_n_nodes(spark, sf_dir)
    ).orderBy("round")


def _densest_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    parts = ["e0 AS (SELECT src AS a, dst AS b FROM g_edges)"]
    selects = []
    for r in range(PEEL_ROUNDS):
        parts.append(f"""
d{r} AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM e{r} UNION ALL SELECT b FROM e{r}
  ) GROUP BY v
),
st{r} AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(COALESCE(SUM(d) // 2, 0) AS BIGINT) AS n_edges
  FROM d{r}
),
keep{r} AS (
  SELECT v FROM d{r} CROSS JOIN st{r}
  WHERE d * n_nodes * 10 > 22 * n_edges
),
e{r + 1} AS MATERIALIZED (
  SELECT a, b FROM e{r}
  WHERE a IN (SELECT v FROM keep{r}) AND b IN (SELECT v FROM keep{r})
)""")
        selects.append(
            f"SELECT CAST({r} AS INTEGER) AS round, n_nodes, n_edges,"
            f" CASE WHEN n_nodes = 0 THEN NULL"
            f" ELSE (n_edges * 1000000) // n_nodes END AS density_ppm"
            f" FROM st{r}"
        )
    return (
        GRAPH_CTE.rstrip()
        + ", "
        + ",".join(parts)
        + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY round\n"
    )


# -- g_local_clustering: per-node clustering coefficient ----------------------


def g_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the thresholded co-supplier
    projection (the same one-mode graph g_triangles scores):
    lcc_ppm = 2·tri(v)·10^6 div (d·(d−1)) for every projection node with
    d ≥ 2, top-20 by coefficient. Triangle counts come from the
    session-shared block-GEMM state (tri_per_node — multiplied once per
    sf_dir, shared with g_triangles/g_transitivity), so this query adds
    only a degree aggregation and one node-keyed join.
    """
    from kinbaku_spark.queries.graph_queries import _n_nodes, co_proj, tri_per_node

    proj = co_proj(spark, sf_dir)
    tri = tri_per_node(spark, sf_dir)
    # the per-node triangle table is bounded by the projection's node set,
    # itself a subset of the stored graph's |V|
    hint = size_hint(_n_nodes(spark, sf_dir))
    deg = (
        proj.select(F.col("s1").alias("key"))
        .union(proj.select("s2"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(hint(tri), "key", "left")
        .select(
            "key",
            "d",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            F.expr("2 * coalesce(n_triangles, 0) * 1000000 div (d * (d - 1))").alias(
                "lcc_ppm"
            ),
        )
        .orderBy(F.desc("lcc_ppm"), F.desc("d"), "key")
        .limit(20)
    )


def _local_clustering_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    return (
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
pertri AS (
  SELECT key, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS key FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY key
),
deg AS (
  SELECT key, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT s1 AS key FROM proj UNION ALL SELECT s2 FROM proj
  ) GROUP BY key
)
SELECT deg.key, d, CAST(COALESCE(n_triangles, 0) AS BIGINT) AS n_triangles,
       (2 * COALESCE(n_triangles, 0) * 1000000) // (d * (d - 1)) AS lcc_ppm
FROM deg LEFT JOIN pertri ON pertri.key = deg.key
WHERE d >= 2
ORDER BY lcc_ppm DESC, d DESC, deg.key
LIMIT 20
"""
    )


# -- g_scc_bounded: FW-BW min-label strongly connected components -------------


def g_scc_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the part-SUCCESSION graph
    (sources/tables.py part_succession_edges — cycle-rich by construction)
    via bounded FW-BW min-label peeling, the distributed SCC shape (Orzan
    coloring / FW-BW): per peel, propagate the min key FORWARD along
    out-edges (f = min key reachable from v within SCC_PROP_ROUNDS hops)
    and BACKWARD along in-edges (b = min key reaching v); a node with
    f(v) = b(v) = m is CERTIFIED in comp m (v reaches m and m reaches v ⇒
    same SCC — sound by construction). Certified nodes retire, their edges
    drop, and the next peel runs on the residual subgraph. Nodes never
    certified within SCC_PEELS peels return comp = key with peel NULL
    (pending — not a singleton claim).

    Output: (key, comp, peel) for every node of the succession graph.
    Every certified comp group lies inside one true SCC;
    tests/test_graphmetrics4.py differential-checks that containment
    against NetworkX strongly_connected_components.
    """
    from kinbaku_spark.operators.components import scc_bounded
    from kinbaku_spark.queries.graph_queries import _n_nodes
    from kinbaku_spark.sources.tables import part_succession_edges

    # label vectors are sized by the succession graph's node set — a subset
    # of the stored graph's part nodes, so its |V| is a sound gate bound
    return scc_bounded(
        part_succession_edges(spark, sf_dir),
        prop_rounds=SCC_PROP_ROUNDS,
        peels=SCC_PEELS,
        bound_rows=_n_nodes(spark, sf_dir),
    ).orderBy("key")


def _scc_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE
    from kinbaku_spark.sources.tables import PART_SUCCESSION_EDGES_SQL

    parts = [
        f"pe1 AS ({PART_SUCCESSION_EDGES_SQL})",
        "a1 AS (SELECT src AS key FROM pe1 UNION SELECT dst FROM pe1)",
    ]
    selects = []
    for p in range(1, SCC_PEELS + 1):
        parts.append(f"f{p}_0 AS (SELECT key, key AS f FROM a{p})")
        parts.append(f"b{p}_0 AS (SELECT key, key AS b FROM a{p})")
        for r in range(1, SCC_PROP_ROUNDS + 1):
            parts.append(f"""
fn{p}_{r} AS (
  SELECT e.src, MIN(x.f) AS nf
  FROM pe{p} e JOIN f{p}_{r - 1} x ON x.key = e.dst GROUP BY e.src
),
f{p}_{r} AS MATERIALIZED (
  SELECT x.key, LEAST(x.f, COALESCE(n.nf, x.f)) AS f
  FROM f{p}_{r - 1} x LEFT JOIN fn{p}_{r} n ON n.src = x.key
),
bn{p}_{r} AS (
  SELECT e.dst, MIN(x.b) AS nb
  FROM pe{p} e JOIN b{p}_{r - 1} x ON x.key = e.src GROUP BY e.dst
),
b{p}_{r} AS MATERIALIZED (
  SELECT x.key, LEAST(x.b, COALESCE(n.nb, x.b)) AS b
  FROM b{p}_{r - 1} x LEFT JOIN bn{p}_{r} n ON n.dst = x.key
)""")
        r = SCC_PROP_ROUNDS
        parts.append(
            f"lab{p} AS MATERIALIZED (SELECT f.key, f.f, b.b"
            f" FROM f{p}_{r} f JOIN b{p}_{r} b ON b.key = f.key)"
        )
        selects.append(
            f"SELECT key, f AS comp, CAST({p} AS INTEGER) AS peel"
            f" FROM lab{p} WHERE f = b"
        )
        parts.append(f"a{p + 1} AS (SELECT key FROM lab{p} WHERE f <> b)")
        parts.append(
            f"pe{p + 1} AS MATERIALIZED (SELECT src, dst FROM pe{p}"
            f" WHERE src IN (SELECT key FROM a{p + 1})"
            f" AND dst IN (SELECT key FROM a{p + 1}))"
        )
    selects.append(
        f"SELECT key, key AS comp, CAST(NULL AS INTEGER) AS peel"
        f" FROM a{SCC_PEELS + 1}"
    )
    return (
        GRAPH_CTE.rstrip()
        + ", "
        + ",".join(parts)
        + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY key\n"
    )


# -- g_scc: certified TO-CONVERGENCE strongly connected components ------------

# the full succession graph is one giant SCC at every sf (structurally
# trivial for a partition query); a deterministic md5 edge sparsification
# (keep edge iff md5_60(src||'|'||dst) % 24 == 0 — content-hash, both
# engines replay it bit-equal) yields a condensation-rich graph: at sf0.01
# 1,705 nodes / 1,882 edges with a mix of small cycles and a large DAG
# part, at sf0.1 a 23-node diameter-21 SCC plus ~16,900 singletons — the
# certify-and-split machinery is exercised on real multi-class structure.
SCC_SPARSIFY_MOD = 24


def g_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE strongly-connected-component partition (key, comp; comp = min
    member key) of the md5-sparsified part-succession graph, computed TO
    CONVERGENCE by operators/components.scc — multi-pivot FW-BW with
    hashed labels, witness pointer-doubling, and the raise-not-truncate
    contract (SCCConvergenceError on budget exhaustion; VERDICT r05
    next-round #3 — the directed twin of the WCC kernel's convergence
    certificate). Oracle: DuckDB recursive-CTE transitive closure — comp =
    LEAST(key, MIN over mutually-reachable nodes) — the textbook SCC
    definition, no algorithm replay; NetworkX differentials + adversarial
    long-cycle/descending-chain drills live in tests/test_scc_convergent.py."""
    from kinbaku_spark.functions.hashing import md5_long
    from kinbaku_spark.operators.components import scc
    from kinbaku_spark.queries.graph_queries import _n_nodes
    from kinbaku_spark.sources.tables import part_succession_edges

    edges = part_succession_edges(spark, sf_dir).filter(
        F.pmod(
            md5_long(F.concat(F.col("src"), F.lit("|"), F.col("dst"))),
            F.lit(SCC_SPARSIFY_MOD),
        )
        == 0
    )
    return scc(edges, bound_rows=_n_nodes(spark, sf_dir)).orderBy("key")


def _scc_true_sql() -> str:
    from kinbaku_spark.functions.hashing import sql_md5_long
    from kinbaku_spark.sources.tables import PART_SUCCESSION_EDGES_SQL

    return f"""
WITH RECURSIVE pe AS (
  SELECT src, dst FROM ({PART_SUCCESSION_EDGES_SQL})
  WHERE {sql_md5_long("src || '|' || dst")} % {SCC_SPARSIFY_MOD} = 0
),
n AS (SELECT src AS key FROM pe UNION SELECT dst FROM pe),
reach(a, d) AS (
  SELECT src, dst FROM pe
  UNION
  SELECT r.a, e.dst FROM reach r JOIN pe e ON e.src = r.d
),
mutual AS (
  SELECT x.a AS v, x.d AS u FROM reach x JOIN reach y ON x.a = y.d AND x.d = y.a
)
SELECT n.key, LEAST(n.key, COALESCE(MIN(m.u), n.key)) AS comp
FROM n LEFT JOIN mutual m ON m.v = n.key
GROUP BY n.key
ORDER BY key
"""


# -- g_cc_incremental: streaming CC state equals the closed-form labels -------


def g_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the incremental-CC ingest loop (streaming/graph_cc.py) through
    the correctness gate: the customer→order edges split into 3
    hash-batches, each merged into a fresh parquet label state by
    cc_ingest_batch; the final state is returned. The customer→order graph
    is a forest of STARS (one customer, its orders; 'C…' < 'O…'
    lexicographically), so the converged min-label CC has a CLOSED FORM the
    oracle states directly — customers label themselves, orders take their
    customer — and the incremental path must reach it for ANY batch split
    (the split-invariance tests/test_streaming_cc.py locks generally).
    """
    import shutil
    import tempfile

    from kinbaku_spark.functions.hashing import md5_long
    from kinbaku_spark.sources.tables import customer_order_edges
    from kinbaku_spark.streaming.graph_cc import cc_ingest_batch, cc_read_state

    edges = customer_order_edges(spark, sf_dir).select("src", "dst")
    d = tempfile.mkdtemp(prefix="kb_cc_q_")
    try:
        for i in range(3):
            cc_ingest_batch(
                edges.filter(F.pmod(md5_long(F.col("dst")), F.lit(3)) == i),
                f"{d}/labels",
            )
        state = cc_read_state(spark, f"{d}/labels")
        if state is None:  # empty corpus: empty state
            return spark.createDataFrame([], "key string, label string")
        # pin the result before the temp state is removed
        return state.orderBy("key").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


G_CC_INCREMENTAL_SQL = """
WITH co AS (
  SELECT 'C' || CAST(o_custkey AS VARCHAR) AS c,
         'O' || CAST(o_orderkey AS VARCHAR) AS o
  FROM orders
)
SELECT key, label FROM (
  SELECT DISTINCT c AS key, c AS label FROM co
  UNION ALL
  SELECT o, c FROM co
)
ORDER BY key
"""


def _register() -> None:
    QUERIES.update(
        {
            "g_katz_bounded": g_katz_bounded,
            "g_eigenvector_bounded": g_eigenvector_bounded,
            "g_densest_subgraph": g_densest_subgraph,
            "g_local_clustering": g_local_clustering,
            "g_scc_bounded": g_scc_bounded,
            "g_scc": g_scc,
            "g_cc_incremental": g_cc_incremental,
        }
    )
    ORACLES.update(
        {
            "g_cc_incremental": G_CC_INCREMENTAL_SQL,
            "g_scc": _scc_true_sql(),
            "g_katz_bounded": _katz_sql(),
            "g_eigenvector_bounded": _eigenvector_sql(),
            "g_densest_subgraph": _densest_sql(),
            "g_local_clustering": _local_clustering_sql(),
            "g_scc_bounded": _scc_sql(),
        }
    )


_register()
