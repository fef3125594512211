"""Global clustering coefficient and deterministic k-fold assignment.

The reference (kerighan/kinbaku) has no metric/ML surface (SURVEY.md
§2.4); these extend the graph-metric layer (g_triangles' per-node counts
rolled up to the one-number transitivity) and the ML-prep layer
(hash-deterministic cross-validation folds with a stratification audit).

Shuffle shapes (the 100 TB story):

- transitivity: reuses the mean-thresholded co-supplier projection
  (g_triangles' sparsification); wedges come from the projection's
  degree table (Σ C(d,2) — one groupBy over projection endpoints), the
  triangle count from the same oriented wedge join. Nothing touches the
  raw edge table twice.
- k-fold: fold id is a pure projection (60-bit md5 of the row id mod k —
  never engine RNG, so folds are stable across runs/engines/cluster
  sizes); the audit is one groupBy(fold, label).

Determinism: counts and C(d,2) are exact integers; the coefficient is
integer ppm; fold hashing uses the shared md5 helper (functions/
hashing.py) with identical semantics in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kinbaku_spark.functions.hashing import md5_long, sql_md5_long
from kinbaku_spark.knobs import env_int
from kinbaku_spark.sources.tables import load_table

QUERIES: dict = {}
ORACLES: dict = {}


# -- g_transitivity: global clustering coefficient ---------------------------


def g_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the thresholded
    co-supplier projection: 3·triangles / wedges, in integer ppm — the
    one-number companion to g_triangles' per-node participation.

    Cost note: the mean threshold keeps the projection DENSE at sf0.1
    (~240k edges on 1k suppliers -> ~117M wedges), so the exact count is
    wedge-bound by construction (~7M wedges/s on local[32]). Two scale
    knobs, same plan shape: raise the projection threshold, or set
    KB_WEDGE_SAMPLE_PPM to hash-subsample the wedge enumeration (unbiased
    triangle estimate at ppm/1e6 of the join cost; wedge count stays
    analytic-exact). Unset = exact, oracle-identical.
    """
    from kinbaku_spark.queries.graph_queries import co_proj

    # session-persisted projection (graph_queries.co_proj): the quadratic
    # co-supplier pair aggregation is engine state shared with g_triangles
    proj = co_proj(spark, sf_dir)
    deg = (
        proj.select(F.col("s1").alias("v"))
        .union(proj.select("s2"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges")
    )
    # Wedge-sampling knob (VERDICT r01 #10): KB_WEDGE_SAMPLE_PPM subsamples
    # the edge list driving the closure check by a deterministic edge hash.
    # A triangle a<b<c is counted exactly at edge (a,b), which survives with
    # p = ppm/1e6, so count/p is an unbiased triangle estimate at p of the
    # closure cost; n_wedges stays analytic-exact (degree formula). This is
    # the sparse-at-scale path (successor-array intersect, no dense state).
    # Unset -> exact block-GEMM count, identical to the oracle.
    sample_ppm = env_int("KB_WEDGE_SAMPLE_PPM", 0) or None
    if sample_ppm:
        left = proj.filter(
            md5_long(F.concat_ws("\x1f", "s1", "s2")) % 1000000 < sample_ppm
        )
        succ = proj.groupBy(F.col("s1").alias("v")).agg(
            F.collect_list("s2").alias("succs")
        )
        closed = (
            left.join(
                succ.select(F.col("v").alias("s1"), F.col("succs").alias("sa")), "s1"
            )
            .join(succ.select(F.col("v").alias("s2"), F.col("succs").alias("sb")), "s2")
            .select(F.size(F.array_intersect("sa", "sb")).alias("n_closed"))
        )
        tri = closed.agg(
            (F.coalesce(F.sum("n_closed"), F.lit(0)) * 1000000 / sample_ppm)
            .cast("long")
            .alias("n_triangles")
        )
    else:
        from kinbaku_spark.queries.graph_queries import tri_per_node

        # global count from the session-shared per-node GEMM state
        # (graph_queries.tri_per_node): Σ_u tri(u) = 3T exactly, so the
        # projection is multiplied once per sf_dir across all metrics
        tri = tri_per_node(spark, sf_dir).agg(
            F.coalesce(F.expr("sum(n_triangles) div 3"), F.lit(0))
            .cast("long")
            .alias("n_triangles")
        )
    edges = proj.agg(F.count(F.lit(1)).alias("n_proj_edges"))
    return (
        edges.crossJoin(tri)
        .crossJoin(wedges)
        .select(
            "n_proj_edges",
            "n_triangles",
            "n_wedges",
            F.expr(
                "CASE WHEN n_wedges = 0 THEN 0"
                " ELSE 3 * n_triangles * 1000000 div n_wedges END"
            ).alias("transitivity_ppm"),
        )
    )


def _transitivity_sql() -> str:
    from kinbaku_spark.queries.graph_queries import GRAPH_CTE

    return GRAPH_CTE.rstrip() + """,
sp AS (SELECT DISTINCT src, dst FROM g_edges),
shared AS (
  SELECT a.src AS s1, b.src AS s2, COUNT(*) AS shared_parts
  FROM sp a JOIN sp b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
),
thr AS (SELECT CAST(CEIL(AVG(shared_parts)) AS BIGINT) AS t FROM shared),
proj AS (SELECT s1, s2 FROM shared WHERE shared_parts >= (SELECT t FROM thr)),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT s1 AS v FROM proj UNION ALL SELECT s2 FROM proj
  ) GROUP BY v
),
wedges AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM proj e1 JOIN proj e2 ON e2.s1 = e1.s2
  WHERE EXISTS (SELECT 1 FROM proj e3 WHERE e3.s1 = e1.s1 AND e3.s2 = e2.s2)
),
edges AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_proj_edges FROM proj)
SELECT e.n_proj_edges, t.n_triangles, w.n_wedges,
       CASE WHEN w.n_wedges = 0 THEN 0
            ELSE CAST(3 * t.n_triangles * 1000000 // w.n_wedges AS BIGINT)
       END AS transitivity_ppm
FROM edges e CROSS JOIN tri t CROSS JOIN wedges w
"""


# -- x_cross_val_folds: deterministic stratification audit -------------------

CV_FOLDS = 5


def x_cross_val_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold assignment over the embedding corpus (60-bit
    md5 of the row id mod 5 — reproducible across engines, runs, and
    cluster sizes, unlike engine RNG) with the stratification audit every
    CV setup needs: per-(fold, label) counts and within-fold shares.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    folded = emb.select(
        (md5_long(F.col("vec_id").cast("string")) % CV_FOLDS).alias("fold"),
        "label",
    )
    per = folded.groupBy("fold", "label").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("fold")
    return (
        per.withColumn("fold_n", F.sum("n").over(w))
        .select(
            "fold",
            "label",
            "n",
            F.col("fold_n").cast("long").alias("fold_n"),
            F.expr("n * 1000000 div fold_n").alias("share_ppm"),
        )
        .orderBy("fold", "label")
    )


X_CROSS_VAL_SQL = f"""
WITH folded AS (
  SELECT {sql_md5_long("CAST(vec_id AS VARCHAR)")} % {CV_FOLDS} AS fold, label
  FROM embeddings
),
per AS (
  SELECT fold, label, CAST(COUNT(*) AS BIGINT) AS n
  FROM folded GROUP BY 1, 2
)
SELECT CAST(fold AS BIGINT) AS fold, label, n,
       CAST(SUM(n) OVER (PARTITION BY fold) AS BIGINT) AS fold_n,
       CAST((n * 1000000) // SUM(n) OVER (PARTITION BY fold) AS BIGINT)
         AS share_ppm
FROM per
ORDER BY fold, label
"""


QUERIES["g_transitivity"] = g_transitivity
ORACLES["g_transitivity"] = _transitivity_sql()
QUERIES["x_cross_val_folds"] = x_cross_val_folds
ORACLES["x_cross_val_folds"] = X_CROSS_VAL_SQL
