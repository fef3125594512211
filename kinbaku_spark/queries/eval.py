"""Evaluation and ML-prep metrics: cluster purity, MRR, NDCG, ROC AUC,
calibration, confusion matrices, rolling features, target encoding, kNN
hubness and label-noise screens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kinbaku_spark.functions.hashing import md5_long, sql_md5_long
from kinbaku_spark.operators.rank import prefix_sums
from kinbaku_spark.operators.similarity import cosine
from kinbaku_spark.operators.text import text_quality
from kinbaku_spark.queries import kmeans_state, register
from kinbaku_spark.queries.kmeans_state import kmeans_assign_cte
from kinbaku_spark.queries.similarity import _sql_cosine
from kinbaku_spark.queries.text import X_TEXT_QUALITY_SQL
from kinbaku_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Deterministic k-fold assignment with a stratification audit.
#
# Shuffle shape: the fold id is a pure projection (60-bit md5 of the row
# id mod k — never engine RNG, so folds are stable across runs, engines
# and cluster sizes); the audit is one groupBy(fold, label).
# ---------------------------------------------------------------------------


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


register(x_cross_val_folds, X_CROSS_VAL_SQL)


# -- x_label_noise_detect: within-cluster label disagreement -----------------

def x_label_noise_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confident-learning-style label-noise screen: vectors whose label
    disagrees with their k-means cluster's majority label, rolled up per
    label — the candidate-mislabel queue a data-quality reviewer works
    through. Reuses the deterministic cluster assignment and the
    majority-label rule of x_cluster_purity.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_state.assignment(spark, sf_dir).select("vec_id", "cluster")
    labeled = assign.join(emb.select("vec_id", "label"), "vec_id")
    per = labeled.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("n"))
    wmaj = Window.partitionBy("cluster").orderBy(F.desc("n"), "label")
    majority = (
        per.withColumn("rn", F.row_number().over(wmaj))
        .where(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("majority_label"))
    )
    flagged = labeled.join(F.broadcast(majority), "cluster").withColumn(
        "disagree", (F.col("label") != F.col("majority_label")).cast("int")
    )
    return (
        flagged.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("disagree").cast("long").alias("n_disagree"),
        )
        .withColumn("noise_ppm", F.expr("n_disagree * 1000000 div n_vectors"))
        .orderBy("label")
    )


def _label_noise_sql() -> str:
    return kmeans_assign_cte() + """
, labeled AS (
  SELECT a2.vec_id, a2.cluster, e.label
  FROM a2 JOIN embeddings e ON a2.vec_id = e.vec_id
),
per AS (
  SELECT cluster, label, CAST(COUNT(*) AS BIGINT) AS n
  FROM labeled GROUP BY 1, 2
),
majority AS (
  SELECT cluster, label AS majority_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
                                 ORDER BY n DESC, label) AS rn
    FROM per
  ) WHERE rn = 1
)
SELECT l.label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN l.label <> m.majority_label THEN 1 ELSE 0 END)
         AS BIGINT) AS n_disagree,
       CAST(SUM(CASE WHEN l.label <> m.majority_label THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS noise_ppm
FROM labeled l JOIN majority m ON l.cluster = m.cluster
GROUP BY l.label
ORDER BY l.label
"""


register(x_label_noise_detect, _label_noise_sql())


# ---------------------------------------------------------------------------
# Model/data evaluation operators: k-means cluster purity, retrieval MRR,
# and winsorized (outlier-clipped) statistics.
#
# The reference (kerighan/kinbaku) has no vector or statistics surface
# (SURVEY.md §2.4); these extend the ML-evaluation layer over `embeddings`
# and `lineitem`.
#
# Shuffle shapes (the 100 TB story):
#
# - cluster purity: the assignment pass is the zero-shuffle literal-centroid
#   k-means projection (operators/similarity.py); the purity rollup is one
#   groupBy over (cluster, label) — output O(k x labels).
# - MRR: anchors (a fixed, tiny probe set) broadcast against the corpus —
#   the fact side never shuffles for the similarity scan; the per-anchor
#   rank is a window over anchor-partitioned candidate rows (fan-out =
#   |anchors| x corpus, bounded by the probe-set size, the same shape as
#   x_hard_negatives).
# - winsorized stats: quantile cutpoints come from the VALUE HISTOGRAM
#   (groupBy distinct cents + cumulative window over distinct values), not
#   a global row sort — the classic scalable order-statistic trick; the
#   clipped re-aggregate is one more scan with map-side partials.
#
# Determinism: sims round to 6dp before ranking (ties break on vec_id);
# reciprocal ranks and means are exact integer ppm/cents (integer div);
# the k-th order statistic is selected as "min value with cumulative count
# >= k" — tie-order-free by construction.
# ---------------------------------------------------------------------------


# -- x_cluster_purity: k-means clusters vs gold labels -----------------------

def x_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster purity of the deterministic k-means clustering against
    the labeled `label` column: majority label, its share in exact ppm —
    the standard external clustering-quality check (purity / homogeneity).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_state.assignment(spark, sf_dir).select("vec_id", "cluster")
    per = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), "label")
    return (
        per.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.sum("n").over(Window.partitionBy("cluster")))
        .where(F.col("rn") == 1)
        .select(
            "cluster",
            "n_members",
            F.col("label").alias("top_label"),
            F.col("n").alias("n_top"),
            F.expr("n * 1000000 div n_members").alias("purity_ppm"),
        )
        .orderBy("cluster")
    )


def _cluster_purity_sql() -> str:
    return kmeans_assign_cte() + """
, per AS (
  SELECT a2.cluster, e.label, CAST(COUNT(*) AS BIGINT) AS n
  FROM a2 JOIN embeddings e ON a2.vec_id = e.vec_id
  GROUP BY a2.cluster, e.label
),
ranked AS (
  SELECT cluster, label, n,
         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rn,
         SUM(n) OVER (PARTITION BY cluster) AS n_members
  FROM per
)
SELECT cluster, CAST(n_members AS BIGINT) AS n_members, label AS top_label,
       n AS n_top, CAST((n * 1000000) // n_members AS BIGINT) AS purity_ppm
FROM ranked WHERE rn = 1
ORDER BY cluster
"""


# -- x_mrr_eval: mean reciprocal rank of same-label retrieval ----------------

MRR_N_ANCHORS = 16


def x_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality of the raw embedding space: for each of the
    first 16 vectors (the probe set), rank the whole corpus by cosine
    and report the rank of the first SAME-label hit plus its reciprocal
    in exact ppm — the label-as-relevance MRR eval run after every
    embedding-model change.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < MRR_N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("avec"),
    )
    cand = (
        F.broadcast(anchors)
        .crossJoin(emb.select("vec_id", "label", "embedding"))
        .where(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            F.round(cosine(F.col("avec"), F.col("embedding")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("sim"), "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("label") == F.col("anchor_label"))
        .groupBy("anchor_id", "anchor_label")
        .agg(F.min("rank").alias("first_hit_rank"))
        .withColumn("rr_ppm", F.expr("1000000 div first_hit_rank"))
        .orderBy("anchor_id")
    )


def _mrr_sql() -> str:
    return f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS avec
  FROM embeddings WHERE vec_id < {MRR_N_ANCHORS}
),
cand AS (
  SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
         ROUND({_sql_cosine('a.avec', 'e.embedding')}, 6) AS sim
  FROM anchors a CROSS JOIN embeddings e
  WHERE e.vec_id <> a.anchor_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY sim DESC, vec_id) AS rank
  FROM cand
)
SELECT anchor_id, anchor_label,
       CAST(MIN(rank) AS INTEGER) AS first_hit_rank,
       CAST(1000000 // MIN(rank) AS BIGINT) AS rr_ppm
FROM ranked
WHERE label = anchor_label
GROUP BY anchor_id, anchor_label
ORDER BY anchor_id
"""


# -- x_winsorized_stats: p01/p99-clipped price statistics --------------------

def x_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized l_extendedprice statistics: p01/p99 cutpoints from the
    distinct-value histogram (min value whose cumulative count reaches
    ceil(q*n) — no global row sort), then one clipped re-aggregate. The
    outlier-robust mean every metrics pipeline reports next to the raw
    mean; all in exact integer cents.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    hist = cents.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    # the histogram feeds the prefix sums, the totals AND the final
    # aggregate — EAGER pin: the totals broadcast and the prefix-sums
    # offset broadcasts are independent stages that race a lazy pin's
    # materialization, each re-running the groupBy shuffle (r07
    # re-measure: 3.4 MB shuffled unpinned -> 10.6 lazy -> once eager)
    hist = hist.localCheckpoint(eager=True)
    # exact running counts via range-parallel prefix sums (operators/
    # rank.py) — unconditional at any value-domain size
    cum = prefix_sums(hist, [F.col("c")], {"cum": "cnt"})
    # totals FROM the histogram (n = Σcnt, s = Σ c·cnt — exact integer
    # identities), not a second corpus pass; and the final aggregate runs
    # over the weighted histogram, not a third corpus pass (guide §1.2):
    # every output is a sum of a function of c, so Σ_rows f(c) = Σ_hist
    # f(c)·cnt bit-for-bit
    totals = hist.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("c") * F.col("cnt")).alias("s"),
    )
    bounds = (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.min(F.when(F.col("cum") >= F.expr("(n + 99) div 100"), F.col("c")))
            .alias("lo_cents"),
            F.min(F.when(F.col("cum") >= F.expr("(n * 99 + 99) div 100"), F.col("c")))
            .alias("hi_cents"),
        )
    )
    return (
        hist.crossJoin(F.broadcast(bounds))
        .select(
            "c",
            "cnt",
            "lo_cents",
            "hi_cents",
            F.greatest(F.least(F.col("c"), F.col("hi_cents")), F.col("lo_cents"))
            .alias("w"),
        )
        .groupBy("lo_cents", "hi_cents")
        .agg(
            F.sum("cnt").cast("long").alias("n_items"),
            F.sum(F.when(F.col("c") < F.col("lo_cents"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_clip_lo"),
            F.sum(F.when(F.col("c") > F.col("hi_cents"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_clip_hi"),
            F.expr("sum(c * cnt) div sum(cnt)").alias("mean_cents"),
            F.expr("sum(w * cnt) div sum(cnt)").alias("winsorized_mean_cents"),
        )
        .select(
            "n_items",
            "lo_cents",
            "hi_cents",
            "n_clip_lo",
            "n_clip_hi",
            "mean_cents",
            "winsorized_mean_cents",
        )
    )


X_WINSORIZED_SQL = """
WITH cents AS (
  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
),
hist AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM cents GROUP BY c),
cum AS (
  SELECT c, SUM(cnt) OVER (ORDER BY c
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
totals AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(c) AS s FROM cents),
bounds AS (
  SELECT MIN(CASE WHEN cum >= (n + 99) // 100 THEN c END) AS lo_cents,
         MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN c END) AS hi_cents
  FROM cum CROSS JOIN totals
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
       b.lo_cents, b.hi_cents,
       CAST(SUM(CASE WHEN c < b.lo_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
       CAST(SUM(CASE WHEN c > b.hi_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
       CAST(SUM(c) // COUNT(*) AS BIGINT) AS mean_cents,
       CAST(SUM(GREATEST(LEAST(c, b.hi_cents), b.lo_cents)) // COUNT(*) AS BIGINT)
         AS winsorized_mean_cents
FROM cents CROSS JOIN bounds b
GROUP BY b.lo_cents, b.hi_cents
"""


register(x_cluster_purity, _cluster_purity_sql())
register(x_mrr_eval, _mrr_sql())
register(x_winsorized_stats, X_WINSORIZED_SQL)


# -- x_ndcg_eval: nDCG@k with a fixed integer discount table ------------------
#
# The log2 discounts are PRECOMPUTED Python constants rendered as literals
# into both engines (floor(10^6 / log2(rank+1))), so the metric stays
# integer-exact end-to-end — no cross-engine transcendental drift. Binary
# relevance = same label as the anchor (the MRR eval's convention).

NDCG_K = 10
NDCG_N_ANCHORS = 8
NDCG_DISCOUNT_PPM = [
    1000000, 630929, 500000, 430676, 386852,
    356207, 333333, 315464, 301029, 289064,
]
NDCG_IDEAL_PREFIX = [
    sum(NDCG_DISCOUNT_PPM[:i]) for i in range(NDCG_K + 1)
]  # IDEAL_PREFIX[r] = best possible DCG with r relevant docs in the top k


def x_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@`NDCG_K` of the raw embedding space for the first
    `NDCG_N_ANCHORS` vectors: cosine-rank the corpus per anchor, credit
    same-label hits in the top k with the fixed integer log2-discount
    table, and normalize by the ideal DCG given how many same-label docs
    exist (capped at k). Anchors with no same-label doc are skipped in
    both engines.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < NDCG_N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("avec"),
    )
    label_n = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_label"))
    cand = (
        F.broadcast(anchors)
        .crossJoin(emb.select("vec_id", "label", "embedding"))
        .where(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "label",
            F.round(cosine(F.col("avec"), F.col("embedding")), 6).alias("sim"),
            F.col("vec_id"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("sim"), "vec_id")
    disc = F.array(*[F.lit(d).cast("long") for d in NDCG_DISCOUNT_PPM])
    ideal = F.array(*[F.lit(d).cast("long") for d in NDCG_IDEAL_PREFIX])
    dcg = (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= NDCG_K)
        .groupBy("anchor_id", "anchor_label")
        .agg(
            F.sum(
                F.when(
                    F.col("label") == F.col("anchor_label"),
                    F.element_at(disc, F.col("rank")),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("dcg_ppm")
        )
    )
    return (
        dcg.join(
            F.broadcast(label_n),
            dcg.anchor_label == label_n.label,
        )
        .select(
            "anchor_id",
            F.least(F.col("n_label") - 1, F.lit(NDCG_K))
            .cast("int")
            .alias("n_rel"),
            "dcg_ppm",
            F.element_at(
                ideal,
                (F.least(F.col("n_label") - 1, F.lit(NDCG_K)) + 1).cast("int"),
            ).alias("idcg_ppm"),
        )
        .where(F.col("idcg_ppm") > 0)
        .select(
            "anchor_id",
            "n_rel",
            "dcg_ppm",
            "idcg_ppm",
            F.expr(
                "CAST(CAST(dcg_ppm AS DECIMAL(38,0)) * 1000000"
                " div idcg_ppm AS BIGINT)"
            ).alias("ndcg_ppm"),
        )
        .orderBy("anchor_id")
    )


def _ndcg_sql() -> str:
    disc_arr = "[" + ", ".join(str(d) for d in NDCG_DISCOUNT_PPM) + "]"
    ideal_arr = "[" + ", ".join(str(d) for d in NDCG_IDEAL_PREFIX) + "]"
    return f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS avec
  FROM embeddings WHERE vec_id < {NDCG_N_ANCHORS}
),
label_n AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
  FROM embeddings GROUP BY label
),
cand AS (
  SELECT a.anchor_id, a.anchor_label, e.label, e.vec_id,
         ROUND({_sql_cosine('a.avec', 'e.embedding')}, 6) AS sim
  FROM anchors a CROSS JOIN embeddings e
  WHERE e.vec_id <> a.anchor_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY sim DESC, vec_id) AS rank
  FROM cand
),
dcg AS (
  SELECT anchor_id, anchor_label,
         CAST(SUM(CASE WHEN label = anchor_label
                       THEN ({disc_arr})[rank] ELSE 0 END) AS BIGINT)
           AS dcg_ppm
  FROM ranked WHERE rank <= {NDCG_K}
  GROUP BY anchor_id, anchor_label
)
SELECT d.anchor_id,
       CAST(LEAST(l.n_label - 1, {NDCG_K}) AS INTEGER) AS n_rel,
       d.dcg_ppm,
       CAST(({ideal_arr})[LEAST(l.n_label - 1, {NDCG_K}) + 1] AS BIGINT)
         AS idcg_ppm,
       CAST(CAST(d.dcg_ppm AS HUGEINT) * 1000000
            // ({ideal_arr})[LEAST(l.n_label - 1, {NDCG_K}) + 1]
            AS BIGINT) AS ndcg_ppm
FROM dcg d JOIN label_n l ON l.label = d.anchor_label
WHERE ({ideal_arr})[LEAST(l.n_label - 1, {NDCG_K}) + 1] > 0
ORDER BY d.anchor_id
"""


register(x_ndcg_eval, _ndcg_sql())


# ---------------------------------------------------------------------------
# Classifier-evaluation operators over the documents corpus: exact ROC
# AUC (Mann-Whitney rank form with tie correction), calibration
# (reliability) bins, and a thresholded confusion-matrix / F1 sweep.
#
# Score = the engine's composite quality_score (operators/text.py, rounded
# 6dp); label = ``lang = 'en'`` — "does the text-quality composite separate
# English documents?" — deterministic and data-derived, so both engines
# reproduce it bit-equal. The reference (kerighan/kinbaku) has no
# evaluation surface at all (SURVEY.md §2.4); this completes the
# train-eval loop next to x_mrr_eval / x_ndcg_eval / x_cluster_purity.
#
# Scale shapes (the 100 TB story):
#
# - ROC AUC: one corpus-sized groupBy onto DISTINCT score values — the
#   score rounds to 6dp in [0, 1], so the distinct table is bounded at
#   1,000,001 rows at ANY corpus size — then a cumulative window over that
#   BOUNDED table (never a window over corpus rows) and one aggregation.
# - calibration: one groupBy onto 10 bins, map-side partials do the work.
# - confusion sweep: a 5-row threshold table broadcast-cross-joined into
#   one aggregation — one corpus scan for all thresholds.
#
# Determinism: every readout is integer arithmetic end-to-end. Per-row
# score_ppm = CAST(ROUND(quality_score * 1e6) AS BIGINT) (exact: the score
# is a 6dp rounding, so ppm is integral up to one float ulp that ROUND
# absorbs identically in both engines); bins and threshold comparisons use
# score_ppm, never double compares at bin edges; AUC uses the integer
# identity 2·avg_rank(group) = 2·cum_before + group_size + 1, so
# auc_ppm = (Σ_pos 2·avg_rank − P(P+1)) · 10^6 div (2·P·N) is exact
# integer division on both sides (Mann-Whitney U with midrank ties).
# ---------------------------------------------------------------------------

CONFUSION_THRESHOLDS_PCT = [50, 60, 70, 80, 90]
CALIBRATION_BINS = 10


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score_ppm, pos): integer ppm score + binary label."""
    docs = load_table(spark, sf_dir, "documents")
    q = text_quality(docs).select(
        "doc_id",
        F.round(F.col("quality_score") * 1_000_000)
        .cast("long")
        .alias("score_ppm"),
    )
    lab = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("pos")
    )
    return q.join(lab, "doc_id")


_SCORED_SQL_TMPL = """
scored AS (
  SELECT q.doc_id,
         CAST(ROUND(q.quality_score * 1000000) AS BIGINT) AS score_ppm,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM ({quality}) q JOIN documents d ON d.doc_id = q.doc_id
)"""


def _scored_sql() -> str:
    return _SCORED_SQL_TMPL.format(quality=X_TEXT_QUALITY_SQL)


# -- x_roc_auc: exact Mann-Whitney AUC with midrank ties ----------------------


def x_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of quality_score against the English label, plus the
    class counts. The rank pass runs over the bounded distinct-score
    table (module docstring); ties take midranks, so the readout equals
    sklearn's roc_auc_score to the ppm."""
    g = (
        _scored(spark, sf_dir)
        .groupBy("score_ppm")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("pos").alias("cp"))
    )
    w = Window.orderBy("score_ppm").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = g.select(
        "c",
        "cp",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cum_before"),
    )
    agg = r.agg(
        F.sum(
            F.col("cp").cast("decimal(38,0)")
            * (2 * F.col("cum_before") + F.col("c") + 1)
        ).cast("decimal(38,0)")
        .alias("r2"),
        F.sum("cp").alias("n_pos"),
        F.sum(F.col("c") - F.col("cp")).alias("n_neg"),
    )
    # numerator in DECIMAL(38,0): r2 ~ 2*P*n, so the ppm-scaled numerator
    # wraps int64 near 5M docs — wide decimals keep the integer-exact
    # contract at any corpus size (both engines; ADVICE r06)
    return agg.select(
        "n_pos",
        "n_neg",
        F.expr(
            "((r2 - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))"
            " * 1000000)"
            " div (CAST(greatest(2 * n_pos * n_neg, 1) AS DECIMAL(38,0)))"
        )
        .cast("long")
        .alias("auc_ppm"),
    )


def _roc_auc_sql() -> str:
    return f"""
WITH {_scored_sql()},
g AS (SELECT score_ppm, COUNT(*) AS c, SUM(pos) AS cp FROM scored GROUP BY score_ppm),
r AS (
  SELECT c, cp,
         COALESCE(SUM(c) OVER (ORDER BY score_ppm
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM g
),
a AS (
  SELECT SUM(CAST(cp AS HUGEINT) * (2 * cum_before + c + 1)) AS r2,
         SUM(cp) AS n_pos, SUM(c - cp) AS n_neg
  FROM r
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       CAST((r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
         // CAST(greatest(2 * n_pos * n_neg, 1) AS HUGEINT) AS BIGINT) AS auc_ppm
FROM a
"""


# -- x_calibration_bins: reliability diagram ----------------------------------


def x_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins: decile bins on score_ppm (integer edges — no
    double compares at bin boundaries), per-bin doc count, mean score
    and positive rate in exact ppm. The gap column is the per-bin
    calibration error (mean score − positive rate)."""
    s = _scored(spark, sf_dir)
    binned = s.select(
        F.least(
            F.expr(f"score_ppm div {1_000_000 // CALIBRATION_BINS}"),
            F.lit(CALIBRATION_BINS - 1).cast("long"),
        ).alias("bin"),
        "score_ppm",
        "pos",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pos").alias("n_pos"),
            F.sum("score_ppm").alias("sum_score_ppm"),
        )
        .select(
            "bin",
            "n_docs",
            "n_pos",
            F.expr("sum_score_ppm div n_docs").alias("mean_score_ppm"),
            F.expr("n_pos * 1000000 div n_docs").alias("pos_rate_ppm"),
            F.expr(
                "sum_score_ppm div n_docs - n_pos * 1000000 div n_docs"
            ).alias("gap_ppm"),
        )
        .orderBy("bin")
    )


def _calibration_sql() -> str:
    bin_w = 1_000_000 // CALIBRATION_BINS
    return f"""
WITH {_scored_sql()},
b AS (
  SELECT LEAST(score_ppm // {bin_w}, {CALIBRATION_BINS - 1}) AS bin,
         score_ppm, pos
  FROM scored
)
SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_docs,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
       CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm,
       CAST(SUM(score_ppm) // COUNT(*)
            - SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS gap_ppm
FROM b GROUP BY bin ORDER BY bin
"""


# -- x_confusion_f1: thresholded confusion matrix + F1 sweep ------------------


def x_confusion_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix and precision/recall/F1 (exact ppm) at each
    candidate decision threshold — prediction = score_ppm >= thr_pct ·
    10^4 (integer compare). One scan, thresholds broadcast."""
    s = _scored(spark, sf_dir)
    thr = spark.createDataFrame(
        [(t,) for t in CONFUSION_THRESHOLDS_PCT], "thr_pct int"
    )
    pred = F.col("score_ppm") >= F.col("thr_pct") * 10_000
    return (
        s.crossJoin(F.broadcast(thr))
        .groupBy("thr_pct")
        .agg(
            F.sum(F.when(pred & (F.col("pos") == 1), 1).otherwise(0)).alias("tp"),
            F.sum(F.when(pred & (F.col("pos") == 0), 1).otherwise(0)).alias("fp"),
            F.sum(F.when(~pred & (F.col("pos") == 1), 1).otherwise(0)).alias("fn"),
            F.sum(F.when(~pred & (F.col("pos") == 0), 1).otherwise(0)).alias("tn"),
        )
        .select(
            "thr_pct",
            "tp",
            "fp",
            "fn",
            "tn",
            F.expr("tp * 1000000 div greatest(tp + fp, 1)").alias(
                "precision_ppm"
            ),
            F.expr("tp * 1000000 div greatest(tp + fn, 1)").alias(
                "recall_ppm"
            ),
            F.expr(
                "2 * tp * 1000000 div greatest(2 * tp + fp + fn, 1)"
            ).alias("f1_ppm"),
        )
        .orderBy("thr_pct")
    )


def _confusion_sql() -> str:
    thr_rows = ", ".join(f"({t})" for t in CONFUSION_THRESHOLDS_PCT)
    return f"""
WITH {_scored_sql()},
thr(thr_pct) AS (VALUES {thr_rows}),
j AS (
  SELECT t.thr_pct,
         CASE WHEN s.score_ppm >= t.thr_pct * 10000 THEN 1 ELSE 0 END AS pred,
         s.pos
  FROM scored s CROSS JOIN thr t
)
SELECT CAST(thr_pct AS INTEGER) AS thr_pct,
       CAST(SUM(CASE WHEN pred = 1 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN pred = 1 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN pred = 0 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(SUM(CASE WHEN pred = 0 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(SUM(CASE WHEN pred = 1 AND pos = 1 THEN 1 ELSE 0 END) * 1000000
         // greatest(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END), 1) AS BIGINT) AS precision_ppm,
       CAST(SUM(CASE WHEN pred = 1 AND pos = 1 THEN 1 ELSE 0 END) * 1000000
         // greatest(SUM(CASE WHEN pos = 1 THEN 1 ELSE 0 END), 1) AS BIGINT) AS recall_ppm,
       CAST(2 * SUM(CASE WHEN pred = 1 AND pos = 1 THEN 1 ELSE 0 END) * 1000000
         // greatest(2 * SUM(CASE WHEN pred = 1 AND pos = 1 THEN 1 ELSE 0 END)
                     + SUM(CASE WHEN pred = 1 AND pos = 0 THEN 1 ELSE 0 END)
                     + SUM(CASE WHEN pred = 0 AND pos = 1 THEN 1 ELSE 0 END), 1) AS BIGINT) AS f1_ppm
FROM j GROUP BY thr_pct ORDER BY thr_pct
"""


register(x_roc_auc, _roc_auc_sql())
register(x_calibration_bins, _calibration_sql())
register(x_confusion_f1, _confusion_sql())


# ---------------------------------------------------------------------------
# ML feature-engineering operators: rolling time features, leave-one-out
# target encoding, and kNN-graph hubness diagnostics.
#
# The reference (kerighan/kinbaku) has no feature/statistics surface
# (SURVEY.md §2.4); these extend the feature-pipeline layer on `orders` and
# `embeddings`.
#
# Shuffle shapes (the 100 TB story):
#
# - rolling features: the fact table collapses to one row per DAY first
#   (map-side partials); lags and the trailing-7-day window run over the
#   tiny day series in a single-partition window (days are O(10^4) even
#   for decades — the canonical pre-aggregate-then-window shape).
# - target encoding: ONE groupBy(category) builds the (sum, count) state;
#   the leave-one-out encodings are a broadcast join back + shuffle-free
#   projection, re-aggregated per category — the fact table is scanned
#   twice, shuffled never (beyond the tiny category aggregates).
# - hubness: the pair space is corpus x corpus (gate-scale brute force);
#   at 100 TB swap the pair generator for the IVF/LSH candidate join
#   (x_ann_ivf_topk) and keep the identical rank/in-degree rollup.
#
# Determinism: money in integer cents; LOO encodings in integer
# micro-units via integer div; sims round to 6dp before ranking with
# vec_id tiebreaks; rolling means are exact integer division of exact
# integer sums.
# ---------------------------------------------------------------------------


# -- x_rolling_features: daily revenue lags + trailing mean ------------------

def x_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day revenue with lag-1, lag-7, and the trailing-7-day mean in
    integer cents — the standard autoregressive feature block for demand
    models. Day series is pre-aggregated, so every window is over the
    tiny day table.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )
    w = Window.orderBy("day")
    w7 = w.rowsBetween(-6, 0)
    return (
        daily.withColumn("lag1_cents", F.lag("cents", 1).over(w))
        .withColumn("lag7_cents", F.lag("cents", 7).over(w))
        .withColumn("s7", F.sum("cents").over(w7))
        .withColumn("c7", F.count(F.lit(1)).over(w7))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_orders",
            "cents",
            "lag1_cents",
            "lag7_cents",
            F.expr("s7 div c7").alias("trail7_mean_cents"),
        )
        .orderBy("day")
    )


X_ROLLING_FEATURES_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day, n_orders, cents,
       LAG(cents, 1) OVER (ORDER BY day) AS lag1_cents,
       LAG(cents, 7) OVER (ORDER BY day) AS lag7_cents,
       CAST(SUM(cents) OVER w7 // COUNT(*) OVER w7 AS BIGINT) AS trail7_mean_cents
FROM daily
WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY day
"""


# -- x_target_encoding: leave-one-out category encoding ----------------------

def x_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value: each order's encoding is the mean of all OTHER orders in its
    category ((sum - own) / (n - 1), integer micro-cents) — the
    leakage-safe categorical encoder. Reported as per-category
    min/max/sum of the row encodings so the full 1:1 encoding is
    checksummed without hashing the fact table.
    """
    o = load_table(spark, sf_dir, "orders")
    rows = o.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    stats = rows.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
    )
    enc = rows.join(F.broadcast(stats), "o_orderpriority").select(
        "o_orderpriority",
        "n",
        F.expr("(s - cents) * 100 div (n - 1)").alias("loo_microcents"),
    )
    return (
        enc.groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            F.min("loo_microcents").alias("min_loo"),
            F.max("loo_microcents").alias("max_loo"),
            F.sum("loo_microcents").alias("sum_loo"),
        )
        .orderBy("o_orderpriority")
    )


X_TARGET_ENCODING_SQL = """
WITH rows_ AS (
  SELECT o_orderpriority,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
stats AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s
  FROM rows_ GROUP BY 1
),
enc AS (
  SELECT r.o_orderpriority, t.n,
         ((t.s - r.cents) * 100) // (t.n - 1) AS loo_microcents
  FROM rows_ r JOIN stats t USING (o_orderpriority)
)
SELECT o_orderpriority,
       MAX(n) AS n_orders,
       CAST(MIN(loo_microcents) AS BIGINT) AS min_loo,
       CAST(MAX(loo_microcents) AS BIGINT) AS max_loo,
       CAST(SUM(loo_microcents) AS BIGINT) AS sum_loo
FROM enc
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# -- x_knn_hubness: in-degree distribution of the k-NN graph -----------------

KNN_K = 3
KNN_BLOCKS = 8


def x_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness diagnostic of the embedding space: build the cosine k-NN
    graph (k=3) and report the in-degree histogram — skewed in-degrees
    (hub vectors appearing in everyone's neighbor list) are the classic
    symptom of degraded high-dimensional similarity search.

    Pair generation is distributed BLOCK MATRIX MULTIPLY — no driver
    collect, no Python-side corpus broadcast (round-1's anti-pattern):
    both sides are hashed into KNN_BLOCKS row-blocks, the B x B block
    pairs cross-join JVM-side (each carries one query chunk + one corpus
    chunk, so Arrow transfer is O(n*B + m*B) vectors, never the n*m pair
    space), and each task GEMMs its block pair with the SAME
    dim-sequential left-fold the DuckDB oracle replays (proven
    bit-identical by x_ann_pandas_topk). Per-block top-k on the rounded
    key (round is monotone, so block-local and global orderings agree)
    keeps only B*k candidates per query for the global rank. At 100 TB
    B scales with corpus so blocks fit executor memory, or the identical
    rank/in-degree tail runs over IVF/LSH candidates (similarity.py
    ivf_topk) instead of exact all-pairs.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    B = KNN_BLOCKS
    blk = emb.select(
        F.pmod(F.col("vec_id"), F.lit(B)).alias("g"),
        F.struct("vec_id", "embedding").alias("ve"),
    ).groupBy("g").agg(F.collect_list("ve").alias("vs"))
    pairs = (
        blk.select(F.col("vs").alias("qs"))
        .crossJoin(blk.select(F.col("vs").alias("cs")))
        .repartition(B * B)
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for qs, cs in zip(pdf["qs"], pdf["cs"]):
                qid = np.array([r["vec_id"] for r in qs], dtype=np.int64)
                cid = np.array([r["vec_id"] for r in cs], dtype=np.int64)
                qmat = np.array([r["embedding"] for r in qs], dtype=np.float64)
                cmat = np.array([r["embedding"] for r in cs], dtype=np.float64)
                n, dim = qmat.shape
                m = len(cid)
                # dim-sequential left fold == F.aggregate == the SQL oracle
                acc = np.zeros((n, m), dtype=np.float64)
                qn = np.zeros(n, dtype=np.float64)
                cn = np.zeros(m, dtype=np.float64)
                for d in range(dim):
                    x = qmat[:, d]
                    y = cmat[:, d]
                    acc = acc + np.outer(x, y)
                    qn = qn + x * x
                    cn = cn + y * y
                sim = np.round(acc / (np.sqrt(qn)[:, None] * np.sqrt(cn)[None, :]), 6)
                sim[qid[:, None] == cid[None, :]] = -np.inf  # self-pairs out
                # block-local top-k by (sim desc, cid asc) — same composite
                # key as the global window, so pruning is exact
                order = np.lexsort((np.broadcast_to(cid, (n, m)), -sim), axis=1)
                take = order[:, : min(KNN_K, m)]
                rows_sim = np.take_along_axis(sim, take, axis=1).ravel()
                keep = np.isfinite(rows_sim)
                yield pd.DataFrame(
                    {
                        "qid": np.repeat(qid, take.shape[1])[keep],
                        "cid": cid[take.ravel()][keep],
                        "sim": rows_sim[keep],
                    }
                )

    sims = pairs.mapInPandas(kernel, "qid bigint, cid bigint, sim double")
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "cid")
    knn = sims.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= KNN_K)
    indeg = knn.groupBy("cid").agg(F.count(F.lit(1)).alias("in_degree"))
    all_ids = emb.select(F.col("vec_id").alias("cid"))
    return (
        all_ids.join(indeg, "cid", "left")
        .select(F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"))
        .groupBy("in_degree")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("in_degree")
    )


def _knn_hubness_sql() -> str:
    return f"""
WITH sims AS (
  SELECT a.vec_id AS qid, b.vec_id AS cid,
         ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
knn AS (
  SELECT qid, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY sim DESC, cid) AS rn
    FROM sims
  ) WHERE rn <= {KNN_K}
),
indeg AS (
  SELECT e.vec_id,
         CAST(COALESCE(k.c, 0) AS BIGINT) AS in_degree
  FROM embeddings e
  LEFT JOIN (SELECT cid, COUNT(*) AS c FROM knn GROUP BY cid) k
    ON k.cid = e.vec_id
)
SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM indeg
GROUP BY in_degree
ORDER BY in_degree
"""


register(x_rolling_features, X_ROLLING_FEATURES_SQL)
register(x_target_encoding, X_TARGET_ENCODING_SQL)
register(x_knn_hubness, _knn_hubness_sql())


# ---------------------------------------------------------------------------
# Pattern-mining depth and lifecycle labeling: frequent 3-itemsets,
# churn-segment label generation, and graph degree inequality.
#
# The reference (kerighan/kinbaku) has no mining/label surface (SURVEY.md
# §2.4); these extend pattern mining (x_market_basket's pairs -> triples),
# the label-engineering layer on `events`, and the graph-metric layer.
#
# Shuffle shapes (the 100 TB story):
#
# - 3-itemsets: the proven basket shape — ONE shuffle on the order key
#   builds sorted per-basket arrays; triples are generated MAP-SIDE from
#   each bounded array (no 3-way self-join of the incidence table); the
#   triple aggregate is support-pruned. Baskets below 3 items are dropped
#   before combination generation (also guards Spark's descending
#   sequence(i, j<i) trap).
# - churn labels: (user, half) presence collapses map-side; the
#   segment label is a full-outer join of two tiny user sets; one rollup.
# - degree Gini: degrees are one groupBy(src); the rank window runs over
#   the degree table (|V|, not |E|); moments are one scalar aggregate in
#   wide-integer arithmetic.
#
# Determinism: triples come from sorted distinct arrays so a<b<c sets are
# identical in both engines; Gini uses the exact integer formula in
# DECIMAL(38,0)/HUGEINT; ratios are integer ppm.
# ---------------------------------------------------------------------------


# -- x_itemsets3: frequent 3-itemsets ----------------------------------------

ITEMSET3_MIN_SUPPORT = 2


def x_itemsets3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part triples across order baskets (support >= 2) — the
    level-3 a-priori pass on top of x_market_basket's pairs. Triples are
    enumerated map-side from each basket's sorted item array, so the
    incidence table is never self-joined.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
        )
        .distinct()
    )
    baskets = (
        items.groupBy("okey")
        .agg(F.array_sort(F.collect_list("part")).alias("parts"))
        .where(F.size("parts") >= 3)
    )
    triples = baskets.select(
        F.explode(
            F.expr(
                """
                flatten(flatten(
                  transform(sequence(0, size(parts) - 3), i ->
                    transform(sequence(i + 1, size(parts) - 2), j ->
                      transform(sequence(j + 1, size(parts) - 1), k ->
                        struct(parts[i] AS p1, parts[j] AS p2, parts[k] AS p3))))))
                """
            )
        ).alias("t")
    ).select("t.p1", "t.p2", "t.p3")
    return (
        triples.groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= ITEMSET3_MIN_SUPPORT)
        .orderBy(F.desc("support"), "p1", "p2", "p3")
    )


X_ITEMSETS3_SQL = f"""
WITH inc AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
)
SELECT a.part AS p1, b.part AS p2, c.part AS p3,
       CAST(COUNT(*) AS BIGINT) AS support
FROM inc a
JOIN inc b ON a.okey = b.okey AND a.part < b.part
JOIN inc c ON a.okey = c.okey AND b.part < c.part
GROUP BY 1, 2, 3
HAVING COUNT(*) >= {ITEMSET3_MIN_SUPPORT}
ORDER BY support DESC, p1, p2, p3
"""


# -- x_churn_labels: lifecycle segment generation ----------------------------

CHURN_SPLIT = "2024-01-16"  # events span Jan 2024; halves the window


def x_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifecycle labels from two activity windows: users active only in
    the first half are `churned`, only in the second `new`, in both
    `retained` — the label-generation step of every churn model, with
    per-segment activity averages as the sanity readout.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(CHURN_SPLIT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, 1).otherwise(0)).alias("w1"),
        F.sum(F.when(F.col("ts") >= cutoff, 1).otherwise(0)).alias("w2"),
    )
    seg = F.when((F.col("w1") > 0) & (F.col("w2") > 0), "retained").when(
        F.col("w1") > 0, "churned"
    ).otherwise("new")
    return (
        per_user.withColumn("segment", seg)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("w1").cast("long").alias("w1_events"),
            F.sum("w2").cast("long").alias("w2_events"),
        )
        .orderBy("segment")
    )


X_CHURN_LABELS_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         SUM(CASE WHEN ts < TIMESTAMP '{CHURN_SPLIT}' THEN 1 ELSE 0 END) AS w1,
         SUM(CASE WHEN ts >= TIMESTAMP '{CHURN_SPLIT}' THEN 1 ELSE 0 END) AS w2
  FROM events GROUP BY user_id
)
SELECT CASE WHEN w1 > 0 AND w2 > 0 THEN 'retained'
            WHEN w1 > 0 THEN 'churned'
            ELSE 'new' END AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(w1) AS BIGINT) AS w1_events,
       CAST(SUM(w2) AS BIGINT) AS w2_events
FROM per_user
GROUP BY 1
ORDER BY 1
"""


register(x_itemsets3, X_ITEMSETS3_SQL)
register(x_churn_labels, X_CHURN_LABELS_SQL)
