"""Statistics over the TPC-H and pipeline tables: quantiles, collocations,
seasonality, correlation, concentration, bootstrap intervals, drift,
audits and sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kinbaku_spark.functions.hashing import (
    HASH_PRIME,
    md5_long,
    minhash_coeffs,
    sql_md5_long,
)
from kinbaku_spark.operators.rank import prefix_sums, ranked as dist_ranked
from kinbaku_spark.queries import kmeans_state, register
from kinbaku_spark.queries.graph_queries import GRAPH_CTE, _graph
from kinbaku_spark.queries.kmeans_state import kmeans_assign_cte
from kinbaku_spark.sources.tables import load_table


# -- x_percentile_ranks: percent_rank / cume_dist over degrees ---------------

def x_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier out-degree rank distribution: percent_rank and
    cume_dist (ratios of exact integers — IEEE-identical across engines,
    rounded 6dp), derived from prefix sums over the DEGREE HISTOGRAM
    (operators/rank.py) instead of a window over the node table:
    percent_rank(d) = (rank(d)-1)/(n-1) where rank(d) is the cumulative
    count below d plus one, cume_dist(d) = cumulative count through d
    over n. The only shuffled-and-summed table is the distinct-degree
    histogram; nodes just join their degree's two numbers back.
    """
    e = _graph(spark, sf_dir).edges_df
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("__cnt"))
    # with_totals: n comes from the operator's own per-partition
    # aggregates (n = Σcnt) instead of the separate hist.agg() broadcast
    # this query used to run — that independent subtree re-computed
    # hist→deg→edges per call (r07 profile: input 23.0→11.6 MB, the edges
    # scan halved). deg's two remaining in-plan references (histogram +
    # final per-node join) dedupe via ReusedExchange inside the one
    # action; an explicit lazy pin measured strictly WORSE (20 jobs /
    # 299 tasks vs 13/168 — the checkpoint's raw-RDD materialization
    # stages cost more than they save)
    cum = prefix_sums(
        hist, [F.col("d")], {"__cum": "__cnt"}, with_totals=True
    )
    n = F.col("__total___cum")
    per_d = cum.select(
        "d",
        F.round(
            F.when(
                n > 1,
                (F.col("__cum") - F.col("__cnt")) / (n - 1),
            ).otherwise(F.lit(0.0)),  # PERCENT_RANK defines 0 for n = 1
            6,
        ).alias("pct_rank"),
        F.round(F.col("__cum") / n, 6).alias("cume"),
    )
    return deg.join(per_d, "d").select("src", "d", "pct_rank", "cume").orderBy(
        "d", "src"
    )


def _percentile_ranks_sql() -> str:
    return GRAPH_CTE + """
, deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM g_edges GROUP BY src)
SELECT src, d,
       ROUND(PERCENT_RANK() OVER (ORDER BY d), 6) AS pct_rank,
       ROUND(CUME_DIST() OVER (ORDER BY d), 6) AS cume
FROM deg
ORDER BY d, src
"""


register(x_percentile_ranks, _percentile_ranks_sql())


# ---------------------------------------------------------------------------
# Grouped exact order statistics and collocation mining.
#
# The reference (kerighan/kinbaku) has no aggregation or text surface
# (SURVEY.md §2.4); these extend the statistics layer on `lineitem` and
# `documents`.
#
# Shuffle shapes (the 100 TB story):
#
# - grouped quantiles: the classic scalable exact-order-statistic plan —
#   groupBy (group, value) collapses the fact table to its distinct-value
#   histogram (map-side partials; bounded by the value domain, not the row
#   count), then ONE window over the per-group histogram computes the
#   cumulative counts; no per-group row sort ever happens. The same
#   partitioning serves the window and the final rollup.
# - collocations: the vocabulary is cut to the top-K document-frequency
#   tokens FIRST (one aggregate, broadcast back), so the pair join fans
#   out at most K(K-1)/2 pairs per doc regardless of document length; the
#   doc-id equi-join is co-partitioned with the incidence aggregation.
#
# Determinism: the k-th order statistic is "min value with cumulative
# count >= k" (tie-order-free); lift is exact integer ppm; top-K vocab and
# final ranking break ties on token text.
# ---------------------------------------------------------------------------


# -- x_group_quantiles: exact per-group quartiles without per-group sorts ----

def x_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/median/p75 of l_extendedprice per return flag, computed
    from the per-group distinct-value histogram (cumulative counts over
    distinct cents) — the shuffle-light replacement for sortWithinGroups
    quantiles, exact where percentile_approx is not.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("c"),
    )
    # lazily pinned: the cumulative window and the totals both consume
    # the histogram — unpinned, its groupBy shuffle re-ran per consumer
    hist = (
        cents.groupBy("l_returnflag", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wc))
    # per-group totals FROM the histogram (sum of bucket counts == row
    # count, exactly): the direct count re-scanned lineitem a second time
    # — one full corpus pass deleted (guide §1.2 "don't compute twice")
    totals = hist.groupBy("l_returnflag").agg(F.sum("cnt").alias("n"))
    j = cum.join(F.broadcast(totals), "l_returnflag")
    pick = lambda k: F.min(F.when(F.col("cum") >= F.expr(k), F.col("c")))  # noqa: E731
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.max("n").alias("n_items"),
            pick("(n + 3) div 4").alias("p25_cents"),
            pick("(n + 1) div 2").alias("median_cents"),
            pick("(3 * n + 3) div 4").alias("p75_cents"),
        )
        .withColumn("iqr_cents", F.expr("p75_cents - p25_cents"))
        .orderBy("l_returnflag")
    )


X_GROUP_QUANTILES_SQL = """
WITH cents AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem
),
hist AS (
  SELECT l_returnflag, c, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cents GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, c,
         SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY c
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
totals AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n FROM cents GROUP BY 1
)
SELECT j.l_returnflag,
       MAX(j.n) AS n_items,
       MIN(CASE WHEN j.cum >= (j.n + 3) // 4 THEN j.c END) AS p25_cents,
       MIN(CASE WHEN j.cum >= (j.n + 1) // 2 THEN j.c END) AS median_cents,
       MIN(CASE WHEN j.cum >= (3 * j.n + 3) // 4 THEN j.c END) AS p75_cents,
       MIN(CASE WHEN j.cum >= (3 * j.n + 3) // 4 THEN j.c END)
         - MIN(CASE WHEN j.cum >= (j.n + 3) // 4 THEN j.c END) AS iqr_cents
FROM (SELECT c.*, t.n FROM cum c JOIN totals t USING (l_returnflag)) j
GROUP BY j.l_returnflag
ORDER BY j.l_returnflag
"""


# -- x_collocations: token-pair lift (log-free PMI) --------------------------

COLLOC_VOCAB = 30  # top tokens by document frequency
COLLOC_MIN_BOTH = 5
COLLOC_TOP = 30


def x_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: for pairs of high-document-frequency tokens,
    the lift n_both*N/(n_a*n_b) in exact integer ppm — the log-free PMI
    the keyword/phrase-extraction stage ranks by.

    The vocabulary is capped to the top-30 df tokens before any pair is
    formed, bounding the per-doc fan-out at 435 pairs independent of
    document length; lift stays in integer arithmetic end to end.
    """
    docs = load_table(spark, sf_dir, "documents")
    inc = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    df_counts = inc.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # distributed top-k (TakeOrderedAndProject: per-partition K-heaps),
    # never a row_number window ranking the full vocabulary
    vocab = (
        df_counts.orderBy(F.desc("df"), "tok")
        .limit(COLLOC_VOCAB)
        .select("tok", "df")
    )
    kept = inc.join(F.broadcast(vocab), "tok")
    pairs = (
        kept.select("doc_id", F.col("tok").alias("t1"), F.col("df").alias("df1"))
        .join(
            kept.select(
                "doc_id", F.col("tok").alias("t2"), F.col("df").alias("df2")
            ),
            "doc_id",
        )
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2", "df1", "df2")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        pairs.crossJoin(F.broadcast(n_docs))
        .where(F.col("n_both") >= COLLOC_MIN_BOTH)
        .select(
            "t1",
            "t2",
            "n_both",
            F.expr("n_both * n_docs * 1000000 div (df1 * df2)").alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "t1", "t2")
        .limit(COLLOC_TOP)
    )


X_COLLOCATIONS_SQL = f"""
WITH inc AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM inc GROUP BY tok),
vocab AS (
  SELECT tok, df FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY df DESC, tok) AS rn FROM dfc
  ) WHERE rn <= {COLLOC_VOCAB}
),
kept AS (SELECT i.doc_id, i.tok, v.df FROM inc i JOIN vocab v USING (tok)),
pairs AS (
  SELECT a.tok AS t1, b.tok AS t2, a.df AS df1, b.df AS df2,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2, 3, 4
)
SELECT t1, t2, n_both,
       CAST((n_both * (SELECT COUNT(*) FROM documents) * 1000000)
            // (df1 * df2) AS BIGINT) AS lift_ppm
FROM pairs
WHERE n_both >= {COLLOC_MIN_BOTH}
ORDER BY lift_ppm DESC, t1, t2
LIMIT {COLLOC_TOP}
"""


register(x_group_quantiles, X_GROUP_QUANTILES_SQL)
register(x_collocations, X_COLLOCATIONS_SQL)


# ---------------------------------------------------------------------------
# Seasonality profiling and exact-moment correlation.
#
# The reference (kerighan/kinbaku) has no statistics surface (SURVEY.md
# §2.4); these extend the BI/statistics layer on `orders` and `lineitem`.
#
# Shuffle shapes (the 100 TB story):
#
# - seasonality: ONE groupBy over (month, weekday) — 84 output cells with
#   map-side partials; the share normalization runs on the tiny aggregate
#   via a single-partition window.
# - correlation: the five Pearson moments (n, Σx, Σy, Σxy, Σx², Σy²) are
#   exact integer partial aggregates — the whole fact table collapses
#   map-side to one row per group; no second pass, no row shuffle.
#
# Determinism: moments are exact BIGINTs on integer-quantized inputs
# (quantity is integral; price floored to whole units); the final Pearson
# expression runs in exact wide-integer arithmetic (Spark DECIMAL(38,0),
# DuckDB HUGEINT — both exact at these magnitudes) and converts to double
# only at the last division, so both engines round identically.
# ---------------------------------------------------------------------------


# -- x_order_seasonality: month x weekday demand profile ---------------------

def x_order_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-volume seasonality: count, corpus share (ppm), and average
    order value (integer cents) per (month, ISO weekday) cell — the
    calendar-heatmap profile behind demand forecasting features.

    Weekday is Monday=0 in both engines (Spark `weekday`, DuckDB
    `isodow - 1`) — the classic cross-dialect day-numbering trap, pinned
    here explicitly.
    """
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.month("o_orderdate").alias("month"),
        F.weekday("o_orderdate").alias("dow"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("sc"),
    )
    w = Window.partitionBy()
    return (
        cells.withColumn("tot", F.sum("n_orders").over(w))
        .select(
            "month",
            "dow",
            "n_orders",
            F.expr("n_orders * 1000000 div tot").alias("share_ppm"),
            F.expr("sc div n_orders").alias("avg_price_cents"),
        )
        .orderBy("month", "dow")
    )


X_ORDER_SEASONALITY_SQL = """
WITH cells AS (
  SELECT CAST(month(o_orderdate) AS INTEGER) AS month,
         CAST(isodow(o_orderdate) - 1 AS INTEGER) AS dow,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sc
  FROM orders GROUP BY 1, 2
)
SELECT month, dow, n_orders,
       CAST((n_orders * 1000000) // SUM(n_orders) OVER () AS BIGINT) AS share_ppm,
       CAST(sc // n_orders AS BIGINT) AS avg_price_cents
FROM cells
ORDER BY month, dow
"""


# -- x_qty_price_corr: exact-moment Pearson correlation per group ------------

def x_qty_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between line quantity and extended price per
    return flag, via exact integer moments (the one-pass distributed
    corr; cites the same pattern as g_assortativity) — Spark's built-in
    `corr` sums doubles in partition order and would not replay.

    x = quantity (integral), y = floor(price) whole units. The final
    expression is computed in DECIMAL(38,0) (DuckDB: HUGEINT) because
    n·Σy² overflows int64 at scale; both are exact, so the one
    double-conversion at the end is bit-identical.
    """
    li = load_table(spark, sf_dir, "lineitem")
    xy = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    d38 = "decimal(38,0)"
    mom = xy.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).cast("long").alias("sx"),
        F.sum(F.col("y").cast(d38)).cast("long").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).cast("long").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).cast("long").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).cast("long").alias("syy"),
    )
    n = F.col("n").cast(d38)
    sx, sy = F.col("sx").cast(d38), F.col("sy").cast(d38)
    sxy, sxx, syy = (
        F.col("sxy").cast(d38),
        F.col("sxx").cast(d38),
        F.col("syy").cast(d38),
    )
    num = (n * sxy - sx * sy).cast("double")
    den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt(
        (n * syy - sy * sy).cast("double")
    )
    return mom.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        "sxy",
        F.round(num / den, 6).alias("corr"),
    ).orderBy("l_returnflag")


X_QTY_PRICE_CORR_SQL = """
WITH xy AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(floor(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
),
mom AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS BIGINT) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM xy GROUP BY l_returnflag
)
SELECT l_returnflag, n, sx, sy, sxy,
       ROUND(
         CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
         / (sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
            * sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))),
         6) AS corr
FROM mom
ORDER BY l_returnflag
"""


register(x_order_seasonality, X_ORDER_SEASONALITY_SQL)
register(x_qty_price_corr, X_QTY_PRICE_CORR_SQL)


# ---------------------------------------------------------------------------
# Concentration and engagement metrics: revenue Gini / top-decile share,
# and DAU/WAU stickiness.
#
# The reference (kerighan/kinbaku) has no aggregation surface (SURVEY.md
# §2.4); these extend the BI layer on `orders` and `events`.
#
# Shuffle shapes (the 100 TB story):
#
# - revenue concentration: the fact table collapses to one row PER CUSTOMER
#   first (map-side partials), so the rank window runs over the customer
#   aggregate, not raw orders; the Gini moments are one more scalar
#   aggregate. At 100 TB the customer table is the small side by
#   construction.
# - stickiness: (user, day) presence dedup is the only fact-sized shuffle;
#   DAU is a count over it; WAU joins the tiny day spine against presence
#   with a bounded 7-day range fan-out (each presence row lands in ≤ 7
#   windows) — never a distinct-over-sliding-window state explosion.
#
# Determinism: revenue in integer cents; Gini from the exact integer
# formula G = (2·Σ(rank·x))/(n·Σx) − (n+1)/n rendered in ppm via integer
# div on wide integers (Spark DECIMAL(38,0) / DuckDB HUGEINT); ranks break
# ties on customer id.
# ---------------------------------------------------------------------------


# -- x_revenue_concentration: Gini + top-decile share ------------------------

def x_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue inequality: exact Gini coefficient and the
    revenue share of the top decile of customers, in integer ppm — the
    80/20 concentration readout behind account prioritization and
    abuse/whale detection.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    # exact global rank without a single-partition window (rank.py);
    # lazily pinned — TWO consumers (the moment aggregate and the
    # top-decile filter) would otherwise each re-run the rank fan-out
    # (r07 work profile: 21 jobs for this query, half of them duplicates)
    ranked = dist_ranked(
        per_cust, [F.col("cents"), F.col("o_custkey")], "rank"
    ).localCheckpoint(eager=False)
    d38 = "decimal(38,0)"
    mom = ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("cents").cast(d38)).cast("long").alias("total_cents"),
        F.sum((F.col("rank").cast(d38) * F.col("cents").cast(d38)))
        .cast(d38)
        .alias("srx"),
        # top decile = the ceil(n/10) highest-revenue customers
        F.max("rank").alias("nmax"),
    )
    topk = ranked.crossJoin(
        F.broadcast(mom.select(F.expr("(nmax * 9) div 10").alias("cut")))
    ).where(F.col("rank") > F.col("cut"))
    top = topk.agg(
        F.sum(F.col("cents").cast(d38)).cast("long").alias("top_cents")
    )
    gini_ppm = F.expr(
        "CAST(2 AS DECIMAL(38,0)) * srx * 1000000"
        " div (CAST(n_customers AS DECIMAL(38,0)) * total_cents)"
        " - CAST(n_customers + 1 AS DECIMAL(38,0)) * 1000000 div n_customers"
    ).cast("long")
    return (
        mom.crossJoin(top)
        .select(
            "n_customers",
            "total_cents",
            gini_ppm.alias("gini_ppm"),
            # DECIMAL numerator: cents totals scale with the corpus, and
            # top_cents * 10^6 wraps int64 near 9.2e12 total cents (~$92B
            # — well inside a 100 TB ledger; the 100x drill trips it)
            F.expr(
                "CAST(CAST(top_cents AS DECIMAL(38,0)) * 1000000"
                " div total_cents AS BIGINT)"
            ).alias("top_decile_share_ppm"),
        )
    )


X_REVENUE_CONCENTRATION_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rank FROM per_cust
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         SUM(CAST(rank AS HUGEINT) * cents) AS srx,
         MAX(rank) AS nmax
  FROM ranked
),
top AS (
  SELECT CAST(SUM(r.cents) AS BIGINT) AS top_cents
  FROM ranked r CROSS JOIN mom m
  WHERE r.rank > (m.nmax * 9) // 10
)
SELECT m.n_customers, m.total_cents,
       CAST(CAST(2 AS HUGEINT) * m.srx * 1000000
              // (CAST(m.n_customers AS HUGEINT) * m.total_cents)
            - CAST(m.n_customers + 1 AS HUGEINT) * 1000000 // m.n_customers
         AS BIGINT) AS gini_ppm,
       CAST((CAST(t.top_cents AS HUGEINT) * 1000000) // m.total_cents AS BIGINT)
         AS top_decile_share_ppm
FROM mom m CROSS JOIN top t
"""


# -- x_dau_wau_stickiness: engagement ratio ----------------------------------

def x_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-7-day active users, and the DAU/WAU
    stickiness ratio (ppm) per day — the core engagement dashboard.

    WAU avoids sliding-window COUNT DISTINCT state: each (user, day)
    presence row is range-joined onto at most 7 day-spine rows, then a
    plain distinct count per spine day. Presence is deduped once and
    reused by both metrics.
    """
    ev = load_table(spark, sf_dir, "events")
    presence = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    dau = presence.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    spine = presence.select("day").distinct()
    wau = (
        spine.join(
            presence.select(F.col("user_id").alias("u"), F.col("day").alias("d")),
            (F.col("d") <= F.col("day"))
            & (F.col("d") >= F.date_sub(F.col("day"), 6)),
        )
        .select("day", "u")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.expr("dau * 1000000 div wau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


X_DAU_WAU_SQL = """
WITH presence AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM presence GROUP BY day
),
spine AS (SELECT DISTINCT day FROM presence),
wau AS (
  SELECT s.day, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS wau
  FROM spine s JOIN presence p
    ON p.day <= s.day AND p.day >= s.day - INTERVAL 6 DAY
  GROUP BY s.day
)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau,
       CAST((d.dau * 1000000) // w.wau AS BIGINT) AS stickiness_ppm
FROM dau d JOIN wau w USING (day)
ORDER BY d.day
"""


register(x_revenue_concentration, X_REVENUE_CONCENTRATION_SQL)
register(x_dau_wau_stickiness, X_DAU_WAU_SQL)


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap confidence interval and tokenizer
# vocab-size coverage sweep.
#
# The reference (kerighan/kinbaku) has no statistics surface (SURVEY.md
# §2.4); these extend the stats / tokenizer-planning families.
#
# - bootstrap: the scale-correct resampling scheme — per replica, every
#   row draws a Poisson(1) multiplicity from a DETERMINISTIC hash (the
#   streaming-bootstrap trick: multiplicities are i.i.d.-ish across rows,
#   no global sample-n-of-n pass), so B replica means come from ONE
#   corpus scan with a ×B map-side fan-out and a B-group aggregate.
#   Map-side partials collapse each partition to ≤ B rows before the
#   exchange; the order-statistic CI runs over the B-row aggregate.
# - vocab sweep: token-occurrence coverage of the top-S vocabulary at
#   several S cutoffs — the readout that sizes a tokenizer's vocab. ONE
#   tokenize + count shuffle (vocab-bounded), one rank window over the
#   type table, then a threshold × type broadcast join aggregates all
#   cutoffs in one pass (never one scan per cutoff).
#
# Determinism: revenue in integer cents, replica means via truncating
# integer div; Poisson multiplicities from the shared 60-bit md5 hash
# mod 10⁴ against fixed pmf thresholds (3679/7358/9197/9810/9963 — the
# Poisson(1) CDF in basis points); coverage in integer ppm; ranks break
# ties lexicographically.
# ---------------------------------------------------------------------------


# -- x_bootstrap_ci: deterministic Poisson bootstrap of mean order value ------

BOOT_B = 16
# Poisson(1) CDF in basis points: P(X<=k) for k = 0..4; h >= 9963 -> 5
_POIS_EDGES = [3679, 7358, 9197, 9810, 9963]


def _pois_weight_spark(h) -> object:
    w = F.lit(5)
    for k in range(len(_POIS_EDGES) - 1, -1, -1):
        w = F.when(h < _POIS_EDGES[k], k).otherwise(w)
    return w


def _pois_weight_sql(h: str) -> str:
    expr = "5"
    for k in range(len(_POIS_EDGES) - 1, -1, -1):
        expr = f"CASE WHEN {h} < {_POIS_EDGES[k]} THEN {k} ELSE {expr} END"
    return expr


def x_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap CI for the mean order value: `BOOT_B` Poisson-bootstrap
    replicas (each order's multiplicity per replica is Poisson(1) drawn
    from a deterministic hash), replica means in truncated integer
    cents, and the [2nd, B-1th] order-statistic interval (≈ 90% CI at
    B=16) — the uncertainty readout behind any corpus-level mean metric.

    One row out: replica count, mean of replica means, CI bounds.
    """
    o = load_table(spark, sf_dir, "orders")
    # ONE md5 per row, then a universal hash per replica — 16 integer ops
    # instead of 16 md5s on the ×B fan-out (the MinHash coefficient trick)
    base = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % HASH_PRIME
        ).alias("h0"),
    )
    coeffs = minhash_coeffs(BOOT_B, seed=77)
    fan = base.select(
        "cents",
        "h0",
        F.explode(F.array(*[F.lit(b) for b in range(BOOT_B)])).alias("b"),
    )
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in coeffs])
    c_arr = F.array(*[F.lit(c).cast("long") for _, c in coeffs])
    hb = (
        F.element_at(a_arr, F.col("b") + 1) * F.col("h0")
        + F.element_at(c_arr, F.col("b") + 1)
    ) % HASH_PRIME % 10000
    w = _pois_weight_spark(hb)
    reps = (
        fan.select("b", (w * F.col("cents")).alias("wc"), w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("wc").cast("long").alias("twc"),
            F.sum("w").cast("long").alias("tw"),
        )
        .select("b", F.expr("twc div tw").alias("mean_cents"))
    )
    ranked = reps.select(
        "mean_cents",
        F.row_number()
        .over(Window.orderBy("mean_cents", "b"))
        .alias("rk"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.expr("CAST(sum(mean_cents) AS BIGINT) div count(1)").alias(
            "mean_of_means_cents"
        ),
        F.max(F.when(F.col("rk") == 2, F.col("mean_cents"))).alias(
            "ci_lo_cents"
        ),
        F.max(
            F.when(F.col("rk") == BOOT_B - 1, F.col("mean_cents"))
        ).alias("ci_hi_cents"),
    ).where(F.col("n_replicas") > 0)


_BOOT_COEFFS = minhash_coeffs(BOOT_B, seed=77)
_BOOT_VALUES = ", ".join(
    f"({b}, {a}, {c})" for b, (a, c) in enumerate(_BOOT_COEFFS)
)
_BOOT_HB = f"(co.a * base.h0 + co.c) % {HASH_PRIME} % 10000"

X_BOOTSTRAP_SQL = f"""
WITH base AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         {sql_md5_long("CAST(o_orderkey AS VARCHAR)")} % {HASH_PRIME} AS h0
  FROM orders
),
co AS (SELECT * FROM (VALUES {_BOOT_VALUES}) AS t(b, a, c)),
weighted AS (
  SELECT co.b, base.cents, {_pois_weight_sql('(' + _BOOT_HB + ')')} AS w
  FROM base CROSS JOIN co
),
reps AS (
  SELECT b, CAST(SUM(w * cents) AS BIGINT) // CAST(SUM(w) AS BIGINT)
              AS mean_cents
  FROM weighted GROUP BY b
),
ranked AS (
  SELECT mean_cents,
         ROW_NUMBER() OVER (ORDER BY mean_cents, b) AS rk
  FROM reps
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
       CAST(CAST(SUM(mean_cents) AS BIGINT) // COUNT(*) AS BIGINT)
         AS mean_of_means_cents,
       CAST(MAX(CASE WHEN rk = 2 THEN mean_cents END) AS BIGINT)
         AS ci_lo_cents,
       CAST(MAX(CASE WHEN rk = {BOOT_B - 1} THEN mean_cents END) AS BIGINT)
         AS ci_hi_cents
FROM ranked
HAVING COUNT(*) > 0
"""


# -- x_vocab_size_sweep: token coverage at candidate vocab sizes --------------

VOCAB_CUTS = [100, 500, 1000, 2000]


def x_vocab_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of token OCCURRENCES covered by the top-S word types, for
    each candidate vocab size S — the tokenizer-sizing curve (what OOV
    rate does a 1k vocab buy?). One tokenize-count pass; every cutoff
    aggregates the same ranked type table.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # only ranks <= max cutoff matter for coverage: distributed top-k
    # (TakeOrderedAndProject), THEN a k-bounded rank window — never a
    # global single-partition sort of the full type table
    top = counts.orderBy(F.desc("cnt"), "word").limit(max(VOCAB_CUTS))
    ranked_top = top.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), "word"))
        .alias("rk"),
    )
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).alias("n_types"),
    )
    cuts = spark.createDataFrame(
        [(s,) for s in VOCAB_CUTS], "vocab_size int"
    )
    covered = (
        ranked_top.crossJoin(F.broadcast(cuts))
        .groupBy("vocab_size")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("rk") <= F.col("vocab_size"), F.col("cnt"))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("covered")
        )
    )
    return (
        covered.crossJoin(F.broadcast(totals))
        .select(
            "vocab_size",
            "covered",
            "total",
            "n_types",
            F.expr(
                "CAST(CAST(covered AS DECIMAL(38,0)) * 1000000"
                " div total AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .orderBy("vocab_size")
    )


X_VOCAB_SWEEP_SQL = f"""
WITH counts AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
    FROM documents
  ) GROUP BY word
),
top AS (SELECT word, cnt FROM counts ORDER BY cnt DESC, word
        LIMIT {max(VOCAB_CUTS)}),
ranked_top AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rk FROM top
),
totals AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM counts
),
cuts AS (SELECT unnest([{", ".join(str(s) for s in VOCAB_CUTS)}]) AS vocab_size),
covered AS (
  SELECT c.vocab_size,
         CAST(COALESCE(SUM(r.cnt) FILTER (WHERE r.rk <= c.vocab_size), 0)
              AS BIGINT) AS covered
  FROM ranked_top r CROSS JOIN cuts c
  GROUP BY c.vocab_size
)
SELECT v.vocab_size, v.covered, t.total, t.n_types,
       CAST(CAST(v.covered AS HUGEINT) * 1000000 // t.total AS BIGINT)
         AS coverage_ppm
FROM covered v CROSS JOIN totals t
ORDER BY v.vocab_size
"""


register(x_bootstrap_ci, X_BOOTSTRAP_SQL)
register(x_vocab_size_sweep, X_VOCAB_SWEEP_SQL)


# ---------------------------------------------------------------------------
# Distribution-drift monitoring: total-variation distance between data
# cohorts and the exact Kolmogorov-Smirnov statistic.
#
# The reference (kerighan/kinbaku) has no statistics surface (SURVEY.md
# §2.4); these extend the data-monitoring layer on `orders` — the checks a
# production pipeline runs between yesterday's and today's feed before
# promoting a model.
#
# Shuffle shapes (the 100 TB story):
#
# - TVD drift: each cohort collapses to 10 histogram cells map-side (one
#   groupBy over bucketed integer cents); the distance is computed on the
#   20-cell aggregate.
# - KS: the classic exact formulation — ONE distinct-value histogram with
#   per-cohort counts (map-side partials), cumulative sums via one window
#   over distinct values, then a scalar max. No per-row sort, no sampling:
#   the value domain bounds the window input, not the row count.
#
# Determinism: buckets and CDF steps use integer-cents arithmetic; both
# distances are exact integer ppm — |c1·n2 − c2·n1| stays in int64
# (~10^6 · 10^6 · 10^2 at sf0.1 needs headroom, so the cross products are
# computed in DECIMAL(38,0)/HUGEINT).
# ---------------------------------------------------------------------------

DRIFT_SPLIT = "1996-01-01"  # orders span ~1992-1998; roughly halves them
DRIFT_BUCKETS = 10


# -- x_distribution_drift: bucketed total-variation distance -----------------

def x_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between the order-value distributions of
    the early and late order cohorts, over 10 equi-width buckets from the
    GLOBAL min/max (shared bucket edges — the drift-monitoring
    contract): TVD_ppm = Σ|share_a − share_b| / 2. Per-bucket shares are
    reported so the alert can point at the drifted region.
    """
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(DRIFT_SPLIT).cast("timestamp")
    cents = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        F.when(F.col("o_orderdate") < cutoff, 0).otherwise(1).alias("cohort"),
    )
    stats = cents.agg(F.min("c").alias("mn"), F.max("c").alias("mx"))
    bucketed = cents.crossJoin(F.broadcast(stats)).select(
        "cohort",
        F.expr(f"(c - mn) * {DRIFT_BUCKETS} div (mx - mn + 1)").alias("bucket"),
    )
    cells = (
        bucketed.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("n_b"),
        )
    )
    w = Window.partitionBy()
    return (
        cells.withColumn("ta", F.sum("n_a").over(w))
        .withColumn("tb", F.sum("n_b").over(w))
        .select(
            "bucket",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("n_a * 1000000 div ta").alias("share_a_ppm"),
            F.expr("n_b * 1000000 div tb").alias("share_b_ppm"),
            F.expr(
                "abs(n_a * 1000000 div ta - n_b * 1000000 div tb)"
            ).alias("abs_diff_ppm"),
        )
        .orderBy("bucket")
    )


X_DISTRIBUTION_DRIFT_SQL = f"""
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c,
         CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_SPLIT}' THEN 0 ELSE 1 END
           AS cohort
  FROM orders
),
stats AS (SELECT MIN(c) AS mn, MAX(c) AS mx FROM cents),
bucketed AS (
  SELECT cohort, ((c - mn) * {DRIFT_BUCKETS}) // (mx - mn + 1) AS bucket
  FROM cents CROSS JOIN stats
),
cells AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM bucketed GROUP BY bucket
)
SELECT bucket, n_a, n_b,
       CAST((n_a * 1000000) // SUM(n_a) OVER () AS BIGINT) AS share_a_ppm,
       CAST((n_b * 1000000) // SUM(n_b) OVER () AS BIGINT) AS share_b_ppm,
       CAST(ABS((n_a * 1000000) // SUM(n_a) OVER ()
                - (n_b * 1000000) // SUM(n_b) OVER ()) AS BIGINT) AS abs_diff_ppm
FROM cells
ORDER BY bucket
"""


# -- x_ks_statistic: exact two-sample Kolmogorov-Smirnov ---------------------

def x_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between the cohorts' order values:
    max |CDF_a − CDF_b| over every distinct value, computed on the
    distinct-value histogram (the scalable exact formulation — no row
    sort, no interpolation, no sampling). Cross products run in wide
    integers; the statistic is integer ppm.
    """
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(DRIFT_SPLIT).cast("timestamp")
    cents = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        F.when(F.col("o_orderdate") < cutoff, 0).otherwise(1).alias("cohort"),
    )
    hist = cents.groupBy("c").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("da"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("db"),
    )
    # exact running CDFs via range-parallel prefix sums (operators/
    # rank.py) over the distinct-value histogram — unconditional at any
    # value-domain size, no single-partition window. with_totals attaches
    # na/nb from the operator's own per-partition aggregates (na = Σda,
    # nb = Σdb — exact integer identities over the histogram), instead of
    # the second full-corpus cents pass this query used to run for them
    cum = prefix_sums(
        hist, [F.col("c")], {"ca": "da", "cb": "db"}, with_totals=True
    ).select(
        "ca",
        "cb",
        F.col("__total_ca").alias("na"),
        F.col("__total_cb").alias("nb"),
    )
    return (
        cum
        .select(
            F.expr(
                "abs(CAST(ca AS DECIMAL(38,0)) * nb - CAST(cb AS DECIMAL(38,0)) * na)"
            ).alias("diff"),
            "na",
            "nb",
        )
        .groupBy("na", "nb")
        .agg(F.max("diff").alias("maxdiff"))
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.expr(
                "CAST(maxdiff * 1000000 div (CAST(na AS DECIMAL(38,0)) * nb)"
                " AS BIGINT)"
            ).alias("ks_ppm"),
        )
    )


X_KS_SQL = f"""
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c,
         CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_SPLIT}' THEN 0 ELSE 1 END
           AS cohort
  FROM orders
),
hist AS (
  SELECT c,
         CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS da,
         CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS db
  FROM cents GROUP BY c
),
cum AS (
  SELECT SUM(da) OVER w AS ca, SUM(db) OVER w AS cb
  FROM hist
  WINDOW w AS (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
totals AS (
  SELECT CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM cents
)
SELECT t.na AS n_a, t.nb AS n_b,
       CAST(MAX(ABS(CAST(c.ca AS HUGEINT) * t.nb - CAST(c.cb AS HUGEINT) * t.na))
              * 1000000 // (CAST(t.na AS HUGEINT) * t.nb) AS BIGINT) AS ks_ppm
FROM cum c CROSS JOIN totals t
GROUP BY t.na, t.nb
"""


register(x_distribution_drift, X_DISTRIBUTION_DRIFT_SQL)
register(x_ks_statistic, X_KS_SQL)


# ---------------------------------------------------------------------------
# Drift/diversity operators, batch 2: pairwise source vocabulary drift
# and per-source topic diversity — the corpus-mixing readouts that decide
# source weights before a training run.
#
# The reference (kerighan/kinbaku) has no text/statistics surface
# (SURVEY.md §2.4); these extend the drift family (x_distribution_drift) from
# value distributions to token and topic distributions.
#
# - vocab drift: total-variation distance between every source PAIR's
#   unigram profile over the corpus-wide top-`DRIFT_VOCAB` words. ONE
#   tokenize+count shuffle (vocab-bounded), a distributed top-k for the
#   shared vocabulary, then all pairwise distances run on the
#   (sources × top-k)-sized profile table — never on the corpus.
# - topic diversity: Simpson's index per source over k-means topic cells
#   (1 − Σ n_c(n_c−1) / N(N−1), the probability two random docs from the
#   source land in DIFFERENT topics) — log-free, exact in integer ppm.
#   Reuses the shared k-means assignment (operators/similarity.py), so
#   cluster structure is computed once per session, and embeddings pair
#   with documents via vec_id = doc_id (FIXTURES.md).
#
# Determinism: counts are integers end-to-end; profile shares and TVD in
# integer ppm via wide-integer div (Spark DECIMAL(38,0) == DuckDB
# HUGEINT; TVD doubles the half-sum instead of halving, keeping every
# intermediate an integer); top-k vocabulary breaks ties on the word.
# ---------------------------------------------------------------------------

DRIFT_VOCAB = 100


# -- x_vocab_drift: pairwise source unigram TVD --------------------------------

def x_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance (ppm) between each source pair's unigram
    distribution over the corpus-wide top-`DRIFT_VOCAB` words (plus an
    OTHER bucket for the tail, so profiles are true distributions).
    High TVD pairs = genuinely different text populations; near-zero =
    redundant sources.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
    )
    # ONE tokenize pass: aggregate straight to (source, word) counts
    # (map-side partial aggregation — guide §2.3) and derive BOTH the
    # corpus-wide top-vocab and the per-source profiles from that table;
    # the previous form re-ran the corpus explode for the bucketing pass
    # (r07 work profile: 19 jobs). Lazily pinned — two consumers.
    sw = (
        words.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    counts = sw.groupBy("word").agg(F.sum("c").cast("long").alias("cnt"))
    top = (
        counts.orderBy(F.desc("cnt"), "word")
        .limit(DRIFT_VOCAB)
        .select("word")
    )
    bucketed = sw.join(
        F.broadcast(top.select(F.col("word").alias("w"), F.lit(1).alias("hit"))),
        sw.word == F.col("w"),
        "left",
    ).select(
        "source",
        F.when(F.col("hit").isNotNull(), F.col("word"))
        .otherwise(F.lit("\x00OTHER"))
        .alias("word"),
        "c",
    )
    prof = bucketed.groupBy("source", "word").agg(
        F.sum("c").cast("long").alias("c")
    )
    tot = prof.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    shares = prof.join(F.broadcast(tot), "source").select(
        "source",
        "word",
        F.expr(
            "CAST(CAST(c AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"
        ).alias("ppm"),
    )
    a = shares.select(
        F.col("source").alias("source_a"),
        "word",
        F.col("ppm").alias("pa"),
    )
    b = shares.select(
        F.col("source").alias("source_b"),
        "word",
        F.col("ppm").alias("pb"),
    )
    return (
        a.join(b, "word", "full")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            (
                F.sum(
                    F.abs(
                        F.coalesce("pa", F.lit(0)) - F.coalesce("pb", F.lit(0))
                    )
                )
                / 2
            )
            .cast("long")
            .alias("tvd_ppm")
        )
        .orderBy(F.desc("tvd_ppm"), "source_a", "source_b")
        .limit(20)
    )


X_VOCAB_DRIFT_SQL = rf"""
WITH words AS (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS word
  FROM documents
),
counts AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY word),
top AS (SELECT word FROM counts ORDER BY cnt DESC, word LIMIT {DRIFT_VOCAB}),
bucketed AS (
  SELECT w.source,
         CASE WHEN t.word IS NOT NULL THEN w.word
              ELSE chr(0) || 'OTHER' END AS word
  FROM words w LEFT JOIN top t ON t.word = w.word
),
prof AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
  FROM bucketed GROUP BY source, word
),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM prof GROUP BY source),
shares AS (
  SELECT p.source, p.word,
         CAST(CAST(p.c AS HUGEINT) * 1000000 // t.n AS BIGINT) AS ppm
  FROM prof p JOIN tot t USING (source)
)
SELECT a.source_a, b.source_b,
       CAST(SUM(ABS(COALESCE(a.pa, 0) - COALESCE(b.pb, 0))) // 2 AS BIGINT)
         AS tvd_ppm
FROM (SELECT source AS source_a, word, ppm AS pa FROM shares) a
FULL JOIN (SELECT source AS source_b, word, ppm AS pb FROM shares) b
  USING (word)
WHERE a.source_a < b.source_b
GROUP BY a.source_a, b.source_b
ORDER BY tvd_ppm DESC, a.source_a, b.source_b
LIMIT 20
"""


# -- x_topic_diversity: Simpson index per source over k-means topics ----------

def x_topic_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity per source over k-means topic cells: the
    probability (ppm) that two random documents from the source belong
    to DIFFERENT topics — 0 = single-topic source, high = broad mix.
    Joins the shared k-means assignment to documents on vec_id = doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    assigned = kmeans_state.assignment(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cluster"
    )
    cells = (
        docs.select("doc_id", "source")
        .join(assigned, "doc_id")
        .groupBy("source", "cluster")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    return (
        cells.groupBy("source")
        .agg(
            F.sum("nc").cast("long").alias("n_docs"),
            F.sum(F.expr("nc * (nc - 1)")).cast("long").alias("same_pairs"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            "source",
            "n_docs",
            F.expr(
                "1000000 - CAST(CAST(same_pairs AS DECIMAL(38,0)) * 1000000"
                " div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1))"
                " AS BIGINT)"
            ).alias("simpson_ppm"),
        )
        .orderBy("source")
    )


def _topic_diversity_sql() -> str:
    return (
        kmeans_assign_cte()
        + """,
cells AS (
  SELECT d.source, a.cluster, CAST(COUNT(*) AS BIGINT) AS nc
  FROM documents d JOIN a2 a ON a.vec_id = d.doc_id
  GROUP BY d.source, a.cluster
)
SELECT source, CAST(SUM(nc) AS BIGINT) AS n_docs,
       1000000 - CAST(CAST(SUM(nc * (nc - 1)) AS HUGEINT) * 1000000
                      // (CAST(SUM(nc) AS HUGEINT) * (SUM(nc) - 1))
                      AS BIGINT) AS simpson_ppm
FROM cells
GROUP BY source
HAVING SUM(nc) >= 2
ORDER BY source
"""
    )


register(x_vocab_drift, X_VOCAB_DRIFT_SQL)
register(x_topic_diversity, _topic_diversity_sql())


# ---------------------------------------------------------------------------
# Markov steady-state and Benford first-digit auditing.
#
# The reference (kerighan/kinbaku) has no statistics surface (SURVEY.md
# §2.4); these close out the behavioral/audit layer: the stationary
# distribution of the event-type Markov chain (where user journeys spend
# their time in the long run) and the Benford first-digit conformance
# check (the classic fraud/data-fabrication screen).
#
# Shuffle shapes (the 100 TB story):
#
# - stationary: the transition matrix is the vocab-bounded aggregate of
#   x_event_transitions (ONE user-partitioned window + tiny groupBy); the
#   power iteration runs on the collected k×k integer matrix (k = event
#   types, O(10)) — same collect-small-state pattern as the k-means
#   centroids and PCA Gram.
# - Benford: first digits are a shuffle-free projection (no string math —
#   integer division by a power of 10); one 9-cell groupBy.
#
# Determinism: transition counts are exact integers; the iteration uses
# the sign-free truncating renormalization of x_pca_top_component (all
# masses non-negative); Benford's expected shares enter as fixed integer
# ppm literals (log10 evaluated once, offline), so conformance deltas are
# exact integer arithmetic in both engines.
# ---------------------------------------------------------------------------


# -- x_stationary_markov: steady state of the event-type chain ---------------

MARKOV_ROUNDS = 4
MARKOV_SCALE = 1_000_000


def x_stationary_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate stationary distribution of the first-order event-type
    Markov chain (4 exact-integer power rounds of p·P from uniform) —
    the long-run attention share per event type that transition
    PROBABILITIES alone don't reveal.

    The k×k transition-count matrix is collected (k = |event types|,
    single digits even at 100 TB); iteration is arbitrary-precision
    integer math: p'_j = Σ_i p_i · c_ij · S div (Σ_i p_i · row_i), with
    one truncating renormalization per round — replayed verbatim by the
    oracle's CTE chain in HUGEINT.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counts = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    types = sorted({r["cur"] for r in counts} | {r["nxt"] for r in counts})
    idx = {t: i for i, t in enumerate(types)}
    k = len(types)
    c = [[0] * k for _ in range(k)]
    for r in counts:
        c[idx[r["cur"]]][idx[r["nxt"]]] = int(r["n"])
    rowsum = [sum(row) for row in c]
    p = [MARKOV_SCALE] * k  # uniform, un-normalized (scale-free)
    for _ in range(MARKOV_ROUNDS):
        # mass into j: Σ_i p_i * c_ij / rowsum_i — kept exact by putting
        # everything over the common denominator Π rowsum? (overflows) —
        # instead: integer per-source split with truncation, the same
        # rule both engines replay: share_ij = p_i * c_ij div rowsum_i
        nxt = [0] * k
        for i in range(k):
            if rowsum[i] == 0:
                continue
            for j in range(k):
                if c[i][j]:
                    nxt[j] += (p[i] * c[i][j]) // rowsum[i]
        m = sum(nxt)
        if m == 0:  # no transitions at all (empty events): keep current p
            break   # instead of ZeroDivisionError; oracle yields empty too
        p = [(x * MARKOV_SCALE) // m for x in nxt]
    return spark.createDataFrame(
        sorted(zip(types, p)), "event_type string, stationary_ppm long"
    )


def _stationary_sql() -> str:
    sql = """
WITH pairs AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS nxt
  FROM events
),
c AS (
  SELECT cur, nxt, CAST(COUNT(*) AS HUGEINT) AS n
  FROM pairs WHERE nxt IS NOT NULL GROUP BY cur, nxt
),
rowsum AS (SELECT cur, SUM(n) AS rs FROM c GROUP BY cur),
types AS (SELECT DISTINCT cur AS t FROM c UNION SELECT DISTINCT nxt FROM c),
p0 AS (SELECT t, CAST(1000000 AS HUGEINT) AS p FROM types)
"""
    prev = "p0"
    for r in range(1, MARKOV_ROUNDS + 1):
        sql += f""",
n{r} AS (
  SELECT c.nxt AS t, SUM((p.p * c.n) // rs.rs) AS mass
  FROM c JOIN {prev} p ON p.t = c.cur JOIN rowsum rs ON rs.cur = c.cur
  GROUP BY c.nxt
),
f{r} AS (
  SELECT ty.t, COALESCE(n.mass, 0) AS mass
  FROM types ty LEFT JOIN n{r} n ON n.t = ty.t
),
p{r} AS (
  SELECT t, (mass * 1000000) // (SELECT SUM(mass) FROM f{r}) AS p FROM f{r}
)"""
        prev = f"p{r}"
    sql += f"""
SELECT t AS event_type, CAST(p AS BIGINT) AS stationary_ppm
FROM {prev}
ORDER BY event_type
"""
    return sql


# -- x_benford_check: first-digit conformance --------------------------------

# Benford expected shares, ppm (log10(1+1/d), evaluated offline once —
# fixed literals, so both engines do pure integer arithmetic)
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def x_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: observed first-digit
    shares vs the expected log distribution (fixed ppm literals), with
    per-digit deviation — the classic fabricated-data screen. First
    digits come from integer division (value div 10^floor(log10) — here
    via repeated division, no string parsing).
    """
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"))
    # leading digit = c / 10^floor(log10 c): both engines' log10 is exact
    # on powers of ten (the only floor-flip boundary), and a chained
    # when-per-digit unroll would duplicate the subtree 3^depth times in
    # the Catalyst tree — the closed form stays one expression
    digits = cents.where(F.col("c") >= 1).select(
        (F.col("c") / F.pow(F.lit(10.0), F.floor(F.log10("c"))))
        .cast("long")
        .alias("digit")
    )
    exp_expr = "CASE digit " + " ".join(
        f"WHEN {k} THEN {v}" for k, v in BENFORD_PPM.items()
    ) + " END"
    w = Window.partitionBy()
    return (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("tot", F.sum("n").over(w))
        .select(
            F.col("digit").cast("int").alias("digit"),
            F.col("n").cast("long").alias("n"),
            F.expr("n * 1000000 div tot").alias("observed_ppm"),
            F.expr(exp_expr).cast("long").alias("benford_ppm"),
            F.expr(f"abs(n * 1000000 div tot - ({exp_expr}))")
            .cast("long")
            .alias("deviation_ppm"),
        )
        .orderBy("digit")
    )


def _benford_sql() -> str:
    exp_expr = "CASE digit " + " ".join(
        f"WHEN {k} THEN {v}" for k, v in BENFORD_PPM.items()
    ) + " END"
    return f"""
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
digits AS (
  -- NOT `c // power(...)`: DuckDB's // with a DOUBLE divisor rounds the
  -- quotient instead of flooring it (int is cast to double, then the
  -- integer-division cast rounds) — explicit floor() matches Spark's
  -- truncating long cast on non-negative quotients
  SELECT CAST(floor(c / power(10, CAST(floor(log10(c)) AS BIGINT))) AS BIGINT)
           AS digit
  FROM cents WHERE c >= 1
),
agg AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
)
SELECT CAST(digit AS INTEGER) AS digit, n,
       CAST((n * 1000000) // SUM(n) OVER () AS BIGINT) AS observed_ppm,
       CAST({exp_expr} AS BIGINT) AS benford_ppm,
       CAST(ABS((n * 1000000) // SUM(n) OVER () - ({exp_expr})) AS BIGINT)
         AS deviation_ppm
FROM agg
ORDER BY digit
"""


register(x_stationary_markov, _stationary_sql())
register(x_benford_check, _benford_sql())


# ---------------------------------------------------------------------------
# Probabilistic-structure operators, round 2: HyperLogLog distinct
# estimation and Bloom-filter join pruning — both with EXACT DuckDB replay
# (every bit of sketch state is integer arithmetic on the shared 60-bit md5
# hash, functions/hashing.py), extending the KMV / count-min family in
# timeseries.py.
#
# Why these matter at 100 TB:
#
# - HLL is THE mergeable distinct sketch: 256 registers (2 KB) per group
#   replace a count-distinct shuffle of the full key set. Here registers are
#   built with one groupBy (map-side partial max per register), merged with
#   an integer-exact power sum — the same algebra `approx_count_distinct`
#   runs inside the JVM; this version is engine-portable and replayable.
# - The Bloom build side is one scan of the dim + a 128-row bit_or
#   aggregate; probing the fact side is a broadcast of 512 bytes of filter
#   state. This is exactly what Spark's runtime row-level filtering
#   (spark.sql.optimizer.runtime.bloomFilter.enabled) injects into big
#   shuffle joins — materialized here as an explicit, oracle-checkable
#   operator, reporting the confusion matrix + measured false-positive rate.
#
# Determinism: register/bit state is pure integer math (shifts ≤ 52 bits,
# no int64 overflow on either engine); doubles appear only in the final
# estimate expression, written as the identical expression tree on both
# sides.
# ---------------------------------------------------------------------------

# -- HyperLogLog: 256 registers over the 60-bit md5 hash ----------------------

HLL_M = 256  # registers (b=8 index bits); 52 bits of rank material remain
# rho ranges 1..53; sum of 2^(53-rho) over 256 registers < 2^61: exact BIGINT
# numerator alpha_256 * m^2 * 2^53 folded to ONE double literal in Python and
# embedded in e-notation on both sides (a bare decimal literal is DECIMAL in
# DuckDB, and cross-engine constant folding would differ by an ulp)
_HLL_NUM = 0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * float(1 << 53)


def x_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l_orderkey per l_returnflag: exact count vs a 256-register
    HyperLogLog built from the shared md5 hash. Returns the exact count,
    the integer register power-sum (the full sketch state, checked
    exactly), and the raw HLL estimate with its relative error.

    One groupBy (flag, register) with map-side partial MAX — the sketch
    build never shuffles raw keys, only (group, 256) register rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    h = md5_long(F.col("l_orderkey").cast("string"))
    hashed = li.select(
        "l_returnflag",
        "l_orderkey",
        h.alias("h"),
    ).select(
        "l_returnflag",
        "l_orderkey",
        F.pmod(F.col("h"), F.lit(HLL_M)).cast("int").alias("idx"),
        F.expr("h div 256").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(F.col("w")))
    )
    regs = (
        hashed.select("l_returnflag", "idx", rho.alias("rho"))
        .groupBy("l_returnflag", "idx")
        .agg(F.max("rho").alias("rho"))
    )
    sums = regs.groupBy("l_returnflag").agg(
        F.expr(
            "sum(shiftleft(CAST(1 AS BIGINT), 53 - rho))"
            " + (256 - count(1)) * shiftleft(CAST(1 AS BIGINT), 53)"
        ).alias("hll_sum"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_distinct")
    )
    est = F.expr(f"{_HLL_NUM!r} / CAST(hll_sum AS DOUBLE)")
    return (
        exact.join(sums, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_distinct",
            "hll_sum",
            est.alias("hll_est"),
            (
                (est - F.col("exact_distinct")) / F.col("exact_distinct")
            ).alias("rel_err"),
        )
        .orderBy("l_returnflag")
    )


_H_ORD = sql_md5_long("CAST(l_orderkey AS VARCHAR)")

X_HLL_SQL = f"""
WITH hashed AS (
  SELECT l_returnflag, l_orderkey,
         CAST({_H_ORD} % 256 AS INTEGER) AS idx,
         {_H_ORD} // 256 AS w
  FROM lineitem
),
regs AS (
  SELECT l_returnflag, idx,
         MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS rho
  FROM hashed GROUP BY 1, 2
),
sums AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - rho))
              + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT)
           AS hll_sum
  FROM regs GROUP BY 1
),
exact AS (
  SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_distinct
  FROM lineitem GROUP BY 1
)
SELECT e.l_returnflag, e.exact_distinct, s.hll_sum,
       {_HLL_NUM!r} / CAST(s.hll_sum AS DOUBLE) AS hll_est,
       ({_HLL_NUM!r} / CAST(s.hll_sum AS DOUBLE)
        - e.exact_distinct) / e.exact_distinct AS rel_err
FROM exact e JOIN sums s ON s.l_returnflag = e.l_returnflag
ORDER BY e.l_returnflag
"""


# -- HLL merge across sources: the mergeability property, materialized --------

def x_hll_merge_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-`source` HLL sketches over distinct document texts, PLUS the
    union sketch obtained by max-merging the per-source registers — no
    rescan of the base data. Shared texts across sources make the merged
    exact-distinct strictly less than the per-source sum; the merged HLL
    tracks the union correctly because register max is the sketch's union
    operator. This is the property that lets 1000 executors (or 1000
    days of partial sketches) aggregate distincts without ever
    re-shuffling raw keys.

    Same register algebra as x_hll_distinct; the merge adds ONE extra
    256-row aggregation on sketch state only.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = md5_long(F.col("text"))
    hashed = docs.select(
        "source",
        "text",
        F.pmod(h, F.lit(HLL_M)).cast("int").alias("idx"),
        (h.alias("h")).alias("h"),
    ).select(
        "source",
        "text",
        "idx",
        F.expr("h div 256").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(F.col("w")))
    )
    regs_src = (
        hashed.select("source", "idx", rho.alias("rho"))
        .groupBy("source", "idx")
        .agg(F.max("rho").alias("rho"))
    )
    regs_all = regs_src.groupBy("idx").agg(F.max("rho").alias("rho")).select(
        F.lit("__ALL__").alias("source"), "idx", "rho"
    )
    regs = regs_src.unionByName(regs_all)
    sums = regs.groupBy("source").agg(
        F.expr(
            "sum(shiftleft(CAST(1 AS BIGINT), 53 - rho))"
            " + (256 - count(1)) * shiftleft(CAST(1 AS BIGINT), 53)"
        ).alias("hll_sum"),
    )
    exact_src = docs.groupBy("source").agg(
        F.count_distinct("text").alias("exact_distinct")
    )
    exact_all = docs.agg(
        F.count_distinct("text").alias("exact_distinct")
    ).select(F.lit("__ALL__").alias("source"), "exact_distinct")
    exact = exact_src.unionByName(exact_all)
    est = F.expr(f"{_HLL_NUM!r} / CAST(hll_sum AS DOUBLE)")
    return exact.join(sums, "source").select(
        "source",
        "exact_distinct",
        "hll_sum",
        est.alias("hll_est"),
        ((est - F.col("exact_distinct")) / F.col("exact_distinct")).alias(
            "rel_err"
        ),
    )


_H_TXT = sql_md5_long("text")

X_HLL_MERGE_SQL = f"""
WITH hashed AS (
  SELECT source, text,
         CAST({_H_TXT} % 256 AS INTEGER) AS idx,
         {_H_TXT} // 256 AS w
  FROM documents
),
regs_src AS (
  SELECT source, idx,
         MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS rho
  FROM hashed GROUP BY 1, 2
),
regs AS (
  SELECT source, idx, rho FROM regs_src
  UNION ALL
  SELECT '__ALL__' AS source, idx, MAX(rho) AS rho FROM regs_src GROUP BY idx
),
sums AS (
  SELECT source,
         CAST(SUM(CAST(1 AS BIGINT) << (53 - rho))
              + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT)
           AS hll_sum
  FROM regs GROUP BY 1
),
exact AS (
  SELECT source, COUNT(DISTINCT text) AS exact_distinct FROM documents GROUP BY 1
  UNION ALL
  SELECT '__ALL__', COUNT(DISTINCT text) FROM documents
)
SELECT e.source, e.exact_distinct, s.hll_sum,
       {_HLL_NUM!r} / CAST(s.hll_sum AS DOUBLE) AS hll_est,
       ({_HLL_NUM!r} / CAST(s.hll_sum AS DOUBLE)
        - e.exact_distinct) / e.exact_distinct AS rel_err
FROM exact e JOIN sums s ON s.source = e.source
"""


# -- Bloom-filter join pruning ------------------------------------------------

BLOOM_BITS = 4096  # m: 128 words x 32 bits = 512 bytes of filter state
BLOOM_K = 3
BLOOM_SEGMENT = "BUILDING"


def x_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4096-bit / 3-hash Bloom filter over BUILDING-segment
    custkeys, probe every order through it, and report the confusion
    matrix (predicted membership x actual membership) with the measured
    false-positive rate among true negatives.

    The filter is a 128-row (word, bits) table — at scale this is the
    512-byte runtime filter a 1000-executor join would broadcast to prune
    fact rows before the shuffle; rows 'predicted=false' are the rows the
    shuffle never sees. 32-bit words keep every shift in safe int64 range
    on both engines.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    def positions(key_col):
        return [
            F.pmod(
                md5_long(F.concat(F.lit(f"{i}:"), key_col.cast("string"))),
                F.lit(BLOOM_BITS),
            ).cast("int")
            for i in range(BLOOM_K)
        ]

    # members is read by the filter build AND the actual-membership
    # broadcast; words by THREE broadcast builds (one per hash). Unpinned,
    # each of those re-scanned customer from parquet — four full customer
    # scans per call at 100 TB for one 512-byte filter. Pin members lazily
    # (materialized as a side effect of the words build, then the actual-
    # flag broadcast reads the blocks) and words EAGERLY: its three
    # consumers are independent broadcast jobs that would race a lazy
    # pin's materialization and each recompute the aggregation (the
    # x_hist_quantile_accuracy measured precedent); eager = one 128-row
    # build job, every probe join reads cache.
    members = (
        cust.filter(F.col("c_mktsegment") == BLOOM_SEGMENT)
        .select(F.col("c_custkey"))
        .localCheckpoint(eager=False)
    )
    words = (
        members.select(
            F.explode(F.array(*positions(F.col("c_custkey")))).alias("pos")
        )
        .select(
            F.expr("pos div 32").cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), pos % 32)").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .localCheckpoint(eager=True)
    )

    probes = orders.select("o_orderkey", "o_custkey")
    for i, pos in enumerate(positions(F.col("o_custkey"))):
        probes = probes.withColumn(f"p{i}", pos)
    for i in range(BLOOM_K):
        wi = words.select(
            F.col("word").alias(f"word{i}"), F.col("bits").alias(f"bits{i}")
        )
        probes = probes.join(
            F.broadcast(wi),
            F.expr(f"p{i} div 32") == F.col(f"word{i}"),
            "left",
        ).withColumn(
            f"hit{i}",
            F.expr(
                f"coalesce((shiftright(bits{i}, p{i} % 32) & 1) = 1, false)"
            ),
        )
    predicted = F.col("hit0") & F.col("hit1") & F.col("hit2")
    actual_flag = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            F.broadcast(members.withColumn("is_member", F.lit(True))),
            orders.o_custkey == members.c_custkey,
            "left",
        )
        .select("o_orderkey", F.coalesce("is_member", F.lit(False)).alias("actual"))
    )
    return (
        probes.select("o_orderkey", predicted.alias("predicted"))
        .join(actual_flag, "o_orderkey")
        .groupBy("predicted", "actual")
        .agg(F.count(F.lit(1)).alias("orders"))
        .orderBy("predicted", "actual")
    )


def _bloom_pos_sql(i: int, expr: str) -> str:
    hashed = sql_md5_long(f"'{i}:' || CAST({expr} AS VARCHAR)")
    return f"CAST({hashed} % {BLOOM_BITS} AS INTEGER)"


X_BLOOM_SQL = f"""
WITH members AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'
),
pos AS (
  SELECT {_bloom_pos_sql(0, 'c_custkey')} AS pos FROM members
  UNION ALL
  SELECT {_bloom_pos_sql(1, 'c_custkey')} FROM members
  UNION ALL
  SELECT {_bloom_pos_sql(2, 'c_custkey')} FROM members
),
words AS (
  SELECT CAST(pos // 32 AS INTEGER) AS word,
         bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS bits
  FROM pos GROUP BY 1
),
probes AS (
  SELECT o_orderkey, o_custkey,
         {_bloom_pos_sql(0, 'o_custkey')} AS p0,
         {_bloom_pos_sql(1, 'o_custkey')} AS p1,
         {_bloom_pos_sql(2, 'o_custkey')} AS p2
  FROM orders
),
decided AS (
  SELECT p.o_orderkey,
         COALESCE(((w0.bits >> (p.p0 % 32)) & 1) = 1, FALSE)
         AND COALESCE(((w1.bits >> (p.p1 % 32)) & 1) = 1, FALSE)
         AND COALESCE(((w2.bits >> (p.p2 % 32)) & 1) = 1, FALSE) AS predicted,
         p.o_custkey IN (SELECT c_custkey FROM members) AS actual
  FROM probes p
  LEFT JOIN words w0 ON w0.word = p.p0 // 32
  LEFT JOIN words w1 ON w1.word = p.p1 // 32
  LEFT JOIN words w2 ON w2.word = p.p2 // 32
)
SELECT predicted, actual, COUNT(*) AS orders
FROM decided GROUP BY 1, 2 ORDER BY 1, 2
"""


register(x_hll_merge_sources, X_HLL_MERGE_SQL)
register(x_hll_distinct, X_HLL_SQL)
register(x_bloom_prune, X_BLOOM_SQL)


# -- x_hist_quantile_accuracy: mergeable histogram quantile sketch vs exact ---
#
# The mergeable-quantile-sketch pattern (t-digest/KLL's job) in its
# simplest exactly-replayable form: a fixed 64-bucket equi-width histogram
# (bucket counts ADD across partitions/batches — that is the mergeability)
# answers p50/p90/p99 as the lower edge of the first bucket whose
# cumulative count reaches ceil(q·n/100); the exact answer comes from the
# distinct-value histogram (the winsorized-stats pattern — no global row
# sort). The error column is the sketch's resolution cost: width/est
# trade-off you size the bucket count with.
#
# Shuffle shape: one 64-group aggregate with map-side partials for the
# sketch; one value-domain-bounded distinct aggregate for the truth. At
# 100 TB you keep ONLY the sketch branch (64 rows per partition merge).

HQ_BUCKETS = 64
HQ_QS = [50, 90, 99]


def x_hist_quantile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of order value estimated from a mergeable 64-bucket
    histogram vs the exact quantile, with the absolute error in cents —
    the accuracy readout that sizes a quantile sketch before trusting it
    corpus-wide."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("c")
    )
    # ONE corpus pass: the distinct-value histogram (value-domain sized);
    # min/max/count and the 64-bucket histogram are exact rollups of it
    # (n = Σvn, bn = Σvn over the bucket's values — guide §1.2; the r07
    # work profile showed three separate orders scans). EAGER pin: three
    # independent broadcast stages consume it — left lazy they race the
    # materialization and each recomputes the corpus groupBy (re-measured
    # 20->26 jobs); eager = one serial build, every consumer reads cache.
    dv = (
        cents.groupBy("c")
        .agg(F.count(F.lit(1)).alias("vn"))
        .localCheckpoint(eager=True)
    )
    stats = dv.agg(
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
        F.sum("vn").cast("long").alias("n"),
    )
    hist = (
        dv.crossJoin(F.broadcast(stats))
        .select(
            F.expr(f"(c - mn) * {HQ_BUCKETS} div (mx - mn + 1)").alias("bucket"),
            "vn",
        )
        .groupBy("bucket")
        .agg(F.sum("vn").cast("long").alias("bn"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bucket", F.sum("bn").over(wcum).alias("cum"))
    qs = spark.createDataFrame([(q,) for q in HQ_QS], "q_pct int")
    est = (
        qs.crossJoin(cum)
        .crossJoin(F.broadcast(stats))
        .filter(F.expr("cum >= (q_pct * n + 99) div 100"))
        .groupBy("q_pct")
        .agg(
            F.min("bucket").alias("b"),
            F.first("mn").alias("mn"),
            F.first("mx").alias("mx"),
        )
        .select(
            "q_pct",
            F.expr(
                f"mn + (b * (mx - mn + 1) + {HQ_BUCKETS - 1}) div {HQ_BUCKETS}"
            ).alias("est_cents"),
        )
    )
    # exact-quantile side: range-parallel prefix sums over the distinct-
    # value histogram (operators/rank.py) — the bucket-side window above
    # stays a plain window because its input is <= HQ_BUCKETS rows
    dcum = prefix_sums(dv, [F.col("c")], {"cum": "vn"}).select("c", "cum")
    # qs is a 3-row literal with NO stats (python createDataFrame -> RDD
    # scan), so an unhinted cross join against the value-domain-sized dcum
    # planned as CartesianProduct — re-reading dcum's shuffle once per
    # left partition (28 MB amplification, r07 per-job profile). Broadcast
    # the literal side: one streamed pass over dcum.
    exact = (
        dcum.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(stats.select("n")))
        .filter(F.expr("cum >= (q_pct * n + 99) div 100"))
        .groupBy("q_pct")
        .agg(F.min("c").alias("exact_cents"))
    )
    return (
        # both sides are |HQ_QS| rows: broadcast beats the SMJ's two
        # exchanges + sorts the unhinted join planned
        est.join(F.broadcast(exact), "q_pct")
        .select(
            "q_pct",
            "est_cents",
            "exact_cents",
            F.abs(F.col("est_cents") - F.col("exact_cents")).alias(
                "abs_err_cents"
            ),
        )
        .orderBy("q_pct")
    )


X_HIST_QUANTILE_SQL = f"""
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders
),
stats AS (SELECT MIN(c) AS mn, MAX(c) AS mx, CAST(COUNT(*) AS BIGINT) AS n
          FROM cents),
hist AS (
  SELECT ((c - mn) * {HQ_BUCKETS}) // (mx - mn + 1) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS bn
  FROM cents CROSS JOIN stats
  GROUP BY 1
),
cum AS (
  SELECT bucket, SUM(bn) OVER (ORDER BY bucket
                               ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
qs AS (SELECT unnest([{", ".join(str(q) for q in HQ_QS)}]) AS q_pct),
est AS (
  SELECT q.q_pct,
         s.mn + (MIN(c.bucket) * (s.mx - s.mn + 1) + {HQ_BUCKETS - 1})
                  // {HQ_BUCKETS} AS est_cents
  FROM qs q CROSS JOIN cum c CROSS JOIN stats s
  WHERE c.cum >= (q.q_pct * s.n + 99) // 100
  GROUP BY q.q_pct, s.mn, s.mx
),
dv AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS vn FROM cents GROUP BY c),
dcum AS (
  SELECT c, SUM(vn) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum
  FROM dv
),
exact AS (
  SELECT q.q_pct, MIN(d.c) AS exact_cents
  FROM qs q CROSS JOIN dcum d CROSS JOIN stats s
  WHERE d.cum >= (q.q_pct * s.n + 99) // 100
  GROUP BY q.q_pct
)
SELECT e.q_pct, e.est_cents, x.exact_cents,
       ABS(e.est_cents - x.exact_cents) AS abs_err_cents
FROM est e JOIN exact x USING (q_pct)
ORDER BY e.q_pct
"""


register(x_hist_quantile_accuracy, X_HIST_QUANTILE_SQL)
