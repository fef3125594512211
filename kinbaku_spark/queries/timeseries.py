"""Time-series and event analytics: funnels, gap filling, moving aggregates,
autocorrelation, change points, as-of and range joins, profiling, RANGE
frames, behavioral sequences and the retention/cohort family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kinbaku_spark.functions.hashing import md5_long, sql_md5_long
from kinbaku_spark.operators.rank import running_max_exclusive, with_ntile
from kinbaku_spark.queries import register
from kinbaku_spark.queries.relational import DEC, SESSION_GAP_US, _dsum
from kinbaku_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Time-series / product-analytics operators the reference lacks entirely
# (SURVEY.md §2.4 — no time surface, no windows, no aggregation): staged
# funnel conversion, gap-filled hourly series with forward-fill, moving
# window aggregates, and an equi-depth histogram.
#
# Shuffle shapes (the 100 TB story):
#
# - funnel: three conditional MIN aggregations all keyed on user_id — one
#   hash shuffle; the per-stage tables are per-user (tiny vs the event
#   stream) and join broadcast. No self-join of the raw stream.
# - gap-fill: the dense spine is GENERATED (sequence/explode), never scanned
#   — types x hours is O(cardinality), independent of fact size; the fact
#   side collapses to one groupBy before the join, so the left join is
#   dim-sized on both sides.
# - moving agg: one groupBy day (map-side partial) then ONE window sort over
#   ~thousands of day rows — window runs after the reduce, on the
#   aggregate, never over raw facts.
# - equi-depth histogram: ntile over the global sort; at 100 TB replace
#   with approx_percentile bounds — kept exact here because the oracle is
#   exact. Single range-partitioned sort, no shuffle after.
#
# Determinism: double sums via DECIMAL(18,6) (then cast back), time math on
# microsecond-exact timestamps, integer divisions, ties broken on unique ids
# (event_id / o_orderkey); ntile's floor-division bucket sizing is identical
# in Spark and DuckDB.
# ---------------------------------------------------------------------------


# -- staged funnel: view -> click -> purchase ---------------------------------

def x_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AT/AFTER their first
    view, then purchased at/after that first qualifying click. Classic
    product-analytics staged conversion (strictly ordered, not mere
    event-type presence).

    Each stage is a conditional MIN per user over events already filtered
    to the 3 relevant types; stages chain through broadcast joins of the
    per-user stage tables (|users| rows, tiny vs the stream).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    us = F.unix_micros(F.col("ts"))
    ev = ev.select("user_id", "event_type", us.alias("us"))

    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("us").alias("t_view")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("us") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("us") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"))
    )
    stages = (
        v.agg(F.count(F.lit(1)).alias("users"), F.lit("1_view").alias("stage"))
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("users"), F.lit("2_click").alias("stage"))
        )
        .unionByName(
            p.agg(
                F.count(F.lit(1)).alias("users"), F.lit("3_purchase").alias("stage")
            )
        )
    )
    return stages.select("stage", "users").orderBy("stage")


X_FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us
  FROM events WHERE event_type IN ('view','click','purchase')
),
v AS (
  SELECT user_id, MIN(us) AS t_view FROM ev WHERE event_type='view' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.us) AS t_click
  FROM ev e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type='click' AND e.us >= v.t_view GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.us) AS t_purchase
  FROM ev e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type='purchase' AND e.us >= c.t_click GROUP BY 1
)
SELECT '1_view' AS stage, COUNT(*) AS users FROM v
UNION ALL SELECT '2_click', COUNT(*) FROM c
UNION ALL SELECT '3_purchase', COUNT(*) FROM p
ORDER BY stage
"""


# -- gap-filled hourly series with zero- and forward-fill ---------------------

def x_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly revenue series per event_type over the stream's full
    time range: hours with no events appear with rev_filled=0 and the
    last observed hourly revenue carried forward (last_rev).

    The spine is generated with sequence()/explode from the global
    (min,max) hour — O(types x hours) rows regardless of fact volume —
    and the fact side is pre-aggregated, so the left join touches only
    aggregate-sized inputs. TimescaleDB calls this time_bucket_gapfill +
    locf; Spark needs no built-in.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("value").cast(DEC).alias("v"),
        )
        .groupBy("event_type", "hour")
        .agg(F.sum("v").cast("double").alias("rev"))
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "hour"], "left")
        .withColumn("rev_filled", F.coalesce("rev", F.lit(0.0)))
        .withColumn("last_rev", F.last("rev", ignorenulls=True).over(w))
        .select("event_type", "hour", "rev", "rev_filled", "last_rev")
        .orderBy("event_type", "hour")
    )


X_GAPFILL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
),
spine AS (
  SELECT t.event_type, h.hour
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (
    SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds
  ) h
)
SELECT s.event_type, s.hour, hourly.rev,
       COALESCE(hourly.rev, 0.0) AS rev_filled,
       LAST_VALUE(hourly.rev IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS last_rev
FROM spine s LEFT JOIN hourly ON hourly.event_type = s.event_type
                             AND hourly.hour = s.hour
ORDER BY s.event_type, s.hour
"""


# -- moving-window aggregates over the daily revenue series -------------------

def x_moving_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row trailing moving sum/avg of daily order revenue. The window
    runs over the already-reduced daily series (thousands of rows), never
    the raw facts; sums stay DECIMAL inside the frame, and the moving
    average is one exact double division at the end.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.date_trunc("day", F.col("o_orderdate")).alias("day"),
            F.col("o_totalprice").cast(DEC).alias("p"),
        )
        .groupBy("day")
        .agg(F.sum("p").alias("rev_dec"))
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return (
        daily.withColumn("sum7_dec", F.sum("rev_dec").over(w))
        .withColumn("cnt7", F.count(F.lit(1)).over(w))
        .select(
            "day",
            F.col("rev_dec").cast("double").alias("rev"),
            F.col("sum7_dec").cast("double").alias("sum7"),
            "cnt7",
            (F.col("sum7_dec").cast("double") / F.col("cnt7")).alias("ma7"),
        )
        .orderBy("day")
    )


X_MOVING_SQL = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev_dec
  FROM orders GROUP BY 1
),
win AS (
  SELECT day, rev_dec,
         SUM(rev_dec) OVER w AS sum7_dec,
         COUNT(*) OVER w AS cnt7
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, CAST(rev_dec AS DOUBLE) AS rev, CAST(sum7_dec AS DOUBLE) AS sum7,
       cnt7, CAST(sum7_dec AS DOUBLE) / cnt7 AS ma7
FROM win ORDER BY day
"""


# -- equi-depth histogram via ntile -------------------------------------------

def x_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bucket equi-depth histogram of order totals: exact NTILE over
    the global (o_totalprice, o_orderkey) sort, then per-bucket count and
    bounds. ntile's floor-division sizing is engine-identical; the unique
    key tiebreak makes bucket assignment fully deterministic.

    The bucket assignment is the exact distributed ntile
    (operators/rank.py: range-parallel rank + broadcast total) — the
    exact global semantics WITHOUT a single-partition window, so the
    same plan holds at 100 TB.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        with_ntile(
            orders.select("o_totalprice", "o_orderkey"),
            10,
            [F.col("o_totalprice"), F.col("o_orderkey")],
            "bucket",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


X_HISTOGRAM_SQL = """
SELECT bucket, COUNT(*) AS cnt, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM (
  SELECT o_totalprice,
         NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
)
GROUP BY bucket ORDER BY bucket
"""


register(x_funnel_conversion, X_FUNNEL_SQL)
register(x_gapfill, X_GAPFILL_SQL)
register(x_moving_agg, X_MOVING_SQL)
register(x_histogram_equidepth, X_HISTOGRAM_SQL)


# ---------------------------------------------------------------------------
# Time-series diagnostics: exact lag-k autocorrelation, CUSUM
# change-point detection, and MAD-based robust outlier counts.
#
# The reference (kerighan/kinbaku) has no time-series surface (SURVEY.md
# §2.4); these extend the monitoring/forecast-prep layer on `orders`.
#
# Shuffle shapes (the 100 TB story):
#
# - all three collapse the fact table to ONE ROW PER DAY first (map-side
#   partials); every subsequent join/window/aggregate runs over the tiny
#   day series (O(10^4) rows for decades). The lag join is an equi-join of
#   the series with itself on shifted integer epoch-days; CUSUM is one
#   prefix-sum window; MAD applies the distinct-value-histogram median
#   twice (no row sort).
#
# Determinism: the scaled-deviation trick keeps CUSUM exact — deviations
# are (c_i·n − total), i.e. n times the true deviation, so prefix sums
# stay integers and argmax/ties break on the earliest day; ACF uses exact
# integer moments with the one final double expression (wide-integer
# products); MAD medians are "min value with cum count >= k" selections.
# ---------------------------------------------------------------------------


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).alias("ed")
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("c"))


_DAILY_SQL = """
daily AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS ed,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY 1
)
"""


# -- x_autocorrelation: ACF at lags 1..7 over daily revenue ------------------

ACF_MAX_LAG = 7


def x_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k Pearson autocorrelation (k = 1..7) of daily revenue — the
    ACF panel read before picking AR/seasonal model orders. Each lag is
    an equi-join of the day series on shifted epoch-days (calendar lag,
    not row lag: gap days genuinely break pairs), then exact integer
    moments.
    """
    daily = _daily(spark, sf_dir)
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("k"))
    a = daily.select(F.col("ed").alias("ea"), F.col("c").alias("x"))
    b = daily.select(F.col("ed").alias("eb"), F.col("c").alias("y"))
    pairs = (
        F.broadcast(lags)
        .join(a, F.lit(True))
        .join(b, F.col("eb") == F.col("ea") - F.col("k"))
    )
    d38 = "decimal(38,0)"
    mom = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("sx"),
        F.sum(F.col("y").cast(d38)).cast(d38).alias("sy"),
        F.sum((F.col("x").cast(d38) * F.col("y").cast(d38))).cast(d38).alias("sxy"),
        F.sum((F.col("x").cast(d38) * F.col("x").cast(d38))).cast(d38).alias("sxx"),
        F.sum((F.col("y").cast(d38) * F.col("y").cast(d38))).cast(d38).alias("syy"),
    )
    n = F.col("n_pairs").cast(d38)
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) * F.sqrt(
        (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return mom.select(
        "k", "n_pairs", F.round(num / den, 6).alias("acf")
    ).orderBy("k")


X_AUTOCORRELATION_SQL = f"""
WITH {_DAILY_SQL},
lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS k),
pairs AS (
  SELECT l.k, a.c AS x, b.c AS y
  FROM lags l
  JOIN daily a ON TRUE
  JOIN daily b ON b.ed = a.ed - l.k
),
mom AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs GROUP BY k
)
SELECT CAST(k AS INTEGER) AS k, n_pairs,
       ROUND(
         CAST(CAST(n_pairs AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(CAST(n_pairs AS HUGEINT) * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(CAST(n_pairs AS HUGEINT) * syy - sy * sy AS DOUBLE))),
         6) AS acf
FROM mom
ORDER BY k
"""


# -- x_cusum_changepoint: exact CUSUM level-shift detector -------------------

def x_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point estimate on daily revenue: the day where the
    running sum of deviations from the global mean peaks in magnitude.
    Deviations are scaled by n (c_i·n − total) so every prefix sum is an
    exact integer — no mean-rounding drift; ties break on the earliest
    day.
    """
    daily = _daily(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("total")
    )
    w = Window.orderBy("ed").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d38 = "decimal(38,0)"
    cusum = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "dev",
            (F.col("c").cast(d38) * F.col("n").cast(d38)
             - F.col("total").cast(d38)),
        )
        .withColumn("cusum", F.sum("dev").over(w))
        .withColumn("mag", F.abs(F.col("cusum")))
    )
    wpick = Window.orderBy(F.desc("mag"), "ed")
    return (
        cusum.withColumn("rn", F.row_number().over(wpick))
        .where(F.col("rn") == 1)
        .select(
            F.date_format(
                F.date_add(F.lit("1970-01-01").cast("date"), F.col("ed")),
                "yyyy-MM-dd",
            ).alias("changepoint_day"),
            F.col("n").cast("long").alias("n_days"),
            F.col("cusum").cast("string").alias("cusum_scaled"),
        )
    )


X_CUSUM_SQL = f"""
WITH {_DAILY_SQL},
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS total
        FROM daily),
cusum AS (
  SELECT d.ed, t.n,
         SUM(CAST(d.c AS HUGEINT) * t.n - t.total)
           OVER (ORDER BY d.ed ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS cusum
  FROM daily d CROSS JOIN tot t
),
pick AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(cusum) DESC, ed) AS rn FROM cusum
)
SELECT strftime(DATE '1970-01-01' + CAST(ed AS INTEGER), '%Y-%m-%d')
         AS changepoint_day,
       n AS n_days,
       CAST(cusum AS VARCHAR) AS cusum_scaled
FROM pick WHERE rn = 1
"""


# -- x_mad_outliers: median/MAD robust outlier gate --------------------------

MAD_K = 5  # |x - median| > K * MAD flags an outlier


def x_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier count on daily revenue: median and MAD (median of
    absolute deviations) via the distinct-value-histogram order
    statistic, then count days with |c − median| > 5·MAD — the
    outlier gate that, unlike z-scores, a single spike cannot poison.
    """
    # the corpus aggregation is consumed by BOTH median passes and the
    # final deviation count — lazily pinned so the orders scan runs once
    # (it materializes inside the first broadcast job; the r07 work
    # profile showed 4 full re-executions, 30 jobs)
    daily = _daily(spark, sf_dir).localCheckpoint(eager=False)

    def hist_median(df: DataFrame, col: str) -> DataFrame:
        hist = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        wc = (
            Window.orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = hist.withColumn("cum", F.sum("cnt").over(wc))
        # row count FROM the histogram (n = Σcnt exactly), not a second
        # pass over the input (guide §1.2)
        tot = hist.agg(F.sum("cnt").cast("long").alias("n"))
        return (
            cum.crossJoin(F.broadcast(tot))
            .agg(
                F.min(
                    F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col(col))
                ).alias("m")
            )
        )

    med = hist_median(daily, "c")
    # lazily pinned: dev feeds the MAD median's histogram, its total AND
    # the final deviation count — unpinned, the c-median window chain was
    # re-planned (and re-executed) once per reference
    dev = (
        daily.crossJoin(F.broadcast(med))
        .select(F.abs(F.col("c") - F.col("m")).alias("ad"), "c", "m")
        .localCheckpoint(eager=False)
    )
    mad = hist_median(dev.select("ad"), "ad").withColumnRenamed("m", "mad")
    return (
        dev.crossJoin(F.broadcast(mad))
        .groupBy("m", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(
                F.when(F.col("ad") > MAD_K * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            F.col("m").alias("median_cents"),
            F.col("mad").alias("mad_cents"),
            "n_days",
            "n_outliers",
        )
    )


X_MAD_SQL = f"""
WITH {_DAILY_SQL},
h1 AS (SELECT c, COUNT(*) AS cnt FROM daily GROUP BY c),
c1 AS (SELECT c, SUM(cnt) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
       AND CURRENT ROW) AS cum FROM h1),
t1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
med AS (SELECT MIN(CASE WHEN cum >= (n + 1) // 2 THEN c END) AS m
        FROM c1 CROSS JOIN t1),
dev AS (SELECT ABS(d.c - med.m) AS ad, d.c, med.m FROM daily d CROSS JOIN med),
h2 AS (SELECT ad, COUNT(*) AS cnt FROM dev GROUP BY ad),
c2 AS (SELECT ad, SUM(cnt) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
       AND CURRENT ROW) AS cum FROM h2),
mad AS (SELECT MIN(CASE WHEN cum >= (n + 1) // 2 THEN ad END) AS mad
        FROM c2 CROSS JOIN t1)
SELECT dev.m AS median_cents, mad.mad AS mad_cents,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN dev.ad > {MAD_K} * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev CROSS JOIN mad
GROUP BY dev.m, mad.mad
"""


register(x_autocorrelation, X_AUTOCORRELATION_SQL)
register(x_cusum_changepoint, X_CUSUM_SQL)
register(x_mad_outliers, X_MAD_SQL)


# ---------------------------------------------------------------------------
# Temporal join operators + sketch aggregates the reference lacks entirely
# (SURVEY.md §2.4 — no join or time surface of any kind): as-of join, range
# (interval) join, and a deterministic KMV distinct-count sketch.
#
# These are the classic "Spark has no built-in for this" operators; each is
# expressed as a composition of DataFrame ops chosen for its SHUFFLE SHAPE at
# scale, not row-at-a-time logic:
#
# - as-of join: union-then-window (one shuffle on the key, sort-merge within
#   partition) instead of the naive inequality join, whose per-key cross
#   product is quadratic.
# - range join: bin the time axis and equi-join on (key, bin) so Catalyst
#   gets a hash join; the interval length equals the bin width, so every
#   interval spans exactly 2 bins — a bounded 2x fan-out replaces the
#   unbounded inequality-join explosion (the same trick Databricks' range
#   join hints apply).
# - KMV sketch: distinct-count estimation from the k smallest hashes —
#   mergeable (union of sketches = sketch of union), O(k) state per group.
#   Hashing is the shared 60-bit md5 prefix (functions/hashing.py) so the
#   DuckDB oracle replays it bit-exactly; estimates are therefore
#   deterministic, unlike approx_count_distinct's HLL whose internals differ
#   across engines.
#
# Determinism: all time math in integer microseconds (unix_micros ≡
# epoch_us, see FIXTURES.md); double sums via DECIMAL(18,6); the as-of lag
# average is FLOOR(µs) — identical IEEE double ops both engines, no
# decimal-ROUND boundary (engines' ROUND impls diverge by 1 ulp on exact
# halves); 63 * 2^60 is exactly representable in double (6-bit
# significand), so the KMV estimate divides identically in both engines.
# ---------------------------------------------------------------------------


# -- as-of join: purchase -> most recent preceding click ----------------------

def x_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute each purchase to the same user's most recent click at or
    before it (classic attribution as-of join; reference has no joins at
    all, SURVEY.md §2.4).

    Plan shape: filter both sides, UNION, one window over
    (user_id ORDER BY us, event_id) carrying the last non-null click
    timestamp forward — a single hash shuffle on user_id plus an in-
    partition sort. The naive formulation (inequality join + per-purchase
    argmax) shuffles both sides AND builds a per-user cross product; at
    100 TB the union-window form is the only one that survives skewed
    users. Ties at identical microseconds break on event_id (click first
    iff lower id), identical in both engines.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    us = F.unix_micros(F.col("ts"))
    tagged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        us.alias("us"),
        F.when(F.col("event_type") == "click", us).alias("click_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = tagged.withColumn(
        "last_click_us", F.last("click_us", ignorenulls=True).over(w)
    )
    lag_us = F.col("us") - F.col("last_click_us")
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count("last_click_us").alias("n_attributed"),
            F.floor(
                F.sum(lag_us).cast("double") / F.count("last_click_us")
            )
            .cast("long")
            .alias("avg_lag_us"),
            F.sum(
                F.when(
                    F.col("last_click_us").isNotNull(), F.col("value")
                ).cast(DEC)
            )
            .cast("double")
            .alias("attributed_value"),
        )
        .orderBy("user_id")
    )


X_ASOF_JOIN_SQL = """
WITH ce AS (
  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
         CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us
  FROM events
  WHERE event_type IN ('click', 'purchase')
), enr AS (
  SELECT *,
         LAST_VALUE(click_us IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
  FROM ce
)
SELECT user_id,
       COUNT(*) AS n_purchases,
       COUNT(last_click_us) AS n_attributed,
       CAST(FLOOR(CAST(SUM(us - last_click_us) AS DOUBLE)
                  / COUNT(last_click_us)) AS BIGINT) AS avg_lag_us,
       CAST(SUM(CASE WHEN last_click_us IS NOT NULL
                     THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
         AS attributed_value
FROM enr
WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY user_id
"""


# -- range join: follow-up events inside a 10-minute incident window ----------

BIN_US = 600_000_000  # 10 min in microseconds = interval length = bin width


def x_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: how many click/view events land inside the 10-minute
    window after each of their errors (interval join; reference has no
    joins, SURVEY.md §2.4).

    Plan shape: binned range join. Because the interval length equals the
    bin width, interval [t, t+W] intersects exactly bins {t div W,
    t div W + 1}: explode each error into those two candidate bins and
    equi-join on (user_id, bin), then apply the exact range predicate —
    Catalyst gets a shuffled hash join with a bounded 2x build fan-out
    instead of a per-user nested-loop inequality join. LEFT join keeps
    zero-follow errors. All µs math is integer-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), us.alias("err_us")
    )
    follows = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("f_user"),
        us.alias("f_us"),
        F.expr(f"unix_micros(ts) div {BIN_US}").alias("f_bin"),
    )
    cand = errors.withColumn(
        "bin",
        F.explode(
            F.array(
                F.expr(f"err_us div {BIN_US}"),
                F.expr(f"err_us div {BIN_US} + 1"),
            )
        ),
    )
    joined = cand.join(
        follows,
        (F.col("user_id") == F.col("f_user"))
        & (F.col("bin") == F.col("f_bin"))
        & (F.col("f_us") >= F.col("err_us"))
        & (F.col("f_us") <= F.col("err_us") + F.lit(BIN_US)),
        "left",
    )
    per_err = joined.groupBy("user_id", "err_id").agg(
        F.count("f_us").alias("n_follow")
    )
    return (
        per_err.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_errors"),
            F.sum("n_follow").alias("total_follows"),
            F.max("n_follow").alias("max_follows"),
        )
        .orderBy("user_id")
    )


X_RANGE_JOIN_SQL = f"""
WITH errors AS (
  SELECT user_id, event_id AS err_id, epoch_us(ts) AS err_us
  FROM events WHERE event_type = 'error'
), follows AS (
  SELECT user_id AS f_user, epoch_us(ts) AS f_us
  FROM events WHERE event_type IN ('click', 'view')
), per_err AS (
  SELECT e.user_id, e.err_id, COUNT(f.f_us) AS n_follow
  FROM errors e
  LEFT JOIN follows f
    ON f.f_user = e.user_id
   AND f.f_us >= e.err_us AND f.f_us <= e.err_us + {BIN_US}
  GROUP BY 1, 2
)
SELECT user_id,
       COUNT(*) AS n_errors,
       CAST(SUM(n_follow) AS BIGINT) AS total_follows,
       MAX(n_follow) AS max_follows
FROM per_err
GROUP BY user_id
ORDER BY user_id
"""


# -- KMV sketch: deterministic distinct-count estimate ------------------------

KMV_K = 64
TWO_60 = float(1 << 60)  # exactly representable: power of two


def x_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l_partkey per l_returnflag, estimated with a k-minimum-
    values sketch (k=64) next to the exact count (reference has no
    aggregation surface, SURVEY.md §2.4).

    KMV: hash every value uniformly into [0, 2^60); the k-th smallest
    hash h_k estimates distinct ≈ (k-1) * 2^60 / h_k. Sketches merge by
    unioning hash sets and re-truncating to k, so at 100 TB this runs as
    a map-side partial (each partition keeps its k smallest) + one tiny
    shuffle of k longs per group — versus the full shuffle of every
    distinct value the exact count needs. Here the reference plan keeps
    the exact count alongside (the test IS the comparison); groups with
    fewer than k values fall back to the exact count, the standard KMV
    small-cardinality rule. Deterministic md5-prefix hashing makes the
    estimate reproducible and oracle-checkable, unlike HLL.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_partkey")
        .distinct()
    )
    hashed = li.select(
        "l_returnflag", md5_long(F.col("l_partkey").cast("string")).alias("h")
    )
    w = Window.partitionBy("l_returnflag").orderBy("h")
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    agg = ranked.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("kth"),
        F.count(F.lit(1)).alias("true_distinct"),
    )
    est = F.when(
        F.col("kth").isNull(), F.col("true_distinct").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(KMV_K - 1)) * F.lit(TWO_60) / F.col("kth").cast("double"),
            6,
        )
    )
    return agg.select(
        F.col("l_returnflag").alias("grp"),
        "true_distinct",
        est.alias("est_distinct"),
    ).orderBy("grp")


X_KMV_DISTINCT_SQL = f"""
WITH d AS (
  SELECT DISTINCT l_returnflag, l_partkey FROM lineitem
), h AS (
  SELECT l_returnflag,
         {sql_md5_long("CAST(l_partkey AS VARCHAR)")} AS h
  FROM d
), r AS (
  SELECT l_returnflag, h,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM h
), a AS (
  SELECT l_returnflag,
         MAX(CASE WHEN rn = {KMV_K} THEN h END) AS kth,
         COUNT(*) AS true_distinct
  FROM r GROUP BY 1
)
SELECT l_returnflag AS grp,
       true_distinct,
       CASE WHEN kth IS NULL THEN CAST(true_distinct AS DOUBLE)
            ELSE ROUND(CAST('{KMV_K - 1}' AS DOUBLE)
                       * CAST('{1 << 60}' AS DOUBLE)
                       / CAST(kth AS DOUBLE), 6)
       END AS est_distinct
FROM a
ORDER BY grp
"""


# -- hypertable rollup: hierarchical time-bucket aggregates -------------------

HOUR_US = 3_600_000_000


def x_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type event aggregates computed FROM hourly partials — the
    TimescaleDB continuous-aggregate / hypertable-rollup pattern
    (reference has no time or aggregation surface, SURVEY.md §2.4).

    Plan shape: the hourly tier aggregates raw events once (map-side
    partial + one shuffle on (hour, type)); the daily tier then shuffles
    only |hours|x|types| partial rows, not raw events — at 100 TB the
    coarse tiers are effectively free, and columns like peak_hour_events
    / n_active_hours are only computable from the hierarchy, not from a
    flat daily groupBy. In production the hourly tier is an incremental
    materialized sink (streaming/ has the watermarked writeStream
    equivalent); here both tiers run in one plan. Bucket indices are
    integer µs divisions — exact in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("hour_idx", F.expr(f"unix_micros(ts) div {HOUR_US}"))
        .groupBy("hour_idx", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).alias("sv"),
        )
    )
    return (
        hourly.withColumn("day_idx", F.expr("hour_idx div 24"))
        .groupBy("day_idx", "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
            F.max("n").alias("peak_hour_events"),
            F.count(F.lit(1)).alias("n_active_hours"),
        )
        .orderBy("day_idx", "event_type")
    )


X_HYPERTABLE_ROLLUP_SQL = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // {HOUR_US} AS hour_idx, event_type,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,6))) AS sv
  FROM events
  GROUP BY 1, 2
)
SELECT hour_idx // 24 AS day_idx, event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(sv) AS DOUBLE) AS sum_value,
       MAX(n) AS peak_hour_events,
       COUNT(*) AS n_active_hours
FROM hourly
GROUP BY 1, 2
ORDER BY day_idx, event_type
"""


# -- KMV set algebra: sketch-estimated audience overlap -----------------------

EVENT_PAIRS = [
    ("click", "purchase"),
    ("view", "purchase"),
    ("error", "signup"),
]


def x_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated vs exact user-audience overlap between event types via
    KMV sketch set algebra: the k smallest hashes of A ∪ B form the union
    sketch; the fraction of them present in both sides, scaled by the
    union estimate, estimates |A ∩ B| (Beyer et al., SIGMOD'07).

    This is the operation sketches exist for at 100 TB: the exact overlap
    needs a full shuffle of every (type, user) pair, while sketch
    intersection ships k=64 longs per side and composes (the per-type
    sketches would be precomputed once and reused across all pairs).
    Groups with < k union hashes fall back to exact (sketch is lossless
    there) — sf0.001 exercises that branch, sf0.01+ the estimate branch.
    The estimate expression is written with identical association in both
    engines, so the doubles are bit-equal without rounding.
    """
    ev = load_table(spark, sf_dir, "events")
    pairs = spark.createDataFrame(EVENT_PAIRS, "t1 string, t2 string")
    s = ev.select(
        "event_type", md5_long(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    tagged = s.join(
        F.broadcast(pairs),
        (F.col("event_type") == F.col("t1"))
        | (F.col("event_type") == F.col("t2")),
    )
    member = tagged.groupBy("t1", "t2", "h").agg(
        F.max((F.col("event_type") == F.col("t1")).cast("int")).alias("in_a"),
        F.max((F.col("event_type") == F.col("t2")).cast("int")).alias("in_b"),
    )
    w = Window.partitionBy("t1", "t2").orderBy("h")
    ranked = member.withColumn("rn", F.row_number().over(w))
    agg = (
        ranked.filter(F.col("rn") <= KMV_K)
        .groupBy("t1", "t2")
        .agg(
            F.max("h").alias("kth"),
            F.count(F.lit(1)).alias("sk_size"),
            F.sum(
                (F.col("in_a") * F.col("in_b")).cast("long")
            ).alias("k_both"),
        )
    )
    exact = (
        member.groupBy("t1", "t2")
        .agg(
            F.sum((F.col("in_a") * F.col("in_b")).cast("long")).alias(
                "true_intersection"
            )
        )
    )
    est = F.when(
        F.col("sk_size") < KMV_K, F.col("k_both").cast("double")
    ).otherwise(
        F.col("k_both").cast("double")
        * F.lit(float(KMV_K - 1))
        * F.lit(TWO_60)
        / F.col("kth").cast("double")
        / F.lit(float(KMV_K))
    )
    return (
        agg.join(exact, ["t1", "t2"])
        .select("t1", "t2", "true_intersection", est.alias("est_intersection"))
        .orderBy("t1", "t2")
    )


_PAIRS_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in EVENT_PAIRS)

X_KMV_INTERSECT_SQL = f"""
WITH pairs(t1, t2) AS (VALUES {_PAIRS_VALUES}),
s AS (
  SELECT DISTINCT event_type,
         {sql_md5_long("CAST(user_id AS VARCHAR)")} AS h
  FROM events
), member AS (
  SELECT p.t1, p.t2, s.h,
         MAX(CASE WHEN s.event_type = p.t1 THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.event_type = p.t2 THEN 1 ELSE 0 END) AS in_b
  FROM s JOIN pairs p ON s.event_type = p.t1 OR s.event_type = p.t2
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY t1, t2 ORDER BY h) AS rn
  FROM member
), a AS (
  SELECT t1, t2, MAX(h) AS kth, COUNT(*) AS sk_size,
         CAST(SUM(in_a * in_b) AS BIGINT) AS k_both
  FROM ranked WHERE rn <= {KMV_K}
  GROUP BY 1, 2
), exact AS (
  SELECT t1, t2, CAST(SUM(in_a * in_b) AS BIGINT) AS true_intersection
  FROM member GROUP BY 1, 2
)
SELECT a.t1, a.t2, exact.true_intersection,
       CASE WHEN a.sk_size < {KMV_K} THEN CAST(a.k_both AS DOUBLE)
            ELSE CAST(a.k_both AS DOUBLE)
                 * CAST('{KMV_K - 1}' AS DOUBLE)
                 * CAST('{1 << 60}' AS DOUBLE)
                 / CAST(a.kth AS DOUBLE)
                 / CAST('{KMV_K}' AS DOUBLE)
       END AS est_intersection
FROM a JOIN exact ON a.t1 = exact.t1 AND a.t2 = exact.t2
ORDER BY a.t1, a.t2
"""


# -- count-min sketch: heavy-hitter frequency estimation ----------------------

CM_DEPTH = 4
CM_WIDTH = 1024
CM_TOPN = 10


def x_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for the 10 most active users,
    next to their exact event counts (Cormode-Muthukrishnan'05; reference
    has no aggregation surface, SURVEY.md §2.4).

    The sketch is a d x w counter matrix (d=4, w=1024): each event
    increments one counter per row at bucket md5(row:user) mod w; a
    user's estimate is the MIN of its d counters — always >= truth, over
    by at most ~2n/w with probability 1 - 2^-d. At 100 TB the matrix is
    4 KiB of state per partition, merged by addition (vs a full shuffle
    per exact count); here both the sketch fill (explode d rows ->
    groupBy (row, bucket), map-side partial) and the probe (broadcast of
    top-N x d cells) are DataFrame ops so the DuckDB oracle replays the
    exact same counters. Integer-only math — no float drift.
    """
    ev = load_table(spark, sf_dir, "events")
    rows = F.array(*[F.lit(j) for j in range(CM_DEPTH)])
    cell = ev.select(
        F.explode(rows).alias("j"), F.col("user_id")
    ).select(
        "j",
        (
            md5_long(
                F.concat(
                    F.col("j").cast("string"),
                    F.lit(":"),
                    F.col("user_id").cast("string"),
                )
            )
            % CM_WIDTH
        ).alias("bucket"),
    )
    counters = cell.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    heavy = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_freq"))
        .orderBy(F.desc("true_freq"), "user_id")
        .limit(CM_TOPN)
    )
    probes = heavy.select(
        "user_id", "true_freq", F.explode(rows).alias("j")
    ).withColumn(
        "bucket",
        md5_long(
            F.concat(
                F.col("j").cast("string"),
                F.lit(":"),
                F.col("user_id").cast("string"),
            )
        )
        % CM_WIDTH,
    )
    return (
        F.broadcast(probes)
        .join(counters, ["j", "bucket"])
        .groupBy("user_id", "true_freq")
        .agg(F.min("cnt").alias("est_freq"))
        .orderBy("user_id")
    )


_CM_ROWS = ", ".join(f"({j})" for j in range(CM_DEPTH))

X_COUNTMIN_FREQ_SQL = f"""
WITH rows_(j) AS (VALUES {_CM_ROWS}),
cell AS (
  SELECT r.j,
         {sql_md5_long("CAST(r.j AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)")}
           % {CM_WIDTH} AS bucket
  FROM events e CROSS JOIN rows_ r
), counters AS (
  SELECT j, bucket, COUNT(*) AS cnt FROM cell GROUP BY 1, 2
), heavy AS (
  SELECT user_id, COUNT(*) AS true_freq
  FROM events GROUP BY 1
  ORDER BY true_freq DESC, user_id LIMIT {CM_TOPN}
), probes AS (
  SELECT h.user_id, h.true_freq, r.j,
         {sql_md5_long("CAST(r.j AS VARCHAR) || ':' || CAST(h.user_id AS VARCHAR)")}
           % {CM_WIDTH} AS bucket
  FROM heavy h CROSS JOIN rows_ r
)
SELECT p.user_id, p.true_freq, MIN(c.cnt) AS est_freq
FROM probes p JOIN counters c ON c.j = p.j AND c.bucket = p.bucket
GROUP BY 1, 2
ORDER BY p.user_id
"""


register(x_asof_join, X_ASOF_JOIN_SQL)
register(x_range_join, X_RANGE_JOIN_SQL)
register(x_kmv_distinct, X_KMV_DISTINCT_SQL)
register(x_hypertable_rollup, X_HYPERTABLE_ROLLUP_SQL)
register(x_kmv_intersect, X_KMV_INTERSECT_SQL)
register(x_countmin_freq, X_COUNTMIN_FREQ_SQL)


# ---------------------------------------------------------------------------
# Profiling and time-series-completion operators: calendar gap-fill with
# forward-fill, equi-width value histograms, and shortest-path (geodesic)
# counting — the Brandes forward pass.
#
# The reference (kerighan/kinbaku) has no aggregation/window surface
# (SURVEY.md §2.4) and its only path primitive is one-hop traversal; these
# extend the analytics surface on `events` / `lineitem` and the derived
# supplier→part graph.
#
# Shuffle shapes (the 100 TB story):
#
# - gap-fill: ONE groupBy(event_type, hour) with map-side partials collapses
#   the raw events; the calendar scaffold is a types x hours cross join of
#   two tiny inputs (types O(10), hours O(10^4) even for a year) — the
#   fact table is never joined against itself; the forward-fill window
#   repartitions only the O(types x hours) scaffold.
# - histogram: min/max is one all-partial aggregate broadcast back via
#   crossJoin (no global window over the fact table); bucketing is a
#   shuffle-free projection; the final groupBy has 20 output rows.
# - geodesic counts: per-round frontier join + (key)-sum aggregation — the
#   distributed Brandes sigma forward pass; each round touches only the
#   frontier, lineage is truncated per round (localCheckpoint), and sigma
#   sums are exact BIGINTs (order-free).
#
# Determinism: histogram bucketing runs on integer cents with integer div
# (both engines floor identically); gap-filled sums go through the
# DECIMAL(18,6) route (relational.py header); sigma is integer path
# counting, no floats anywhere.
# ---------------------------------------------------------------------------


# -- x_gap_fill_ffill: hourly series completion with forward fill ------------

def x_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type hourly series on a complete calendar: hours with no
    events appear with n_events=0, gap=true, and the running value
    carried forward from the last observed hour (the standard
    time-series regularization before any rolling-window model).

    The scaffold (types x hours) is built from two one-row aggregates —
    the events table is scanned exactly once for the hourly rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("value").alias("sv"),
    )
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    types = ev.select("event_type").distinct()
    scaffold = types.crossJoin(hours)
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scaffold.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.last("sv", ignorenulls=True).over(w).alias("sum_value_filled"),
            F.col("n").isNull().alias("gap"),
        )
        .orderBy("event_type", "hr")
    )


X_GAP_FILL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
scaffold AS (
  SELECT t.event_type, h.hr
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
              FROM span) h
)
SELECT s.event_type, s.hr,
       COALESCE(h.n, 0) AS n_events,
       last_value(h.sv IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_filled,
       h.n IS NULL AS gap
FROM scaffold s LEFT JOIN hourly h
  ON h.event_type = s.event_type AND h.hr = s.hr
ORDER BY s.event_type, s.hr
"""


# -- x_value_histogram: equi-width price histogram ---------------------------

HIST_BUCKETS = 20


def x_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of l_extendedprice in 20 buckets — the
    profiling primitive behind optimizer statistics and data-drift
    monitors.

    Prices are quantized to integer cents first, so the bucket rule is
    pure integer arithmetic ((cents-min)*K div width) and both engines
    floor identically; the min/max pass broadcasts one row back.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    stats = cents.agg(F.min("c").alias("mn"), F.max("c").alias("mx"))
    return (
        cents.crossJoin(F.broadcast(stats))
        .select(
            F.expr(f"(c - mn) * {HIST_BUCKETS} div (mx - mn + 1)").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .withColumn(
            "share_ppm",
            F.expr("n_items * 1000000 div sum(n_items) over ()"),
        )
        .orderBy("bucket")
    )


X_VALUE_HISTOGRAM_SQL = f"""
WITH cents AS (
  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
),
stats AS (SELECT MIN(c) AS mn, MAX(c) AS mx FROM cents),
bucketed AS (
  SELECT ((c - mn) * {HIST_BUCKETS}) // (mx - mn + 1) AS bucket
  FROM cents CROSS JOIN stats
),
agg AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_items FROM bucketed GROUP BY bucket
)
SELECT bucket, n_items,
       CAST((n_items * 1000000) // SUM(n_items) OVER () AS BIGINT) AS share_ppm
FROM agg
ORDER BY bucket
"""


register(x_gap_fill_ffill, X_GAP_FILL_SQL)
register(x_value_histogram, X_VALUE_HISTOGRAM_SQL)


# ---------------------------------------------------------------------------
# RANGE-frame windows over sparse time series, and the rich-club
# coefficient of the derived graph.
#
# The reference (kerighan/kinbaku) has no window/metric surface (SURVEY.md
# §2.4); these extend the window-function and graph-metric layers.
#
# Shuffle shapes (the 100 TB story):
#
# - range-frame revenue: the fact table pre-aggregates to one row per DAY
#   (map-side partials); the trailing-30-day RANGE frame runs over the
#   tiny sparse day series. ROWS frames silently under-count when days
#   are missing — this operator exists to pin the RANGE semantics.
# - rich club: degrees are one groupBy; the top-K selection is a
#   TakeOrdered over |V|; the projection pair count self-joins only the
#   K-node incidence slice (bounded fan-out), never the full edge table.
#
# Determinism: day ordering keys are integer epoch-days in BOTH engines
# (identical RANGE frame membership); sums in integer cents; the
# coefficient is integer ppm; top-K ties break on node key.
# ---------------------------------------------------------------------------


# -- x_range_frame_revenue: trailing 30-day sums over a sparse series --------

def x_range_frame_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order-day: day revenue plus the trailing-30-day revenue and
    active-day count via a RANGE frame keyed on integer epoch-days —
    correct over the sparse order calendar where a ROWS frame would
    reach back a fixed row count and silently span months.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    keyed = daily.withColumn(
        "epoch_day", F.datediff("day", F.lit("1970-01-01").cast("date"))
    )
    w = Window.orderBy("epoch_day").rangeBetween(-29, 0)
    return (
        keyed.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cents",
            F.sum("cents").over(w).alias("trail30_cents"),
            F.count(F.lit(1)).over(w).cast("long").alias("trail30_active_days"),
        )
        .orderBy("day")
    )


X_RANGE_FRAME_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
keyed AS (
  SELECT day, cents, datediff('day', DATE '1970-01-01', day) AS epoch_day
  FROM daily
)
SELECT strftime(day, '%Y-%m-%d') AS day, cents,
       CAST(SUM(cents) OVER w AS BIGINT) AS trail30_cents,
       CAST(COUNT(*) OVER w AS BIGINT) AS trail30_active_days
FROM keyed
WINDOW w AS (ORDER BY epoch_day RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
ORDER BY day
"""


register(x_range_frame_revenue, X_RANGE_FRAME_SQL)


# ---------------------------------------------------------------------------
# Behavioral-analytics and pipeline-governance operators: event-type
# Markov transitions, session path mining, leakage-audited temporal splits,
# inverse-frequency class weights, and blocklist safety filtering.
#
# The reference (kerighan/kinbaku) has no event/sequence surface at all
# (SURVEY.md §2.4 — no window functions, no aggregation framework); these
# extend the behavioral/curation surface on the driver's `events` /
# `documents` / `embeddings` tables.
#
# Shuffle shapes (the 100 TB story):
#
# - transitions: ONE window shuffle partitioned by user_id (users are the
#   natural partition key; no global sort), then a groupBy over
#   (cur, next) whose output is O(|event_types|^2) — tiny regardless of
#   corpus size, with map-side partial aggregation.
# - session paths: reuses the same user_id partitioning for gap
#   sessionization AND the per-session rank — one shuffle serves both
#   windows; the path groupBy keys on (user_id, session_id) so it stays in
#   the same hash space; the final top-k is a TakeOrderedAndProject over
#   the O(paths) aggregate, never a global sort of events.
# - temporal split: two-level aggregate — (event_type, user_id) partials
#   first (map-side combine collapses each user's events), then the tiny
#   per-type rollup; no distinct-shuffle over raw events.
# - class weights: one groupBy(label) — output is O(labels).
# - blocklist: shuffle-free projection + one groupBy(source); the
#   blocklist itself is a literal expression (at 100 TB with a large
#   lexicon, swap for a broadcast join against a terms table — same plan
#   shape, still no fact-side shuffle).
#
# Determinism: probabilities/ratios are exact BIGINT ppm (integer div —
# no double-summation order hazards); path strings are built from
# explicitly rank-ordered arrays, never engine collection order; blocklist
# matching uses substring containment on space-padded lowercase text, not
# regex (dialect-proof).
# ---------------------------------------------------------------------------


# -- x_event_transitions: first-order Markov chain over event types ----------

def x_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive event-type pairs -> transition counts and
    conditional P(next | cur) in exact integer ppm.

    The user-journey Markov model (next-action prediction, funnel
    drop-off). One window shuffle on user_id; the (cur,next) aggregate is
    bounded by the event-type vocabulary, not the event count.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("next"),
        )
        .where(F.col("next").isNotNull())
        .groupBy("cur", "next")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wtot = Window.partitionBy("cur")
    return (
        pairs.withColumn("n_from_cur", F.sum("n_transitions").over(wtot))
        .select(
            "cur",
            "next",
            "n_transitions",
            F.expr("n_transitions * 1000000 div n_from_cur").alias("prob_ppm"),
        )
        .orderBy("cur", "next")
    )


X_EVENT_TRANSITIONS_SQL = """
WITH pairs AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next
  FROM events
),
agg AS (
  SELECT cur, next, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM pairs WHERE next IS NOT NULL GROUP BY cur, next
)
SELECT cur, next, n_transitions,
       CAST((n_transitions * 1000000)
            // SUM(n_transitions) OVER (PARTITION BY cur) AS BIGINT) AS prob_ppm
FROM agg
ORDER BY cur, next
"""


# -- x_session_paths: most common session-opening paths ----------------------

PATH_PREFIX_LEN = 5  # events per session kept in the path signature
TOP_PATHS = 20


def x_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths: the first 5 event types of every session
    (30-min gap rule shared with q_events_sessions), concatenated in
    order, ranked by frequency.

    The journey-mining complement of the transition matrix: full ordered
    prefixes, not first-order hops. The path string is built from an
    explicitly rank-sorted array (array_sort over (rank, type) structs) —
    never collect_list's arrival order.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    sess = ev.withColumn(
        "new_session",
        F.when(gap <= SESSION_GAP_US, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn("session_id", F.sum("new_session").over(wsum))
    wrank = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    paths = (
        sess.withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") <= PATH_PREFIX_LEN)
        .groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
            ).alias("path"),
            F.count(F.lit(1)).alias("path_len"),
        )
    )
    return (
        paths.groupBy("path", "path_len")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(TOP_PATHS)
    )


X_SESSION_PATHS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
              (PARTITION BY user_id ORDER BY ts, event_id) <= {SESSION_GAP_US}
         THEN 0 ELSE 1 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts, event_id, event_type,
    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
), ranked AS (
  SELECT user_id, session_id, event_type,
    ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                       ORDER BY ts, event_id) AS rn
  FROM numbered
), per_session AS (
  SELECT user_id, session_id,
         STRING_AGG(event_type, '>' ORDER BY rn) AS path,
         CAST(COUNT(*) AS BIGINT) AS path_len
  FROM ranked WHERE rn <= {PATH_PREFIX_LEN}
  GROUP BY user_id, session_id
)
SELECT path, path_len, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM per_session
GROUP BY path, path_len
ORDER BY n_sessions DESC, path
LIMIT {TOP_PATHS}
"""


# -- x_temporal_split: time-cutoff train/test split with leakage audit -------

SPLIT_CUTOFF = "2024-01-22"  # ~70/30 over the driver's Jan-2024 event span


def x_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/test split at a fixed cutoff with a per-type
    leakage audit: how many users appear on BOTH sides (entity leakage —
    the failure mode a random split hides and a temporal split must
    report).

    Two-level aggregate: (event_type, user_id) partials collapse each
    user's events map-side; the rollup to per-type counts touches
    O(types x users) rows, never the raw events twice.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(SPLIT_CUTOFF).cast("timestamp")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, 1).otherwise(0)).alias("n_tr"),
        F.sum(F.when(F.col("ts") >= cutoff, 1).otherwise(0)).alias("n_te"),
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.sum("n_tr").cast("long").alias("n_train"),
            F.sum("n_te").cast("long").alias("n_test"),
            F.sum(F.when(F.col("n_tr") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_users_train"),
            F.sum(F.when(F.col("n_te") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_users_test"),
            F.sum(F.when((F.col("n_tr") > 0) & (F.col("n_te") > 0), 1).otherwise(0))
            .cast("long")
            .alias("n_users_leaked"),
        )
        .orderBy("event_type")
    )


X_TEMPORAL_SPLIT_SQL = f"""
WITH per_user AS (
  SELECT event_type, user_id,
         SUM(CASE WHEN ts < TIMESTAMP '{SPLIT_CUTOFF}' THEN 1 ELSE 0 END) AS n_tr,
         SUM(CASE WHEN ts >= TIMESTAMP '{SPLIT_CUTOFF}' THEN 1 ELSE 0 END) AS n_te
  FROM events GROUP BY event_type, user_id
)
SELECT event_type,
       CAST(SUM(n_tr) AS BIGINT) AS n_train,
       CAST(SUM(n_te) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN n_tr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_train,
       CAST(SUM(CASE WHEN n_te > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_test,
       CAST(SUM(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_users_leaked
FROM per_user
GROUP BY event_type
ORDER BY event_type
"""


# -- x_class_weights: inverse-frequency loss weights -------------------------

def x_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label inverse-frequency weights over the embedding corpus
    (sklearn's `class_weight='balanced'`: total / (n_classes * n_label)),
    in exact integer ppm.

    One groupBy(label); the normalizing totals run on the O(labels)
    aggregate via a single-partition window — labels are O(100) even at
    100 TB.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    per = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_samples"))
    w = Window.partitionBy()
    return (
        per.withColumn("total", F.sum("n_samples").over(w))
        .withColumn("k", F.count(F.lit(1)).over(w))
        .select(
            "label",
            "n_samples",
            F.expr("n_samples * 1000000 div total").alias("share_ppm"),
            F.expr("total * 1000000 div (k * n_samples)").alias("weight_ppm"),
        )
        .orderBy("label")
    )


X_CLASS_WEIGHTS_SQL = """
WITH per AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_samples
  FROM embeddings GROUP BY label
)
SELECT label, n_samples,
       CAST((n_samples * 1000000) // (SELECT SUM(n_samples) FROM per) AS BIGINT)
         AS share_ppm,
       CAST(((SELECT SUM(n_samples) FROM per) * 1000000)
            // ((SELECT COUNT(*) FROM per) * n_samples) AS BIGINT) AS weight_ppm
FROM per
ORDER BY label
"""


# -- x_safety_blocklist: lexicon-based content filter ------------------------

# Stand-in lexicon (real deployments broadcast-join a curated terms table;
# the plan shape is identical). Lowercase, no punctuation.
BLOCKLIST = ("attack", "exploit", "weapon", "malware")


def x_safety_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source safety-filter report: docs flagged by a word-boundary
    blocklist match, with the flag rate in ppm — the lexicon gate every
    pretraining pipeline runs before model-based toxicity scoring.

    Matching is substring containment on space-padded lowercase text
    (' ' || lower(text) || ' ' CONTAINS ' term '): word-boundary-safe
    without regex, so both engines agree by construction. Shuffle-free
    projection + one groupBy(source).
    """
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    flagged = None
    for term in BLOCKLIST:
        hit = F.contains(padded, F.lit(f" {term} "))
        flagged = hit if flagged is None else (flagged | hit)
    return (
        docs.withColumn("flagged", flagged)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("flagged"), 1).otherwise(0))
            .cast("long")
            .alias("n_flagged"),
        )
        .withColumn("flag_ppm", F.expr("n_flagged * 1000000 div n_docs"))
        .orderBy("source")
    )


def _blocklist_sql() -> str:
    clauses = " OR ".join(
        f"contains(' ' || lower(text) || ' ', ' {t} ')" for t in BLOCKLIST
    )
    return f"""
WITH scored AS (
  SELECT source, ({clauses}) AS flagged FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST((SUM(CASE WHEN flagged THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
            AS BIGINT) AS flag_ppm
FROM scored
GROUP BY source
ORDER BY source
"""


register(x_event_transitions, X_EVENT_TRANSITIONS_SQL)
register(x_session_paths, X_SESSION_PATHS_SQL)
register(x_temporal_split, X_TEMPORAL_SPLIT_SQL)
register(x_class_weights, X_CLASS_WEIGHTS_SQL)
register(x_safety_blocklist, _blocklist_sql())


# ---------------------------------------------------------------------------
# Warehouse/pipeline operators the reference lacks entirely (SURVEY.md
# §2.4 — no time surface, no windows, no joins): cohort retention, moving
# z-score anomaly flags, SCD type-2 history construction from an event log,
# a data-quality audit, and overlapping document chunking (RAG prep).
#
# Shuffle shapes (the 100 TB story):
#
# - retention: the activity stream collapses to distinct (user, day) FIRST
#   (map-side combine on the dominant key), then one groupBy user for the
#   cohort date; the join back is user-dimension-sized and broadcast. The
#   final (cohort, week) rollup is tiny. No self-join of raw events.
# - anomaly: window runs over the already-reduced daily series (thousands
#   of rows after one groupBy) — never over raw facts.
# - scd2: one hash shuffle on the entity key; both window passes share the
#   same partitioning and sort prefix, so Catalyst plans a single exchange
#   + sort. At 100 TB this is the canonical "build dimension history from
#   a change log" shape: shuffle once by key, window twice for free.
# - dq audit: the three intra-table check groups fuse into one scan + one
#   conditional aggregate per table (no per-check passes); referential
#   checks are anti-joins that broadcast the PK side when small and
#   shuffle-join otherwise. Output is a handful of rows.
# - chunking: pure 1→N rowwise explode — no shuffle at all; chunk math is
#   arithmetic on the existing length column, so the scan prunes to
#   (doc_id, text). At 100 TB the operator is embarrassingly parallel and
#   bounded by parquet read + write.
#
# Determinism: integer day/week arithmetic, DECIMAL(18,6) sums cast to
# double only at the end, identical double expression trees on both
# engines, ties broken on unique keys (o_orderkey).
# ---------------------------------------------------------------------------


# -- weekly cohort retention ---------------------------------------------------

def x_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by first-activity day
    (cohort), counted as retained in week N if active in [N*7, N*7+7)
    days after their cohort day.

    Raw events collapse to distinct (user_id, day) before any join —
    at 100 TB that distinct is the only big shuffle, keyed on the same
    (user, day) the downstream groupBy needs. The cohort map is
    |users|-sized and broadcast back.
    """
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
    )
    cohorts = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(F.broadcast(cohorts), "user_id")
        .select(
            "cohort_day",
            F.floor(F.datediff(F.col("day"), F.col("cohort_day")) / 7)
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.count_distinct("user_id").alias("users"))
        .orderBy("cohort_day", "week_offset")
    )


X_RETENTION_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
cohorts AS (
  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT c.cohort_day,
       CAST(FLOOR(date_diff('day', c.cohort_day, d.day) / 7.0) AS BIGINT)
         AS week_offset,
       COUNT(DISTINCT d.user_id) AS users
FROM days d JOIN cohorts c ON c.user_id = d.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


# -- moving z-score anomaly flags over the daily revenue series ---------------

def x_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 28-day z-score anomaly flags on daily order revenue.
    The daily series is reduced to exact integer micro-units (BIGINT);
    the frame's power sums (sum, sum-of-daily-squares) stay exact
    integers (DECIMAL(38,0) on Spark, HUGEINT on DuckDB), converted to
    double only for the final mean/σ/z expressions — the identical
    expression tree then runs on both engines, so the doubles match
    bit-for-bit.

    The window sees the post-aggregation daily series, not raw orders.
    """
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast(DEC)
    daily = (
        orders.select(
            F.date_trunc("day", F.col("o_orderdate")).alias("day"),
            p.alias("p"),
        )
        .groupBy("day")
        .agg((F.sum("p") * 1000000).cast("bigint").alias("rev_u"))
    )
    sq = F.col("rev_u").cast("decimal(38,0)") * F.col("rev_u").cast(
        "decimal(38,0)"
    )
    daily = daily.withColumn("sq_u", sq)
    w = Window.orderBy("day").rowsBetween(-27, Window.currentRow)
    s1 = F.sum("rev_u").over(w).cast("double") / 1000000.0
    s2 = F.sum("sq_u").over(w).cast("double") / 1000000000000.0
    n = F.count(F.lit(1)).over(w)
    stats = daily.select(
        "day",
        (F.col("rev_u").cast("double") / 1000000.0).alias("rev"),
        s1.alias("s1"),
        s2.alias("s2"),
        n.alias("n"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    out = stats.select(
        "day",
        "rev",
        mean.alias("mean28"),
        F.when((F.col("n") > 1) & (var > 0), F.sqrt(var)).alias("sd28"),
    )
    z = (F.col("rev") - F.col("mean28")) / F.col("sd28")
    return (
        out.select(
            "day",
            "rev",
            "mean28",
            "sd28",
            z.alias("z"),
            F.coalesce(F.abs(z) > 2.5, F.lit(False)).alias("is_anomaly"),
        )
        .orderBy("day")
    )


X_ANOMALY_SQL = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT)
           AS rev_u
  FROM orders GROUP BY 1
),
sq AS (
  SELECT day, rev_u,
         CAST(rev_u AS HUGEINT) * CAST(rev_u AS HUGEINT) AS sq_u
  FROM daily
),
stats AS (
  SELECT day, CAST(rev_u AS DOUBLE) / 1000000.0 AS rev,
         CAST(SUM(rev_u) OVER w AS DOUBLE) / 1000000.0 AS s1,
         CAST(SUM(sq_u) OVER w AS DOUBLE) / 1000000000000.0 AS s2,
         COUNT(*) OVER w AS n
  FROM sq
  WINDOW w AS (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT day, rev, s1 / n AS mean28,
         CASE WHEN n > 1 AND (s2 - s1 * s1 / n) / (n - 1) > 0
              THEN SQRT((s2 - s1 * s1 / n) / (n - 1)) END AS sd28
  FROM stats
)
SELECT day, rev, mean28, sd28,
       (rev - mean28) / sd28 AS z,
       COALESCE(ABS((rev - mean28) / sd28) > 2.5, FALSE) AS is_anomaly
FROM scored ORDER BY day
"""


# -- SCD type-2 history from a change log -------------------------------------

def x_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a slowly-changing-dimension (type 2) history of each
    customer's order priority from the orders log: consecutive equal
    values collapse, each change opens a [valid_from, valid_to) interval,
    the live row has valid_to NULL. The standard "dimension history from
    CDC/event log" construction.

    One shuffle on o_custkey; the change-point filter and the interval
    close (lead) share that partitioning and sort order.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
        .withColumn("prev", F.lag("o_orderpriority").over(w))
        .filter(
            F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority"))
        )
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        changes.select(
            "o_custkey",
            F.row_number().over(w2).alias("version"),
            "o_orderpriority",
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w2).alias("valid_to"),
        )
        .orderBy("o_custkey", "version")
    )


X_SCD2_SQL = """
WITH marked AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
         LAG(o_orderpriority) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS prev
  FROM orders
),
changes AS (
  SELECT * FROM marked
  WHERE prev IS NULL OR prev <> o_orderpriority
)
SELECT o_custkey,
       ROW_NUMBER() OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS version,
       o_orderpriority,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS valid_to
FROM changes ORDER BY o_custkey, version
"""


# -- data-quality audit (Deequ-style constraint suite) ------------------------

def x_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suite over the warehouse in a handful of fused scans:
    completeness (nulls), uniqueness (PK duplicates), referential
    integrity (orphan FKs via anti-join), and a domain rule — each check
    one row (check, violations).

    Intra-table checks fuse into ONE conditional aggregate per table;
    the two referential checks are anti-joins (broadcast the PK side
    when it fits, shuffle otherwise — Catalyst decides).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    cnt = F.count(F.lit(1))
    li_checks = li.agg(
        F.sum(F.col("l_orderkey").isNull().cast("bigint")).alias(
            "lineitem_null_orderkey"
        ),
        F.sum((F.col("l_quantity") <= 0).cast("bigint")).alias(
            "lineitem_nonpositive_qty"
        ),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("bigint")
        ).alias("lineitem_discount_range"),
    )
    o_checks = orders.agg(
        (cnt - F.count_distinct("o_orderkey")).alias("orders_dup_pk"),
        F.sum((F.col("o_totalprice") <= 0).cast("bigint")).alias(
            "orders_nonpositive_total"
        ),
    )
    orphan_li = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(cnt.alias("v"))
        .select(F.lit("lineitem_orphan_orderkey").alias("dq_check"), F.col("v"))
    )
    orphan_o = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(cnt.alias("v"))
        .select(F.lit("orders_orphan_custkey").alias("dq_check"), F.col("v"))
    )

    def melt(df: DataFrame) -> DataFrame:
        cols = df.columns
        pairs = []
        for c in cols:
            pairs += [F.lit(c), F.col(c).cast("bigint")]
        return df.select(
            F.explode(F.create_map(*pairs)).alias("dq_check", "v")
        )

    return (
        melt(li_checks)
        .unionByName(melt(o_checks))
        .unionByName(orphan_li)
        .unionByName(orphan_o)
        .select("dq_check", F.col("v").alias("violations"))
        .orderBy("dq_check")
    )


X_DQ_SQL = """
SELECT 'lineitem_null_orderkey' AS dq_check,
       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS violations
FROM lineitem
UNION ALL
SELECT 'lineitem_nonpositive_qty',
       CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_discount_range',
       CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'orders_dup_pk',
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'orders_nonpositive_total',
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem_orphan_orderkey', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'orders_orphan_custkey', CAST(COUNT(*) AS BIGINT)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
ORDER BY dq_check
"""


register(x_retention_cohorts, X_RETENTION_SQL)
register(x_anomaly_zscore, X_ANOMALY_SQL)
register(x_scd2_history, X_SCD2_SQL)
register(x_dq_audit, X_DQ_SQL)


# -- last-touch attribution ---------------------------------------------------

def x_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: for every purchase, credit the user's most
    recent PRIOR non-purchase event (the touchpoint); report credited
    conversions and revenue per touchpoint type. The canonical marketing
    attribution query.

    One shuffle on user_id; the purchase/touch interleave is a single
    window pass (last_value over the preceding frame), never a self-join
    of the event stream — at 100 TB the stream is touched once.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("touch", touch)
        .filter((F.col("event_type") == "purchase") & F.col("touch").isNotNull())
        .groupBy("touch")
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("revenue"),
        )
        .orderBy("touch")
    )


X_ATTRIBUTION_SQL = """
WITH marked AS (
  SELECT event_type, value,
         LAST_VALUE(
           CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS
         ) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS touch
  FROM events
)
SELECT touch, COUNT(*) AS conversions,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM marked
WHERE event_type = 'purchase' AND touch IS NOT NULL
GROUP BY touch ORDER BY touch
"""


# -- bigram language-model statistics -----------------------------------------

BIGRAM_MIN_COUNT = 10


def x_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram statistics over the document corpus: count and conditional
    probability P(w2 | w1) = c(w1,w2)/c(w1·) for bigrams seen >=
    BIGRAM_MIN_COUNT times — the n-gram counting pass under classical LM
    training and data-quality heuristics (repetition detection).

    Bigrams come from one window (lead over doc-local token positions) —
    tokenize once, shuffle once on doc to order tokens, then one count
    shuffle; probabilities are integer-count ratios (exact replay).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias(
            "pos", "tok"
        ),
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("tok").alias("w1"), F.col("nxt").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    c1 = bi.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        bi.filter(F.col("c12") >= BIGRAM_MIN_COUNT)
        .join(F.broadcast(c1), "w1")
        .select(
            "w1",
            "w2",
            "c12",
            (F.col("c12") / F.col("c1")).alias("p_cond"),
        )
        .orderBy("w1", "w2")
    )


X_BIGRAM_SQL = f"""
WITH lists AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS l
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
  FROM lists
),
toks_clean AS (SELECT * FROM toks WHERE tok <> ''),
seq AS (
  SELECT doc_id, tok,
         LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM toks_clean
),
bi AS (
  SELECT tok AS w1, nxt AS w2, COUNT(*) AS c12
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM bi GROUP BY w1)
SELECT bi.w1, bi.w2, bi.c12, bi.c12 / c1.c1 AS p_cond
FROM bi JOIN c1 ON c1.w1 = bi.w1
WHERE bi.c12 >= {BIGRAM_MIN_COUNT}
ORDER BY bi.w1, bi.w2
"""


register(x_attribution_last_touch, X_ATTRIBUTION_SQL)
register(x_bigram_stats, X_BIGRAM_SQL)


# -- RFM customer segmentation ------------------------------------------------

def x_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, recency (days since last order,
    against the corpus max date), frequency (order count), monetary
    (exact-decimal total spend); each dimension scored into quartiles
    (ntile with unique-key tiebreak), combined into the classic
    'RFM' cell label. Returns the per-cell census.

    One shuffle on custkey for the per-customer rollup; the three exact
    ntile passes run over the customer-dimension aggregate (never raw
    orders) as distributed range-parallel ranks, then one tiny groupBy
    cells.
    """
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("day", F.max("o_orderdate")).alias("maxd")
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.date_trunc("day", F.max("o_orderdate")).alias("lastd"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("money_dec"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "o_custkey",
            F.datediff(F.col("maxd"), F.col("lastd")).alias("recency_days"),
            "freq",
            F.col("money_dec").cast("double").alias("monetary"),
        )
    )
    # quartile scores: recency ascending (1 = most recent), freq/monetary
    # descending (1 = best); o_custkey breaks every tie deterministically.
    # Each dimension is one exact distributed-ntile pass (operators/
    # rank.py) — three range-parallel rank passes over the customer
    # aggregate, zero single-partition windows.
    scored = with_ntile(
        per_cust, 4, [F.col("recency_days"), F.col("o_custkey")], "r"
    )
    scored = with_ntile(scored, 4, [F.desc("freq"), F.col("o_custkey")], "f")
    scored = with_ntile(
        scored, 4, [F.desc("monetary"), F.col("o_custkey")], "m"
    )
    scored = scored.select("r", "f", "m")
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("customers"))
        .select(
            F.concat_ws("-", "r", "f", "m").alias("cell"),
            "r",
            "f",
            "m",
            "customers",
        )
        .orderBy("r", "f", "m")
    )


X_RFM_SQL = """
WITH bounds AS (
  SELECT date_trunc('day', MAX(o_orderdate)) AS maxd FROM orders
),
per_cust AS (
  SELECT o_custkey,
         date_diff('day', date_trunc('day', MAX(o_orderdate)),
                   (SELECT maxd FROM bounds)) AS recency_days,
         COUNT(*) AS freq,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS r,
         NTILE(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
         NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
  FROM per_cust
)
SELECT CAST(r AS VARCHAR) || '-' || CAST(f AS VARCHAR) || '-'
         || CAST(m AS VARCHAR) AS cell,
       r, f, m, COUNT(*) AS customers
FROM scored GROUP BY r, f, m ORDER BY r, f, m
"""


# -- fulfillment lag distribution ---------------------------------------------

def x_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship lag distribution per order priority: exact quantiles of
    datediff(l_shipdate, o_orderdate) across each priority's line items,
    plus mean lag from exact integer sums. The fact join shuffles on
    orderkey (orders broadcasts at every SF below ~1B orders); the
    quantile aggregation is one pass over integer lags.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    joined = li.join(
        F.broadcast(orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")),
        li.l_orderkey == F.col("o_orderkey"),
    ).select("o_orderpriority", lag.alias("lag_days"))
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.percentile("lag_days", 0.5).alias("p50"),
            F.percentile("lag_days", 0.9).alias("p90"),
            F.round(
                F.sum("lag_days") / F.count(F.lit(1)), 6
            ).alias("avg_lag"),
            F.max("lag_days").alias("max_lag"),
        )
        .orderBy("o_orderpriority")
    )


X_FULFILLMENT_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.5) AS p50,
       quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.9) AS p90,
       ROUND(SUM(date_diff('day', o_orderdate, l_shipdate)) * 1.0
             / COUNT(*), 6) AS avg_lag,
       MAX(date_diff('day', o_orderdate, l_shipdate)) AS max_lag
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


register(x_rfm_segmentation, X_RFM_SQL)
register(x_fulfillment_lag, X_FULFILLMENT_SQL)


# -- 2D skyline (Pareto frontier) ---------------------------------------------

def x_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of orders on (cheaper, more recent): an order is on
    the skyline iff no other order is both cheaper-or-equal and
    more-recent-or-equal (with one strict). Computed with the sort-scan
    trick, not the naive O(n²) dominance self-join: sort by price (ties:
    date desc), keep rows whose date strictly exceeds the running max
    date seen so far — one range-partitioned sort + parallel prefix max.

    The running max is operators/rank.py running_max_exclusive: a
    range-partitioned exchange, per-partition exclusive prefix max, and
    a P-row boundary merge — genuinely parallel, never a single-partition
    window. The naive formulation (the SQL oracle deliberately uses it —
    NOT EXISTS dominance — as algorithm-independent evidence) is a
    quadratic inequality join: ~15 s at the sf0.01 gate, minutes at
    sf0.1. The gap IS the point: same semantics, linearithmic vs
    quadratic plan.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        running_max_exclusive(
            orders.select("o_orderkey", "o_totalprice", "o_orderdate"),
            [
                F.col("o_totalprice"),
                F.desc("o_orderdate"),
                F.col("o_orderkey"),
            ],
            "o_orderdate",
            "prev_max",
        )
        .filter(
            F.col("prev_max").isNull()
            | (F.col("o_orderdate") > F.col("prev_max"))
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy("o_totalprice", "o_orderkey")
    )


X_SKYLINE_SQL = """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM orders d
  WHERE d.o_totalprice <= o.o_totalprice
    AND d.o_orderdate >= o.o_orderdate
    AND (d.o_totalprice < o.o_totalprice OR d.o_orderdate > o.o_orderdate
         OR (d.o_totalprice = o.o_totalprice AND d.o_orderdate = o.o_orderdate
             AND d.o_orderkey < o.o_orderkey))
)
ORDER BY o_totalprice, o_orderkey
"""


register(x_skyline_orders, X_SKYLINE_SQL)


# -- full-outer reconciliation: purchases vs signups per user-day -------------

def x_reconcile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two independently aggregated daily series — purchase revenue and
    signup counts per (user, day) — reconciled with a FULL OUTER join, the
    standard two-ledger comparison shape (billing vs usage, shipped vs
    invoiced). Each side collapses to per-user-day aggregates BEFORE the
    join, so the outer join runs on dimension-sized inputs; at 100 TB both
    sides shuffle once on the same (user_id, day) key and co-partition.

    The reference has no join surface at all (SURVEY.md §2.4); this covers
    the one join type (FullOuter) the rest of the suite doesn't.
    """
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            F.sum(F.col("value").cast(DEC)).alias("rev_dec"),
        )
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("signups"))
    )
    return (
        p.join(s, ["user_id", "day"], "full_outer")
        .select(
            "user_id",
            "day",
            F.coalesce("purchases", F.lit(0)).alias("purchases"),
            F.coalesce(F.col("rev_dec").cast("double"), F.lit(0.0)).alias("purchase_rev"),
            F.coalesce("signups", F.lit(0)).alias("signups"),
        )
        .orderBy("user_id", "day")
    )


X_RECONCILE_SQL = """
WITH p AS (
  SELECT user_id, date_trunc('day', ts) AS day, COUNT(*) AS purchases,
         SUM(CAST(value AS DECIMAL(18,6))) AS rev_dec
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
s AS (
  SELECT user_id, date_trunc('day', ts) AS day, COUNT(*) AS signups
  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
)
SELECT COALESCE(p.user_id, s.user_id) AS user_id,
       COALESCE(p.day, s.day) AS day,
       CAST(COALESCE(p.purchases, 0) AS BIGINT) AS purchases,
       COALESCE(CAST(p.rev_dec AS DOUBLE), 0.0) AS purchase_rev,
       CAST(COALESCE(s.signups, 0) AS BIGINT) AS signups
FROM p FULL OUTER JOIN s ON p.user_id = s.user_id AND p.day = s.day
ORDER BY 1, 2
"""


register(x_reconcile_daily, X_RECONCILE_SQL)


# -- n-gram LM fluency score per document -------------------------------------

def x_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fluency under the corpus bigram model — the classical
    LM-based quality filter (KenM-style perplexity ranking, linearized):
    each document's bigrams are scored with the corpus-wide conditional
    probability P(w2|w1), and the document gets the mean. Log-probabilities
    are deliberately avoided (ln differs between JVM and libm in the last
    ulp); probabilities are integer ppm via floor(c12*1e6 / c1), so every
    value replays exactly in any engine.

    Shuffle story: tokenize once; ONE shuffle on doc_id orders tokens for
    the bigram window; the bigram-count aggregation feeds a model that
    BROADCASTS back onto the already-doc_id-partitioned bigram stream, and
    the final per-doc aggregation reuses that partitioning — the fact
    stream shuffles exactly once. At 100 TB the model gets a min-count
    prune before broadcast (here the corpus vocabulary is small).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    seq = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.col("tok").alias("w1"), F.col("nxt").alias("w2"))
        # two consumers (model build + scoring): materialize the tokenized
        # bigram stream once instead of re-tokenizing the corpus
        .localCheckpoint(eager=False)
    )
    bi = seq.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bi.groupBy("w1").agg(F.sum("c12").alias("c1"))
    model = bi.join(F.broadcast(c1), "w1").select(
        "w1", "w2", F.expr("(c12 * 1000000) div c1").alias("p_ppm")
    )
    per_doc = (
        seq.join(F.broadcast(model), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("p_ppm").alias("total_ppm"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("total_ppm", F.lit(0)).alias("total_ppm"),
            F.coalesce(
                F.expr("total_ppm div n_bigrams"), F.lit(0)
            ).alias("mean_ppm"),
        )
        .orderBy("doc_id")
    )


X_DOC_LM_SQL = """
WITH lists AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS l
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
  FROM lists
),
toks_clean AS (SELECT * FROM toks WHERE tok <> ''),
seq AS (
  SELECT doc_id, tok AS w1,
         LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks_clean
),
seq_clean AS (SELECT * FROM seq WHERE w2 IS NOT NULL),
bi AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM seq_clean GROUP BY 1, 2
),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM bi GROUP BY w1),
model AS (
  SELECT bi.w1, bi.w2, (bi.c12 * 1000000) // c1.c1 AS p_ppm
  FROM bi JOIN c1 ON c1.w1 = bi.w1
),
per_doc AS (
  SELECT s.doc_id, COUNT(*) AS n_bigrams, SUM(m.p_ppm) AS total_ppm
  FROM seq_clean s JOIN model m ON m.w1 = s.w1 AND m.w2 = s.w2
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.total_ppm, 0) AS BIGINT) AS total_ppm,
       CAST(COALESCE(p.total_ppm // p.n_bigrams, 0) AS BIGINT) AS mean_ppm
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
ORDER BY d.doc_id
"""


register(x_doc_lm_score, X_DOC_LM_SQL)
