"""Relational queries: the TPC-H shapes, SQL-surface and set-operation
queries, reshaping, and the optimizer probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kinbaku_spark.functions.hashing import md5_long, sql_md5_long
from kinbaku_spark.queries import register
from kinbaku_spark.queries.graph_queries import GRAPH_CTE, _graph
from kinbaku_spark.sources.tables import load_table, register_views


# ---------------------------------------------------------------------------
# Relational analytics queries (TPC-H-adapted + event-stream analytics).
#
# The reference has NO SQL/aggregation surface (SURVEY.md §2.4) — these queries
# are the extension surface that makes the engine a general analytics engine,
# and they double as the bench headline queries.
#
# Determinism convention for oracle hashing: every double-typed SUM goes
# through CAST(x AS DECIMAL(18,6)) so Spark and DuckDB aggregate EXACTLY (no
# float association error), then the result is cast back to double. Averages
# are exact-decimal sums divided in double. Ties in top-k orderings are broken
# by a unique key column.
#
# Scale notes per query are in the docstrings — each plan was checked with
# .explain("formatted"): filters push into the parquet scan, dimension joins
# broadcast, aggregations run partial (map-side) before the single shuffle.
# ---------------------------------------------------------------------------

DEC = "decimal(18,6)"


def _dsum(col):
    return F.sum(F.col(col).cast(DEC)).cast("double")


def _dsum_expr(expr):
    return F.sum(expr.cast(DEC)).cast("double")


# -- q1: pricing summary (TPC-H Q1 shape) -----------------------------------
# One pass over lineitem: pushed-down date filter, 4-way group with partial
# aggregation. At 100 TB this is scan-bound; no join, one shuffle of ~4 rows.

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum_expr(disc_price).alias("sum_disc_price"),
            _dsum_expr(charge).alias("sum_charge"),
            F.round(_dsum("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(_dsum("l_extendedprice") / F.count(F.lit(1)), 6).alias("avg_price"),
            F.round(_dsum("l_discount") / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# -- q3: shipping priority (TPC-H Q3 shape) ----------------------------------
# customer is small at every SF -> broadcast; orders⋈lineitem is the only
# shuffle join, keyed on orderkey (no skew: orderkeys are uniform).

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp_ntz"))
        .join(
            orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum_expr(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# -- q5: revenue by nation (TPC-H Q5 shape, star join) ------------------------
# region/nation/customer/supplier all broadcast; the fact-side shuffle join is
# orders⋈lineitem only. Demonstrates multi-dim star-join planning.

def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(cust),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(_dsum_expr(revenue).alias("revenue"))
        .orderBy("r_name", F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT r_name, n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, revenue DESC, n_name
"""


# -- top parts by quantity (join + top-k) -------------------------------------

def q_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "p_name", "p_brand")
        .agg(
            _dsum("l_quantity").alias("total_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.desc("total_qty"), "p_partkey")
        .limit(25)
    )


Q_TOP_PARTS_SQL = """
SELECT p_partkey, p_name, p_brand,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey, p_name, p_brand
ORDER BY total_qty DESC, p_partkey
LIMIT 25
"""


# -- window function: top-3 orders per customer -------------------------------

def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


Q_WINDOW_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
  FROM orders
) WHERE rank <= 3
"""


# -- rollup: revenue by region/nation with subtotals ---------------------------

def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(_dsum("o_totalprice").alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


Q_ROLLUP_SQL = """
SELECT r_name, n_name,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# -- events: tumbling-window aggregation --------------------------------------
# Batch form of the streaming tumbling window (kinbaku has no streaming at
# all, SURVEY.md §2.4); the streaming twin lives in kinbaku_spark.streaming.

def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


Q_EVENTS_TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


# -- events: sessionization (gaps-and-islands, 30-min inactivity gap) ----------
# Expressed with window functions so the SAME semantics run in both engines;
# the streaming variant uses session_window (kinbaku_spark.streaming).

SESSION_GAP_US = 1_800_000_000  # 30 min in microseconds — exact integer math


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    sess = ev.withColumn(
        "new_session",
        F.when(gap <= SESSION_GAP_US, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn("session_id", F.sum("new_session").over(wsum))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("sum_value"),
        )
        .groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.round(F.avg("n_events"), 6).alias("avg_events_per_session"),
            _dsum_expr(F.col("sum_value")).alias("total_value"),
        )
        .orderBy("user_id")
    )


Q_EVENTS_SESSIONS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
              (PARTITION BY user_id ORDER BY ts, event_id) <= {SESSION_GAP_US}
         THEN 0 ELSE 1 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, value,
    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
  FROM numbered GROUP BY 1, 2
)
SELECT user_id,
       MAX(session_id) AS n_sessions,
       ROUND(AVG(n_events), 6) AS avg_events_per_session,
       CAST(SUM(CAST(sum_value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""


register(q1_pricing_summary, Q1_SQL)
register(q3_shipping_priority, Q3_SQL)
register(q5_local_supplier_volume, Q5_SQL)
register(q_top_parts, Q_TOP_PARTS_SQL)
register(q_window_top_orders, Q_WINDOW_SQL)
register(q_rollup_revenue, Q_ROLLUP_SQL)
register(q_events_tumbling, Q_EVENTS_TUMBLING_SQL)
register(q_events_sessions, Q_EVENTS_SESSIONS_SQL)


# ---------------------------------------------------------------------------
# Second wave of relational plan shapes (TPC-H-adapted to the driver's
# schema — no partsupp table, so Q2/Q17 are re-expressed over lineitem).
#
# Each query exercises a plan shape the first wave doesn't:
#
# - q2_min_cost_supplier: per-group MIN + join-back (correlated-subquery shape)
# - q13_customer_distribution: LEFT OUTER join with join-condition filter,
#   two-level aggregation (count histogram)
# - q16_supplier_part_counts: COUNT(DISTINCT) with IN-list + <> pushdown
# - q17_small_qty_revenue: scalar-per-group avg subquery feeding a fact filter
# - q18_large_orders: HAVING on a grouped fact, joined back to dims
# - q19_or_predicates: OR-of-ANDs selection across a join (pushdown stress)
# - q22_idle_customers: scalar aggregate subquery + anti-join
#
# Determinism: all double SUMs go through DECIMAL(18,6) (see relational.py);
# comparisons against derived doubles (0.2*avg, unit-price MIN) are safe
# because both engines compute them with the identical IEEE operation
# sequence — no rounding before comparison, round once at display time.
#
# Scale notes: part/customer/supplier are dimension-sized -> broadcast; the
# only shuffles are the fact-side groupBys keyed on uniform keys
# (l_orderkey/l_partkey). Q13's left join shuffles customer⋈orders on
# custkey; Q17's avg subquery reuses the same l_partkey shuffle partitioning
# as the join that consumes it (one exchange, verified via ReusedExchange).
# ---------------------------------------------------------------------------


# -- q2 shape: cheapest supplier per part ------------------------------------

def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each small part, the supplier(s) with the minimum observed unit
    price (reference has no such op; TPC-H Q2 shape: groupwise-min + join
    back, cf. SURVEY.md §2.4 'Joins').

    Plan: two groupBys over the same l_partkey,l_suppkey shuffle, then the
    min-join; part+supplier broadcast. Double equality in the join is safe:
    both sides are the same MIN over the same division results.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    best = unit.groupBy("l_partkey").agg(F.min("unit_price").alias("min_price"))
    return (
        unit.join(
            best,
            (unit.l_partkey == best.l_partkey)
            & (unit.unit_price == best.min_price),
        )
        .drop(best.l_partkey)
        .join(F.broadcast(part.filter(F.col("p_size") <= 5)),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.round("unit_price", 6).alias("unit_cost"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


Q2_SQL = """
WITH unit AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem GROUP BY 1, 2
), best AS (
  SELECT l_partkey, MIN(unit_price) AS min_price FROM unit GROUP BY 1
)
SELECT p_partkey, p_name, s_suppkey, s_name, ROUND(u.unit_price, 6) AS unit_cost
FROM unit u
JOIN best b ON u.l_partkey = b.l_partkey AND u.unit_price = b.min_price
JOIN part ON p_partkey = u.l_partkey AND p_size <= 5
JOIN supplier ON s_suppkey = u.l_suppkey
ORDER BY p_partkey, s_suppkey
"""


# -- q13 shape: customer order-count distribution -----------------------------

def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of orders-per-customer, keeping zero-order customers
    (LEFT OUTER with a join-side predicate — TPC-H Q13 shape).

    Plan: customer is the small side but must be outer-preserved, so the
    join shuffles on custkey; the second aggregation is ~50 rows.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# -- q16 shape: distinct suppliers per part attribute --------------------------

def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT supplier) per (brand, type, size) bucket over an
    IN-list + inequality part filter (TPC-H Q16 shape).

    Plan: the part filter prunes at the broadcast build side; the distinct
    aggregation expands to a two-phase (partial-distinct) hash aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# -- q17 shape: below-average-quantity revenue --------------------------------

def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems whose quantity is under 20% of their part's
    average quantity (TPC-H Q17 shape: per-group scalar subquery feeding the
    fact filter), reported per brand.

    Plan: the avg subquery re-scans lineitem with only (l_partkey,
    l_quantity) — column pruning makes the second scan cheap — and both
    sides shuffle on l_partkey once for the join. The 0.2*avg comparison
    happens on raw doubles computed identically in both engines
    (decimal-exact sum ÷ count), never on rounded values.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    avg_q = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (_dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(avg_q, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            _dsum("l_extendedprice").alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


Q17_SQL = """
WITH avg_q AS (
  SELECT l_partkey AS ap_partkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT p_brand,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS small_qty_revenue,
  COUNT(*) AS n_lines
FROM lineitem
JOIN avg_q ON l_partkey = ap_partkey
JOIN part ON l_partkey = p_partkey
WHERE l_quantity < CAST('0.2' AS DOUBLE) * avg_qty
GROUP BY p_brand
ORDER BY p_brand
"""


# -- q18 shape: large-volume orders -------------------------------------------

def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 200, with customer context
    (TPC-H Q18 shape: grouped HAVING joined back to the dims).

    Plan: one l_orderkey groupBy (uniform key), the surviving ~1% of orders
    then join orders (shuffle on orderkey, AQE-shrunk) and broadcast
    customer. Quantities are integer-valued doubles so the >200 cut is
    exact in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN (
  SELECT l_orderkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 200
) ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# -- q19 shape: OR-of-ANDs predicate across a join -----------------------------

def q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under three alternative brand/size/quantity regimes
    (TPC-H Q19 shape — the classic OR-of-ANDs pushdown stress).

    Plan: Catalyst factors the common join key and pushes the residual OR
    below the broadcast join; per-brand output keeps the hash stable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .groupBy("p_brand")
        .agg(
            _dsum_expr(revenue).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


Q19_SQL = """
SELECT p_brand,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30)
GROUP BY p_brand
ORDER BY p_brand
"""


# -- q22 shape: wealthy customers with no orders -------------------------------

def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation count/balance of customers with above-average balance and
    zero orders (TPC-H Q22 shape: scalar aggregate subquery + anti-join).

    Plan: the scalar avg is a 1-row broadcast cross join; the anti-join
    shuffles customer⋈orders on custkey (orders side pre-projected to the
    key column only). The > comparison uses the identically-computed
    decimal-exact average in both engines.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (_dsum("c_acctbal") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            _dsum("c_acctbal").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


Q22_SQL = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS n_custs,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


register(q2_min_cost_supplier, Q2_SQL)
register(q13_customer_distribution, Q13_SQL)
register(q16_supplier_part_counts, Q16_SQL)
register(q17_small_qty_revenue, Q17_SQL)
register(q18_large_orders, Q18_SQL)
register(q19_or_predicates, Q19_SQL)
register(q22_idle_customers, Q22_SQL)


# ---------------------------------------------------------------------------
# Third wave of relational plan shapes — completes the TPC-H shape sweep
# (Q4/Q7/Q8/Q9/Q11/Q12/Q15/Q20/Q21) adapted to the driver schema. The driver
# tables have no partsupp and no l_commitdate/l_receiptdate/l_shipmode
# (TESTDATA.md), so: "late" is expressed as l_shipdate lagging o_orderdate,
# supply cost as p_retailprice, and stock value as shipped lineitem value.
# The reference implements none of this (SURVEY.md §2.4 — no joins, no
# aggregation framework); this is the Spark-native extension surface.
#
# Plan shapes each query adds over waves 1-2:
#
# - q4_priority_late_orders: EXISTS with a correlated date comparison
#   (condition references BOTH sides) -> non-equi left-semi join
# - q7_nation_volume: symmetric two-sided dimension filter (nation pairs in
#   either direction), 4-table join, group by derived year
# - q8_market_share: conditional-share aggregation (SUM(CASE)/SUM) over a
#   6-table star join spanning both dimension arms
# - q9_product_profit: profit expression mixing fact and dimension columns,
#   LIKE-filtered part dimension, nation x year rollup
# - q11_part_value: scalar aggregate threshold (HAVING vs subquery total)
# - q12_ship_delay_buckets: derived-bucket grouping + two conditional counts
# - q15_top_supplier: argmax via exact-decimal equality against a scalar MAX
# - q20_promo_suppliers: two-level nested semi-join (supplier IN (grouped
#   HAVING over a LIKE-joined fact))
# - q21_waiting_suppliers: the only-late-supplier pattern: TPC-H Q21's
#   EXISTS/NOT-EXISTS pair collapsed into ONE aggregation per order
#   (COUNT(DISTINCT supplier) vs COUNT(DISTINCT late supplier) + MIN to
#   name the unique late one) — no self-joins at all
#
# Determinism: double SUMs go through DECIMAL(18,6) (relational.py
# convention); q15's argmax equality stays in decimal (exact) and only the
# displayed value is cast to double; q8's share divides two exact-decimal
# sums in double (identical IEEE op in both engines); datediff on
# midnight-aligned timestamps is integer-exact.
#
# Scale notes: every dimension (part/supplier/customer/nation/region)
# broadcasts — the only shuffles are fact-side: q4/q12/q21 shuffle on
# l_orderkey, q7/q8/q9 aggregate after broadcast-pruning the fact with the
# dimension filters (nation-pair, region+type, name-LIKE), q11/q15/q20
# aggregate on l_partkey/l_suppkey. Nothing joins fact-to-fact except
# orders⋈lineitem on their shared key. q21's single-aggregation form
# replaces the textbook double self-join of lineitem (2 extra fact shuffles)
# with one groupBy — the dominant cost is one pass over the fact.
# ---------------------------------------------------------------------------


# -- q4 shape: EXISTS with correlated date predicate -------------------------

def q4_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders placed in 1997H1 with at least one lineitem shipped more than
    30 days after the order date, counted by priority (TPC-H Q4 with
    lateness re-expressed as ship lag; no l_commitdate in the schema).

    Plan: pushed-down date filter on orders, then a LEFT SEMI join to
    lineitem whose condition references both sides (l_orderkey equality +
    the correlated date comparison) — the equality keys the shuffle, the
    date predicate evaluates post-match, so this stays a hash join.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp_ntz"))
    )
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# -- q7 shape: nation-pair trade volume --------------------------------------

def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue shipped between NATION_1 and NATION_2 (either direction) by
    year (TPC-H Q7 shape). The nation-pair filter prunes both dimension
    arms BEFORE they touch the fact: supplier⋈nation and
    customer⋈nation shrink to two nations each and broadcast, so the only
    shuffle is orders⋈lineitem on l_orderkey.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    n1 = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s = supp.join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
    c = cust.join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_dsum_expr(volume).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  YEAR(l_shipdate) AS l_year,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
    AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# -- q8 shape: market share (conditional fraction of volume) ------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of ECONOMY-part volume sold into ASIA-region
    customers, by order year (TPC-H Q8 shape). Six-table star: part filter
    prunes the fact first (broadcast semi via inner join), region filter
    prunes the customer arm; the share is a SUM(CASE)/SUM of two
    exact-decimal sums divided in double.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    asia_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("cn_key"))
    )
    c = cust.join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cn_key"))
    s_nat = supp.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(F.lit(0.0))
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(s_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(_dsum_expr(target) / _dsum_expr(volume), 6).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT YEAR(o_orderdate) AS o_year,
  ROUND(
    CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_3'
          THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
        AS DECIMAL(18,6))) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        AS DOUBLE),
  6) AS mkt_share
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n1.n_regionkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
GROUP BY 1
ORDER BY 1
"""


# -- q9 shape: product-type profit by nation x year --------------------------

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on parts whose name contains 'gear', by supplier nation and
    order year (TPC-H Q9 with p_retailprice standing in for the missing
    ps_supplycost). Profit mixes fact and dimension columns, so the part
    dimension must join BEFORE the aggregation — it broadcasts; the
    orders join supplies the year.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    gear = part.filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    s_nat = supp.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(gear), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(_dsum_expr(profit).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity
      AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# -- q11 shape: scalar-threshold important parts ------------------------------

Q11_FRACTION = 0.001


def q11_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose shipped value from NATION_3 suppliers exceeds
    Q11_FRACTION of that nation's total shipped value (TPC-H Q11 with
    lineitem value standing in for the missing partsupp stock value).

    Plan: ONE shuffle — the per-part aggregation; the scalar total is the
    same decimal sum re-aggregated from the per-part result (no second
    fact scan) and joins back as a broadcast scalar. Threshold compare
    happens in double on exact-decimal inputs — identical in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n3_supp = supp.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_3")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    per_part = (
        li.join(F.broadcast(n3_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(DEC)).alias("value_d"))
    )
    total = per_part.agg(
        (F.sum("value_d").cast("double") * F.lit(Q11_FRACTION)).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_d").cast("double") > F.col("threshold"))
        .select("l_partkey", F.col("value_d").cast("double").alias("value"))
        .orderBy(F.desc("value"), "l_partkey")
    )


Q11_SQL = f"""
WITH per_part AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS value_d
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(value_d AS DOUBLE) AS value
FROM per_part
WHERE CAST(value_d AS DOUBLE) >
  (SELECT CAST(SUM(value_d) AS DOUBLE) * {Q11_FRACTION} FROM per_part)
ORDER BY value DESC, l_partkey
"""


# -- q12 shape: delay buckets x priority class -------------------------------

def q12_ship_delay_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1997 shipments bucketed by ship lag (fast <30d, medium 30-89d,
    slow >=90d) with urgent-vs-other order counts per bucket (TPC-H Q12
    shape: derived grouping + paired conditional counts; no l_shipmode in
    the schema, the lag bucket takes its place). datediff on
    midnight-aligned timestamps is integer-exact in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(lag >= 90, "slow").when(lag >= 30, "medium").otherwise("fast")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


Q12_SQL = """
SELECT
  CASE WHEN DATE_DIFF('day', o_orderdate, l_shipdate) >= 90 THEN 'slow'
       WHEN DATE_DIFF('day', o_orderdate, l_shipdate) >= 30 THEN 'medium'
       ELSE 'fast' END AS delay_bucket,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
    AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1
ORDER BY 1
"""


# -- q15 shape: top supplier (argmax vs scalar subquery) ----------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with maximum revenue in 1997Q1 (TPC-H Q15 shape). The
    argmax equality stays in DECIMAL — exact in both engines — and only
    the displayed revenue is cast to double. One fact shuffle (groupBy
    l_suppkey); the scalar MAX re-aggregates the grouped result and
    broadcasts back.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
            ).alias("rev_d")
        )
    )
    top = rev.agg(F.max("rev_d").alias("max_rev"))
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("rev_d") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_d").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev_d
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_d AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE rev_d = (SELECT MAX(rev_d) FROM rev)
ORDER BY s_suppkey
"""


# -- q20 shape: nested semi-join on a grouped HAVING --------------------------

def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers that shipped more than 30 units of any 'small'-named part
    during 1997 (TPC-H Q20 shape: supplier IN (grouped-HAVING subquery
    over a LIKE-joined fact); availqty threshold re-expressed over shipped
    quantity — no partsupp in the schema; Q20's nation filter dropped
    because it empties the result below sf0.01).

    Plan: part LIKE-filter broadcasts into the fact, one groupBy on
    (l_suppkey, l_partkey), then DISTINCT suppkeys LEFT SEMI into the
    (broadcastable) supplier dimension.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    small = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    qualifying = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(small), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("qty"))
        .filter(F.col("qty") > 30)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 30
  )
ORDER BY s_suppkey
"""


# -- q21 shape: the only-late-supplier pattern --------------------------------

def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the SOLE late shipper (>60 days after order
    date) on finalized multi-supplier orders, ranked by how often (TPC-H
    Q21 semantics; lateness from ship lag — no l_receiptdate).

    TPC-H's formulation needs an EXISTS plus a NOT EXISTS — two extra
    self-joins of the fact. Both collapse into ONE aggregation per order:
    COUNT(DISTINCT supplier) >= 2 covers the EXISTS, COUNT(DISTINCT late
    supplier) = 1 covers the NOT EXISTS, and MIN(late supplier) names the
    unique offender. One orderkey shuffle instead of three.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    late_supp = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        F.col("l_suppkey"),
    )
    per_order = (
        li.join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(late_supp).alias("n_late"),
            F.min(late_supp).alias("late_suppkey"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        per_order.groupBy("late_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("late_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


Q21_SQL = """
WITH per_order AS (
  SELECT l_orderkey,
    COUNT(DISTINCT l_suppkey) AS n_supp,
    COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      THEN l_suppkey END) AS n_late,
    MIN(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
      THEN l_suppkey END) AS late_suppkey
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM per_order
JOIN supplier ON s_suppkey = late_suppkey
WHERE n_supp >= 2 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


register(q4_priority_late_orders, Q4_SQL)
register(q7_nation_volume, Q7_SQL)
register(q8_market_share, Q8_SQL)
register(q9_product_profit, Q9_SQL)
register(q11_part_value, Q11_SQL)
register(q12_ship_delay_buckets, Q12_SQL)
register(q15_top_supplier, Q15_SQL)
register(q20_promo_suppliers, Q20_SQL)
register(q21_waiting_suppliers, Q21_SQL)


# ---------------------------------------------------------------------------
# Second-wave analytics queries: JSON, set operations, cube, scalar
# string/date functions — rounding out the SQL surface the reference lacks
# entirely (SURVEY.md §2.4: no scalar functions, no set ops, no grouping
# sets anywhere in its 1,591 lines).
# ---------------------------------------------------------------------------


# -- JSON extraction over events.props ----------------------------------------

def q_events_json(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.round(F.sum("k") / F.count(F.lit(1)), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


Q_EVENTS_JSON_SQL = """
SELECT event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
  ROUND(SUM(CAST(props->>'k' AS BIGINT)) * 1.0 / COUNT(*), 6) AS avg_k,
  MAX(CAST(props->>'k' AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# -- set operations ------------------------------------------------------------

def q_intersect_customers(spark, sf_dir):
    """Customers active in both 1995 and 2000 (INTERSECT)."""
    orders = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    a = orders.filter(y == 1995).select("o_custkey")
    b = orders.filter(y == 2000).select("o_custkey")
    return a.intersect(b).withColumnRenamed("o_custkey", "custkey")


Q_INTERSECT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 2000
"""


def q_except_customers(spark, sf_dir):
    """Customers active in 1995 but never in 2000 (EXCEPT)."""
    orders = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    a = orders.filter(y == 1995).select("o_custkey")
    b = orders.filter(y == 2000).select("o_custkey")
    # subtract == EXCEPT (set semantics); exceptAll would only cancel one
    # occurrence per match and let multi-order customers leak through
    return a.subtract(b).withColumnRenamed("o_custkey", "custkey")


Q_EXCEPT_SQL = """
SELECT DISTINCT o_custkey AS custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
EXCEPT
SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 2000
"""


# -- cube ------------------------------------------------------------------------

def q_cube_orders(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
    )


Q_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# -- scalar string functions ------------------------------------------------------

def q_string_funcs(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_name", r"([a-z]+)", 1).alias("first_word"),
    )


Q_STRING_FUNCS_SQL = """
SELECT p_partkey,
  UPPER(p_name) AS name_upper,
  LENGTH(p_name) AS name_len,
  SUBSTRING(p_name, 1, 5) AS name_prefix,
  REPLACE(p_type, ' ', '_') AS type_snake,
  p_brand || ':' || p_type AS brand_type,
  COALESCE(regexp_extract(p_name, '([a-z]+)', 1), '') AS first_word
FROM part
"""


# -- scalar date functions ----------------------------------------------------------

def q_date_funcs(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
            F.month("o_orderdate").alias("m"),
            F.dayofweek("o_orderdate").alias("dow"),  # 1=Sunday (Spark)
            F.col("o_totalprice"),
        )
        .groupBy("y", "q", "m", "dow")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
        )
    )


# DuckDB dayofweek: 0=Sunday — shift to Spark's 1=Sunday convention
Q_DATE_FUNCS_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS q,
       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS m,
       CAST(EXTRACT(dow FROM o_orderdate) + 1 AS INTEGER) AS dow,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1, 2, 3, 4
"""


register(q_events_json, Q_EVENTS_JSON_SQL)
register(q_intersect_customers, Q_INTERSECT_SQL)
register(q_except_customers, Q_EXCEPT_SQL)
register(q_cube_orders, Q_CUBE_SQL)
register(q_string_funcs, Q_STRING_FUNCS_SQL)
register(q_date_funcs, Q_DATE_FUNCS_SQL)


# -- sliding windows (batch twin of streaming.sliding_event_rates) -------------

def q_events_sliding(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


# Spark aligns sliding windows to the epoch; reproduce with integer µs
# arithmetic (15 min = 9e8 µs), each event contributing to 4 windows.
Q_EVENTS_SLIDING_SQL = """
WITH slid AS (
  SELECT event_type,
    make_timestamp((epoch_us(ts) // 900000000) * 900000000
                   - CAST(k.k AS BIGINT) * 900000000) AS window_start
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM slid
GROUP BY 1, 2, 3
"""


# -- exact percentiles (linear interpolation — verified bit-equal) --------------

def q_percentiles(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.percentile("o_totalprice", 0.25).alias("p25"),
            F.percentile("o_totalprice", 0.5).alias("p50"),
            F.percentile("o_totalprice", 0.9).alias("p90"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("o_orderpriority")
    )


Q_PERCENTILES_SQL = """
SELECT o_orderpriority,
  quantile_cont(o_totalprice, 0.25) AS p25,
  quantile_cont(o_totalprice, 0.5) AS p50,
  quantile_cont(o_totalprice, 0.9) AS p90,
  MIN(o_totalprice) AS lo,
  MAX(o_totalprice) AS hi
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# -- semi / anti joins (EXISTS / NOT EXISTS shapes) ------------------------------

def q_semi_join(spark, sf_dir):
    """Orders having at least one deep-discount line item (left-semi)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    deep = li.filter(F.col("l_discount") > 0.08).select("l_orderkey")
    return (
        orders.join(deep, orders.o_orderkey == deep.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


Q_SEMI_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_anti_join(spark, sf_dir):
    """Orders with NO deep-discount line item (left-anti / NOT EXISTS)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    deep = li.filter(F.col("l_discount") > 0.08).select("l_orderkey")
    return (
        orders.join(deep, orders.o_orderkey == deep.l_orderkey, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


Q_ANTI_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


register(q_events_sliding, Q_EVENTS_SLIDING_SQL)
register(q_percentiles, Q_PERCENTILES_SQL)
register(q_semi_join, Q_SEMI_JOIN_SQL)
register(q_anti_join, Q_ANTI_JOIN_SQL)


# -- TPC-H Q6 shape: forecast revenue change (pure scan + filter + agg) ---------

def q6_forecast_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(DEC))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q6_SQL = """
SELECT
  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


# -- TPC-H Q10 shape: top customers by returned-item revenue --------------------

def q10_returned_items(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue.cast(DEC)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# -- window frames: running revenue per customer --------------------------------

def q_running_revenue(spark, sf_dir):
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_revenue"),
    )


Q_RUNNING_REVENUE_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue
FROM orders
"""


# -- lag: inter-order gaps per customer ------------------------------------------

def q_order_gaps(spark, sf_dir):
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
    return (
        orders.select("o_custkey", gap.alias("gap_days"))
        .filter(F.col("gap_days").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap_days"), 6).alias("avg_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .orderBy("o_custkey")
    )


Q_ORDER_GAPS_SQL = """
WITH gaps AS (
  SELECT o_custkey,
    date_diff('day',
              LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
              o_orderdate) AS gap_days
  FROM orders
)
SELECT o_custkey,
  COUNT(*) AS n_gaps,
  ROUND(AVG(gap_days), 6) AS avg_gap_days,
  CAST(MAX(gap_days) AS INTEGER) AS max_gap_days
FROM gaps
WHERE gap_days IS NOT NULL
GROUP BY o_custkey
ORDER BY o_custkey
"""


register(q6_forecast_revenue, Q6_SQL)
register(q10_returned_items, Q10_SQL)
register(q_running_revenue, Q_RUNNING_REVENUE_SQL)
register(q_order_gaps, Q_ORDER_GAPS_SQL)


# -- TPC-H Q14 shape: promo revenue share (conditional aggregation) --------------

def q14_promo_share(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(revenue).cast("double"),
                6,
            ).alias("promo_revenue_pct"),
            F.sum(revenue).cast("double").alias("total_revenue"),
        )
    )


Q14_SQL = """
SELECT
  ROUND(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
  6) AS promo_revenue_pct,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
"""


register(q14_promo_share, Q14_SQL)


# ---------------------------------------------------------------------------
# Reshape operators: pivot (long->wide) and unpivot/melt (wide->long).
#
# The reference has no tabular surface at all (SURVEY.md §2.4); these round
# out the SQL-reshape category. Both are single-shuffle plans:
#
# - pivot with an EXPLICIT value list compiles to one groupBy with a
#   conditional-aggregate per pivoted column — no extra distinct() pass to
#   discover values (that pass is a full scan at 100 TB; always pin the list).
# - unpivot is a generator expression (expand) — zero shuffle on top of the
#   feeding aggregate.
# ---------------------------------------------------------------------------

PIVOT_YEARS = list(range(1995, 2002))


def q_pivot_orders(spark, sf_dir):
    """Order counts by priority x order-year, years pivoted to columns."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.select(
            "o_orderpriority",
            F.concat(F.lit("y"), F.year("o_orderdate")).alias("yr"),
        )
        .groupBy("o_orderpriority")
        .pivot("yr", [f"y{y}" for y in PIVOT_YEARS])
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves empty cells null; the oracle's conditional COUNT gives 0
    return piv.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(f"y{y}"), F.lit(0)).cast("long").alias(f"y{y}")
            for y in PIVOT_YEARS
        ],
    ).orderBy("o_orderpriority")


def _pivot_sql() -> str:
    cols = ",\n  ".join(
        f"COUNT(CASE WHEN year(o_orderdate) = {y} THEN 1 END) AS y{y}"
        for y in PIVOT_YEARS
    )
    return f"""
SELECT o_orderpriority,
  {cols}
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_unpivot_balances(spark, sf_dir):
    """Per-nation customer vs supplier account balances, melted to
    (nation, side, balance) long form via DataFrame.unpivot."""
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = cust.groupBy("c_nationkey").agg(
        F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("customer_bal")
    )
    s = supp.groupBy("s_nationkey").agg(
        F.sum(F.col("s_acctbal").cast(DEC)).cast("double").alias("supplier_bal")
    )
    wide = (
        nation.join(c, nation.n_nationkey == c.c_nationkey, "left")
        .join(s, nation.n_nationkey == s.s_nationkey, "left")
        .select(
            "n_name",
            F.coalesce("customer_bal", F.lit(0.0)).alias("customer_bal"),
            F.coalesce("supplier_bal", F.lit(0.0)).alias("supplier_bal"),
        )
    )
    return wide.unpivot(
        ["n_name"], ["customer_bal", "supplier_bal"], "side", "balance"
    ).orderBy("n_name", "side")


UNPIVOT_SQL = """
WITH c AS (
  SELECT c_nationkey AS nk,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS bal
  FROM customer GROUP BY 1
),
s AS (
  SELECT s_nationkey AS nk,
         CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS bal
  FROM supplier GROUP BY 1
),
wide AS (
  SELECT n_name,
         COALESCE(c.bal, CAST(0 AS DOUBLE)) AS customer_bal,
         COALESCE(s.bal, CAST(0 AS DOUBLE)) AS supplier_bal
  FROM nation n
  LEFT JOIN c ON c.nk = n.n_nationkey
  LEFT JOIN s ON s.nk = n.n_nationkey
)
SELECT n_name, 'customer_bal' AS side, customer_bal AS balance FROM wide
UNION ALL
SELECT n_name, 'supplier_bal' AS side, supplier_bal AS balance FROM wide
ORDER BY n_name, side
"""


register(q_pivot_orders, _pivot_sql())
register(q_unpivot_balances, UNPIVOT_SQL)


# ---------------------------------------------------------------------------
# Shared-ANSI-SQL surface: the SAME query string runs on Spark (via
# ``spark.sql`` over registered temp views) and on DuckDB (the oracle) —
# proving the engine exposes a real SQL entry point, not just the DataFrame
# API. The reference has no SQL layer anywhere (SURVEY.md: "no SQL layer, no
# parser").
#
# Dialect-intersection rules for shared strings: decimal-cast sums (exact,
# order-independent), explicit INTEGER casts on year()/ROW_NUMBER() (Spark
# int vs DuckDB BIGINT), full ORDER BY with tiebreaks, ordinal GROUP BY.
# ---------------------------------------------------------------------------

# Top-3 nations by revenue within each order-year: 3 joins + grouped decimal
# aggregate + ranking window. Runs verbatim on both engines.
SQL_TOP_NATIONS = """
WITH rev AS (
  SELECT n.n_name AS n_name, CAST(year(o.o_orderdate) AS INTEGER) AS yr,
         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
rnk AS (
  SELECT n_name, yr, revenue,
         CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY revenue DESC, n_name) AS INTEGER) AS rnk
  FROM rev
)
SELECT n_name, yr, revenue, rnk FROM rnk WHERE rnk <= 3 ORDER BY yr, rnk
"""


def q_sql_top_nations(spark, sf_dir):
    register_views(spark, sf_dir)
    return spark.sql(SQL_TOP_NATIONS)


# Top-10 hub parts by in-degree over the graph's SQL views (Graph.sql).
# The body is shared; the oracle prepends the graph-derivation CTE where
# Spark reads the registered g_edges view.
SQL_HUB_PARTS = """
SELECT dst AS key, CAST(COUNT(*) AS BIGINT) AS in_deg
FROM g_edges
GROUP BY dst
ORDER BY in_deg DESC, key
LIMIT 10
"""


def g_sql_hub_parts(spark, sf_dir):
    return _graph(spark, sf_dir).sql(SQL_HUB_PARTS)


# Explicit GROUPING SETS (not a rollup/cube prefix lattice) + grouping()
# markers. One shuffle: Spark expands the sets map-side. NULLS FIRST is
# spelled out — Spark defaults ASC NULLS FIRST, DuckDB NULLS LAST.
SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_ls
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY g_rf, g_ls,
         l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def q_sql_grouping_sets(spark, sf_dir):
    register_views(spark, sf_dir)
    return spark.sql(SQL_GROUPING_SETS)


register(q_sql_top_nations, SQL_TOP_NATIONS)
register(q_sql_grouping_sets, SQL_GROUPING_SETS)
register(g_sql_hub_parts, GRAPH_CTE + SQL_HUB_PARTS)


# ---------------------------------------------------------------------------
# Multiset set-operations and duplicate-group survivorship.
#
# The reference implements set intersection/difference only on neighbor
# SETS (SURVEY.md §2.1 R9/R10, M5/M6); these extend the set-operation
# family with the MULTISET forms (EXCEPT ALL / INTERSECT ALL — duplicate
# counts matter) and the dedup family with the survivorship step (pick the
# canonical record per duplicate group, drop the rest).
#
# Shuffle shapes (the 100 TB story):
#
# - multiset ops: Spark's exceptAll/intersectAll compile to the same
#   count-tagged aggregation a hand-rolled version would use — ONE shuffle
#   per side on the value key; the demo keys are single columns so
#   map-side partials collapse the fact tables first.
# - survivorship: duplicate groups come from the exact-dedup 128-bit text
#   hash (one groupBy); the canonical pick is an in-group max over
#   (n_chars, -doc_id) structs — no window needed, one aggregation.
#
# Determinism: multiset results are exact integer multiplicities;
# survivor choice is a total order (longest text, then lowest doc id).
# ---------------------------------------------------------------------------


# -- x_multiset_ops: EXCEPT ALL / INTERSECT ALL with duplicate counts --------

def x_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset algebra over order-part incidence: part keys on urgent
    orders EXCEPT ALL part keys on low-priority orders (per-occurrence,
    not per-distinct-value), summarized as per-part surviving
    multiplicity — the bag semantics `except`/`intersect` silently
    discard.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    keyed = li.join(
        F.broadcast(o.select("o_orderkey", "o_orderpriority")),
        li.l_orderkey == F.col("o_orderkey"),
    )
    urgent = keyed.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("l_partkey").alias("part")
    )
    low = keyed.where(F.col("o_orderpriority") == "5-LOW").select(
        F.col("l_partkey").alias("part")
    )
    return (
        urgent.exceptAll(low)
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("surviving_multiplicity"))
        .orderBy(F.desc("surviving_multiplicity"), "part")
        .limit(25)
    )


X_MULTISET_SQL = """
WITH keyed AS (
  SELECT l.l_partkey AS part, o.o_orderpriority
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
survived AS (
  SELECT part FROM keyed WHERE o_orderpriority = '1-URGENT'
  EXCEPT ALL
  SELECT part FROM keyed WHERE o_orderpriority = '5-LOW'
)
SELECT part, CAST(COUNT(*) AS BIGINT) AS surviving_multiplicity
FROM survived
GROUP BY part
ORDER BY surviving_multiplicity DESC, part
LIMIT 25
"""


# -- x_dedup_survivorship: canonical record per duplicate group --------------

def x_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship over exact-duplicate text groups: one canonical
    document per group (longest text, ties to the lowest doc id — a
    total order), with the group size and number dropped — the merge
    step that turns dedup PAIRS into a deduplicated corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        F.md5(F.col("text")).alias("grp"), "doc_id", "n_chars"
    )
    groups = (
        keyed.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
            ).alias("best"),
        )
        .where(F.col("group_size") > 1)
    )
    return (
        groups.select(
            (-F.col("best.nid")).cast("long").alias("survivor_doc_id"),
            F.col("best.n_chars").cast("long").alias("survivor_n_chars"),
            F.col("group_size").cast("long").alias("group_size"),
            (F.col("group_size") - 1).cast("long").alias("n_dropped"),
        )
        .orderBy("survivor_doc_id")
    )


X_SURVIVORSHIP_SQL = """
WITH keyed AS (
  SELECT md5(text) AS grp, doc_id, n_chars FROM documents
),
groups AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS group_size,
         MAX(struct_pack(nc := n_chars, nid := -doc_id)) AS best
  FROM keyed GROUP BY grp
  HAVING COUNT(*) > 1
)
SELECT CAST(-best.nid AS BIGINT) AS survivor_doc_id,
       CAST(best.nc AS BIGINT) AS survivor_n_chars,
       group_size,
       CAST(group_size - 1 AS BIGINT) AS n_dropped
FROM groups
ORDER BY survivor_doc_id
"""


register(x_multiset_ops, X_MULTISET_SQL)
register(x_dedup_survivorship, X_SURVIVORSHIP_SQL)


# ---------------------------------------------------------------------------
# Optimizer-statistics operators: join-size estimation from key-count
# sketches — the cardinality-estimation primitive behind join reordering
# and shuffle sizing decisions.
#
# The reference (kerighan/kinbaku) has no optimizer at all (SURVEY.md §4.1
# — it executes exactly what the caller asks); Spark's CBO keeps these
# statistics internally, and this operator surfaces the same computation
# as a queryable readout: the exact self-join size Σₖ n(k)² of lineitem on
# l_partkey (the quantity AGM bounds and join planners reason about),
# next to a hash-sampled estimate and its relative error.
#
# Shuffle shape (the 100 TB story): ONE groupBy(key) with map-side
# partials; both the exact and the sampled sums aggregate the SAME
# key-count table (the sample filter is a hash predicate on the key, so
# at scale you'd compute ONLY the sampled branch — 1/S of the keys —
# which is the point of the estimator).
#
# Determinism: the sample is keys with md5(key) mod `SAMPLE_MOD` == 0
# (the shared 60-bit hash, never engine RNG); sums in wide integers;
# relative error in integer ppm of the exact size.
# ---------------------------------------------------------------------------

SAMPLE_MOD = 8  # 1/8 of keys land in the sample


def x_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs key-sampled self-join cardinality of lineitem on
    l_partkey: exact = Σₖ n(k)², estimate = SAMPLE_MOD · Σ_{sampled k}
    n(k)². One row: both sizes, the signed error in ppm of exact, and
    the key counts behind them.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    sampled = (
        md5_long(F.col("l_partkey").cast("string")) % SAMPLE_MOD == 0
    )
    d38 = "decimal(38,0)"
    agg = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(sampled, 1).otherwise(0)).cast("long").alias(
            "n_sampled_keys"
        ),
        F.sum((F.col("n").cast(d38) * F.col("n"))).cast(d38).alias("exact"),
        (
            F.sum(
                F.when(sampled, F.col("n").cast(d38) * F.col("n")).otherwise(
                    F.lit(0).cast(d38)
                )
            )
            * SAMPLE_MOD
        )
        .cast(d38)
        .alias("est"),
    )
    return agg.filter(F.col("n_keys") > 0).select(
        "n_keys",
        "n_sampled_keys",
        F.col("exact").cast("long").alias("exact_size"),
        F.col("est").cast("long").alias("est_size"),
        F.expr(
            "CAST((est - exact) * 1000000 div exact AS BIGINT)"
        ).alias("err_ppm"),
    )


X_JOIN_SIZE_SQL = f"""
WITH per_key AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_partkey
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(COUNT(*) FILTER (
           WHERE {sql_md5_long("CAST(l_partkey AS VARCHAR)")} % {SAMPLE_MOD} = 0
         ) AS BIGINT) AS n_sampled_keys,
         SUM(CAST(n AS HUGEINT) * n) AS exact,
         SUM(CASE WHEN {sql_md5_long("CAST(l_partkey AS VARCHAR)")}
                       % {SAMPLE_MOD} = 0
                  THEN CAST(n AS HUGEINT) * n ELSE 0 END)
           * {SAMPLE_MOD} AS est
  FROM per_key
)
SELECT n_keys, n_sampled_keys,
       CAST(exact AS BIGINT) AS exact_size,
       CAST(est AS BIGINT) AS est_size,
       CAST((est - exact) * 1000000 // exact AS BIGINT) AS err_ppm
FROM agg
WHERE n_keys > 0
"""


register(x_join_size_estimate, X_JOIN_SIZE_SQL)
