"""Table loaders + deterministic graph derivations (FIXTURES.md §2).

The driver's synthetic parquet tables are the only test inputs. Graph
fixtures are derived from them with expressions that DuckDB can reproduce
verbatim, so the Spark engine and the SQL oracle always see identical data.

Scale notes: the derivations are single group-by/projection passes over the
fact tables — one shuffle each, map-side partial aggregation, column-pruned
parquet scans (only the 3-4 referenced columns are read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kinbaku_spark.graph import endpoint_keys
from kinbaku_spark.knobs import env_flag
from kinbaku_spark.state import fingerprint, shared

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Resident-table mode (KB_CACHE_TABLES=1, used by bench.py): pin each base
# table in executor memory as Spark's columnar in-memory cache, one
# state.shared entry per table, rebuilt when its parquet is rewritten. The
# driver's parquet files are single-row-group, so a cold scan re-decodes
# parquet on ONE task for every query; a resident engine (exactly like the
# reference's warm mmap page cache, BENCH_COMPARISON.md methodology) decodes
# once and serves batches from memory. Measured at sf0.1: persist-only beats
# both cold scans and a repartitioned cache on every headline query — an
# extra repartition destroys the single-pipeline shapes Catalyst already
# picks. At cluster scale the same role is played by multi-row-group files
# + executor/OS page cache; correctness paths never depend on this flag.
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if not env_flag("KB_CACHE_TABLES"):
        return _read_table(spark, sf_dir, name)

    def build() -> DataFrame:
        df = _read_table(spark, sf_dir, name).persist()
        df.count()  # materialize now: this is load, not query work
        return df

    return shared(spark, sf_dir, f"{name}.parquet", build, [name])


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), which Spark rejects by
        # default. The conf is runtime-settable, so set it here defensively —
        # the driver harness may hand us a session built without it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # truncate ns -> µs exactly like DuckDB does for TIMESTAMP(NANOS);
            # integer division: ns values exceed double's exact-int range
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # a session built without nanosAsLong reads TIMESTAMP(NANOS) as
            # NTZ (µs-truncated). Pin the wall clock to UTC — session-timezone
            # independent, and identical to DuckDB's epoch_us on naive ts.
            df = df.withColumn("ts", F.to_utc_timestamp(F.col("ts"), "UTC"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


# The one (application, sf_dir, table fingerprint) the session's temp views
# point at: a single slot, not a cache. A switch of sf_dir or a rewritten
# table changes the key and re-registers the views.
_REGISTERED: list[tuple] = []


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every base table as a temp view (same names DuckDB
    pre-registers), enabling a shared ANSI-SQL path: the identical query
    string runs on both engines. Skipped while the views already point at
    the current tables — re-registration re-reads 10 parquet footers per
    call."""
    key = (spark.sparkContext.applicationId, sf_dir, fingerprint(sf_dir, TABLE_NAMES))
    if _REGISTERED == [key]:
        return
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _REGISTERED[:] = [key]


# ---------------------------------------------------------------------------
# Graph derivations (FIXTURES.md §2). Each has an exact SQL twin used by the
# DuckDB oracle; keep the two in lockstep.
# ---------------------------------------------------------------------------

SUPPLIER_PART_EDGES_SQL = """
SELECT 'S' || CAST(l_suppkey AS VARCHAR) AS src,
       'P' || CAST(l_partkey AS VARCHAR) AS dst,
       0 AS type,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS weight
FROM lineitem
GROUP BY 1, 2, 3
"""

SUPPLIER_PART_NODES_SQL = """
WITH e AS (
  SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS src,
                  'P' || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem
),
k AS (
  SELECT src AS key FROM e UNION SELECT dst FROM e
)
SELECT key,
       CAST(ROW_NUMBER() OVER (ORDER BY key) - 1 AS BIGINT) AS "index",
       key AS name, 0 AS age, 0.0 AS score
FROM k
"""


def supplier_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite supplier→part graph from lineitem (skewed degrees)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("dst"),
            F.lit(0).alias("type"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("weight")
        )
    )


def supplier_part_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node table for the supplier→part graph with a dense canonical index.

    The reference assigns node ids by insertion order (graph.py:268-269,
    1372-1373) — a storage artifact. We canonicalize: dense rank over key
    order, documented deviation (SURVEY.md §4.3b). Ids come from the
    two-phase range assigner (operators/ids.py) — same mapping as a global
    row_number window, without the single-task sort (VERDICT r01 #5).
    """
    return supplier_part_nodes_of(supplier_part_edges(spark, sf_dir))


def supplier_part_nodes_of(edges: DataFrame) -> DataFrame:
    """supplier_part_nodes derived from a given supplier→part edge table
    (e.g. a persisted one, without re-running the lineitem aggregation)."""
    from kinbaku_spark.operators.ids import ordered_zero_ids

    return ordered_zero_ids(endpoint_keys(edges), "key", "index").select(
        "key",
        F.col("index"),
        F.col("key").alias("name"),
        F.lit(0).alias("age"),
        F.lit(0.0).alias("score"),
    )


CUSTOMER_ORDER_EDGES_SQL = """
SELECT 'C' || CAST(o_custkey AS VARCHAR) AS src,
       'O' || CAST(o_orderkey AS VARCHAR) AS dst,
       0 AS type,
       o_totalprice AS weight
FROM orders
"""


def customer_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree-like customer→order graph (high fan-out) from orders."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("dst"),
        F.lit(0).alias("type"),
        F.col("o_totalprice").alias("weight"),
    )


def user_event_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user→event-type graph from events."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.concat(F.lit("U"), F.col("user_id").cast("string")).alias("src"),
            F.concat(F.lit("E:"), F.col("event_type")).alias("dst"),
            F.lit(0).alias("type"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("weight"))
    )

PART_SUCCESSION_EDGES_SQL = """
SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR) AS src,
       'P' || CAST(nxt AS VARCHAR) AS dst
FROM (
  SELECT l_partkey,
         LEAD(l_partkey) OVER (
           PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey
         ) AS nxt
  FROM lineitem
)
WHERE nxt IS NOT NULL AND nxt <> l_partkey
"""


def part_succession_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed part→part succession graph: an edge P_a→P_b for every pair
    of CONSECUTIVE lineitems within one order (by (l_linenumber,
    l_partkey) — the synthetic lineitem has duplicate line numbers, so the
    part key is the deterministic tie-break), self-loops dropped, distinct. Unlike the bipartite supplier→part derivation this
    graph is cycle-rich at every scale factor (A precedes B in one order, B
    precedes A in another), which is what the strongly-connected-component
    family needs. Linear in lineitem (one window per order partition) —
    never the quadratic all-pairs-within-order product.
    """
    return _part_successions(spark, sf_dir).distinct()


def _part_successions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) = (P_a, P_b) for every pair of consecutive lineitems of
    one order, self-loops dropped, one row per occurrence: one LEAD window
    per order partition."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    return (
        li.select(
            F.col("l_partkey").alias("cur"),
            F.lead("l_partkey").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull() & (F.col("nxt") != F.col("cur")))
        .select(
            F.concat(F.lit("P"), F.col("cur").cast("string")).alias("src"),
            F.concat(F.lit("P"), F.col("nxt").cast("string")).alias("dst"),
        )
    )


PART_SUCCESSION_COUNTS_SQL = """
SELECT 'P' || CAST(l_partkey AS VARCHAR) AS src,
       'P' || CAST(nxt AS VARCHAR) AS dst,
       COUNT(*) AS cnt
FROM (
  SELECT l_partkey,
         LEAD(l_partkey) OVER (
           PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey
         ) AS nxt
  FROM lineitem
)
WHERE nxt IS NOT NULL AND nxt <> l_partkey
GROUP BY 1, 2
"""


def part_succession_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part_succession_edges with the occurrence COUNT kept per (src, dst)
    — the recurrence-strength weight the typed-motif query buckets into
    edge types. Same single-window linear derivation."""
    return (
        _part_successions(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
