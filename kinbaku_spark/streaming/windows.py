"""Structured Streaming operators over the events stream.

The reference has no streaming surface at all (SURVEY.md §2.4); these are
the Spark-native extension: watermarked tumbling/sliding windows,
session windows, and a custom stateful operator via applyInPandasWithState.

Each transformation takes ANY events DataFrame — batch or streaming — so
tests can assert batch/stream parity: run the same function over
``spark.read.parquet`` and over ``readStream`` (availableNow) and compare.

Scale notes: windowed aggregations shuffle on (window, key) — state store
size is bounded by watermark horizon × key cardinality, not stream length.
Late data beyond the watermark is dropped deterministically.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kinbaku_spark.streaming.batch_index import prior_index, write_batch

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, path_dir: str) -> DataFrame:
    """File-source stream over parquet event files (schema pinned — required
    for streaming reads)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path_dir)


def dedup_events(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exact-dedup ingest: keep one arrival per event_id — the first stage
    of any training-data ingest (at-least-once sources redeliver).

    Streaming path uses dropDuplicatesWithinWatermark: state holds one
    entry per event_id seen inside the watermark horizon and is evicted
    past it, so state size is bounded by (horizon x arrival rate), not
    stream length — the property that makes exact streaming dedup viable
    at 100 TB/day. Batch path is plain dropDuplicates (same semantics
    when data fits one run). Emits append-mode rows (no aggregation), so
    downstream sinks see each surviving event exactly once.
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def tumbling_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling window: count + sum(value) per (window, type)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_rates(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding window event rate per type."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def sessionized_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — the streaming twin
    of queries.relational.q_events_sessions."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


RUNNING_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_STATE_SCHEMA = "n bigint, total double"


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    event count + value total, emitted on every update.

    State is one fixed-width row per user — at 100 TB the state store scales
    with |users|, not |events|; RocksDB state backend recommended on a real
    cluster.
    """

    # self-contained closure: executors unpickle it without needing
    # kinbaku_spark on their PYTHONPATH (see operators/multimodal.py note)
    def running_totals_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 6)))
        yield _pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            running_totals_fn,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def correlate_event_pairs(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream (or batch-batch) inner join: pair each ``left_type``
    event with the same user's ``right_type`` events that follow within
    ``within``. Watermarks bound both join-state buffers; the time-range
    predicate lets Spark expire state deterministically.

    Scale: state per side is (watermark horizon x arrival rate); the join
    shuffles both streams on user_id once.
    """
    from pyspark.sql.functions import expr

    a = left.filter(F.col("event_type") == left_type).select(
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
        F.col("event_id").alias("a_event"),
    )
    b = right.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_event"),
    )
    if left.isStreaming:
        a = a.withWatermark("a_ts", watermark)
    if right.isStreaming:
        b = b.withWatermark("b_ts", watermark)
    return a.join(
        b,
        expr(
            f"a_user = b_user AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL {within}"
        ),
    ).select(
        F.col("a_user").alias("user_id"),
        "a_event",
        "b_event",
        F.col("a_ts").alias("click_ts"),
        F.col("b_ts").alias("purchase_ts"),
    )


def correlate_event_pairs_outer(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every ``left_type`` event appears in
    the output — paired with following same-user ``right_type`` events
    within ``within``, or null-padded once the watermark proves no match
    can still arrive. This is the state-EXPIRY semantics the inner join
    never exercises: an unmatched left row is held in the join state until
    `watermark` passes ``a_ts + within``, then emitted with nulls (Spark's
    no-data micro-batch advances the final watermark under availableNow).

    Scale: identical state bound to the inner form — per-side state is
    (watermark horizon x arrival rate); null emission adds no state, only
    a deferred flush.
    """
    from pyspark.sql.functions import expr

    a = left.filter(F.col("event_type") == left_type).select(
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
        F.col("event_id").alias("a_event"),
    )
    b = right.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_event"),
    )
    if left.isStreaming:
        a = a.withWatermark("a_ts", watermark)
    if right.isStreaming:
        b = b.withWatermark("b_ts", watermark)
    return a.join(
        b,
        expr(
            f"a_user = b_user AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL {within}"
        ),
        "leftOuter",
    ).select(
        F.col("a_user").alias("user_id"),
        "a_event",
        "b_event",
        F.col("a_ts").alias("click_ts"),
        F.col("b_ts").alias("purchase_ts"),
    )


def stream_edges_into_graph(
    edge_stream: DataFrame, graph, checkpoint_dir: str | None = None
):
    """Continuously ingest an edge stream into a Graph via foreachBatch:
    every micro-batch applies one bulk upsert (Graph.add_edges — anti-join +
    union with endpoint auto-create). This is the reference's add_edge write
    path (graph.py:1433-1524) lifted to a streaming micro-batch cadence: the
    per-record BST insert becomes one join per batch.

    Returns the StreamingQuery; callers stop it (or use availableNow) and
    then read the mutated graph. Scale: each batch is one shuffle of the
    batch (not the graph); lineage is truncated by the Graph's periodic
    localCheckpoint.
    """

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        graph.add_edges(batch_df)
        # materialize so the next batch's anti-join doesn't re-run this one
        graph._edges = graph._edges.localCheckpoint(eager=True)
        graph._nodes = graph._nodes.localCheckpoint(eager=True)

    writer = edge_stream.writeStream.foreachBatch(ingest).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def enrich_with_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: every micro-batch broadcast-joins the
    static dimension snapshot. No streaming state is involved — the dim is
    re-resolved per batch (so a Delta/parquet-backed dimension picks up
    updates between batches). This is the standard feature-enrichment stage
    of a training-data ingest: events + user/document metadata.

    At 100 TB/day the stream side stays partition-local (broadcast hash
    join), which is why the dim must be the broadcast side: a shuffle here
    would repartition every micro-batch.
    """
    return events.join(F.broadcast(dim), "user_id", "left")


def windowed_heavy_hitters(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Per-window per-user event counts — the aggregation half of a
    streaming heavy-hitters pipeline. In streaming append mode a window's
    rows are emitted ONCE, when the watermark closes it, so a downstream
    per-batch rank sees complete windows only (rank_heavy_hitters).

    State is bounded by (watermark horizon x active users per window);
    the shuffle key (window, user_id) is the same one the batch GROUP BY
    uses, so batch/stream plans agree.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n",
        )
    )


def rank_heavy_hitters(counts: DataFrame, k: int = 3) -> DataFrame:
    """Top-k users per closed window (ties break on user_id). Batch-shaped:
    applied per foreachBatch micro-batch on the streaming side, where each
    batch carries only windows the watermark just closed — so the rank is
    final, never a partial."""
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), "user_id")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("window_start", "window_end", "user_id", "n", "rank")
    )


def heavy_hitters_to_parquet(
    counts_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 3,
):
    """Wire the heavy-hitters stream to a parquet sink: append-mode windowed
    counts -> per-batch final ranking -> append. Returns the started query."""

    def rank_batch(bdf: DataFrame, _bid: int) -> None:
        ranked = rank_heavy_hitters(bdf, k)
        ranked.write.mode("append").parquet(out_dir)

    return (
        counts_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(rank_batch)
        .trigger(availableNow=True)
        .start()
    )


# -- streaming corpus dedup ingest (MinHash band index in parquet) ----------

def dedup_ingest_batch(
    batch_df: DataFrame,
    index_dir: str,
    flags_dir: str,
    n_hashes: int = 32,
    bands: int = 8,
    batch_id: int | None = None,
) -> None:
    """One ingest step of streaming corpus dedup: band the batch's MinHash
    signatures, probe them against the persistent band-key index, flag
    near-duplicate candidates (first-wins: a doc is a dup if any band key
    was seen in the index OR on a lower-id doc in the same batch), append
    flags, and add only the NEW docs' keys to the index.

    This is the training-ingest dedup loop at 100 TB: the index is a
    parquet (in production: Delta, bucketed by key) table that grows only
    with novel content; each batch pays one broadcast/shuffle probe join,
    and payload text never reaches the index — only band keys.
    """
    from kinbaku_spark.operators.dedup import minhash_signatures, shingle_hashes

    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return
    sh = shingle_hashes(batch_df, "doc_id", "text", 3)
    sig = minhash_signatures(sh, "doc_id", n_hashes, 42)
    rows = n_hashes // bands
    cols = [
        F.struct(
            F.lit(k).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"mh{k * rows + r}") for r in range(rows)]
            ).alias("key"),
        )
        for k in range(bands)
    ]
    keys = sig.select(
        "doc_id", F.explode(F.array(*cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    keys = keys.localCheckpoint(eager=True)

    index = prior_index(spark, index_dir, batch_id)
    if index is not None:
        hit = (
            keys.join(index.withColumnRenamed("doc_id", "first_doc"),
                      ["band", "key"])
            .select("doc_id")
            .distinct()
            .withColumn("index_hit", F.lit(True))
        )
    else:
        hit = keys.select("doc_id").distinct().filter(F.lit(False)).withColumn(
            "index_hit", F.lit(True)
        )
    w_min = Window.partitionBy("band", "key")
    batch_hit = (
        keys.withColumn("first_in_batch", F.min("doc_id").over(w_min))
        .filter(F.col("first_in_batch") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("batch_hit", F.lit(True))
    )
    flags = (
        batch_df.select("doc_id")
        .join(hit, "doc_id", "left")
        .join(batch_hit, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce("index_hit", F.lit(False))
                | F.coalesce("batch_hit", F.lit(False))
            ).alias("is_dup"),
        )
        .localCheckpoint(eager=True)
    )
    # idempotent retry (streaming/batch_index.py): a replayed batch_id
    # probes the index without its own partition and overwrites it
    write_batch(flags, flags_dir, batch_id)
    new_keys = keys.join(
        flags.filter(~F.col("is_dup")).select("doc_id"), "doc_id"
    )
    write_batch(new_keys, index_dir, batch_id)


def dedup_ingest_to_parquet(
    docs_stream: DataFrame,
    index_dir: str,
    flags_dir: str,
    checkpoint_dir: str,
):
    """Wire a document stream through the dedup ingest loop; returns the
    started availableNow query."""

    def step(bdf: DataFrame, bid: int) -> None:
        dedup_ingest_batch(bdf, index_dir, flags_dir, batch_id=bid)

    return (
        docs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(step)
        .trigger(availableNow=True)
        .start()
    )
