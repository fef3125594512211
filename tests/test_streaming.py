"""Streaming parity tests: the same transformation over a file-source stream
(availableNow trigger) must agree with the batch run on identical data —
the reference's differential-test philosophy (SURVEY.md §5) applied to
Structured Streaming.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from kinbaku_spark.sources.tables import load_table
from kinbaku_spark.streaming import (
    read_events_stream,
    sessionized_stats,
    tumbling_event_counts,
    user_running_totals,
)


@pytest.fixture(scope="module")
def event_files(spark, sf_dir):
    """Events re-written as a multi-file parquet dir (a stream of files)."""
    d = tempfile.mkdtemp(prefix="kb_stream_")
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(
        f"{d}/events"
    )
    yield f"{d}/events"
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_batch_stream_parity(spark, event_files):
    batch = spark.read.parquet(event_files)
    stream = read_events_stream(spark, event_files)
    expected = tumbling_event_counts(batch)
    got = _run_stream(spark, tumbling_event_counts(stream), "t_tumbling")
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(expected, cols)


def test_session_batch_stream_parity(spark, event_files):
    batch = spark.read.parquet(event_files)
    stream = read_events_stream(spark, event_files)
    expected = sessionized_stats(batch)
    got = _run_stream(spark, sessionized_stats(stream), "t_sessions")
    cols = ["session_start", "session_end", "user_id", "n_events"]
    assert _rows(got, cols) == _rows(expected, cols)


def test_session_agrees_with_batch_gaps_and_islands(spark, event_files, sf_dir):
    """session_window must produce the same session count per user as the
    batch lag-based sessionization (q_events_sessions)."""
    from kinbaku_spark.queries.relational import q_events_sessions

    batch_sessions = sessionized_stats(spark.read.parquet(event_files))
    per_user = (
        batch_sessions.groupBy("user_id").count().withColumnRenamed("count", "n")
    )
    expected = q_events_sessions(spark, sf_dir).select("user_id", "n_sessions")
    got = {r["user_id"]: r["n"] for r in per_user.collect()}
    want = {r["user_id"]: r["n_sessions"] for r in expected.collect()}
    assert got == want


def test_stateful_running_totals(spark, event_files):
    stream = read_events_stream(spark, event_files)
    q = (
        user_running_totals(stream)
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("t_state")
    # last update per user must equal the batch totals
    batch = spark.read.parquet(event_files).groupBy("user_id").agg(
        {"*": "count", "value": "sum"}
    )
    want = {
        r["user_id"]: (r["count(1)"], round(r["sum(value)"], 4))
        for r in batch.collect()
    }
    final = {}
    for r in got.collect():
        final[r["user_id"]] = (r["n_events"], round(r["total_value"], 4))
    assert final == want


def test_stream_stream_join_parity(spark, event_files):
    """Stream-stream time-bounded join must agree with the batch self-join
    on identical data."""
    from kinbaku_spark.streaming.windows import correlate_event_pairs

    batch = spark.read.parquet(event_files)
    expected = correlate_event_pairs(batch, batch)
    s1 = read_events_stream(spark, event_files)
    s2 = read_events_stream(spark, event_files)
    q = (
        correlate_event_pairs(s1, s2)
        .writeStream.format("memory")
        .queryName("t_sjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("t_sjoin")
    cols = ["user_id", "a_event", "b_event"]
    assert _rows(got, cols) == _rows(expected, cols)
    assert got.count() > 0


def test_stream_edges_into_graph(spark, event_files):
    """Streaming graph mutation: edges derived from the event stream land in
    a Graph via foreachBatch bulk upserts; the final graph must equal the
    batch-derived graph."""
    from pyspark.sql import functions as F

    from kinbaku_spark.graph import Graph
    from kinbaku_spark.streaming.windows import stream_edges_into_graph

    def to_edges(df):
        return df.select(
            F.concat(F.lit("U"), F.col("user_id").cast("string")).alias("src"),
            F.concat(F.lit("E:"), F.col("event_type")).alias("dst"),
            F.lit(0).alias("type"),
        ).distinct()

    g = Graph(spark)
    q = stream_edges_into_graph(to_edges(read_events_stream(spark, event_files)), g)
    q.awaitTermination(120)
    want = to_edges(spark.read.parquet(event_files))
    assert sorted(g.edges) == sorted(
        (r["src"], r["dst"]) for r in want.collect()
    )
    assert g.n_nodes == want.select("src").union(want.select("dst")).distinct().count()


def test_stream_dedup_parity(spark, event_files):
    """Exact-dedup ingest over a redelivering source: every file delivered
    twice; the streaming dedup must recover exactly the batch-distinct
    set of events (one row per event_id)."""
    import tempfile

    from kinbaku_spark.streaming import dedup_events

    d = tempfile.mkdtemp(prefix="kb_dupstream_")
    src = spark.read.parquet(event_files)
    src.write.mode("append").parquet(f"{d}/dup")
    src.write.mode("append").parquet(f"{d}/dup")  # redelivery

    batch = spark.read.parquet(f"{d}/dup")
    assert batch.count() == 2 * src.count()
    expected = dedup_events(batch)

    q = (
        dedup_events(read_events_stream(spark, f"{d}/dup"))
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("t_dedup")
    cols = ["event_id", "user_id", "event_type"]
    assert _rows(got, cols) == _rows(expected, cols)
    assert got.count() == src.count()
    shutil.rmtree(d, ignore_errors=True)


def test_watermark_drops_late_data(spark):
    """Late-data semantics: an event arriving after the watermark passed its
    window must be DROPPED (its window was finalized and state evicted) —
    two availableNow triggers against one checkpoint (the watermark persists
    in it), with a parquet sink (append + checkpoint recovery; the memory
    sink cannot recover)."""
    import os

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="kb_late_")
    src, ckpt, out = f"{d}/files", f"{d}/ckpt", f"{d}/out"
    os.makedirs(src, exist_ok=True)

    def write_batch(rows):
        spark.createDataFrame(
            [(i, ts, 1, "t", 1.0, "{}") for i, ts in rows],
            "event_id bigint, ts string, user_id bigint, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        agg = tumbling_event_counts(
            read_events_stream(spark, src), window="30 minutes", watermark="30 minutes"
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (str(r["window_start"]), r["n_events"])
            for r in spark.read.parquet(out).collect()
        }

    # batch 1: two events at 10:0x, one at 12:00 -> watermark ends at 11:30,
    # so only the 10:00 window is finalized and emitted
    write_batch([(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:01:00"),
                 (3, "2024-01-01 12:00:00")])
    assert run_once() == {("2024-01-01 10:00:00", 2)}

    # batch 2: one LATE event inside the already-finalized 10:00 window plus
    # one at 13:01 that closes the 12:00 window. The late event must not
    # re-open, re-emit, or re-count the 10:00 window.
    write_batch([(4, "2024-01-01 10:05:00"), (5, "2024-01-01 13:01:00")])
    assert run_once() == {
        ("2024-01-01 10:00:00", 2),
        ("2024-01-01 12:00:00", 1),
    }

    shutil.rmtree(d, ignore_errors=True)


def test_stream_static_enrichment_parity(spark, event_files):
    """Stream-static broadcast join: enriching each micro-batch with a
    static user dimension must agree with the batch join, and rows with
    no dim match must survive (left join semantics)."""
    from pyspark.sql import functions as F

    from kinbaku_spark.streaming import enrich_with_dim

    batch = spark.read.parquet(event_files)
    # static dim derived from the batch snapshot: per-user tier; drop some
    # users so the left-join NULL path is exercised
    dim = (
        batch.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 3 != 0)
        .withColumn("tier", (F.col("user_id") % 5).cast("int"))
    )
    stream = read_events_stream(spark, event_files)

    def agg(df):
        return (
            enrich_with_dim(df, dim)
            .groupBy("tier")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )

    expected = agg(batch)
    got = _run_stream(spark, agg(stream), "t_enrich")

    def rows(df):  # tier is NULL for dim-missing users: sort None-safely
        return sorted(
            ((-1 if r["tier"] is None else r["tier"]), r["n"], r["sum_value"])
            for r in df.collect()
        )

    assert rows(got) == rows(expected)
    assert any(t == -1 for t, _, _ in rows(got)), "left-join NULL path unused"


def test_heavy_hitters_closed_window_parity(spark, event_files):
    """Append-mode heavy hitters: every window the stream emitted must carry
    the EXACT final top-k the batch run computes; emitted windows are the
    watermark-closed ones, so each ranking is complete, never partial."""
    import tempfile

    from kinbaku_spark.streaming import (
        heavy_hitters_to_parquet,
        rank_heavy_hitters,
        windowed_heavy_hitters,
    )

    d = tempfile.mkdtemp(prefix="kb_hh_")
    # time-RANGE-partitioned files: the stream sees time in file order, so
    # watermark closes are clean (the shared event_files fixture scatters a
    # window across files, which correctly DROPS stragglers — real late
    # data — but breaks exact parity with the batch run)
    batch = spark.read.parquet(event_files)
    batch.repartitionByRange(4, "ts").write.mode("overwrite").parquet(
        f"{d}/events"
    )
    # the file source orders by modification time, but concurrent writer
    # tasks finish in arbitrary order — pin mtimes to path order so the
    # stream consumes the time ranges in sequence (deterministic test)
    import glob
    import os as _os

    for i, p in enumerate(sorted(glob.glob(f"{d}/events/part-*"))):
        _os.utime(p, (1_000_000 + i, 1_000_000 + i))
    expected = rank_heavy_hitters(windowed_heavy_hitters(batch), k=3)

    # maxFilesPerTrigger=1 forces multiple micro-batches so the watermark
    # actually advances and closes windows mid-stream
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/events")
    )
    q = heavy_hitters_to_parquet(
        windowed_heavy_hitters(stream), f"{d}/out", f"{d}/ckpt", k=3
    )
    q.awaitTermination(180)

    got = spark.read.parquet(f"{d}/out")
    got_rows = _rows(got, ["window_start", "user_id", "n", "rank"])
    assert len(got_rows) > 0, "no window was closed by the watermark"
    # each emitted window appears exactly once with the batch-final ranking
    got_windows = {r[0] for r in got_rows}
    exp_rows = [
        r
        for r in _rows(expected, ["window_start", "user_id", "n", "rank"])
        if r[0] in got_windows
    ]
    assert got_rows == exp_rows
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def _parquet_rows(spark, path: str) -> list:
    """Every row of a parquet dir, partition columns included, sorted."""
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _last_batch_id(out_dir: str) -> int:
    """The highest ``batch_id=<n>`` partition a foreachBatch sink wrote."""
    return max(
        int(n.split("=", 1)[1]) for n in os.listdir(out_dir) if n.startswith("batch_id=")
    )


def test_streaming_dedup_ingest_matches_sequential_replay(spark, sf_dir):
    """The streaming dedup-ingest loop (foreachBatch probing a persistent
    MinHash band index) must produce exactly the flags a direct sequential
    replay of the same batches produces — and must actually flag dups. A
    replayed batch_id leaves flags and index unchanged."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kinbaku_spark.sources.tables import load_table
    from kinbaku_spark.streaming import dedup_ingest_batch, dedup_ingest_to_parquet

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = tempfile.mkdtemp(prefix="kb_ingest_")
    try:
        docs.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(
            f"{d}/docs"
        )
        for i, p in enumerate(sorted(glob.glob(f"{d}/docs/part-*"))):
            os.utime(p, (2_000_000 + i, 2_000_000 + i))

        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/docs")
        )
        q = dedup_ingest_to_parquet(
            stream, f"{d}/index", f"{d}/flags", f"{d}/ckpt"
        )
        q.awaitTermination(180)
        got = sorted(
            (r.doc_id, r.is_dup)
            for r in spark.read.parquet(f"{d}/flags").collect()
        )

        # sequential replay: same files, same order, direct calls
        for i, p in enumerate(sorted(glob.glob(f"{d}/docs/part-*"))):
            dedup_ingest_batch(
                spark.read.parquet(p), f"{d}/index2", f"{d}/flags2"
            )
        want = sorted(
            (r.doc_id, r.is_dup)
            for r in spark.read.parquet(f"{d}/flags2").collect()
        )
        assert got == want
        assert len(got) == docs.count()
        assert any(flag for _, flag in got), "expected some near-dup flags"
        # the index holds band keys ONLY for non-dup docs
        idx_docs = {r.doc_id for r in spark.read.parquet(f"{d}/index").collect()}
        dup_docs = {i for i, flag in got if flag}
        assert not (idx_docs & dup_docs)

        # an at-least-once replay of the last batch (same batch_id) must not
        # probe the index keys its own first attempt wrote
        flags_before = _parquet_rows(spark, f"{d}/flags")
        index_before = _parquet_rows(spark, f"{d}/index")
        files = sorted(glob.glob(f"{d}/docs/part-*"))
        dedup_ingest_batch(
            spark.read.parquet(files[-1]), f"{d}/index", f"{d}/flags",
            batch_id=_last_batch_id(f"{d}/flags"),
        )
        assert _parquet_rows(spark, f"{d}/flags") == flags_before
        assert _parquet_rows(spark, f"{d}/index") == index_before
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_outer_join_parity(spark, event_files):
    """LEFT OUTER stream-stream join: matched rows must equal the batch
    join; unmatched clicks older than the joint watermark must surface
    null-padded (state expiry); younger unmatched clicks stay in state and
    are legitimately absent."""
    import datetime

    from pyspark.sql import functions as F

    from kinbaku_spark.streaming.windows import (
        correlate_event_pairs,
        correlate_event_pairs_outer,
    )

    batch = spark.read.parquet(event_files)
    inner = correlate_event_pairs(batch, batch)
    matched = {r["a_event"] for r in inner.select("a_event").distinct().collect()}
    clicks = batch.filter(F.col("event_type") == "click")
    max_a = clicks.agg(F.max("ts")).collect()[0][0]
    max_b = (
        batch.filter(F.col("event_type") == "purchase")
        .agg(F.max("ts"))
        .collect()[0][0]
    )
    wm = min(max_a, max_b) - datetime.timedelta(hours=2)
    expired = wm - datetime.timedelta(minutes=30)
    null_rows = sorted(
        (r["user_id"], r["event_id"], None)
        for r in clicks.collect()
        if r["event_id"] not in matched and r["ts"] < expired
    )
    expected = sorted(
        [
            (r["user_id"], r["a_event"], r["b_event"])
            for r in inner.collect()
        ]
        + null_rows
    )

    s1 = read_events_stream(spark, event_files)
    s2 = read_events_stream(spark, event_files)
    q = (
        correlate_event_pairs_outer(s1, s2)
        .writeStream.format("memory")
        .queryName("t_sjoin_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("t_sjoin_outer")
    assert null_rows, "fixture must exercise the null-emission path"
    assert _rows(got, ["user_id", "a_event", "b_event"]) == expected


def test_streaming_ann_ingest_matches_sequential_replay(spark, sf_dir):
    """The streaming ANN-ingest loop (foreachBatch probing a persistent
    IVF index, search-then-insert) must produce exactly the results a
    direct sequential replay of the same batches produces, and every
    reported neighbor must have been indexed in an EARLIER batch. A
    replayed batch_id leaves results and index unchanged."""
    import glob
    import os
    import shutil
    import tempfile

    from kinbaku_spark.sources.tables import load_table
    from kinbaku_spark.streaming import (
        ann_ingest_batch,
        ann_ingest_to_parquet,
        seed_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = seed_centroids(emb, k=8)
    d = tempfile.mkdtemp(prefix="kb_ann_ingest_")
    try:
        emb.repartitionByRange(4, "vec_id").write.mode("overwrite").parquet(
            f"{d}/vecs"
        )
        files = sorted(glob.glob(f"{d}/vecs/part-*"))
        for i, p in enumerate(files):
            os.utime(p, (2_000_000 + i, 2_000_000 + i))

        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/vecs")
        )
        q = ann_ingest_to_parquet(
            stream, f"{d}/index", f"{d}/results", f"{d}/ckpt", cents
        )
        q.awaitTermination(180)
        got = sorted(
            (r.vec_id, r.rank, r.neighbor_id, r.dot)
            for r in spark.read.parquet(f"{d}/results").collect()
        )

        for p in files:
            ann_ingest_batch(
                spark.read.parquet(p), f"{d}/index2", f"{d}/results2", cents
            )
        want = sorted(
            (r.vec_id, r.rank, r.neighbor_id, r.dot)
            for r in spark.read.parquet(f"{d}/results2").collect()
        )
        assert got == want
        assert got, "expected some ANN results after the first batch"

        # search-then-insert: a neighbor must come from a STRICTLY earlier batch
        batch_of = {}
        for i, p in enumerate(files):
            for r in spark.read.parquet(p).collect():
                batch_of[r.vec_id] = i
        for vec_id, _rank, neighbor_id, _dot in got:
            assert batch_of[neighbor_id] < batch_of[vec_id]

        # the index holds every ingested vector exactly once
        idx = spark.read.parquet(f"{d}/index")
        assert idx.count() == emb.count()
        assert idx.select("vec_id").distinct().count() == emb.count()

        # an at-least-once replay of the last batch (same batch_id) must not
        # find its own first attempt's vectors as neighbors
        results_before = _parquet_rows(spark, f"{d}/results")
        index_before = _parquet_rows(spark, f"{d}/index")
        ann_ingest_batch(
            spark.read.parquet(files[-1]), f"{d}/index", f"{d}/results", cents,
            batch_id=_last_batch_id(f"{d}/results"),
        )
        assert _parquet_rows(spark, f"{d}/results") == results_before
        assert _parquet_rows(spark, f"{d}/index") == index_before
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_media_decode_matches_batch(spark):
    """Real PNG/BMP decode over a readStream source must produce exactly
    the batch operator's features (mapInPandas is stateless 1→1, so batch
    and micro-batch plans are the same stage)."""
    import glob
    import os
    import shutil
    import tempfile

    import numpy as np

    from kinbaku_spark.operators.codecs import CODECS
    from kinbaku_spark.operators.multimodal import image_features
    from kinbaku_spark.streaming import decode_image_stream

    rows = []
    for i in range(8):
        arr = np.full((i % 5 + 2, i % 7 + 3, 3), i * 11 % 251, np.uint8)
        payload = CODECS["encode_png"](arr) if i % 2 == 0 else CODECS["encode_bmp"](arr)
        rows.append((i, bytearray(payload)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    d = tempfile.mkdtemp(prefix="kb_media_stream_")
    try:
        df.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(
            f"{d}/payloads"
        )
        for i, p in enumerate(sorted(glob.glob(f"{d}/payloads/part-*"))):
            os.utime(p, (2_000_000 + i, 2_000_000 + i))
        stream = (
            spark.readStream.schema("doc_id long, payload binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/payloads")
        )
        q = (
            decode_image_stream(stream)
            .writeStream.format("memory")
            .queryName("media_decode_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not drain within 120s"
        got = sorted(
            tuple(r) for r in spark.sql("SELECT * FROM media_decode_stream").collect()
        )
        want = sorted(tuple(r) for r in image_features(df, fake=False).collect())
        assert got == want
        assert len(got) == 8
        # spot-check one decoded dimension against the synthesis params
        by_id = {t[0]: t for t in got}
        assert (by_id[3][2], by_id[3][3]) == (3 % 7 + 3, 3 % 5 + 2)  # (w, h)
    finally:
        shutil.rmtree(d, ignore_errors=True)
