"""Streaming ANN index ingest: maintain a persistent IVF index over an
embedding stream and answer each arriving vector's top-k similarity
search against everything indexed BEFORE it (search-then-insert).

This is the vector-database ingest loop shaped for Spark Structured
Streaming, the embedding-side sibling of the dedup ingest
(streaming/windows.py:362): the coarse quantizer (centroids) is trained
offline and FIXED; each foreachBatch step (1) assigns the batch's
vectors to their nearest centroid cell, (2) probes only the `n_probe`
nearest cells of the persistent index for candidates — never the whole
index, (3) emits verified top-k neighbors, and (4) appends the batch's
vectors to the index under a batch_id partition; a replayed batch probes
the index without its own partition and overwrites it (exactly-once on
at-least-once foreachBatch retries; streaming/batch_index.py).

At 100 TB the index is a cell-bucketed table: the probe join hits
`n_probe` buckets per query vector, so per-batch cost scales with batch
size × probed-cell mass, independent of total index size.

Determinism: vectors quantized to integer micro-units; distances and
dot products are exact int64 arithmetic; ties break on lowest
cell/neighbor id — a sequential replay of the same batches reproduces
results and index bit-for-bit (test_streaming).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from kinbaku_spark.operators.similarity import _l2_lit
from kinbaku_spark.streaming.batch_index import prior_index, write_batch

_INT_VEC = (
    "transform(embedding, v -> "
    "CAST(floor(CAST(v AS DOUBLE) * CAST('1000000.0' AS DOUBLE)) AS BIGINT))"
)


def _nearest_cells(vec: Column, centroids: list[tuple[int, list[int]]], n: int) -> Column:
    """Array of the n nearest centroid cell ids (ascending distance,
    ties on lowest cell id)."""
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(_l2_lit(vec, c).alias("d"), F.lit(cell).alias("c"))
                for cell, c in centroids
            ]
        )
    )
    return F.slice(ranked, 1, n).getField("c")


def seed_centroids(
    corpus: DataFrame, k: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[int]]]:
    """Fixed coarse quantizer: the first `k` ids' micro-unit vectors —
    the offline-trained-centroids stand-in (swap for k-means output in
    production; the ingest loop only needs SOME fixed centroid set)."""
    rows = (
        corpus.filter(F.col(id_col) < k)
        .select(F.col(id_col).alias("i"), F.expr(_INT_VEC).alias("q"))
        .collect()
    )
    return sorted((int(r["i"]), [int(x) for x in r["q"]]) for r in rows)


def ann_ingest_batch(
    batch_df: DataFrame,
    index_dir: str,
    results_dir: str,
    centroids: list[tuple[int, list[int]]],
    k: int = 5,
    n_probe: int = 2,
    batch_id: int | None = None,
) -> None:
    """One ingest step: search the persistent IVF index for the batch's
    vectors (probing `n_probe` cells each), write (vec_id, neighbor_id,
    dot, rank) results, then add the batch to the index."""
    spark = batch_df.sparkSession
    if batch_df.isEmpty() or not centroids:
        return
    vecs = batch_df.select(
        "vec_id", F.expr(_INT_VEC).alias("q")
    ).select(
        "vec_id",
        "q",
        _nearest_cells(F.col("q"), centroids, 1)[0].alias("cell"),
        F.explode(_nearest_cells(F.col("q"), centroids, n_probe)).alias("probe"),
    ).localCheckpoint(eager=True)

    index = prior_index(spark, index_dir, batch_id)
    if index is not None:
        pairs = vecs.join(
            index.select(
                F.col("cell").alias("probe"),
                F.col("vec_id").alias("neighbor_id"),
                F.col("q").alias("nq"),
            ),
            "probe",
        ).select(
            "vec_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("q", "nq", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot"),
        )
        from pyspark.sql import Window

        w = Window.partitionBy("vec_id").orderBy(
            F.desc("dot"), "neighbor_id"
        )
        results = (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("vec_id", "neighbor_id", "dot", "rank")
        )
    else:
        results = spark.createDataFrame(
            [], "vec_id long, neighbor_id long, dot long, rank int"
        )

    write_batch(results, results_dir, batch_id)
    write_batch(vecs.select("vec_id", "q", "cell").distinct(), index_dir, batch_id)


def ann_ingest_to_parquet(
    vec_stream: DataFrame,
    index_dir: str,
    results_dir: str,
    checkpoint_dir: str,
    centroids: list[tuple[int, list[int]]],
):
    """Wire an embedding stream through the ANN ingest loop; returns the
    started availableNow query."""

    def step(bdf: DataFrame, bid: int) -> None:
        ann_ingest_batch(
            bdf, index_dir, results_dir, centroids, batch_id=bid
        )

    return (
        vec_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(step)
        .trigger(availableNow=True)
        .start()
    )
