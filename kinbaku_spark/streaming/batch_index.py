"""The persistent parquet index of the streaming ingest loops. With a
``batch_id`` each batch owns the partition ``batch_id=<id>``: foreachBatch
is at-least-once, so a replayed batch must probe the index without the
partition its failed attempt wrote, then overwrite it. Without one
(direct sequential calls) rows are appended.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def _has_data(index_dir: str, skip: str) -> bool:
    """Whether ``index_dir`` holds a parquet file outside the partition
    directory ``skip`` and outside the hidden (``_``/``.``) directories
    Spark's reader also ignores."""
    for _, dirs, files in os.walk(index_dir):
        dirs[:] = [d for d in dirs if d != skip and not d.startswith(("_", "."))]
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def prior_index(
    spark: SparkSession, index_dir: str, batch_id: int | None
) -> DataFrame | None:
    """The index as earlier batches left it, without this batch's own
    partition; ``None`` while it holds no data."""
    if not _has_data(index_dir, f"batch_id={batch_id}"):
        return None
    index = spark.read.parquet(index_dir)
    if batch_id is None:
        return index
    return index.filter(F.col("batch_id") != batch_id).drop("batch_id")


def write_batch(df: DataFrame, out_dir: str, batch_id: int | None) -> None:
    """Overwrite the batch's own partition, or append without a batch id."""
    if batch_id is not None:
        df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
    else:
        df.write.mode("append").parquet(out_dir)
