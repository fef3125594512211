"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the conf below is chosen so the same code is
correct and fast on a real cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast demotion)
  so the plan adapts when a 100 TB input produces skewed shuffle partitions.
- Arrow on, so the few Pandas-UDF operators (MinHash, embedding kernels)
  transfer columnar batches instead of pickled rows.
- ``shuffle.partitions`` sized for the local harness; on a cluster this is
  overridden by AQE's coalescing from ``spark.sql.adaptive.coalescePartitions``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def default_driver_memory() -> str:
    """``spark.driver.memory`` default: half the host's physical RAM, capped
    at 24g, so the driver heap never asks for more than the machine has."""
    cap_mb = 24 * 1024
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):
        return f"{cap_mb}m"
    return f"{min(cap_mb, ram_mb // 2)}m"


def get_spark(
    app_name: str = "kinbaku_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    ui_enabled: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``ui_enabled`` turns the Spark UI (and its REST status API) on for
    measurement harnesses (scripts/workprof.py); the engine default stays
    off — the UI server is pure overhead for headless runs.
    """
    cpus = int(DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "true" if ui_enabled else "false")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "5000")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events.parquet carries TIMESTAMP(NANOS) which Spark
        # refuses by default; read as long and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
