"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the conf below is chosen so the same code is
correct and fast on a real cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast demotion)
  so the plan adapts when a 100 TB input produces skewed shuffle partitions.
- Arrow on, so the few Pandas-UDF operators (MinHash, embedding kernels)
  transfer columnar batches instead of pickled rows.
- ``shuffle.partitions`` sized for the local harness; on a cluster this is
  overridden by AQE's coalescing from ``spark.sql.adaptive.coalescePartitions``.
- The generated-code cache holds :data:`CODEGEN_CACHE_ENTRIES` classes, not
  Spark's 100. A cyclic query mix larger than the cache evicts each class
  before its reuse, so Janino compiles it again and HotSpot JIT-compiles the
  new class again: at 100 entries, warm passes of an 8-query mix spent 6 s
  of their 9.5 s of JVM CPU in JIT. With the set resident, a warm pass
  compiles almost nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# ``spark.sql.codegen.cache.maxEntries``: room for every generated class the
# engine's queries compile in one process. The 158-query headline suite at
# sf 0.1 fills ~2,900 entries: ~1,700 distinct sources, most cached twice
# because the key includes the class loader (the driver's and the local
# executor's). Sources average 9 KB and compile to 2.9 KB class files, so the
# suite's set costs ~50 MB of driver memory, ~70 MB at the cap.
CODEGEN_CACHE_ENTRIES = 4096


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
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    The Spark UI stays off: its server is pure overhead for headless runs,
    and per-query work is read from Spark's event log instead (``python
    bench.py --trace``). The ``spark.ui.retained*`` limits still matter —
    ``statusTracker`` job counts read the same status store.

    ``spark.sql.codegen.cache.maxEntries`` is a static conf, read once when
    the JVM's code generator first runs: it takes effect only when this call
    launches the JVM, and a session reused from an earlier call keeps the
    cache that JVM was started with.
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
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", "5000")
        .config("spark.ui.retainedStages", "5000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # the driver's events.parquet carries TIMESTAMP(NANOS) which Spark
        # refuses by default; read as long and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
