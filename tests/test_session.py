"""Session defaults: the driver heap sized from the host, and a codegen
cache that holds a query mix's generated classes across passes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from kinbaku_spark.session import CODEGEN_CACHE_ENTRIES, default_driver_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# An interleaved mix of one-pass relational and pipeline queries whose
# generated sources outnumber Spark's default cache of 100 entries.
MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q_window_top_orders",
    "x_dedup_minhash",
    "q5_local_supplier_volume",
    "q_events_sessions",
)

# Two passes over MIX in a fresh session (so the first pass compiles the
# mix's whole working set, whatever the suite ran before), reporting each
# pass's compiles and the session's cache size.
PASSES = """
import json, sys
import bench
from kinbaku_spark.queries import QUERIES
from kinbaku_spark.session import get_spark

sf_dir, names = sys.argv[1], sys.argv[2:]
spark = get_spark(shuffle_partitions=8)
compiles = []
for _ in range(2):
    before = bench.jvm_counters(spark)[0]
    for name in names:
        bench._force(QUERIES[name](spark, sf_dir))
    compiles.append(bench.jvm_counters(spark)[0] - before)
print(json.dumps({
    "compiles": compiles,
    "max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
}))
"""


def test_default_driver_memory_fits_the_host():
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    default = default_driver_memory()
    assert default.endswith("m")
    assert 0 < int(default[:-1]) <= min(24 * 1024, ram_mb)


def test_codegen_cache_is_sized(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_second_pass_of_a_mix_compiles_almost_nothing(sf_dir):
    """A warm pass reuses every generated class of the first: at Spark's
    default of 100 entries the mix evicts its own classes before their
    reuse and each pass compiles them again."""
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        KB_CACHE_TABLES="0",
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", PASSES, sf_dir, *MIX],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.splitlines()[-1])
    first, second = got["compiles"]
    assert first > 100, got  # the mix outgrows the default cache
    # a class AQE renumbers between passes is compiled again under its new
    # name; evictions would recompile most of the mix
    assert second <= 10, got
    assert got["max_entries"] == str(CODEGEN_CACHE_ENTRIES)
