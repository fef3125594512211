"""CPU of a per-key point-read miss against a whole-table fetch, and the
ski-rental price ratio ``ROWS_PER_MISS`` they give (kinbaku_spark/graph.py).

    python3 scripts/point_fetch_cost.py [--sf 0.01] [--seed 7] [--misses 10] [--repeats 5]

Run it from the root of a checkout. It generates the supplier→part graph
with perfbench's generator into a temp dir and sets the engine up exactly as
the ``graph_point_ops`` benchmark does (``local[nproc]``, resident tables:
persisted and counted). Then it measures CPU seconds of this process and
the JVM over ``--repeats`` rounds per table, each round a batch of
``--misses`` distinct keys fetched one job each on a graph that never buys
(nodes by ``has_node``, edges by ``out_degree``) and one whole fetch of the
table, after ``WARMUP`` rounds that are dropped. It prints the medians:

- a miss, per key;
- a whole fetch;
- the per-row transfer cost: (whole fetch - miss) / rows;
- rows per miss: miss / per-row cost.

``ROWS_PER_MISS`` is the edge table's figure, the larger table and the one
whose buy the benchmark's sessions pay for.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.run import DRIVER_MEM, configure_env, descendants, proc_cpu_s  # noqa: E402

# rounds run and dropped before the measured ones
WARMUP = 3


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--sf", type=float, default=0.01)
    parser.add_argument("--seed", type=int, default=7)
    parser.add_argument("--misses", type=int, default=10)
    parser.add_argument("--repeats", type=int, default=5)
    args = parser.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix="point-fetch-cost-")
    try:
        data = os.path.join(work, "data")
        datagen.write_tables(data, args.seed, args.sf)
        configure_env(work, cores, trace=False)
        measure(args, data, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def measure(args, data: str, cores: int) -> None:
    import pyspark
    from pyspark import SparkContext

    from kinbaku_spark import graph as graph_mod
    from kinbaku_spark.graph import Graph
    from kinbaku_spark.session import get_spark
    from kinbaku_spark.sources import tables

    spark = get_spark(app_name="point-fetch-cost", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = SparkContext._gateway.proc.pid
    nodes = tables.supplier_part_nodes(spark, data).persist()
    edges = tables.supplier_part_edges(spark, data).persist()
    rows = {"nodes": nodes.count(), "edges": edges.count()}

    def cpu_s() -> float:
        t = os.times()
        return t.user + t.system + sum(proc_cpu_s(p) for p in [jvm, *descendants(jvm)])

    def cpu_of(fn) -> float:
        c0 = cpu_s()
        fn()
        return cpu_s() - c0

    keys = sorted(r[0] for r in nodes.select("key").collect())
    sources = sorted(r[0] for r in edges.select("src").distinct().collect())
    graph_mod.ROWS_PER_MISS = 0  # never buy: every miss fetches one key

    def misses(table: str, picked: list[str]) -> None:
        g = Graph(spark, nodes=nodes, edges=edges)
        for k in picked:
            g.has_node(k) if table == "nodes" else g.out_degree(k)

    def whole(table: str) -> None:
        g = Graph(spark, nodes=nodes, edges=edges)
        g._hold_nodes() if table == "nodes" else g._hold_edges()

    out = {}
    for table, pool in (("nodes", keys), ("edges", sources)):
        n = WARMUP + args.repeats
        step = max(1, len(pool) // (args.misses * n))
        batches = [pool[i * step :: step * n][: args.misses] for i in range(n)]
        # rounds alternate a batch of misses and a whole fetch; the first
        # WARMUP rounds (JIT, planner caches) are dropped
        rounds = [
            (cpu_of(lambda: misses(table, batch)) / len(batch), cpu_of(lambda: whole(table)))
            for batch in batches
        ][WARMUP:]
        miss = statistics.median(r[0] for r in rounds)
        fetch = statistics.median(r[1] for r in rounds)
        per_row = (fetch - miss) / rows[table]
        out[table] = (rows[table], miss, fetch, per_row, miss / per_row if per_row > 0 else float("inf"))
    spark.stop()

    print(
        f"config: sf {args.sf} seed {args.seed} local[{cores}] driver {DRIVER_MEM}"
        f" spark {pyspark.__version__}; medians of {args.repeats} rounds of"
        f" {args.misses} misses and a whole fetch per table"
    )
    print(f"{'table':<6} {'rows':>7} {'miss_ms':>8} {'whole_ms':>9} {'row_us':>7} {'rows_per_miss':>13}")
    for table, (n, miss, fetch, per_row, ratio) in out.items():
        print(
            f"{table:<6} {n:>7} {miss * 1e3:>8.1f} {fetch * 1e3:>9.1f}"
            f" {per_row * 1e6:>7.2f} {ratio:>13.0f}"
        )
    print(f"ROWS_PER_MISS {out['edges'][4]:.0f}")


if __name__ == "__main__":
    sys.exit(main())
