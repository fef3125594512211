"""CPU of a per-key point-read miss against a whole-table fetch, and the
ski-rental price ratio ``ROWS_PER_MISS`` they give (kinbaku_spark/graph.py).

    python3 scripts/point_fetch_cost.py [--sf 0.01] [--seed 7] [--misses 10] [--repeats 15]

Run it from the root of a checkout. It generates the supplier→part graph
with perfbench's generator into a temp dir and sets the engine up exactly as
the ``graph_point_ops`` benchmark does (``local[nproc]``, resident tables:
persisted and counted). Then it measures CPU seconds of this process and
the JVM over ``--repeats`` rounds per table, each round a batch of
``--misses`` distinct keys fetched one job each on a graph that never buys
(nodes by ``has_node``, edges by ``out_degree``) and one whole fetch of the
table, after ``WARMUP`` rounds that are dropped. A whole fetch publishes the
table's record snapshot, as the buy does; it is dropped again after each
round, so that every miss is a per-key job. It prints the median over the
rounds, and beside it the interquartile range, of:

- a miss, per key;
- a whole fetch, and the part of it spent in this Python process and in
  the JVM (with its child processes), so the receipt shows where fetch CPU
  goes (each column is its own median, so the parts need not sum to the
  total);
- the per-row transfer cost: (whole fetch - miss) / rows;
- rows per miss: miss / per-row cost.

``ROWS_PER_MISS`` is the edge table's median, the larger table and the one
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
    parser.add_argument("--repeats", type=int, default=15)
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
    from kinbaku_spark import state
    from kinbaku_spark.graph import Graph
    from kinbaku_spark.session import get_spark
    from kinbaku_spark.sources import tables

    spark = get_spark(app_name="point-fetch-cost", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = SparkContext._gateway.proc.pid
    nodes = tables.supplier_part_nodes(spark, data).persist()
    edges = tables.supplier_part_edges(spark, data).persist()
    rows = {"nodes": nodes.count(), "edges": edges.count()}

    def cpu_s() -> tuple[float, float]:
        """CPU seconds so far of this process and of the JVM with its
        children."""
        t = os.times()
        return t.user + t.system, sum(proc_cpu_s(p) for p in [jvm, *descendants(jvm)])

    def cpu_of(fn) -> tuple[float, float]:
        py0, jvm0 = cpu_s()
        fn()
        py1, jvm1 = cpu_s()
        return py1 - py0, jvm1 - jvm0

    keys = sorted(r[0] for r in nodes.select("key").collect())
    sources = sorted(r[0] for r in edges.select("src").distinct().collect())
    graph_mod.ROWS_PER_MISS = 0  # never buy: every miss fetches one key

    def misses(table: str, picked: list[str]) -> None:
        g = Graph(spark, nodes=nodes, edges=edges)
        for k in picked:
            g.has_node(k) if table == "nodes" else g.out_degree(k)

    def whole(table: str) -> None:
        g = Graph(spark, nodes=nodes, edges=edges)
        recs, df = (g._node_recs, nodes) if table == "nodes" else (g._edge_recs, edges)
        recs.hold(df, graph_mod._resident(df)[1])

    # printed columns, in the order of a round's figures: (name, scale, decimals)
    cols = (
        ("miss_ms", 1e3, 1),
        ("whole_ms", 1e3, 1),
        ("whole_py_ms", 1e3, 1),
        ("whole_jvm_ms", 1e3, 1),
        ("row_us", 1e6, 2),
        ("rows_per_miss", 1, 0),
    )
    out = {}
    for table, pool in (("nodes", keys), ("edges", sources)):
        n = WARMUP + args.repeats
        step = max(1, len(pool) // (args.misses * n))
        batches = [pool[i * step :: step * n][: args.misses] for i in range(n)]
        # rounds alternate a batch of misses and a whole fetch; the first
        # WARMUP rounds (JIT, planner caches) are dropped
        rounds = []
        for batch in batches:
            miss = sum(cpu_of(lambda: misses(table, batch))) / len(batch)
            fetch_py, fetch_jvm = cpu_of(lambda: whole(table))
            state.drop_snapshots()  # the next round's misses must not adopt it
            fetch = fetch_py + fetch_jvm
            per_row = (fetch - miss) / rows[table]
            ratio = miss / per_row if per_row > 0 else float("inf")
            rounds.append((miss, fetch, fetch_py, fetch_jvm, per_row, ratio))
        out[table] = [spread([r[i] for r in rounds[WARMUP:]]) for i in range(len(cols))]
    spark.stop()

    print(
        f"config: sf {args.sf} seed {args.seed} local[{cores}] driver {DRIVER_MEM}"
        f" spark {pyspark.__version__}; median [interquartile range] of {args.repeats}"
        f" rounds of {args.misses} misses and a whole fetch per table"
    )
    print(f"{'table':<6} {'rows':>7} " + " ".join(f"{name:>22}" for name, _, _ in cols))
    for table, spreads in out.items():
        cells = (
            f"{med * k:.{d}f} [{lo * k:.{d}f}, {hi * k:.{d}f}]".rjust(22)
            for (_, k, d), (med, lo, hi) in zip(cols, spreads)
        )
        print(f"{table:<6} {rows[table]:>7} " + " ".join(cells))
    print(f"ROWS_PER_MISS {out['edges'][-1][0]:.0f}")


def spread(xs: list[float]) -> tuple[float, float, float]:
    """(median, first quartile, third quartile) of ``xs``, the quartiles
    order statistics (an infinite rows-per-miss stays infinite)."""
    s = sorted(xs)
    return statistics.median(s), s[len(s) // 4], s[3 * len(s) // 4]


if __name__ == "__main__":
    sys.exit(main())
