"""Planted-hub skew drill for the iterative graph operators (VERDICT r02
next-round #5).

The reference's own implied skew workload is a 200,000-out-degree hub it
tolerates by sequential mmap scan (examples/one_node_many_neighbors.py:7-15).
Here the same shape is planted on a 10x graph corpus: 10 disjoint
relabeled copies of the sf0.1 supplier→part graph (~5.9M edges, ~210k
nodes) plus one HUB node with 200k out-edges into copy 0 — a single key
holding ~3.3% of all edge rows, far past AQE's skew factor.

Each iterative operator runs in BOTH plan modes:

- broadcast mode (default gate): the |V|-sized state table broadcasts, so
  the hub is NOT a shuffle-skew hazard — per-partition edge rows join map-
  side and the hot key only concentrates AGGREGATION input, which Spark's
  map-side partial aggregation absorbs.
- demoted mode (KB_BROADCAST_BOUND=0 — the plan a 10^9-node deployment
  gets): every state join becomes a key-partitioned shuffle join, and the
  hub key's edge rows land in ONE shuffle partition unless AQE's skew-join
  splitting engages (spark.sql.adaptive.skewJoin, on in session.py).

The drill records wall-clock per mode, whether any executed join reports
`isSkew=true` in demoted mode, and exact-count invariants (hub out-degree,
total node/edge cardinalities, k-core sizes equal across modes) so the
timing rows are also correctness checks. The salted-aggregation helpers
(operators/skew.py) are measured against the plain groupBy on the hub
degree count — on local[32] map-side combine already flattens a 200k-row
hot group, so salting is reported as the documented fallback for when the
per-key combine state itself is the bottleneck, not as a default.

Usage: python scripts/stress_skew_hub.py
Writes STRESS_SKEW_HUB.md.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from kinbaku_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("KB_SKEW_BASE_SF", "/root/testdata/sf0.1")
HUB_KEY = "HUB"
HUB_DEGREE = 200_000
COPIES = 10
FAKE_DIR = "/tmp/kb_skew_hub"  # cache-injection key, nothing written there

OPS = ["g_kcore", "g_label_propagation", "g_hits", "g_boruvka_mst", "g_in_degrees"]


def build_hub_graph(spark):
    """10 disjoint relabeled copies of the supplier→part graph + the hub."""
    from kinbaku_spark.operators.ids import ordered_zero_ids
    from kinbaku_spark.sources.tables import supplier_part_edges

    base = supplier_part_edges(spark, SF_DIR).select("src", "dst", "type", "weight")
    copies = [
        base.select(
            F.concat(F.lit(f"c{k}_"), "src").alias("src"),
            F.concat(F.lit(f"c{k}_"), "dst").alias("dst"),
            "type",
            "weight",
        )
        for k in range(COPIES)
    ]
    edges = copies[0]
    for c in copies[1:]:
        edges = edges.unionAll(c)
    # the hub: 200k out-edges into copy 0's part namespace (extra targets
    # are fresh nodes, exactly like the reference example's add_node loop)
    hub = spark.range(HUB_DEGREE).select(
        F.lit(HUB_KEY).alias("src"),
        F.concat(F.lit("c0_P"), F.col("id").cast("string")).alias("dst"),
        F.lit(0).cast("int").alias("type"),
        F.lit(0.05).alias("weight"),
    )
    edges = edges.unionAll(hub).persist()
    keys = (
        edges.select(F.col("src").alias("key")).union(edges.select("dst")).distinct()
    )
    nodes = (
        ordered_zero_ids(keys, id_col="index")
        .select(
            "key",
            "index",
            F.col("key").alias("name"),
            F.lit(0).alias("age"),
            F.lit(0.0).alias("score"),
        )
        .localCheckpoint(eager=True)
    )
    edges.count()
    return nodes, edges


def reset_graph_state(spark, nodes, edges):
    """(Re-)inject the hub graph as the stored graph for FAKE_DIR so the
    registry queries run against it unchanged. FAKE_DIR holds no lineitem,
    so the entry's input fingerprint stays constant."""
    from kinbaku_spark import state
    from kinbaku_spark.queries.graph_queries import _graph_state

    state.reset()  # also unpersists the previous injection of these edges
    edges.persist()
    _graph_state(spark, FAKE_DIR, "graph", lambda: (nodes, edges))


def run_op(spark, name, invariants):
    from kinbaku_spark.queries import QUERIES

    t0 = time.perf_counter()
    df = QUERIES[name](spark, FAKE_DIR)
    # collect (not count): Dataset.collectToPython executes df's OWN
    # cached QueryExecution — the same one inspected below — so AQE's
    # isSkew markers reflect the run we time. df.count() would run a
    # DIFFERENT QueryExecution and the marker read would be blind to it
    # (ADVICE r03).
    rows = len(df.collect())
    dt = time.perf_counter() - t0
    plan = df._jdf.queryExecution().executedPlan().toString()
    skew = "isSkew=true" in plan or "skew=true" in plan
    invariants.setdefault(name, []).append(rows)
    return dt, rows, skew


def skew_split_probe(spark):
    """Prove the AQE skew-split MECHANISM engages on a hub key once the
    hot partition crosses the (lowered) thresholds: a 2M-row fact with 25%
    of rows on one key, sort-merge-joined to an independent dim. Returns
    (fired, marker_line). Restores every conf it touches.

    Found while building this probe (mechanism pinned down precisely in
    round 4, tests/test_skew_probe.py): skew optimization does NOT fire
    when a join side is DERIVED state — an aggregation between the shuffle
    read and the join pins the partitioning, so OptimizeSkewedJoin cannot
    replicate that side and the skewed fact side cannot be split either.
    Plain exchange REUSE (identical-subplan self-join) does still split on
    Spark 4.1.2. One more reason the iterative operators localCheckpoint
    their per-round state: the checkpoint turns derived state into a fresh
    scan + fresh exchange and keeps the demoted plans skew-splittable."""
    conf = spark.conf
    keys = [
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = {}
    for k in keys:
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
    try:
        conf.set(keys[0], "64KB")
        conf.set(keys[1], "64KB")
        conf.set(keys[2], "2")
        conf.set(keys[3], "-1")
        left = spark.range(2_000_000).select(
            F.when(F.col("id") % 4 == 0, F.lit(HUB_KEY))
            .otherwise(F.concat(F.lit("K"), (F.col("id") % 50000)))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(50_001).select(
            F.concat(F.lit("K"), F.col("id")).alias("k"), F.lit(1).alias("v")
        ).unionAll(spark.createDataFrame([(HUB_KEY, 1)], "k string, v int"))
        df = left.join(right, "k")
        n = len(df.collect())
        assert n == 2_000_000, n
        plan = df._jdf.queryExecution().executedPlan().toString()
        marker = next(
            (l.strip() for l in plan.splitlines() if "skew=true" in l or "skewed" in l),
            "",
        )
        return ("skew=true" in plan or "skewed" in plan), marker
    finally:
        for k, v in saved.items():
            if v is None:
                try:
                    conf.unset(k)
                except Exception:
                    pass
            else:
                conf.set(k, v)


def main():
    spark = get_spark(app_name="kb_skew_hub")
    t0 = time.perf_counter()
    nodes, edges = build_hub_graph(spark)
    n_nodes, n_edges = nodes.count(), edges.count()
    print(f"hub graph: {n_nodes} nodes / {n_edges} edges "
          f"(built {time.perf_counter() - t0:.1f}s)", flush=True)

    # plain vs salted hub-degree aggregation (the groupBy skew shape)
    from kinbaku_spark.operators.skew import salted_count

    plain = edges.groupBy("src").agg(F.count(F.lit(1)).alias("count"))
    t0 = time.perf_counter()
    hub_deg_plain = plain.filter(F.col("src") == HUB_KEY).collect()[0]["count"]
    t_plain = time.perf_counter() - t0
    t0 = time.perf_counter()
    hub_deg_salted = (
        salted_count(edges, ["src"])
        .filter(F.col("src") == HUB_KEY)
        .collect()[0]["count"]
    )
    t_salted = time.perf_counter() - t0
    assert hub_deg_plain == hub_deg_salted == HUB_DEGREE, (
        hub_deg_plain, hub_deg_salted)

    invariants: dict[str, list[int]] = {}
    results = {}
    for mode, env in [("broadcast", None), ("demoted", "0")]:
        if env is None:
            os.environ.pop("KB_BROADCAST_BOUND", None)
        else:
            os.environ["KB_BROADCAST_BOUND"] = env
        reset_graph_state(spark, nodes, edges)
        for op in OPS:
            dt, rows, skew = run_op(spark, op, invariants)
            results[(op, mode)] = (dt, rows, skew)
            print(f"{mode:9s} {op:22s} {dt:7.1f}s rows={rows} skew_split={skew}",
                  flush=True)
    os.environ.pop("KB_BROADCAST_BOUND", None)

    fired, marker = skew_split_probe(spark)
    print(f"skew-split mechanism probe: fired={fired} ({marker[:80]})", flush=True)

    same = all(len(set(v)) == 1 for v in invariants.values())
    lines = [
        "# Planted-hub skew drill (scripts/stress_skew_hub.py)",
        "",
        f"Graph: {COPIES} disjoint sf0.1 supplier→part copies + a "
        f"{HUB_DEGREE:,}-out-degree hub (the reference's "
        "examples/one_node_many_neighbors.py shape) — "
        f"{n_nodes:,} nodes / {n_edges:,} edges, hub holds "
        f"{HUB_DEGREE / n_edges:.1%} of all edge rows.",
        "",
        "| operator | broadcast mode s | demoted (shuffle) mode s | "
        "AQE skew-split seen (demoted) | rows equal across modes |",
        "|---|---|---|---|---|",
    ]
    for op in OPS:
        db, rb, _ = results[(op, "broadcast")]
        dd, rd, sk = results[(op, "demoted")]
        lines.append(
            f"| {op} | {db:.1f} | {dd:.1f} | {sk} | {rb == rd} ({rb}) |"
        )
    lines += [
        "",
        f"Hub degree via plain groupBy: {t_plain:.2f}s; via "
        f"salted_count (operators/skew.py): {t_salted:.2f}s — both exactly "
        f"{HUB_DEGREE:,}. Map-side partial aggregation already absorbs the "
        "hot group on local[32]; salting is the documented fallback for "
        "when per-key combine state is the bottleneck (e.g. collect_list "
        "payloads), wired where needed rather than by default.",
        "",
        "Reading: broadcast mode is immune to join skew by construction "
        "(the hub only concentrates aggregation input, absorbed map-side). "
        "Demoted mode is the at-scale plan; AQE skew-join splitting "
        "(enabled in session.py) splits the hub partition when a sort-merge "
        "join's partition exceeds the skew thresholds — `skew_split` "
        "records whether it actually fired on this corpus. Equal row "
        "counts across modes make each timing row a correctness check.",
        "",
        "Mechanism probe: with skew thresholds lowered to fit this corpus "
        "(64KB/factor 2) and an INDEPENDENT dim side, the planted hub key "
        f"triggers AQE's split: fired={fired}, plan marker `{marker}`. "
        "The iterative operators' hot partitions here are megabytes — far "
        "under the production 256MB threshold — so no split is NEEDED at "
        "this scale; at 100 TB the same hub partition is hundreds of GB "
        "and crosses it. Caveat found by this probe (mechanism isolated "
        "in tests/test_skew_probe.py): skew optimization does not fire "
        "when a join side is DERIVED state — an aggregation between the "
        "shuffle read and the join pins the partitioning so neither side "
        "can be split; plain exchange reuse alone does still split. The "
        "per-round localCheckpoint on state tables (already standard in "
        "every iterative operator here) turns derived state into a fresh "
        "scan + exchange, so the demoted plans stay skew-splittable.",
        f"\nAll row-count invariants equal across modes: {same}.",
    ]
    with open(os.path.join(ROOT, "STRESS_SKEW_HUB.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
