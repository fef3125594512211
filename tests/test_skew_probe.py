"""AQE skew-split mechanism regression (VERDICT r03 next-round #5).

The planted-hub drill (scripts/stress_skew_hub.py, STRESS_SKEW_HUB.md)
demonstrated two load-bearing facts about the demoted (shuffle-join) plans
a 10^9-node deployment gets:

1. AQE's skew-join splitting DOES fire on a hub key once the hot partition
   crosses the (here: lowered) thresholds — the at-scale safety valve the
   demoted plans rely on.
2. It does NOT fire when a join side is DERIVED state (an aggregation or
   other partitioning-preserving operator between the shuffle read and the
   join): OptimizeSkewedJoin can only replicate a side that is a plain
   shuffle read, so the derived side pins the partitioning and the skewed
   fact side cannot be split either. A localCheckpoint on the derived
   state restores splittability (the state becomes a fresh scan + fresh
   exchange) — the reason every iterative operator checkpoints its
   per-round state. (Round-3's drill attributed this to shuffle-exchange
   REUSE; the minimal experiment here shows reuse alone does NOT defeat
   the split on Spark 4.1.2 — the operative mechanism is the derived-state
   shape, locked precisely below.)

These lived only in a script + markdown; the regression here keeps the
caveat from silently returning (e.g. a refactor dropping a per-round
checkpoint would reintroduce the derived-state shape and silently disable
skew splitting at scale).
"""

from __future__ import annotations

import contextlib
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from stress_skew_hub import HUB_KEY, skew_split_probe  # noqa: E402

_PROBE_CONF = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@contextlib.contextmanager
def _probe_confs(spark):
    conf = spark.conf
    saved = {}
    for k, v in _PROBE_CONF.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                try:
                    conf.unset(k)
                except Exception:
                    pass
            else:
                conf.set(k, v)


def test_skew_split_fires_on_independent_dim(spark):
    """The probe's hub key (25% of a 2M-row fact) must trigger AQE's
    sort-merge-join skew split under the lowered thresholds."""
    fired, marker = skew_split_probe(spark)
    assert fired, "AQE skew-join split did not fire on the planted hub key"
    assert "skew=true" in marker or "skewed" in marker, marker


def _hub_fact(spark):
    """~1500 hub rows + 1000 tail rows over 500 keys, ~1KB payloads: the
    hub partition (~1.5MB) is both over the 64KB threshold and over
    2x the median under the probe confs. Skew detection reads COMPRESSED
    map-output sizes, so the payload must be incompressible — a sha2
    chain, not a constant-fill rpad (which lz4 flattens ~100x and the
    hub partition never crosses the threshold)."""
    payload = F.concat(*[
        F.sha2(F.concat(F.lit(f"s{i}-"), F.col("id").cast("string")), 512)
        for i in range(8)
    ])
    return spark.range(2_500).select(
        F.when(F.col("id") < 1_500, F.lit(HUB_KEY))
        .otherwise(F.concat(F.lit("K"), F.col("id") % 500))
        .alias("k"),
        payload.alias("payload"),
    )


def _exec_plan(joined, sum_expr):
    """Run the join through a payload-width-preserving aggregate (column
    pruning would otherwise shrink the shuffle under the skew threshold)
    and return the executed plan of the SAME QueryExecution."""
    res = joined.agg(sum_expr.alias("s"))
    res.collect()
    return res._jdf.queryExecution().executedPlan().toString()


def test_derived_state_defeats_skew_split_and_checkpoint_restores(spark):
    """The caveat, isolated to its operative mechanism: join the skewed
    fact to state DERIVED from it (groupBy over the same key).

    - inline leg: the final HashAggregate sits between the shuffle read
      and the join, so the state side is not a plain shuffle read —
      OptimizeSkewedJoin cannot replicate it, and the skewed fact side
      cannot be split either. This is the shape an iterative operator
      gets WITHOUT its per-round localCheckpoint.
    - checkpointed leg: the SAME state localCheckpointed becomes a fresh
      scan + fresh exchange, and the hub partition splits (same data,
      same thresholds).

    If the inline leg ever starts firing, Spark learned to split through
    derived-state sides and the localCheckpoint-for-skew rationale (not
    the checkpoints themselves — they also break compounding lineage) can
    be revisited."""
    with _probe_confs(spark):
        fact = _hub_fact(spark)
        width = F.sum(F.length("payload"))

        deg_inline = fact.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        inline_plan = _exec_plan(fact.join(deg_inline, "k"), width)

        deg_ckpt = (
            fact.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        ckpt_plan = _exec_plan(fact.join(deg_ckpt, "k"), width)

    assert "skew=true" in ckpt_plan, (
        "checkpointed leg did not skew-split — thresholds no longer fit"
        " the fixture, fix the fixture before trusting the inline"
        " assertion\n" + ckpt_plan[:2000]
    )
    assert "skew=true" not in inline_plan, (
        "skew split fired through a derived-state join side — Spark"
        " behavior changed; revisit the localCheckpoint-for-skew rationale"
    )


def test_reused_exchange_alone_does_not_defeat_split(spark):
    """Canary for the refined round-4 finding: an identical-subplan
    self-join reuses ONE shuffle exchange for both sides, and Spark 4.1.2
    still skew-splits it (both sides get partial+replicated reads). The
    round-3 drill over-attributed the defeat to reuse; if this ever stops
    splitting, the derived-state test above is no longer the whole story
    and STRESS_SKEW_HUB.md needs updating."""
    with _probe_confs(spark):
        fact = _hub_fact(spark)
        plan = _exec_plan(
            fact.alias("a").join(fact.alias("b"), "k"),
            F.sum(F.length("a.payload") + F.length("b.payload")),
        )
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan[:2000]
    assert "skew=true" in plan, plan[:2000]


def test_substring_apply_join_shape_skew_splits(spark):
    """x_substring_dedup_apply's occurrence join (spans ⋈ hash->owner on
    the span hash) with a PLANTED HOT SPAN (one hash carrying 60% of the
    postings — the 10^6-df licence-header shape, VERDICT r04 next-round
    #5). Two legs:

    - inline leg (the query WITHOUT its pin): the hash->owner side is an
      aggregate derived from the postings on the join key, so
      OptimizeSkewedJoin cannot replicate it and the hot hash does NOT
      split — measured, which is why the query pins `dup`;
    - pinned leg (the query's actual shape): the same map checkpointed is
      a plain scan and the hot partition splits.
    """
    with _probe_confs(spark):
        payload = F.concat(*[
            F.sha2(F.concat(F.lit(f"s{i}-"), F.col("id").cast("string")), 512)
            for i in range(8)
        ])
        spans = spark.range(2_500).select(
            F.when(F.col("id") < 1_500, F.lit(0))
            .otherwise(F.col("id") % 500 + 1)
            .alias("h"),
            (F.col("id") % 97).alias("doc_id"),
            F.col("id").alias("pos"),
            payload.alias("payload"),
        ).persist()
        spans.count()
        try:
            def dup_map():
                return (
                    spans.select("doc_id", "h")
                    .distinct()
                    .groupBy("h")
                    .agg(
                        F.count(F.lit(1)).alias("nd"),
                        F.min("doc_id").alias("owner"),
                    )
                    .filter(F.col("nd") >= 2)
                    .select("h", "owner")
                )

            def occ_plan(dup):
                occ = (
                    spans.join(dup, "h")
                    .filter(F.col("doc_id") != F.col("owner"))
                    .agg(F.sum(F.length("payload")).alias("s"))
                )
                occ.collect()
                return occ._jdf.queryExecution().executedPlan().toString()

            inline_plan = occ_plan(dup_map())
            pinned_plan = occ_plan(dup_map().localCheckpoint(eager=True))
        finally:
            spans.unpersist()
    assert "skew=true" in pinned_plan, (
        "pinned hash->owner leg did not skew-split — the fixture no longer"
        " crosses the probe thresholds\n" + pinned_plan[:2000]
    )
    assert "skew=true" not in inline_plan, (
        "skew split fired through the derived hash->owner side — Spark"
        " behavior changed; x_substring_dedup_apply's pin-for-skew"
        " rationale can be revisited"
    )


import pytest  # noqa: E402


def _family_state(name, fact):
    """Miniature of each iterative operator's per-round JOIN-SIDE state,
    derived from the skewed fact on the join key exactly the way the
    operator derives it (file:line in each branch). The canary asserts the
    operator's actual discipline — state pinned via localCheckpoint before
    the join — keeps the skewed fact side splittable."""
    if name == "kcore_keep_list":
        # queries/graph_queries.py g_kcore: degree filter over the live
        # edge set, semi-joined back per peel round
        return (
            fact.groupBy("k")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= 1)
            .select("k")
        )
    if name == "boruvka_label_map":
        # queries/graph_metrics.py g_boruvka_mst: per-round component
        # label map (key -> min label) relabeling the edge endpoints
        return fact.groupBy("k").agg(F.min("payload").alias("label"))
    if name == "scc_label_vector":
        # operators/components.py scc: per-round (f, b) label vector the
        # hop/jump joins read
        return fact.groupBy("k").agg(
            F.min("payload").alias("f"), F.max("payload").alias("b")
        )
    if name == "lsh_band_signatures":
        # operators/dedup.py simhash_near_duplicates banded=True /
        # operators/similarity.py embedding_near_duplicates_lsh: the
        # signature table both band-join sides read
        return fact.groupBy("k").agg(
            F.min(F.sha2("payload", 256)).alias("sig")
        )
    raise AssertionError(name)


@pytest.mark.parametrize(
    "name",
    [
        "kcore_keep_list",
        "boruvka_label_map",
        "scc_label_vector",
        "lsh_band_signatures",
    ],
)
def test_iterative_join_sides_skew_split(spark, name):
    """VERDICT r05 next-round #5: every iterative operator's per-round
    join must keep a splittable (pinned or scan-backed) state side. For
    each family: the UNPINNED derived state defeats AQE's skew split on a
    planted hub key (the mechanism test above), and the operator's actual
    pinned shape restores it — including the LAZY (eager=False)
    localCheckpoint the cheap rounds use."""
    with _probe_confs(spark):
        fact = _hub_fact(spark)
        width = F.sum(F.length("payload"))

        inline_plan = _exec_plan(fact.join(_family_state(name, fact), "k"), width)
        pinned_plan = _exec_plan(
            fact.join(_family_state(name, fact).localCheckpoint(eager=False), "k"),
            width,
        )
    assert "skew=true" in pinned_plan, (
        f"{name}: pinned state side did not skew-split — either the"
        " fixture no longer crosses the probe thresholds or lazy"
        " localCheckpoint stopped producing a scan-backed side\n"
        + pinned_plan[:2000]
    )
    assert "skew=true" not in inline_plan, (
        f"{name}: skew split fired through the derived state side — Spark"
        " behavior changed; the pin-for-skew rationale can be revisited"
    )
