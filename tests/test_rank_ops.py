"""operators/rank.py — exact distributed rank / ntile / prefix sums.

Differential vs the single-partition windows they replace (identical
values is the whole contract: oracle hashes must not move), plus the
plan property that makes them worth having: the ONLY empty-partition
window left runs over the P-row partition-totals table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from kinbaku_spark.operators.rank import prefix_sums, ranked, with_ntile
from kinbaku_spark.plans.inspect import unpartitioned_windows


def _data(spark, n=997, seed=7):
    import random

    random.seed(seed)
    rows = [(i, random.randint(0, 50)) for i in range(n)]
    return spark.createDataFrame(rows, "id long, v long").repartition(7)


def test_ranked_matches_row_number(spark):
    df = _data(spark)
    naive = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "id"))
        ).collect()
    }
    mine = {
        r.id: r.rn for r in ranked(df, [F.col("v"), F.col("id")], "rn").collect()
    }
    assert naive == mine


def test_ranked_descending_and_total(spark):
    df = _data(spark, n=311)
    naive = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("v"), "id"))
        ).collect()
    }
    out = ranked(df, [F.desc("v"), F.col("id")], "rn", with_total=True)
    rows = out.collect()
    assert {r.id: r.rn for r in rows} == naive
    assert all(r["__total_rn"] == 311 for r in rows)


@pytest.mark.parametrize("k", [1, 2, 3, 4, 5, 7, 10, 311, 500])
def test_ntile_matches_builtin(spark, k):
    df = _data(spark, n=311)
    naive = {
        r.id: r.b
        for r in df.withColumn(
            "b", F.ntile(k).over(Window.orderBy("v", "id"))
        ).collect()
    }
    mine = {
        r.id: r.b
        for r in with_ntile(df, k, [F.col("v"), F.col("id")], "b").collect()
    }
    assert naive == mine


def test_prefix_sums_matches_window(spark):
    hist = (
        _data(spark)
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("id").alias("s"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    naive = {
        r.v: (r.c1, r.c2)
        for r in hist.select(
            "v",
            F.sum("cnt").over(w).alias("c1"),
            F.sum("s").over(w).alias("c2"),
        ).collect()
    }
    mine = {
        r.v: (r.c1, r.c2)
        for r in prefix_sums(
            hist, [F.col("v")], {"c1": "cnt", "c2": "s"}
        ).collect()
    }
    assert naive == mine


def test_prefix_sums_with_totals(spark):
    """with_totals attaches the exact grand total per summed column —
    derived from the operator's own per-partition aggregates, so callers
    (x_ks_statistic, x_percentile_ranks) don't re-scan the input (or the
    corpus behind it) to learn n."""
    hist = (
        _data(spark)
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("id").alias("s"))
    )
    want = hist.agg(F.sum("cnt"), F.sum("s")).collect()[0]
    rows = prefix_sums(
        hist, [F.col("v")], {"c1": "cnt", "c2": "s"}, with_totals=True
    ).collect()
    assert all(r["__total_c1"] == want[0] for r in rows)
    assert all(r["__total_c2"] == want[1] for r in rows)
    # the running sums are unchanged by the flag, and the last row's
    # cumulative equals the total (inclusive-frame invariant)
    top = max(rows, key=lambda r: r.v)
    assert (top.c1, top.c2) == (want[0], want[1])


def test_empty_input(spark):
    df = spark.createDataFrame([], "id long, v long")
    assert ranked(df, [F.col("v"), F.col("id")], "rn").count() == 0
    assert with_ntile(df, 3, [F.col("v")], "b").count() == 0


def test_plan_has_no_unpartitioned_window(spark):
    """The primitive's own plan must not contain the shape it exists to
    eliminate. Since the P-row offsets moved from an ordered window to a
    triangular self-join, the plan has NO unpartitioned window at all —
    Spark's "No Partition Defined" warning is a true positive wherever
    it appears."""
    df = _data(spark)
    for out in (
        ranked(df, [F.col("v"), F.col("id")], "rn"),
        with_ntile(df, 4, [F.col("v"), F.col("id")], "b"),
        prefix_sums(
            df.groupBy("v").agg(F.count(F.lit(1)).alias("cnt")),
            [F.col("v")],
            {"cum": "cnt"},
        ),
    ):
        assert unpartitioned_windows(out) == []


def test_detector_flags_literal_partition_key(spark):
    """Anti-evasion: a constant partition key is the same single-task
    global window, and the detector must still report it."""
    df = _data(spark)
    evasive = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy(F.lit(0)).orderBy("v", "id"))
    )
    hits = unpartitioned_windows(evasive)
    assert len(hits) == 1
    assert not hits[0]["bounded_offsets"] and not hits[0]["bounded_limit"]


def test_canary_flags_naive_global_window(spark):
    """Negative control: the detector must FAIL a deliberately naive
    global-rank plan (neither limit- nor offsets-bounded)."""
    df = _data(spark)
    naive = df.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    hits = unpartitioned_windows(naive)
    assert len(hits) == 1
    assert not hits[0]["bounded_offsets"] and not hits[0]["bounded_limit"]


def test_canary_limit_bounded(spark):
    df = _data(spark)
    lim = (
        df.orderBy("v", "id")
        .limit(200)
        .withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    )
    hits = unpartitioned_windows(lim)
    assert len(hits) == 1 and hits[0]["bounded_limit"]


def test_running_max_exclusive_matches_window(spark):
    from kinbaku_spark.operators.rank import running_max_exclusive

    df = _data(spark)
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, -1)
    naive = {
        r.id: r.pm
        for r in df.withColumn("pm", F.max("id").over(w)).collect()
    }
    mine = {
        r.id: r.pm
        for r in running_max_exclusive(
            df, [F.col("v"), F.col("id")], "id", "pm"
        ).collect()
    }
    assert naive == mine
    assert (
        unpartitioned_windows(
            running_max_exclusive(df, [F.col("v"), F.col("id")], "id", "pm")
        )
        == []
    )


def test_pin_registry_is_thread_safe(spark, run_threads):
    """32 threads pin at once: the FIFO ends exactly at its cap and no
    thread sees an exception from a concurrent append or eviction."""
    from kinbaku_spark.operators import rank

    df, errors = spark.range(8), []

    def pin_one(i):
        try:
            rank._pinned_range_parts(df, [F.col("id")], 2)
        except Exception as err:  # noqa: BLE001 - asserted below
            errors.append(err)

    run_threads(32, pin_one)
    assert errors == [] and len(rank._PINNED) == rank._PIN_CAP
