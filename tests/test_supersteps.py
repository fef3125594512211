"""The superstep shapes of operators/supersteps.py on hand-built graphs,
plus a grep lock that the change-probe protocol lives only there."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from kinbaku_spark.operators.supersteps import peel, propagate, until_stable

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "kinbaku_spark"


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_propagate_with_self_rows_drops_message_only_keys(spark):
    state = spark.createDataFrame([("a", 5), ("b", 3)], "key string, x int")
    # b → c reaches a key with no self row; a → b and b → a stay in scope
    edges = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c")])
    got = propagate(
        state, edges, src="src", dst="dst",
        message=[F.col("x")], aggs=[F.min("x").alias("x")], self_rows=state,
    )
    assert sorted(map(tuple, got.collect())) == [("a", 3), ("b", 3)]
    # without self rows every receiving key is kept
    bare = propagate(
        state, edges, src="src", dst="dst",
        message=[F.col("x")], aggs=[F.min("x").alias("x")],
    )
    assert sorted(map(tuple, bare.collect())) == [("a", 3), ("b", 5), ("c", 3)]


def test_propagate_pads_missing_columns_with_nulls(spark):
    state = spark.createDataFrame([("a", 2)], "key string, x long")
    extra = spark.createDataFrame([("a", 7), ("z", 1)], "key string, base long")
    got = propagate(
        state, _edges(spark, [("a", "b")]), src="src", dst="dst",
        message=[F.col("x")], aggs=[F.sum("x").alias("x"), F.sum("base").alias("b")],
        extra_rows=extra, bound=10,
    )
    assert sorted(map(tuple, got.collect())) == [("a", None, 7), ("b", 2, None), ("z", None, 1)]


@pytest.mark.parametrize("gate", ["5000000", "0"])  # broadcast, then pinned shuffle
def test_peel_keeps_edges_with_both_endpoints_kept(spark, monkeypatch, gate):
    monkeypatch.setenv("KB_BROADCAST_BOUND", gate)
    edges = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "d")])
    keep = spark.createDataFrame([("a",), ("b",), ("c",)], "v string")
    got = peel(edges, keep, "src", "dst", 10)
    assert sorted(map(tuple, got.collect())) == [("a", "b"), ("b", "c"), ("c", "a")]


def _countdown(stop_at):
    calls = []

    def step(state):
        calls.append(1)
        nxt = F.greatest(F.col("x") - 1, F.lit(stop_at))
        return state.select("key", nxt.alias("x"), (nxt != F.col("x")).alias("chg"))

    return step, calls


def test_until_stable_stops_on_first_zero_change_round(spark):
    state = spark.createDataFrame([("a", 3), ("b", 1)], "key string, x int")
    step, calls = _countdown(1)
    out, rounds = until_stable(step, state, 10, RuntimeError("unused"))
    # x: 3 → 2 → 1 changes twice; the third round is the first with none
    assert rounds == 3 and len(calls) == 3
    assert sorted(map(tuple, out.collect())) == [("a", 1), ("b", 1)]
    assert out.columns == ["key", "x"]


def test_until_stable_raises_the_supplied_error_when_budget_runs_out(spark):
    class Unconverged(RuntimeError):
        pass

    state = spark.createDataFrame([("a", 9)], "key string, x int")
    step, calls = _countdown(0)
    with pytest.raises(Unconverged, match="budget"):
        until_stable(step, state, 2, Unconverged("budget"))
    assert len(calls) == 2


def test_change_probe_protocol_lives_only_in_supersteps():
    """sum over chg, then the eager pin and unpersist: one copy, in
    operators/supersteps.py."""
    probe = re.compile(r'sum\(\s*(F\.col\()?"chg"')
    hits = sorted(
        str(path.relative_to(ENGINE))
        for path in ENGINE.rglob("*.py")
        if probe.search(text := path.read_text())
        or ('"chg"' in text and ".unpersist()" in text)
    )
    assert hits == ["operators/supersteps.py"]
