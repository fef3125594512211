"""Superstep shapes shared by the iterative graph loops.

Every round of the engine's Pregel-style loops is one of three shapes —
the superstep as one join plus one group-by dataflow plan (Pregelix,
VLDB 2014):

* :func:`propagate` — keyed state joined onto an edge stream, one message
  per edge, combined with the state's own rows by ONE aggregation;
* :func:`peel` — an edge table cut to the edges whose two endpoints
  survive;
* :func:`until_stable` — a step repeated until its change flag sums to
  zero.

Each shape owns the policy the loops share: the key renaming and the
typed-NULL padding of the union, the size-gated broadcast of the
|V|-sized side (plans/hints.py), the per-round pin and the change probe.
Callers keep the recurrence; bounded loops pin each round lazily with
``localCheckpoint(eager=False)``, fixpoint loops go through
:func:`until_stable`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from kinbaku_spark.plans.hints import size_hint

_KEY = "__ss_key"
_SELF = "__ss_self"


def propagate(
    state: DataFrame,
    edges: DataFrame,
    src: str,
    dst: str,
    message: list[Column],
    aggs: list[Column],
    key: str = "key",
    self_rows: DataFrame | None = None,
    extra_rows: DataFrame | None = None,
    bound: int | None = None,
) -> DataFrame:
    """One superstep: every edge whose ``src`` column equals a ``state``
    key sends the ``message`` columns (which may read state and edge
    columns) to the key in its ``dst`` column, and ONE
    ``groupBy(key).agg(*aggs)`` combines the messages with the rows below.

    ``self_rows``: the state's own rows. The output then covers only the
    keys that have a self row — a message to any other key is dropped —
    so LEAST(x, COALESCE(MIN(msgs), x)) is MIN over self ∪ msgs with no
    merge join (and a constant self row adds into a SUM the same way).
    A marker column on the self rows carries that confinement through the
    one aggregation. ``extra_rows`` are unioned as they are and may add
    keys (a reached set that grows, a seed). A column one side lacks is
    padded with a typed NULL, which MIN and SUM skip.

    ``bound``: the caller's row bound on ``state`` (typically |V|); the
    state side is broadcast while it is under the gate, so the edge stream
    is scanned in place. None never hints.
    """
    side = state.withColumnRenamed(key, _KEY)
    if bound is not None:
        side = size_hint(bound)(side)
    msgs = edges.join(side, edges[src] == F.col(_KEY)).select(
        edges[dst].alias(key), *message
    )
    parts = [msgs]
    marker = []
    if self_rows is not None:
        parts.insert(0, self_rows.withColumn(_SELF, F.lit(True)))
        marker = [F.max(_SELF).alias(_SELF)]
    if extra_rows is not None:
        parts.append(extra_rows)
    out = (
        reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
        .groupBy(key)
        .agg(*aggs, *marker)
    )
    if self_rows is None:
        return out
    return out.filter(F.col(_SELF).isNotNull()).drop(_SELF)


def peel(edges: DataFrame, keep: DataFrame, a: str, b: str, bound: int) -> DataFrame:
    """``edges`` cut to the rows whose ``a`` AND ``b`` endpoints are in the
    one-column ``keep`` set, lazily pinned (the result is the next round's
    edge set and has several consumers).

    ``bound`` is the caller's row bound on ``keep``. Under the broadcast
    gate both semi-joins are map-side. Past it ``keep`` is pinned first: a
    shuffle join against a derived-aggregate side is never skew-split
    (STRESS_SKEW_HUB.md), so a hub's edge partition would stay hot; the
    pin makes ``keep`` a plain scan and restores AQE's split
    (tests/test_skew_probe.py::test_iterative_join_sides_skew_split).
    """
    hint = size_hint(bound)
    if hint is not F.broadcast:
        keep = keep.localCheckpoint(eager=False)
    k = keep.columns[0]
    return (
        edges.join(hint(keep.select(F.col(k).alias(a))), a, "left_semi")
        .join(hint(keep.select(F.col(k).alias(b))), b, "left_semi")
        .select(*edges.columns)
        .localCheckpoint(eager=False)
    )


def until_stable(
    step, state: DataFrame, max_rounds: int, error: Exception
) -> tuple[DataFrame, int]:
    """Repeat ``state = step(state)`` until a round changes nothing.

    ``step`` returns the next state plus a boolean ``chg`` column (True
    where the row moved). Each round is two actions: one ``sum(chg)`` on
    the persisted result (which also materializes it) and the eager
    checkpoint copy the next round reads. Returns (state, rounds run);
    raises ``error`` when ``max_rounds`` rounds all still changed — a
    fixpoint loop never returns unconverged state.
    """
    for rounds in range(1, max_rounds + 1):
        # materialize through persist() BEFORE the checkpoint:
        # localCheckpoint preserves the origin plan's STATIC size
        # estimate, and a join's static estimate is the PRODUCT of its
        # children's — a step that references the previous state several
        # times makes the stats BigInteger's digit count compound every
        # round (measured on the CC kernel: 46 digits at round 1, 3,481 by
        # round 7; on the SCC f/b loop, 60 s per round by round 11). The
        # change probe runs fine (AQE uses runtime stats), but the non-AQE
        # planning inside .localCheckpoint() multiplies those BigIntegers —
        # at the ~26-30 rounds a 10^8-diameter graph needs, a multi-GB
        # driver allocation. An InMemoryRelation recomputes stats from the
        # MATERIALIZED bytes, so checkpointing from the cache resets the
        # estimate to reality every round (regression-pinned in
        # tests/test_cc_kernel.py::test_label_stats_stay_bounded).
        cached = step(state).persist()
        changed = (
            cached.agg(F.sum(F.col("chg").cast("int")).alias("n")).collect()[0]["n"]
            or 0
        )
        state = cached.drop("chg").localCheckpoint(eager=True)
        cached.unpersist()
        if changed == 0:
            return state, rounds
    raise error
