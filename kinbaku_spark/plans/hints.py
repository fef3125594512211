"""Size-gated broadcast hints (VERDICT r02 next-round #2).

An EXPLICIT ``F.broadcast`` hint is ALWAYS honored — AQE never demotes it —
so an ungated hint on a |V|-sized table (rank vectors, keep-lists, label
maps, degree tables) is a guaranteed executor OOM once |V| outgrows
executor memory (~10⁹ nodes). Every such hint in the iterative graph
queries goes through :func:`size_hint`: the hint is applied only
while the caller's known row bound is under the broadcast bound; past it,
the table is returned unhinted so the planner falls back to a partitioned
shuffle join (and AQE may still choose a broadcast from runtime stats —
a *demotable* decision, unlike the explicit hint).

Bounded-size tables (1-row aggregates, k-bounded centroid/threshold rows,
page-sized id lists) keep their unconditional hints — they cannot grow
with the data.

``KB_BROADCAST_BOUND`` overrides the default bound; tests set it to 0 to
lock the demoted (shuffle-join) plan shape for a large-|V| deployment
without materializing 5M-node fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kinbaku_spark.knobs import env_int

DEFAULT_BROADCAST_BOUND = 5_000_000


def broadcast_bound(default: int = DEFAULT_BROADCAST_BOUND) -> int:
    return env_int("KB_BROADCAST_BOUND", default)


def size_hint(n_rows: int, default_bound: int = DEFAULT_BROADCAST_BOUND):
    """``F.broadcast`` while ``n_rows`` (the caller's bound on the hinted
    table's cardinality — typically |V|, never an estimate from a degree
    guess) is under the gate; the identity otherwise. ``hint =
    size_hint(n)`` then ``hint(df)`` per join side — one gate decision,
    many sites. ``default_bound`` lets a site keep a tighter default (e.g.
    wide walker-state rows); KB_BROADCAST_BOUND still overrides it."""
    if n_rows < broadcast_bound(default_bound):
        return F.broadcast
    return lambda df: df


def spread_rows(df: DataFrame) -> DataFrame:
    """Widen a row-expensive map stage's input to the cluster's core count
    when the upstream layout gives fewer partitions (guide §2.2, §4.5).

    Bytes-derived partitioning (``files.maxPartitionBytes``, a cached
    single-file scan) assumes work proportional to bytes. Codec decode,
    heavy regex, and signature map stages cost ~µs-ms per ROW on tiny
    input rows, so a single-file scan or a coalesced cache serializes
    minutes of CPU behind one task while the rest of the cluster idles —
    and the query's core-count scaling goes flat. The target derives from
    ``sparkContext.defaultParallelism`` (the cluster's core count at ANY
    deployment size — never a local constant); an input that already has
    at least that many partitions is returned unchanged, so a wide
    100 TB scan keeps its natural layout. The round-robin exchange only
    ever widens a too-narrow stage, and callers place it AFTER projection
    and pushed-down filters so it shuffles only the columns the map
    function needs (16 bytes/row for the codec queries)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)
