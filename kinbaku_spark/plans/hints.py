"""Plan hints: size-gated broadcasts, and the task count of Python stages.

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

The Python-stage half decides how many tasks a ``mapInPandas`` stage gets,
since each Python task pays a fixed worker cost: :func:`spread_rows`
widens a row-expensive map stage to the core count, and
:func:`block_pairs` lays out a block-pair GEMM stage as one task per pair
of row-blocks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

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


def block_pairs(df: DataFrame, key: Column, item: Column, B: int) -> DataFrame:
    """Every ordered pair of ``df``'s B row-blocks as one ``(a, b)`` row of
    two item lists, in B * B partitions: the input of a block-pair GEMM.

    A row goes to block ``pmod(key, B)``, its ``item`` collected into the
    block's list. The self cross join pairs the lists JVM-side, so Arrow
    carries O(n * B) items to Python, never the n² pair space, and the
    round-robin exchange gives the Python stage one task per pair. B is
    the memory knob: a task holds two blocks of ~n / B items each. The
    kernel that maps the pairs, and any pruning of its output, stays at
    the caller's site."""
    blk = (
        df.select(F.pmod(key, F.lit(B)).alias("g"), item.alias("v"))
        .groupBy("g")
        .agg(F.collect_list("v").alias("vs"))
    )
    return (
        blk.select(F.col("vs").alias("a"))
        .crossJoin(blk.select(F.col("vs").alias("b")))
        .repartition(B * B)
    )
