"""Exact triangle counting as a distributed block matrix multiply.

The right shape for DENSE edge sets (e.g. the mean-thresholded
co-supplier projection), where wedge/2-path row enumeration is O(Σ d²)
join rows but the same arithmetic runs as B² numpy GEMMs over
(n/B × n) int64 blocks:

    Σ_{u,v adjacent} |N(u) ∩ N(v)|  =  Σ A∘A²  =  6·T
    per-node:  Σ_v A_uv·(A²)_uv     =  (A³)_uu  =  2·T(u)

The block pairs come from plans/hints.block_pairs (row-blocks by
id % B), one int64 GEMM per pair, and the driver sees B² partial rows.
Per-task memory is (n/B)·n cells — B (or a column-block split) is the
knob when n grows; for sparse-large graphs a successor-array-intersect
plan (see queries/graph_metrics.py KB_WEDGE_SAMPLE_PPM) is the right
asymptotic instead.

Ids are two-phase range ids (operators/ids.py) — dense 0..n-1, no
single-task sort — and every count is exact integer arithmetic, so
results are bit-identical to the naive wedge-join oracles.

The reference (kerighan/kinbaku) has no analytics surface at all
(SURVEY.md §2.4); this backs the graph-metric extension family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kinbaku_spark.knobs import env_int

# row-block count: per-task memory is (n/B)·n int64 cells, so B (or the
# KB_WEDGE_SAMPLE_PPM sparse path) scales with node count
TRI_BLOCKS = env_int("KB_TRI_BLOCKS", 8)


def triangle_block_gemm(proj: DataFrame, per_node: bool = False) -> DataFrame:
    """Triangle counts of an undirected edge set given as (s1 < s2) rows.

    per_node=False: one row ``(n_triangles,)`` — the exact global count.
    per_node=True: ``(key, n_triangles)`` for every node in >= 1 triangle.
    """
    from kinbaku_spark.operators.ids import ordered_zero_ids

    from kinbaku_spark.plans.hints import block_pairs, size_hint

    ids = ordered_zero_ids(
        proj.select(F.col("s1").alias("key")).union(proj.select("s2")).distinct()
    ).localCheckpoint(eager=True)
    # the id map is node-cardinality (tiny next to the edge set, but still
    # |V|-sized): hint both mapping joins while |V| is under the size gate
    # so the edge table never shuffles for the rename; past it the rename
    # becomes a shuffle join (the count is free — ids is materialized)
    hint = size_hint(ids.count())
    e = (
        proj.join(
            hint(ids.withColumnRenamed("key", "s1").withColumnRenamed("id", "i")),
            "s1",
        )
        .join(
            hint(ids.withColumnRenamed("key", "s2").withColumnRenamed("id", "j")),
            "s2",
        )
        .select("i", "j")
    )
    und = e.union(e.select(F.col("j"), F.col("i")))
    n_df = ids.agg((F.max("id") + 1).cast("long").alias("n"))
    # pack each edge into ONE long (i<<32 | j): the kernel receives a flat
    # int64 Arrow array it can shift/mask vectorized, instead of
    # block-sized struct lists deserialized row-by-row in Python (the
    # actual cost at this scale — the GEMM itself is milliseconds)
    pairs = block_pairs(
        und, F.col("i"), F.shiftleft(F.col("i"), 32) + F.col("j"), TRI_BLOCKS
    ).crossJoin(F.broadcast(n_df))

    def kernel(batches):
        import numpy as np
        import pandas as pd

        def dense(packed, n):
            v = np.asarray(packed, dtype=np.int64)
            ii = v >> 32
            jj = v & 0xFFFFFFFF
            u, local = np.unique(ii, return_inverse=True)
            m = np.zeros((len(u), n), dtype=np.int64)
            m[local, jj] = 1
            return u, m

        for pdf in batches:
            for ea, eb, n in zip(pdf["a"], pdf["b"], pdf["n"]):
                ua, ma = dense(ea, int(n))
                ub, mb = dense(eb, int(n))
                # paths[u_local, v_local] = |N(u) ∩ N(v)|; adjacency of
                # u∈a to v∈b is ma's columns at ub
                closed = (ma @ mb.T) * ma[:, ub]
                if per_node:
                    rows = closed.sum(axis=1)
                    keep = rows > 0
                    yield pd.DataFrame(
                        {"i": ua[keep], "c": rows[keep].astype("int64")}
                    )
                else:
                    yield pd.DataFrame({"i": [0], "c": [int(closed.sum())]})

    parts = pairs.mapInPandas(kernel, "i long, c long")
    if not per_node:
        return parts.agg(
            (F.coalesce(F.sum("c"), F.lit(0)) / 6).cast("long").alias("n_triangles")
        )
    return (
        parts.groupBy("i")
        .agg((F.sum("c") / 2).cast("long").alias("n_triangles"))
        .filter(F.col("n_triangles") > 0)
        .join(hint(ids.withColumnRenamed("id", "i")), "i")
        .select("key", "n_triangles")
    )
