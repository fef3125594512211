"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; hyperplane-LSH
bucketing is the scale path (candidates shrink by ~2^n_planes/probes). All
arithmetic is double-precision with left-to-right accumulation so the DuckDB
oracle reproduces results bit-for-bit.

At 100 TB: the corpus side stays partitioned; the query side (one vector or
a small batch) broadcasts. Brute force is one scan + one top-k
(TakeOrderedAndProject — no full sort); LSH turns it into a bucket-pruned
scan. For a real ANN index (IVF/HNSW) the bucketing below generalizes:
centroid assignment is the same broadcast-join shape.

Driver-cost note: query-side quantities (the query signature, the query
norm) are computed in pure Python — CPython floats are the same IEEE-754
doubles with the same left-to-right accumulation, so the values are
bit-identical to a Spark job's, and we skip both a collect() job and the
construction of a second giant expression. Corpus-side expressions embed the
plane/query literals in ONE `F.expr` SQL string (one py4j round trip,
server-side parse) instead of thousands of `F.lit` calls, which dominated
wall-clock at 16 planes x 64 dims.
"""

from __future__ import annotations

import functools
import math
import random

from pyspark.sql import Column, DataFrame, functions as F

from kinbaku_spark.plans.checkpoints import pin
from kinbaku_spark.plans.hints import block_pairs


def dot_double(a: Column, b: Column) -> Column:
    """Σ a_i*b_i in double, sequential accumulation (matches DuckDB)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_double(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot_double(a, b) / (norm_double(a) * norm_double(b))


def make_cosine_fold():
    """The numpy twin of :func:`cosine` for Python kernels, built as a
    closure so cloudpickle ships it by value and executors need not import
    ``kinbaku_spark`` (the operators/codecs.py make_media_codecs
    convention)."""
    import numpy as np

    def cosine_fold(qmat, cmat):
        """Cosine of every (row of qmat, row of cmat) pair as an (n, m)
        float64 matrix. The dims fold left to right, ``acc += outer(x_d,
        y_d)`` with both norms in the same loop, vectorized across rows:
        the same double additions in the same order as F.aggregate and the
        DuckDB oracles' list_reduce, so sims are bit-identical to theirs."""
        q = np.asarray(qmat, dtype=np.float64)
        c = np.asarray(cmat, dtype=np.float64)
        acc = np.zeros((len(q), len(c)), dtype=np.float64)
        qn = np.zeros(len(q), dtype=np.float64)
        cn = np.zeros(len(c), dtype=np.float64)
        for d in range(q.shape[1]):
            x, y = q[:, d], c[:, d]
            acc = acc + np.outer(x, y)
            qn = qn + x * x
            cn = cn + y * y
        return acc / (np.sqrt(qn)[:, None] * np.sqrt(cn)[None, :])

    return cosine_fold


# ---------------------------------------------------------------------------
# Literal-query fast path: pure-Python query math + single-parse SQL exprs
# ---------------------------------------------------------------------------

def _lit_vec(vals: list[int]) -> Column:
    return F.array(*[F.lit(int(v)).cast("long") for v in vals])


def _l2_lit(vec: Column, cent: list[int]) -> Column:
    """Exact integer squared L2 between a micro-unit column vector and a
    literal centroid."""
    return F.aggregate(
        F.zip_with(vec, _lit_vec(cent), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def py_dot(a: list[float], b: list[float]) -> float:
    """Sequential left-to-right Σ a_i*b_i — bit-identical to dot_double."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def py_norm(a: list[float]) -> float:
    acc = 0.0
    for x in a:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def sql_double_array(vals: list[float]) -> str:
    """Spark-SQL array literal of doubles via string casts (strtod parses
    repr() exactly, matching how the same literal reaches DuckDB)."""
    return "array(" + ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals) + ")"


def _sql_dot_lit(vec_col: str, vals: list[float]) -> str:
    return (
        f"aggregate(zip_with({vec_col}, {sql_double_array(vals)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _sql_norm(vec_col: str) -> str:
    return (
        f"sqrt(aggregate({vec_col}, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


def cosine_vs_literal(vec_col: str, query_vec: list[float]) -> Column:
    """cosine(col, literal query) with the query norm folded to a Python
    constant — same value as cosine(col, lit(q)) bit-for-bit, built in one
    py4j call."""
    qn = py_norm(query_vec)
    return F.expr(
        f"{_sql_dot_lit(vec_col, query_vec)} / ({_sql_norm(vec_col)} * CAST('{qn!r}' AS DOUBLE))"
    )


def cosine_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    The query is a literal array (broadcast by value); the plan is a single
    projection + TakeOrderedAndProject — no shuffle of the corpus.
    """
    df = corpus
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_vs_literal(vec_col, query_vec), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def random_hyperplanes(n_planes: int = 16, dim: int = 64, seed: int = 7) -> list[list[float]]:
    """Fixed-seed Gaussian hyperplanes, rounded to 6dp so the identical
    literals parse to identical doubles in Spark and SQL."""
    rng = random.Random(seed)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n_planes)
    ]


def py_lsh_signature(vec: list[float], planes: list[list[float]]) -> int:
    """Sign-of-projection bit signature, computed driver-side. Bit-identical
    to the SQL/Column form: same sequential dot, same `> 0` test."""
    sig = 0
    for i, p in enumerate(planes):
        if py_dot(vec, p) > 0:
            sig += 1 << i
    return sig


def lsh_signature_sql(vec_col: str, planes: list[list[float]]) -> str:
    """Spark-SQL text for the corpus-side signature (one parse, no py4j
    literal storm)."""
    terms = [
        f"(CASE WHEN {_sql_dot_lit(vec_col, p)} > CAST(0 AS DOUBLE) "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def lsh_signature(vec_col: str, planes: list[list[float]]) -> Column:
    return F.expr(lsh_signature_sql(vec_col, planes))


def lsh_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    max_probe_hamming: int = 2,
    exclude_id: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates are vectors whose hyperplane signature
    is within ``max_probe_hamming`` bits of the query's (multi-probe LSH),
    then exact cosine re-rank. Deterministic: fixed planes, fixed probes.

    Scale: the signature is precomputable/persistable per corpus row; the
    probe is a bit_count filter (or an IN over the probe bucket set) that
    prunes the scan before any vector arithmetic. The query signature is
    computed driver-side (no Spark job).
    """
    planes = planes or random_hyperplanes(dim=len(query_vec))
    qsig = py_lsh_signature(query_vec, planes)
    df = corpus
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    return (
        df.select(F.col(id_col), F.col(vec_col), lsh_signature(vec_col, planes).alias("sig"))
        .filter(F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))) <= max_probe_hamming)
        .select(
            F.col(id_col),
            F.round(cosine_vs_literal(vec_col, query_vec), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


# row-block count of the exhaustive near-dup GEMM (plans/hints.block_pairs)
NEAR_DUP_BLOCKS = 8


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold — the EXHAUSTIVE verification
    baseline (the registered scale path is
    :func:`embedding_near_duplicates_lsh`).

    The pair space is a distributed BLOCK MATRIX MULTIPLY: the corpus
    splits into NEAR_DUP_BLOCKS row-blocks paired by
    plans/hints.block_pairs, and each task scores its pair with
    :func:`make_cosine_fold`'s fold, bit-equal to the SQL oracle.
    Replaces a crossJoin whose per-pair interpreted higher-order fold
    measured 11.5 s at sf0.1; the block GEMM runs the same 2M pairs in
    ~1 s. At 100 TB the block count scales with the corpus so each block
    pair fits executor memory (or you use the LSH form).

    Contract: integral ids (the kernel transports them as int64; checked
    up front), null embeddings excluded up front (the crossJoin form
    produced a null sim and filtered it — same observable result). The
    block key is xxhash64(id) mod B, well-distributed for any id range.
    Final 6dp rounding happens Spark-side with F.round (exact-decimal
    HALF_UP — the same rule as the previous form and every other rounded
    comparison here); the kernel pre-filters on the RAW sim with 1e-6
    slack, which keeps every pair whose rounded value can reach the
    threshold (round moves a value by at most 5e-7)."""
    from pyspark.sql.types import IntegerType, LongType, ShortType

    if not isinstance(
        corpus.schema[id_col].dataType, (ShortType, IntegerType, LongType)
    ):
        raise TypeError(
            f"embedding_near_duplicates needs an integral {id_col!r} column"
            " (kernel transports ids as int64); map string keys to dense"
            " ids first (operators/ids.py)"
        )
    thr = float(threshold)
    pairs = block_pairs(
        corpus.filter(F.col(vec_col).isNotNull()),
        F.xxhash64(F.col(id_col)),
        F.struct(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")),
        NEAR_DUP_BLOCKS,
    )
    cosine_fold = make_cosine_fold()

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for qs, cs in zip(pdf["a"], pdf["b"]):
                qid = np.array([r["vid"] for r in qs], dtype=np.int64)
                cid = np.array([r["vid"] for r in cs], dtype=np.int64)
                sim = cosine_fold([r["vec"] for r in qs], [r["vec"] for r in cs])
                # raw-sim pre-filter with slack; the EXACT rounded compare
                # happens Spark-side below (np.round is half-to-even — a
                # different tie rule than F.round/the oracle, so it must
                # not decide the threshold)
                mask = (qid[:, None] < cid[None, :]) & (sim >= thr - 1e-6)
                ii, jj = np.nonzero(mask)
                yield pd.DataFrame(
                    {"ida": qid[ii], "idb": cid[jj], "sim": sim[ii, jj]}
                )

    return (
        pairs.mapInPandas(kernel, "ida bigint, idb bigint, sim double")
        .select(
            F.col("ida").alias(f"{id_col}_a"),
            F.col("idb").alias(f"{id_col}_b"),
            F.round(F.col("sim"), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def embedding_near_duplicates_lsh(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    bands: int = 4,
) -> DataFrame:
    """Scale path for embedding near-duplicate pairs (the canonical form —
    VERDICT r02 #2): hyperplane-LSH banded candidate generation, then exact
    cosine verification over the candidates only.

    Shape: one signature pass over the corpus (len(planes) sign-of-
    projection bits per row), the signature split into ``bands`` contiguous
    bit-bands, a self-equi-join per band on (band, band_key), and the exact
    rounded-6dp cosine computed only for pairs that collide in >= 1 band.
    At 100 TB the signature table is stored engine state, each band join is
    a hash-partitioned equi-join (AQE skew-splittable), and candidate
    volume is Σ_buckets |bucket|² per band instead of n² — with
    2^(planes/bands) buckets per band the expected bucket occupancy stays
    constant as the plane count grows with log(n).

    Recall tradeoff (documented, inherent to LSH): a pair at cosine s
    collides in one band with probability (1 - acos(s)/π)^(planes/bands);
    pairs above the threshold that never collide are missed. The all-pairs
    :func:`embedding_near_duplicates` stays registered as the exhaustive
    verification baseline. The DuckDB oracle replays the IDENTICAL planes
    and banding, so the output (candidate ∩ cosine >= threshold) is
    deterministic and engine-independent.
    """
    planes = planes or random_hyperplanes(dim=64)
    if len(planes) % bands != 0:
        raise ValueError("len(planes) must be divisible by bands")
    width = len(planes) // bands
    mask = (1 << width) - 1
    # the signature scan feeds 2*bands join sides — pin it or the
    # len(planes)x dim-dot projection re-runs per consumer; lazy: every
    # side resolves inside the caller's one action, so the projection
    # still runs once without a construction-time job
    sigged = pin(
        corpus.select(
            F.col(id_col),
            F.col(vec_col),
            norm_double(F.col(vec_col)).alias("nrm"),
            lsh_signature(vec_col, planes).alias("sig"),
        ),
        eager=False,
    )
    keys_a = sigged.select(F.col(id_col).alias(f"{id_col}_a"), F.col("sig").alias("sig_a"))
    keys_b = sigged.select(F.col(id_col).alias(f"{id_col}_b"), F.col("sig").alias("sig_b"))
    pieces = []
    for k in range(bands):
        la = keys_a.select(
            f"{id_col}_a",
            F.lit(k).alias("band"),
            F.shiftright(F.col("sig_a"), k * width).bitwiseAND(F.lit(mask)).alias("bk"),
        )
        lb = keys_b.select(
            f"{id_col}_b",
            F.lit(k).alias("band"),
            F.shiftright(F.col("sig_b"), k * width).bitwiseAND(F.lit(mask)).alias("bk"),
        )
        pieces.append(la.join(lb, ["band", "bk"]).drop("band", "bk"))
    cand = (
        functools.reduce(lambda x, y: x.unionByName(y), pieces)
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .distinct()
    )
    # verify join carries only the candidate ids; vectors + precomputed
    # norms (once per ROW, not per pair) attach from the pinned sig table
    va = sigged.select(
        F.col(id_col).alias(f"{id_col}_a"), F.col(vec_col).alias("va"), F.col("nrm").alias("na")
    )
    vb = sigged.select(
        F.col(id_col).alias(f"{id_col}_b"), F.col(vec_col).alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(va, f"{id_col}_a")
        .join(vb, f"{id_col}_b")
        .select(
            f"{id_col}_a",
            f"{id_col}_b",
            F.round(
                dot_double(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    k: int | None = None,
    rounds: int | None = None,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding corpus with k-means, then compare pairs ONLY within each
    cluster and mark the higher-id member of any pair with cosine >=
    ``threshold`` as a semantic duplicate. Returns per-cluster
    ``(cluster, n_members, n_dropped, n_kept)``.

    Scale shape: the all-pairs space collapses from O(n²) to
    Σ|cluster|² — with k grown ~n/avg_cluster_size the per-cluster work is
    constant and the pair join is an equi-join on ``cluster`` (one hash
    shuffle of (id, vector) per side, AQE-splittable if a cluster runs
    hot). The cluster assignment itself is the zero-shuffle literal-
    broadcast k-means pass (see :func:`kmeans_assign`).

    Determinism: pair sims rounded to 6dp before thresholding (matching
    :func:`embedding_near_duplicates`); drop rule is id-ordered (a < b
    drops b), so the kept set is unique regardless of join order.

    ``max_cluster_size`` is the extreme-scale knob (VERDICT r01 #10): a
    cluster of size s costs s² pairs, so one runaway cell dominates the
    job. When set, oversized clusters are split into ceil(s/cap)
    deterministic sub-buckets (md5 of the id — stable across runs and
    engines) and pairs compare only within a sub-bucket, bounding every
    join group at ~cap² pairs. Cross-sub-bucket duplicates are missed by
    construction — the documented SemDeDup-at-scale recall tradeoff
    (equivalently: grow k). Default None = exact paper shape.

    The reference has no vector surface at all (SURVEY.md §2.4); this is
    part of the training-data extension surface.

    ``assigned=`` injects a pre-built assignment table
    (queries/kmeans_state.py — built once per session, shared by every
    k-means consumer). ``k``/``rounds`` were baked in when that table was
    built and cannot be re-verified from it, so passing either explicitly
    alongside ``assigned`` raises (the dedup_state injection-guard idiom);
    defaults are k=8, rounds=2 when computing locally.
    """
    if assigned is not None:
        if k is not None:
            raise ValueError("k is ignored when assigned= is injected")
        if rounds is not None:
            raise ValueError("rounds is ignored when assigned= is injected")
    else:
        assigned = kmeans_assign(
            corpus,
            k=8 if k is None else k,
            rounds=2 if rounds is None else rounds,
            id_col=id_col,
            vec_col=vec_col,
        )
    pair_key = ["cluster"]
    if max_cluster_size is not None:
        from kinbaku_spark.functions.hashing import md5_long

        sizes = assigned.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("__sz")
        )
        assigned = (
            assigned.join(F.broadcast(sizes), "cluster")
            .withColumn(
                "__sub",
                md5_long(F.col(id_col).cast("string"))
                % F.ceil(F.col("__sz") / max_cluster_size).cast("long"),
            )
            .drop("__sz")
        )
        pair_key = ["cluster", "__sub"]
    # Within-cell pair scoring as ONE numpy Gram matrix per cell
    # (applyInPandas over the cell key, scored by make_cosine_fold's fold)
    # instead of a s² pair self-join through the interpreted expression
    # cosine. A cell must fit one task: that is SemDeDup's own working
    # assumption, and max_cluster_size bounds it.
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in assigned.schema.fields
    )[id_col]
    cosine_fold = make_cosine_fold()

    def _cell_dups(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({id_col: ids[:0]})
        m = list(pdf[vec_col])
        sim = np.round(cosine_fold(m, m), 6)
        mask = (ids[:, None] < ids[None, :]) & (sim >= threshold)
        drop = np.unique(np.broadcast_to(ids[None, :], (n, n))[mask])
        return pd.DataFrame({id_col: drop})

    dropped = (
        assigned.groupBy(*pair_key)
        .applyInPandas(_cell_dups, f"{id_col} {id_type}")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("long").alias("n_dropped"),
            (
                F.count(F.lit(1))
                - F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
            ).cast("long").alias("n_kept"),
        )
        .orderBy("cluster")
    )


def label_centroids(
    corpus: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid vectors (IVF cells). Per-dimension means quantize
    components to integer nano-units (floor(x*1e9 + 0.5) — a pure double
    function of bit-identical parquet floats, so both engines produce the
    SAME integers), sum exactly, and reconvert via int->double (IEEE-exact
    on both engines). Fractional DECIMAL->DOUBLE casts are avoided: their
    last-ulp rounding differs between engines (observed at sf0.1 flipping
    a 6dp-boundary cosine).

    Scale: one explode + two aggregations; at 100 TB the centroids would be
    k-means-refined and stored, but assignment/probing below is identical.
    """
    ex = corpus.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    vq = F.floor(
        F.col("val").cast("double") * F.lit(1000000000.0) + F.lit(0.5)
    ).cast("long")
    per_dim = ex.groupBy(label_col, "pos").agg(
        (
            (F.sum(vq).cast("double") / F.lit(1000000000.0))
            / F.count(F.lit(1)).cast("double")
        ).alias("avg")
    )
    return per_dim.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "avg"))), lambda s: s["avg"]
        ).alias("centroid")
    )


def ivf_topk(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    exclude_id: int | None = None,
) -> DataFrame:
    """IVF-style ANN: rank cells (labels) by centroid cosine, search only the
    ``n_probe`` nearest cells, exact cosine re-rank inside them.

    Scale: the corpus is partitioned by cell; probing turns a full scan into
    reading n_probe/k_cells of the data (plus a tiny centroid table that
    always broadcasts).
    """
    cen = label_centroids(corpus, label_col, vec_col)
    probes = [
        r[label_col]
        for r in cen.select(
            label_col, cosine_vs_literal("centroid", query_vec).alias("sim")
        )
        .orderBy(F.desc("sim"), F.col(label_col))
        .limit(n_probe)
        .collect()
    ]
    df = corpus.filter(F.col(label_col).isin(probes))
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    return (
        df.select(
            F.col(id_col),
            F.round(cosine_vs_literal(vec_col, query_vec), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def embedding_gram(
    df: DataFrame, vec_col: str = "embedding", scale: int = 1_000_000
) -> DataFrame:
    """Upper-triangular Gram matrix Σ q_i·q_j over quantized embeddings —
    the shared kernel of covariance/PCA/whitening over an embedding corpus.

    Components are quantized to integer micro-units (floor(x·1e6) — exact
    in IEEE double, so any engine replays it bit-for-bit) and each Arrow
    batch is reduced to a d·(d+1)/2-sized partial Gram with one numpy
    int64 matmul. The shuffle therefore moves O(partitions · d²) rows —
    independent of corpus size — and the final groupBy is a toy. This is
    the canonical map-side-reduction shape for distributed second-moment
    statistics at 100 TB; the reference has no linear-algebra surface at
    all beyond its boolean adjacency export (SURVEY.md §2.1 R19).

    Output: (i, j, dot_q) with 1-based i ≤ j, dot_q = Σ q_i·q_j as a
    64-bit integer (exact: |q| ≤ 1e6·|x|, so d=64-dim float corpora stay
    far below 2^63 until ~1e6 rows·unit-scale — cast partials to
    decimal(38,0) beyond that).
    """
    from collections.abc import Iterator

    import pandas as pd

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["v"].to_numpy())
            q = np.floor(m.astype(np.float64) * scale).astype(np.int64)
            g = q.T @ q
            iu = np.triu_indices(g.shape[0])
            yield _pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype(np.int32),
                    "j": (iu[1] + 1).astype(np.int32),
                    "dot_q": g[iu],
                }
            )

    partials = df.select(F.col(vec_col).alias("v")).mapInPandas(
        partial, "i int, j int, dot_q long"
    )
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("dot_q").cast("long").alias("dot_q"))
        .orderBy("i", "j")
    )


def kmeans_clusters(
    corpus: DataFrame,
    k: int | None = None,
    rounds: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding corpus (cosine assignment,
    deterministic seeding: the first ``k`` ids are the initial centroids).
    Returns per-cluster membership counts and mean similarity after
    ``rounds`` assignment passes — the topic-clustering / corpus-mixing
    primitive (the reference has no vector surface at all, SURVEY.md §2.4).

    Scale shape: centroids are k·d doubles — they ride to every executor as
    LITERAL expressions (collected once per round, like broadcast vars but
    plan-visible), so each assignment pass is a map-only projection with an
    argmax over k struct comparisons — ZERO shuffle of the corpus. The only
    shuffles are the per-round centroid recomputes: a d×k-sized partial
    aggregate (map-side combine collapses each partition to ≤ k·d rows).
    At 100 TB with large k, swap seeding for k-means|| and keep the same
    two-step round.

    Determinism: sims rounded to 6dp before argmax (ties break on lowest
    cluster id via struct max over (sim, -cluster)); centroid means use
    exact DECIMAL(28,12) sums (label_centroids); mean_sim uses exact
    DECIMAL(18,6) sums of the rounded sims.

    ``assigned=`` injects a pre-built assignment (same guard contract as
    :func:`semantic_dedup`): ``k``/``rounds`` are baked into the injected
    table, so passing either explicitly alongside it raises; defaults are
    k=8, rounds=2 when computing locally.
    """
    if assigned is not None:
        if k is not None:
            raise ValueError("k is ignored when assigned= is injected")
        if rounds is not None:
            raise ValueError("rounds is ignored when assigned= is injected")
    else:
        assigned = kmeans_assign(
            corpus,
            k=8 if k is None else k,
            rounds=2 if rounds is None else rounds,
            id_col=id_col,
            vec_col=vec_col,
        )
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            F.sum(F.col("sim").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sim"),
    )


def kmeans_assign(
    corpus: DataFrame,
    k: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The assignment pass of :func:`kmeans_clusters`: returns
    ``(id_col, vec_col, cluster, sim)`` per corpus row after ``rounds``
    Lloyd's iterations (same seeding/determinism contract). Exposed
    separately so downstream operators (SemDeDup-style within-cluster
    dedup) can reuse the cluster structure without re-deriving it.
    """
    def assign(centroids: list[tuple[int, list[float]]]) -> DataFrame:
        sims = F.array(
            *[
                F.struct(
                    F.round(cosine_vs_literal(vec_col, vec), 6).alias("sim"),
                    F.lit(-cl).alias("negc"),
                )
                for cl, vec in centroids
            ]
        )
        best = F.array_max(sims)
        return corpus.select(
            F.col(id_col),
            F.col(vec_col),
            (-best["negc"]).cast("int").alias("cluster"),
            best["sim"].alias("sim"),
        )

    seeds = sorted(
        (int(r[id_col]), [float(v) for v in r[vec_col]])
        for r in corpus.filter(F.col(id_col) < k).select(id_col, vec_col).collect()
    )
    if not seeds:  # empty corpus: schema-correct empty assignment
        return corpus.select(
            F.col(id_col),
            F.col(vec_col),
            F.lit(0).cast("int").alias("cluster"),
            F.lit(0.0).alias("sim"),
        ).limit(0)
    assigned = assign(seeds)
    for _ in range(rounds - 1):
        cen = label_centroids(assigned, "cluster", vec_col)
        cents = sorted(
            (int(r["cluster"]), [float(v) for v in r["centroid"]])
            for r in cen.collect()
        )
        assigned = assign(cents)
    return assigned
