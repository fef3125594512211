"""Similarity search over the embeddings corpus: exact, LSH, IVF and PQ
top-k, recall, rank fusion, PCA and coreset selection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from kinbaku_spark.operators.similarity import (
    _l2_lit,
    _lit_vec,
    cosine_topk,
    lsh_topk,
    random_hyperplanes,
)
from kinbaku_spark.queries import register
from kinbaku_spark.queries.text import _bm25_sql, x_bm25_topk
from kinbaku_spark.sources.tables import load_table
from kinbaku_spark.state import shared


# ---------------------------------------------------------------------------
# Similarity search: exact cosine top-k, LSH and IVF top-k, their recall,
# and embedding quantization/covariance.
#
# Every oracle replays the Spark pipeline EXACTLY: same random hyperplanes,
# same sequential double accumulation (list_reduce ≡ F.aggregate), same
# rounding. The SQL strings are generated from the same Python constants
# the Spark operators use.
# ---------------------------------------------------------------------------
ANN_K = 10
LSH_PLANES = random_hyperplanes(n_planes=16, dim=64, seed=7)
LSH_PROBE_HAMMING = 2


def _sql_dot(a: str, b: str) -> str:
    """Sequential double dot product — same accumulation order as Spark's
    F.aggregate fold."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _sql_norm(a: str) -> str:
    return f"sqrt({_sql_dot(a, a)})"


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / ({_sql_norm(a)} * {_sql_norm(b)}))"


def _sql_plane_literal(plane: list[float]) -> str:
    # string -> double casts use strtod (correctly-rounded), matching how
    # Python/Java parse the same literal; a bare numeric literal would go
    # through DECIMAL and could round differently in the last bit
    return "[" + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in plane) + "]"


def _sql_lsh_sig(vec: str, planes: list[list[float]] | None = None) -> str:
    terms = []
    for i, plane in enumerate(planes if planes is not None else LSH_PLANES):
        proj = _sql_dot(vec, _sql_plane_literal(plane))
        terms.append(f"(CASE WHEN {proj} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# x_ann_cosine_topk — brute-force top-k for the vec_id=0 query vector
# ---------------------------------------------------------------------------

def _query_vec(spark, sf_dir):
    # memoized per embeddings fingerprint: the vector is a plain Python
    # list, and every ANN query would otherwise pay a one-row job.
    # None when the corpus is empty (degenerate input): callers return the
    # schema-correct empty result, matching their oracles' empty output.
    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        rows = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
        return rows[0][0] if rows else None

    return shared(spark, sf_dir, "query_vec", build, ["embeddings"])


def _empty_topk(emb):
    """(vec_id, sim) with zero rows — the every-ANN-query result on an
    empty corpus."""
    return emb.select("vec_id", F.lit(0.0).alias("sim")).limit(0)


def x_ann_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return _empty_topk(emb)
    return cosine_topk(emb, qv, k=ANN_K, exclude_id=0)


X_ANN_COSINE_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, ROUND({_sql_cosine('e.embedding', 'q.qv')}, 6) AS sim
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY sim DESC, e.vec_id
LIMIT {ANN_K}
"""


# ---------------------------------------------------------------------------
# x_ann_lsh_topk — multi-probe hyperplane LSH + exact re-rank
# ---------------------------------------------------------------------------

def x_ann_lsh_topk(spark, sf_dir):
    from kinbaku_spark.plans.hints import spread_rows

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return _empty_topk(emb)
    # the 24-plane signature is an expensive per-row expression over the
    # whole corpus: widen a too-narrow scan to the cluster's cores
    return lsh_topk(
        spread_rows(emb.select("vec_id", "embedding")),
        qv,
        k=ANN_K,
        planes=LSH_PLANES,
        max_probe_hamming=LSH_PROBE_HAMMING,
        exclude_id=0,
    )


def _ann_lsh_sql() -> str:
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qs AS (SELECT {_sql_lsh_sig('qv')} AS qsig FROM q),
sigs AS (SELECT vec_id, embedding, {_sql_lsh_sig('embedding')} AS sig FROM embeddings)
SELECT s.vec_id, ROUND({_sql_cosine('s.embedding', 'q.qv')}, 6) AS sim
FROM sigs s, qs, q
WHERE s.vec_id <> 0
  AND bit_count(xor(s.sig, qs.qsig)) <= {LSH_PROBE_HAMMING}
ORDER BY sim DESC, s.vec_id
LIMIT {ANN_K}
"""

register(x_ann_cosine_topk, X_ANN_COSINE_SQL)
register(x_ann_lsh_topk, _ann_lsh_sql())


# ---------------------------------------------------------------------------
# x_ann_ivf_topk — IVF-style cell-probed ANN (labels as cells)
# ---------------------------------------------------------------------------

IVF_N_PROBE = 2


def x_ann_ivf_topk(spark, sf_dir):
    from kinbaku_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    if qv is None:
        return _empty_topk(emb)
    return ivf_topk(emb, qv, k=ANN_K, n_probe=IVF_N_PROBE, exclude_id=0)


def _ann_ivf_sql() -> str:
    return f"""
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val
  FROM embeddings
),
cen AS (
  SELECT label, list(avg ORDER BY pos) AS centroid FROM (
    SELECT label, pos,
           CAST(CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * CAST(1000000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS DOUBLE) / CAST(1000000000.0 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg
    FROM ex GROUP BY label, pos
  ) GROUP BY label
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probes AS (
  SELECT cen.label FROM cen, q
  ORDER BY {_sql_cosine('cen.centroid', 'q.qv')} DESC, cen.label
  LIMIT {IVF_N_PROBE}
)
SELECT e.vec_id, ROUND({_sql_cosine('e.embedding', 'q.qv')}, 6) AS sim
FROM embeddings e JOIN probes ON e.label = probes.label, q
WHERE e.vec_id <> 0
ORDER BY sim DESC, e.vec_id
LIMIT {ANN_K}
"""


register(x_ann_ivf_topk, _ann_ivf_sql())


# ---------------------------------------------------------------------------
# x_ann_recall — recall@k of the LSH path vs brute-force ground truth
# ---------------------------------------------------------------------------

def x_ann_recall(spark, sf_dir):
    """Recall@k of each ANN index (IVF cell-probe, multi-probe LSH)
    against the brute-force top-k — the quality metric that decides
    whether an index is shippable, and the honest comparison between
    them: on these synthetic near-uniform embeddings IVF beats
    hyperplane LSH, which concentration of measure renders unselective.

    At 100 TB this is the standard offline evaluation loop: ground truth
    on a sampled query set (brute force is O(n) per query but exact),
    semi-joined against each index's candidates. Composes the existing
    pipelines unchanged; the oracle nests all three SQL replays as CTEs,
    so any drift in any path surfaces here too.
    """
    exact = x_ann_cosine_topk(spark, sf_dir).select("vec_id")
    per_method = []
    for method, qfn in (("ivf", x_ann_ivf_topk), ("lsh", x_ann_lsh_topk)):
        approx = qfn(spark, sf_dir).select("vec_id")
        per_method.append(
            exact.join(approx, "vec_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_overlap"))
            .select(
                F.lit(method).alias("method"),
                F.lit(ANN_K).alias("k"),
                "n_overlap",
                (
                    F.col("n_overlap").cast("double") / F.lit(float(ANN_K))
                ).alias("recall_at_k"),
            )
        )
    return per_method[0].unionAll(per_method[1]).orderBy("method")


def _ann_recall_sql() -> str:
    frac = f"CAST(COUNT(*) AS DOUBLE) / CAST('{ANN_K}' AS DOUBLE)"
    return f"""
WITH exact_k AS ({X_ANN_COSINE_SQL}),
approx_ivf AS ({_ann_ivf_sql()}),
approx_lsh AS ({_ann_lsh_sql()})
SELECT 'ivf' AS method, {ANN_K} AS k, COUNT(*) AS n_overlap,
       {frac} AS recall_at_k
FROM exact_k WHERE vec_id IN (SELECT vec_id FROM approx_ivf)
UNION ALL
SELECT 'lsh' AS method, {ANN_K} AS k, COUNT(*) AS n_overlap,
       {frac} AS recall_at_k
FROM exact_k WHERE vec_id IN (SELECT vec_id FROM approx_lsh)
ORDER BY method
"""


register(x_ann_recall, _ann_recall_sql())


# ---------------------------------------------------------------------------
# x_embed_quantize — per-vector int8 scalar quantization (the storage
# compression step for vector indexes: 4 bytes/dim float32 -> 1 byte/dim).
# Codes are floor((x - min) / scale) clamped to [0, 255]; outputs are the
# quantization params plus integer checksums over the code array (exact in
# both engines — no float emitted, and the code arithmetic is the identical
# double sequence on both sides).
# ---------------------------------------------------------------------------

def x_embed_quantize(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    mn = F.array_min(v).cast("double")
    mx = F.array_max(v).cast("double")
    scale = (mx - mn) / F.lit(255.0)
    code = lambda x: F.least(  # noqa: E731
        F.floor((x.cast("double") - mn) / scale), F.lit(255)
    )
    codes = F.when(mx == mn, F.transform(v, lambda x: F.lit(0).cast("bigint"))).otherwise(
        F.transform(v, lambda x: code(x))
    )
    return emb.select(
        "vec_id",
        F.size(v).alias("n_dims"),
        mn.alias("q_min"),
        mx.alias("q_max"),
        F.aggregate(codes, F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "code_sum"
        ),
        F.element_at(codes, 1).alias("code_first"),
        F.element_at(codes, -1).alias("code_last"),
    ).orderBy("vec_id")


X_EMBED_QUANTIZE_SQL = """
WITH q AS (
  SELECT vec_id,
         len(embedding) AS n_dims,
         CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS q_min,
         CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS q_max
  FROM embeddings
),
c AS (
  SELECT e.vec_id, q.n_dims, q.q_min, q.q_max,
         CASE WHEN q.q_max = q.q_min
           THEN list_transform(e.embedding, x -> CAST(0 AS BIGINT))
           ELSE list_transform(e.embedding,
             x -> CAST(LEAST(FLOOR((CAST(x AS DOUBLE) - q.q_min)
                                   / ((q.q_max - q.q_min) / 255.0)), 255) AS BIGINT))
         END AS codes
  FROM embeddings e JOIN q USING (vec_id)
)
SELECT vec_id, CAST(n_dims AS INTEGER) AS n_dims, q_min, q_max,
       CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
       codes[1] AS code_first,
       codes[len(codes)] AS code_last
FROM c
ORDER BY vec_id
"""


register(x_embed_quantize, X_EMBED_QUANTIZE_SQL)


# ---------------------------------------------------------------------------
# x_embed_covariance — distributed second-moment (Gram) matrix over the
# embedding corpus: each Arrow batch collapses to a d(d+1)/2 partial via one
# numpy int64 matmul, so the shuffle is O(partitions x d^2) regardless of
# corpus size — the covariance/PCA/whitening kernel for 100 TB embedding
# tables. Quantization (floor(x*1e6) in double) is engine-exact, so the
# oracle replays the full pairwise sum with integer arithmetic.
# ---------------------------------------------------------------------------

def x_embed_covariance(spark, sf_dir):
    from kinbaku_spark.operators.similarity import embedding_gram

    return embedding_gram(load_table(spark, sf_dir, "embeddings"))


X_EMBED_COVARIANCE_SQL = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
ex AS (
  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS v FROM q
)
SELECT CAST(a.i AS INT) AS i, CAST(b.i AS INT) AS j,
       CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY 1, 2
ORDER BY 1, 2
"""


register(x_embed_covariance, X_EMBED_COVARIANCE_SQL)


def x_ann_pandas_topk(spark, sf_dir):
    """Brute-force cosine top-k with the arithmetic inside a vectorized
    Arrow kernel (mapInPandas + numpy) instead of JVM expressions — the
    Pandas-UDF scale path for vector math the built-ins can't express
    (learned kernels, quantized dot products, re-rankers).

    Bit-for-bit identical to the SQL fold: the kernel accumulates the dot
    product and norms SEQUENTIALLY over dimensions (vectorized across
    ROWS), i.e. the same left-to-right double additions as F.aggregate /
    list_reduce — so the shared oracle of x_ann_cosine_topk verifies this
    kernel exactly, proving the Arrow path preserves numerics. Rounding
    and the top-k cut stay JVM-side (round + TakeOrderedAndProject).
    """
    import math

    from pyspark.sql import functions as F


    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    if qv is None:  # empty corpus: same empty result as the oracle
        return _empty_topk(emb)
    q = [float(v) for v in qv]
    nq = 0.0
    for v in q:
        nq += v * v
    nq = math.sqrt(nq)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].to_numpy())  # (n, d) float32
            n = mat.shape[0]
            acc = np.zeros(n, dtype=np.float64)
            na = np.zeros(n, dtype=np.float64)
            for d in range(mat.shape[1]):  # sequential over dims,
                x = mat[:, d].astype(np.float64)  # vectorized over rows
                acc = acc + x * q[d]
                na = na + x * x
            sim = acc / (np.sqrt(na) * nq)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "sim": sim})

    scored = emb.filter(F.col("vec_id") != 0).mapInPandas(
        kernel, "vec_id bigint, sim double"
    )
    return (
        scored.select("vec_id", F.round("sim", 6).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(ANN_K)
    )


def _ann_pandas_sql() -> str:
    return X_ANN_COSINE_SQL  # the SAME oracle as the JVM-expression path


register(x_ann_pandas_topk, _ann_pandas_sql())


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
# dense (cosine ANN) legs.
#
# The reference (kerighan/kinbaku) has no retrieval surface (SURVEY.md
# §2.4); this completes the engine's RAG family (x_bm25_topk,
# x_ann_cosine_topk, x_inverted_index, x_chunk_documents) with the standard
# way the two rankings are combined in production retrieval: RRF
# (Cormack et al. 2009), score(d) = Σ_legs 1/(K + rank_leg(d)), K = 60.
#
# Shuffle shapes (the 100 TB story): both legs are existing top-k queries
# (TakeOrderedAndProject — k-bounded, no global sort of the corpus); fusion
# itself runs over 2·k rows, so the rank windows and the full-outer join
# are constant-size no matter the corpus. At scale the legs' candidate
# generation is the cost; fusion is free.
#
# Determinism: 1/(K + r) becomes the exact integer 10⁶ div (K + r); ranks
# come from row_number over (rounded score DESC, doc_id) — total orders on
# both engines; absent legs contribute rank 0 / score 0 (never NULL, so
# value hashes can't drift on null encoding).
# ---------------------------------------------------------------------------

RRF_K = 60
RRF_TOP_K = 10


def x_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by reciprocal-rank fusion of the BM25 top-k and
    the cosine top-k (embeddings.vec_id is the document id in this
    corpus). lex_rank / dense_rank are 1-based positions in each leg,
    0 when the doc is absent from that leg.
    """
    wl = Window.orderBy(F.desc("bm25"), "doc_id")
    lex = x_bm25_topk(spark, sf_dir).select(
        "doc_id", F.row_number().over(wl).alias("rl")
    )
    wd = Window.orderBy(F.desc("sim"), "doc_id")
    den = (
        x_ann_cosine_topk(spark, sf_dir)
        .withColumnRenamed("vec_id", "doc_id")
        .select("doc_id", F.row_number().over(wd).alias("rd"))
    )
    return (
        lex.join(den, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("rl"), F.lit(0)).cast("int").alias("lex_rank"),
            F.coalesce(F.col("rd"), F.lit(0)).cast("int").alias("dense_rank"),
            (
                F.coalesce(F.expr(f"1000000 div ({RRF_K} + rl)"), F.lit(0))
                + F.coalesce(F.expr(f"1000000 div ({RRF_K} + rd)"), F.lit(0))
            ).cast("long").alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(RRF_TOP_K)
    )


def _rrf_sql() -> str:
    return f"""
WITH lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rl
  FROM ({_bm25_sql()})
),
den AS (
  SELECT vec_id AS doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rd
  FROM ({X_ANN_COSINE_SQL})
)
SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
       CAST(COALESCE(l.rl, 0) AS INTEGER) AS lex_rank,
       CAST(COALESCE(d.rd, 0) AS INTEGER) AS dense_rank,
       CAST(COALESCE(1000000 // ({RRF_K} + l.rl), 0)
            + COALESCE(1000000 // ({RRF_K} + d.rd), 0) AS BIGINT) AS rrf_score
FROM lex l FULL OUTER JOIN den d ON l.doc_id = d.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {RRF_TOP_K}
"""


register(x_rrf_fusion, _rrf_sql())


# ---------------------------------------------------------------------------
# Distributed PCA: top principal component by exact-integer power
# iteration on the Gram matrix.
#
# The reference's only linear-algebra surface is the boolean adjacency
# export (SURVEY.md §2.1 R19); this extends the embedding-analytics layer
# with the canonical two-phase PCA shape:
#
# 1. DISTRIBUTED phase — the Gram matrix via embedding_gram
#    (operators/similarity.py): each Arrow batch collapses to a d(d+1)/2
#    integer partial with one numpy matmul, so the shuffle moves
#    O(partitions · d²) rows regardless of corpus size. This is the only
#    part that touches the data.
# 2. DRIVER phase — 3 power-iteration rounds on the collected d×d integer
#    Gram (d=64: 2,080 numbers — the same collect-small-state pattern as
#    the k-means literal centroids). Python's arbitrary-precision integers
#    keep every matvec EXACT; between rounds the vector is renormalized to
#    1e6 scale with sign-decomposed truncating division (matching the
#    SQL's CASE form, because Python's // floors while the replay must
#    truncate toward zero identically in both engines).
#
# Determinism: quantized components (floor(x·1e6)) are engine-exact; all
# matvec arithmetic is exact integers (DuckDB replays in HUGEINT); the
# eigenvector sign is fixed by "component with the largest magnitude
# (ties: lowest dim) is positive".
# ---------------------------------------------------------------------------

PCA_ROUNDS = 3
PCA_SCALE = 1_000_000


def _trunc_div(w: int, m: int) -> int:
    """Truncate-toward-zero (w * SCALE) / m — the CASE form the oracle
    uses, NOT Python's floor //."""
    if w < 0:
        return -(((-w) * PCA_SCALE) // m)
    return (w * PCA_SCALE) // m


def x_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus (un-centered PCA /
    spectral norm direction): exact-integer power iteration on the
    distributed Gram matrix — the dominant-variance axis used for
    whitening, ABBA-style dedup projections, and drift fingerprints.
    """
    from kinbaku_spark.operators.similarity import embedding_gram

    emb = load_table(spark, sf_dir, "embeddings")
    rows = embedding_gram(emb).collect()  # d(d+1)/2 integers
    if not rows:  # empty corpus: empty component, like the oracle
        return spark.createDataFrame([], "dim int, component_q long")
    dim = max(r["j"] for r in rows)
    g: list[list[int]] = [[0] * dim for _ in range(dim)]
    for r in rows:
        i, j, v = r["i"] - 1, r["j"] - 1, int(r["dot_q"])
        g[i][j] = v
        g[j][i] = v
    v = [1] * dim
    for _ in range(PCA_ROUNDS):
        w = [sum(g[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:  # zero Gram matrix: keep the uniform direction
            break
        v = [_trunc_div(x, m) for x in w]
    # sign convention: largest-|component| (ties: lowest dim) is positive
    lead = min(range(dim), key=lambda i: (-abs(v[i]), i))
    if v[lead] < 0:
        v = [-x for x in v]
    return spark.createDataFrame(
        [(i + 1, v[i]) for i in range(dim)], "dim int, component_q long"
    )


def _pca_sql() -> str:
    renorm = (
        "CASE WHEN w < 0 THEN -(((-w) * {s}) // m) ELSE (w * {s}) // m END"
    ).format(s=PCA_SCALE)
    sql = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
ex AS (
  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS v FROM q
),
gram AS (
  SELECT CAST(a.i AS INT) AS i, CAST(b.i AS INT) AS j,
         CAST(SUM(a.v * b.v) AS BIGINT) AS dot_q
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
),
gfull AS (
  SELECT i, j, dot_q FROM gram
  UNION ALL
  SELECT j, i, dot_q FROM gram WHERE i <> j
),
v0 AS (SELECT DISTINCT i AS j, CAST(1 AS HUGEINT) AS v FROM gfull)
"""
    prev = "v0"
    for r in range(1, PCA_ROUNDS + 1):
        sql += f""",
w{r} AS (
  SELECT g.i, SUM(CAST(g.dot_q AS HUGEINT) * v.v) AS w
  FROM gfull g JOIN {prev} v ON g.j = v.j GROUP BY g.i
),
m{r} AS (SELECT MAX(ABS(w)) AS m FROM w{r}),
v{r} AS (
  SELECT i AS j, {renorm} AS v FROM w{r} CROSS JOIN m{r}
)"""
        prev = f"v{r}"
    sql += f""",
lead AS (
  SELECT v FROM {prev} ORDER BY ABS(v) DESC, j LIMIT 1
),
sgn AS (SELECT CASE WHEN (SELECT v FROM lead) < 0 THEN -1 ELSE 1 END AS s)
SELECT CAST(j AS INT) AS dim, CAST(v * (SELECT s FROM sgn) AS BIGINT)
         AS component_q
FROM {prev}
ORDER BY dim
"""
    return sql


register(x_pca_top_component, _pca_sql())


# ---------------------------------------------------------------------------
# ML-prep operators, batch 2: product-quantization ANN (IVF-PQ's
# compression half) and greedy k-center coreset selection — the two
# embedding-side scale primitives the round-1 ANN family (brute → LSH →
# IVF) still lacked.
#
# The reference (kerighan/kinbaku) has no vector surface at all (SURVEY.md
# §2.4); these extend the similarity-search / data-pruning family on the
# driver's `embeddings` table.
#
# Shuffle shapes (the 100 TB story):
#
# - PQ-ADC: the ONLY corpus-sized shuffle is the codebook recompute — a
#   (M·K·dsub)-group aggregate with map-side partials (≤ 256 rows per
#   partition reach the exchange). Seeds, the trained codebook, and the
#   query ride back as LITERALS (k-bounded collects, the k-means-centroid
#   pattern), so encoding + ADC scoring is ONE map-only projection over the
#   corpus with a TakeOrderedAndProject top-k: each vector is scored from
#   M table lookups instead of a d-dim dot product. This is exactly how
#   IVF-PQ engines (Faiss) shape the scan; at 100 TB you'd persist the
#   M-byte codes (16× smaller than float16 vectors) and rescan only those.
# - k-center: each of the K-1 greedy rounds is a map-only
#   min-over-selected-literals projection + a 1-row TakeOrdered argmax —
#   no shuffle at all; cost is K passes over the corpus (K is small by
#   construction: coreset selection picks far fewer rows than it scans).
#
# Determinism: components quantized to integer micro-units
# (floor(x·10⁶) — exact in IEEE double, identical in both engines), then
# ALL distances/dot-products/centroid means are int64 arithmetic
# (truncating div matches DuckDB's integer `//`), so the oracle replays
# bit-for-bit — no float drift anywhere.
# ---------------------------------------------------------------------------

PQ_M = 4        # subspaces
PQ_DSUB = 16    # dims per subspace (64-dim corpus)
PQ_K = 4        # codes per subspace
PQ_TOPK = 10
KC_PICKS = 8    # coreset size (seed + 7 greedy rounds)

_INT_VEC = (
    "transform(embedding, v -> "
    "CAST(floor(CAST(v AS DOUBLE) * CAST('1000000.0' AS DOUBLE)) AS BIGINT))"
)
_SQL_INT_VEC = (
    "list_transform(embedding, v -> "
    "CAST(floor(CAST(v AS DOUBLE) * CAST('1000000.0' AS DOUBLE)) AS BIGINT))"
)


def _dot_lit(vec: Column, q: list[int]) -> Column:
    return F.aggregate(
        F.zip_with(vec, _lit_vec(q), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _argmin_code(sub: Column, cents: list[tuple[int, list[int]]]) -> Column:
    """Code of the nearest centroid: min over (dist, code) structs —
    deterministic tie-break on the lowest code."""
    return F.array_min(
        F.array(
            *[
                F.struct(_l2_lit(sub, cent).alias("d"), F.lit(code).alias("c"))
                for code, cent in cents
            ]
        )
    )["c"]


def _sql_l2(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


def _sql_idot(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i] * {b}[i])) AS BIGINT)"
    )


# -- x_ann_pq_adc: product-quantized ANN with ADC scoring ---------------------

def x_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric-distance top-k: split each
    micro-unit vector into `PQ_M` subvectors, train a `PQ_K`-entry
    codebook per subspace (seeds = the first `PQ_K` vectors' subvectors,
    one Lloyd round with exact integer centroid means), encode the
    corpus, then rank by the ADC inner product — Σ_m lut[m][code_m],
    where the lut is the query-subvector · codebook-entry table.

    Returns the top `PQ_TOPK` neighbors of vec_id 0 with both the ADC
    estimate and the exact integer dot product (the quantization-error
    readout). Scoring is a map-only projection: M array lookups per
    vector, never a d-dim dot against the corpus.
    """
    scored = _pq_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame(
            [], "vec_id long, adc_dot long, exact_dot long"
        )
    return scored.orderBy(F.desc("adc_dot"), "vec_id").limit(PQ_TOPK)


def _pq_scored(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The full PQ-scored corpus (vec_id, adc_dot, exact_dot) for the
    vec_id-0 query — shared by the top-k query and the recall eval, and
    session-persisted per sf_dir (the codebook train + encode pass is
    index-build work, paid once like the other derived engine state;
    consumers then rank a warm 3-column table). None when the corpus is
    empty (no seeds / no query vector)."""
    return shared(
        spark, sf_dir, "pq_scored", lambda: _pq_build(spark, sf_dir), ["embeddings"]
    )


def _pq_build(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select("vec_id", F.expr(_INT_VEC).alias("q"))
    wide = qv.select(
        "vec_id",
        "q",
        *[
            F.slice("q", m * PQ_DSUB + 1, PQ_DSUB).alias(f"s{m}")
            for m in range(PQ_M)
        ],
    )

    seed_rows = (
        wide.filter(F.col("vec_id") < PQ_K)
        .select("vec_id", *[f"s{m}" for m in range(PQ_M)])
        .collect()
    )
    qrow = wide.filter(F.col("vec_id") == 0).select("q").collect()
    if not seed_rows or not qrow:
        return None
    seeds = {
        m: sorted(
            (int(r["vec_id"]), [int(x) for x in r[f"s{m}"]]) for r in seed_rows
        )
        for m in range(PQ_M)
    }
    query = [int(x) for x in qrow[0]["q"]]

    # round 1: assign every subvector to its seed, recompute exact integer
    # centroid means — the ONE corpus-sized aggregation (M*K*dsub groups)
    assigned = wide.select(
        *[
            F.struct(
                F.lit(m).alias("m"),
                _argmin_code(F.col(f"s{m}"), seeds[m]).alias("code"),
                F.col(f"s{m}").alias("sub"),
            ).alias(f"a{m}")
            for m in range(PQ_M)
        ]
    )
    longf = assigned.select(
        F.explode(F.array(*[f"a{m}" for m in range(PQ_M)])).alias("e")
    ).select(
        F.col("e.m").alias("m"),
        F.col("e.code").alias("code"),
        F.posexplode("e.sub").alias("pos", "val"),
    )
    cent_rows = (
        longf.groupBy("m", "code", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("m", "code", "pos", F.expr("s div n").alias("cval"))
        .collect()
    )
    book: dict[int, dict[int, list[int]]] = {}
    for r in cent_rows:
        book.setdefault(int(r["m"]), {}).setdefault(int(r["code"]), [0] * PQ_DSUB)[
            int(r["pos"])
        ] = int(r["cval"])

    # ADC lookup table: query-subvector . centroid, in exact Python ints
    lut = {
        m: {
            code: sum(
                query[m * PQ_DSUB + i] * cent[i] for i in range(PQ_DSUB)
            )
            for code, cent in book[m].items()
        }
        for m in book
    }

    # encode + score: ONE map-only pass (codes -> M lut lookups), top-k
    def lut_at(m: int) -> Column:
        code = _argmin_code(F.col(f"s{m}"), sorted(book[m].items()))
        arr = F.array(
            *[F.lit(int(lut[m][c])).cast("long") for c in sorted(lut[m])]
        )
        return F.element_at(arr, code + 1)

    adc = lut_at(0)
    for m in range(1, PQ_M):
        adc = adc + lut_at(m)
    scored = (
        wide.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            adc.cast("long").alias("adc_dot"),
            _dot_lit(F.col("q"), query).cast("long").alias("exact_dot"),
        )
        .persist()
    )
    scored.count()
    return scored


def _pq_prefix() -> str:
    return f"""
WITH qv AS (
  SELECT vec_id, {_SQL_INT_VEC} AS q FROM embeddings
),
subs AS (
  SELECT vec_id, ms.m, list_slice(q, ms.m * {PQ_DSUB} + 1,
                                  (ms.m + 1) * {PQ_DSUB}) AS sub
  FROM qv CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) ms
),
seeds AS (
  SELECT m, CAST(vec_id AS INTEGER) AS code, sub AS cent
  FROM subs WHERE vec_id < {PQ_K}
),
a1 AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, d.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_sql_l2('s.sub', 'd.cent')}, d.code)
             AS rn
    FROM subs s JOIN seeds d USING (m)
  ) WHERE rn = 1
),
ex AS (
  SELECT a1.m, a1.code, generate_subscripts(s.sub, 1) AS pos,
         unnest(s.sub) AS val
  FROM subs s JOIN a1 ON s.vec_id = a1.vec_id AND s.m = a1.m
),
cen AS (
  SELECT m, code, list(cval ORDER BY pos) AS cent FROM (
    SELECT m, code, pos,
           CAST(CAST(SUM(val) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                AS BIGINT) AS cval
    FROM ex GROUP BY m, code, pos
  ) GROUP BY m, code
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_sql_l2('s.sub', 'c.cent')}, c.code)
             AS rn
    FROM subs s JOIN cen c USING (m)
  ) WHERE rn = 1
),
qq AS (SELECT q FROM qv WHERE vec_id = 0),
lut AS (
  SELECT c.m, c.code,
         CAST(list_sum(list_transform(generate_series(1, {PQ_DSUB}),
           i -> list_slice(qq.q, c.m * {PQ_DSUB} + 1,
                           (c.m + 1) * {PQ_DSUB})[i] * c.cent[i]))
           AS BIGINT) AS d
  FROM cen c CROSS JOIN qq
),
adc AS (
  SELECT k.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_dot
  FROM codes k JOIN lut l USING (m, code)
  GROUP BY k.vec_id
),
scored AS (
  SELECT v.vec_id, a.adc_dot, {_sql_idot('v.q', 'qq.q')} AS exact_dot
  FROM qv v JOIN adc a USING (vec_id) CROSS JOIN qq
  WHERE v.vec_id <> 0
)"""


def _pq_sql() -> str:
    return (
        _pq_prefix()
        + f"""
SELECT vec_id, adc_dot, exact_dot FROM scored
ORDER BY adc_dot DESC, vec_id
LIMIT {PQ_TOPK}
"""
    )


def _pq_recall_sql() -> str:
    return (
        _pq_prefix()
        + f""",
truth AS (SELECT vec_id FROM scored ORDER BY exact_dot DESC, vec_id
          LIMIT {PQ_TOPK}),
pqtop AS (SELECT vec_id FROM scored ORDER BY adc_dot DESC, vec_id
          LIMIT {PQ_TOPK})
SELECT {PQ_TOPK} AS k, CAST(COUNT(*) AS BIGINT) AS hits,
       CAST(COUNT(*) * 1000000 // {PQ_TOPK} AS BIGINT) AS recall_ppm
FROM truth JOIN pqtop USING (vec_id)
HAVING (SELECT COUNT(*) FROM qq) > 0
"""
    )


def x_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ-ADC ranking against the exact-dot brute-force
    truth for the same query — the quantization-quality gate you check
    before trusting compressed codes at scale. One row: k, overlap
    count, recall in ppm.
    """
    scored = _pq_scored(spark, sf_dir)
    if scored is None:
        return spark.createDataFrame([], "k int, hits long, recall_ppm long")
    truth = (
        scored.orderBy(F.desc("exact_dot"), "vec_id")
        .limit(PQ_TOPK)
        .select("vec_id")
    )
    pqtop = (
        scored.orderBy(F.desc("adc_dot"), "vec_id")
        .limit(PQ_TOPK)
        .select("vec_id")
    )
    return truth.join(pqtop, "vec_id").agg(
        F.lit(PQ_TOPK).alias("k"),
        F.count(F.lit(1)).alias("hits"),
        F.expr(f"count(1) * 1000000 div {PQ_TOPK}").alias("recall_ppm"),
    )


register(x_ann_pq_adc, _pq_sql())
register(x_ann_pq_recall, _pq_recall_sql())


# -- x_coreset_kcenter: greedy k-center data selection -------------------------

def x_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset: seed with vec_id 0, then `KC_PICKS - 1`
    rounds of "pick the vector farthest (max-min squared L2) from the
    already-selected set" — the classic 2-approximation cover that data-
    pruning pipelines use to pick a diverse training subset.

    The min-distance state is INCREMENTAL (the classic farthest-first
    recurrence): d2_new(v) = min(d2_old(v), ||v - latest_center||²), kept
    as a checkpointed (vec_id, q, d2) table. Each round is therefore one
    map-only projection with a SINGLE literal-center distance (constant
    O(dim) expression size — not the O(K·dim) least-of-K tree that made
    round K's codegen quadratic) plus a 1-row TakeOrdered argmax. No
    shuffle ever touches the corpus; the collected state is 1 row/round.

    Output: (pick_round, vec_id, d2) — d2 is the pick's exact integer
    squared distance to its nearest previously-selected center.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select("vec_id", F.expr(_INT_VEC).alias("q"))
    seed = qv.filter(F.col("vec_id") == 0).collect()
    if not seed:
        return spark.createDataFrame([], "pick_round int, vec_id long, d2 long")
    picks: list[tuple[int, int]] = [(0, 0)]  # (vec_id, d2)
    seed_q = [int(x) for x in seed[0]["q"]]
    # LAZY per-round checkpoints (r08, guide §1.2 — the merged
    # materialize-and-probe shape): each round's argmax collect is the
    # round's only driver action, and computing it materializes the lazy
    # checkpoint as a side effect, so the separate eager checkpoint job
    # per round disappears (16 → ~9 jobs). The next round's relax reads
    # the checkpoint blocks the collect just wrote; placement determinism
    # is irrelevant here (single consumer chain, no range sampling).
    state = (
        qv.filter(F.col("vec_id") != 0)
        .select(
            "vec_id", "q", _l2_lit(F.col("q"), seed_q).cast("long").alias("d2")
        )
        .localCheckpoint(eager=False)
    )
    for r in range(1, KC_PICKS):
        row = state.orderBy(F.desc("d2"), "vec_id").limit(1).collect()
        if not row:
            break
        vid = int(row[0]["vec_id"])
        picks.append((vid, int(row[0]["d2"])))
        if r == KC_PICKS - 1:
            break  # no next round to relax distances for
        cq = [int(x) for x in row[0]["q"]]
        state = (
            state.filter(F.col("vec_id") != vid)
            .select(
                "vec_id",
                "q",
                F.least(F.col("d2"), _l2_lit(F.col("q"), cq))
                .cast("long")
                .alias("d2"),
            )
            .localCheckpoint(eager=False)
        )
    return spark.createDataFrame(
        [(r, v, d) for r, (v, d) in enumerate(picks)],
        "pick_round int, vec_id long, d2 long",
    )


def _kcenter_sql() -> str:
    parts = [
        f"WITH qv AS MATERIALIZED (\n  SELECT vec_id, {_SQL_INT_VEC} AS q FROM embeddings\n)",
        "sel0 AS MATERIALIZED (SELECT vec_id, q FROM qv WHERE vec_id = 0)",
    ]
    for r in range(1, KC_PICKS):
        prev = f"sel{r - 1}"
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT v.vec_id, CAST(MIN({_sql_l2('v.q', 's.q')}) AS BIGINT) AS d2
  FROM qv v CROSS JOIN {prev} s
  WHERE v.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY v.vec_id
),
p{r} AS MATERIALIZED (SELECT vec_id, d2 FROM d{r} ORDER BY d2 DESC, vec_id LIMIT 1),
sel{r} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT v.vec_id, v.q FROM qv v JOIN p{r} USING (vec_id)
)"""
        )
    unions = [
        "SELECT 0 AS pick_round, vec_id, CAST(0 AS BIGINT) AS d2 FROM sel0"
    ] + [
        f"SELECT {r} AS pick_round, vec_id, d2 FROM p{r}"
        for r in range(1, KC_PICKS)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(unions)


register(x_coreset_kcenter, _kcenter_sql())
