"""Extension-surface queries: dedup, similarity search, text analysis,
multimodal plumbing — the training-data-pipeline operators (north-star per
BASELINE.json; no counterpart in the reference, SURVEY.md §2.4).

Every oracle replays the Spark pipeline EXACTLY: same md5-derived hashes,
same universal-hash coefficients, same sequential double accumulation
(list_reduce ≡ F.aggregate), same rounding. The SQL strings are generated
from the same Python constants the Spark operators use.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinbaku_spark.functions.hashing import (
    HASH_PRIME,
    md5_long,
    minhash_coeffs,
    sql_md5_long,
)
from kinbaku_spark.functions.textfns import SQL_WORDS, sql_shingle_array
from kinbaku_spark.operators.dedup import (
    SIMHASH_BITS,
    exact_dedup,
    jaccard_near_duplicates,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from kinbaku_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    lsh_topk,
    random_hyperplanes,
)
from kinbaku_spark.plans.checkpoints import pin
from kinbaku_spark.plans.hints import maybe_broadcast
from kinbaku_spark.operators.text import (
    LANG_STOPWORDS,
    TOKEN_PATTERN,
    doc_fingerprint,
    lang_id,
    text_quality,
    token_counts,
)
from kinbaku_spark.sources.tables import load_table
from kinbaku_spark.state import shared

# ---------------------------------------------------------------------------
# SQL fragment generators (shared constants -> identical pipelines)
# ---------------------------------------------------------------------------

P = HASH_PRIME
N_HASHES, N_BANDS, BAND_ROWS = 32, 8, 4
MINHASH_THRESHOLD = 0.8
JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 10
EMB_NEAR_DUP_THRESHOLD = 0.4
ANN_K = 10
LSH_PLANES = random_hyperplanes(n_planes=16, dim=64, seed=7)
LSH_PROBE_HAMMING = 2


def _sql_shingle_cte(n: int, source: str = "documents") -> str:
    """CTEs: words -> exploded distinct shingle hashes per doc."""
    words = SQL_WORDS.format(expr="text")
    return f"""
w AS (SELECT doc_id, {words} AS words FROM {source}),
sh AS (SELECT doc_id, unnest({sql_shingle_array('words', n)}) AS s FROM w),
hx AS (SELECT doc_id, {sql_md5_long('s')} AS h FROM sh)
"""


def _sql_jaccard_tail(threshold: float) -> str:
    """From a `cand(doc_id_a, doc_id_b)` CTE + `hx`, verify exact Jaccard."""
    return f"""
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hx GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS i
  FROM cand c
  JOIN hx a ON a.doc_id = c.doc_id_a
  JOIN hx b ON b.doc_id = c.doc_id_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT i.doc_id_a, i.doc_id_b,
       ROUND(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_id_a
JOIN sizes sb ON sb.doc_id = i.doc_id_b
WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= {threshold}
"""


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
# x_dedup_exact
# ---------------------------------------------------------------------------

def x_dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id").select("doc_id", "lang", "source")


X_DEDUP_EXACT_SQL = """
SELECT d.doc_id, d.lang, d.source
FROM documents d
JOIN (SELECT MIN(doc_id) AS doc_id FROM documents
      GROUP BY md5(COALESCE(text, chr(0) || 'NULL'))) k
  USING (doc_id)
"""


# ---------------------------------------------------------------------------
# x_dedup_minhash — full MinHash+LSH+verify pipeline
# ---------------------------------------------------------------------------

def x_dedup_minhash(spark, sf_dir):
    from kinbaku_spark.queries.dedup_state import shingle_sets, shingle_state

    docs = load_table(spark, sf_dir, "documents")
    sh, sig = shingle_state(spark, sf_dir)
    return minhash_near_duplicates(
        docs,
        threshold=MINHASH_THRESHOLD,
        n_hashes=N_HASHES,
        bands=N_BANDS,
        sh=sh,
        sig=sig,
        sets=shingle_sets(spark, sf_dir),
    )


def _minhash_sql(source: str = "documents") -> str:
    coeffs = minhash_coeffs(N_HASHES, 42)
    mins = ",\n    ".join(
        f"MIN(({a} * (h % {P}) + {b}) % {P}) AS mh{j}" for j, (a, b) in enumerate(coeffs)
    )
    band_selects = []
    for k in range(N_BANDS):
        key = " || '|' || ".join(
            f"CAST(mh{k * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)
        )
        band_selects.append(f"SELECT doc_id, {k} AS band, {key} AS key FROM sig")
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
WITH {_sql_shingle_cte(3, source)},
sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id),
bands AS (
  {bands_sql}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
{_sql_jaccard_tail(MINHASH_THRESHOLD)}
"""


# ---------------------------------------------------------------------------
# x_dedup_ngram_jaccard — inverted-index exact Jaccard
# ---------------------------------------------------------------------------

def x_dedup_ngram_jaccard(spark, sf_dir):
    from kinbaku_spark.queries.dedup_state import shingle_sets, shingle_state

    docs = load_table(spark, sf_dir, "documents")
    sh, _ = shingle_state(spark, sf_dir)
    return jaccard_near_duplicates(
        docs,
        threshold=JACCARD_THRESHOLD,
        sh=sh,
        sets=shingle_sets(spark, sf_dir),
    )


X_JACCARD_SQL = f"""
WITH {_sql_shingle_cte(3)},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM hx a JOIN hx b ON a.h = b.h
  WHERE a.doc_id < b.doc_id
),
{_sql_jaccard_tail(JACCARD_THRESHOLD)}
"""


# ---------------------------------------------------------------------------
# x_dedup_simhash
# ---------------------------------------------------------------------------

def x_dedup_simhash(spark, sf_dir):
    from kinbaku_spark.queries.dedup_state import simhash_sigs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        docs, max_hamming=SIMHASH_MAX_HAMMING, sig=simhash_sigs(spark, sf_dir)
    )


def _simhash_sql(
    max_hamming: int = SIMHASH_MAX_HAMMING,
    source: str = "documents",
    stratum_mod_sql: str | None = None,
) -> str:
    """``stratum_mod_sql``: restrict the pair space to WITHIN-residue pairs
    (md5(doc_id) % mod equal on both sides) — the multi-stratum-union
    monitor's exact pair-sampling semantics, one extra equi-term on the
    self-join."""
    bit_sums = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    strat_col = (
        f", {sql_md5_long('CAST(doc_id AS VARCHAR)')} % {stratum_mod_sql} AS strat"
        if stratum_mod_sql
        else ""
    )
    strat_pred = "  AND a.strat = b.strat\n" if stratum_mod_sql else ""
    return f"""
WITH {_sql_shingle_cte(3, source=source)},
sums AS (SELECT doc_id, {bit_sums} FROM hx GROUP BY doc_id),
sigs AS (SELECT doc_id, {sig} AS sig{strat_col} FROM sums)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
FROM sigs a, sigs b
WHERE a.doc_id < b.doc_id
{strat_pred}  AND bit_count(xor(a.sig, b.sig)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# x_dedup_embedding — cosine-threshold pairs
# ---------------------------------------------------------------------------

def x_dedup_embedding(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(emb, threshold=EMB_NEAR_DUP_THRESHOLD)


def _emb_truth_sql(source: str = "embeddings") -> str:
    return f"""
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS sim
FROM {source} a, {source} b
WHERE a.vec_id < b.vec_id
  AND ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) >= {EMB_NEAR_DUP_THRESHOLD}
"""


X_DEDUP_EMBEDDING_SQL = _emb_truth_sql()


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


# ---------------------------------------------------------------------------
# x_multimodal_image — binary-column decode plumbing (mapInPandas). The
# fake decoder is a pure function of the payload bytes, so DuckDB replays it
# exactly (hex() + per-byte arithmetic, like the audio/video twins); the
# aspect ratio is an integer ppm (floor division) so no float rounding can
# tie — full value-hash check, not rows-only.
# ---------------------------------------------------------------------------

def x_multimodal_image(spark, sf_dir):
    from kinbaku_spark.operators.multimodal import image_features, with_binary_payload

    docs = load_table(spark, sf_dir, "documents")
    return image_features(with_binary_payload(docs), fake=True)


X_MULTIMODAL_IMAGE_SQL = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
)
SELECT doc_id,
  CAST(n AS INT) AS n_bytes,
  CAST(n % 512 + 16 AS INT) AS width,
  CAST((n // 7) % 512 + 16 AS INT) AS height,
  CAST((n % 512 + 16) * 1000000 // ((n // 7) % 512 + 16) AS BIGINT) AS aspect_ppm,
  CAST(list_aggregate(list_transform(
      generate_series(CAST(1 AS BIGINT), CAST(n AS BIGINT)),
      i -> CAST(('0x' || substr(hx, CAST(2 * i - 1 AS INT), 2)) AS BIGINT)),
    'sum') AS BIGINT) AS checksum
FROM b
"""


# ---------------------------------------------------------------------------
# x_text_quality
# ---------------------------------------------------------------------------

def x_text_quality(spark, sf_dir):
    # regex-heavy per-row projection: widen a too-narrow scan to the
    # cluster's cores (plans/hints.spread_rows), shuffling only the two
    # consumed columns
    from kinbaku_spark.plans.hints import spread_rows

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text_quality(spread_rows(docs))


X_TEXT_QUALITY_SQL = f"""
WITH feats AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS n_tokens,
    length(text) AS n_chars,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
    length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
    length(regexp_replace(text, '[^ ]', '', 'g')) AS spaces
  FROM documents
)
SELECT doc_id,
  CAST(n_tokens AS INTEGER) AS n_tokens,
  CASE WHEN n_tokens > 0 THEN ROUND(n_chars * 1.0 / n_tokens, 6) ELSE 0.0 END AS avg_token_len,
  ROUND(CASE WHEN n_chars > 0 THEN alpha * 1.0 / n_chars ELSE 0.0 END, 6) AS alpha_ratio,
  ROUND(CASE WHEN n_chars > 0 THEN digits * 1.0 / n_chars ELSE 0.0 END, 6) AS digit_ratio,
  CASE WHEN n_chars > 0 THEN ROUND(spaces * 1.0 / n_chars, 6) ELSE 0.0 END AS space_ratio,
  ROUND(
    (CASE WHEN n_chars > 0 THEN alpha * 1.0 / n_chars ELSE 0.0 END) * 0.5
    + LEAST(n_tokens / 100.0, 1.0) * 0.3
    + (1.0 - (CASE WHEN n_chars > 0 THEN digits * 1.0 / n_chars ELSE 0.0 END)) * 0.2,
  6) AS quality_score
FROM feats
"""


# ---------------------------------------------------------------------------
# x_lang_id
# ---------------------------------------------------------------------------

def x_lang_id(spark, sf_dir):
    return lang_id(load_table(spark, sf_dir, "documents"))


def _lang_id_sql() -> str:
    langs = sorted(LANG_STOPWORDS)
    score_exprs = []
    for lang in langs:
        terms = []
        for w in LANG_STOPWORDS[lang]:
            needle = f" {w} "
            terms.append(
                f"((length(padded) - length(replace(padded, '{needle}', ''))) / {len(needle)})"
            )
        score_exprs.append((lang, "(" + " + ".join(terms) + ")"))
    best = "GREATEST(" + ", ".join(s for _, s in score_exprs) + ")"
    case = "CASE "
    for lang, s in score_exprs:
        case += f"WHEN {best} > 0 AND {s} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    cols = ",\n  ".join(f"ROUND({s}, 6) AS score_{lang}" for lang, s in score_exprs)
    return f"""
WITH padded_docs AS (SELECT doc_id, ' ' || lower(text) || ' ' AS padded FROM documents)
SELECT doc_id,
  {cols},
  {case} AS pred_lang
FROM padded_docs
"""


# ---------------------------------------------------------------------------
# x_token_count
# ---------------------------------------------------------------------------

def x_token_count(spark, sf_dir):
    return token_counts(load_table(spark, sf_dir, "documents"))


X_TOKEN_COUNT_SQL = f"""
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_extract_all(text, '{TOKEN_PATTERN}'))) AS BIGINT) AS n_tokens,
  ROUND(SUM(len(regexp_extract_all(text, '{TOKEN_PATTERN}'))) * 1.0 / COUNT(*), 6) AS tokens_per_doc
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# x_doc_fingerprint
# ---------------------------------------------------------------------------

def x_doc_fingerprint(spark, sf_dir):
    return doc_fingerprint(load_table(spark, sf_dir, "documents"))


X_DOC_FINGERPRINT_SQL = f"""
WITH w AS (SELECT doc_id, {SQL_WORDS.format(expr='text')} AS words FROM documents)
SELECT doc_id,
  list_aggregate(list_transform({sql_shingle_array('words', 5)},
                                s -> {sql_md5_long('s')}), 'min') AS fingerprint
FROM w
"""


QUERIES = {
    "x_dedup_exact": x_dedup_exact,
    "x_dedup_minhash": x_dedup_minhash,
    "x_dedup_ngram_jaccard": x_dedup_ngram_jaccard,
    "x_dedup_simhash": x_dedup_simhash,
    "x_dedup_embedding": x_dedup_embedding,
    "x_ann_cosine_topk": x_ann_cosine_topk,
    "x_ann_lsh_topk": x_ann_lsh_topk,
    "x_multimodal_image": x_multimodal_image,
    "x_text_quality": x_text_quality,
    "x_lang_id": x_lang_id,
    "x_token_count": x_token_count,
    "x_doc_fingerprint": x_doc_fingerprint,
}

ORACLES = {
    "x_dedup_exact": X_DEDUP_EXACT_SQL,
    "x_dedup_minhash": _minhash_sql(),
    "x_dedup_ngram_jaccard": X_JACCARD_SQL,
    "x_dedup_simhash": _simhash_sql(),
    "x_dedup_embedding": X_DEDUP_EMBEDDING_SQL,
    "x_ann_cosine_topk": X_ANN_COSINE_SQL,
    "x_ann_lsh_topk": _ann_lsh_sql(),
    "x_multimodal_image": X_MULTIMODAL_IMAGE_SQL,
    "x_text_quality": X_TEXT_QUALITY_SQL,
    "x_lang_id": _lang_id_sql(),
    "x_token_count": X_TOKEN_COUNT_SQL,
    "x_doc_fingerprint": X_DOC_FINGERPRINT_SQL,
}


# ---------------------------------------------------------------------------
# x_dedup_clusters — connected components over MinHash near-dup pairs
# ---------------------------------------------------------------------------

def dup_cluster_labels(spark, sf_dir):
    """(doc_id, cluster_id) near-duplicate family labels, built ONCE per
    sf_dir and session-persisted — at 100 TB the dup-family index is
    engine state shared by every consumer (survivorship, soft weights,
    size histograms), not a per-query recompute. Same pattern as the
    graph module's co_shared/und_edges state."""
    from kinbaku_spark.operators.dedup import duplicate_clusters
    from kinbaku_spark.queries.dedup_state import shingle_sets, shingle_state

    def build():
        docs = load_table(spark, sf_dir, "documents")
        sh, sig = shingle_state(spark, sf_dir)
        pairs = minhash_near_duplicates(
            docs,
            threshold=MINHASH_THRESHOLD,
            n_hashes=N_HASHES,
            bands=N_BANDS,
            sh=sh,
            sig=sig,
            sets=shingle_sets(spark, sf_dir),
        )
        labels = duplicate_clusters(docs, pairs).persist()
        labels.count()
        return labels

    return shared(spark, sf_dir, "dup_cluster_labels", build, ["documents"])


def x_dedup_clusters(spark, sf_dir):
    return dup_cluster_labels(spark, sf_dir)


def _clusters_sql() -> str:
    minhash = _minhash_sql().strip()
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_id_a, doc_id_b FROM ({minhash})
),
und AS (
  SELECT doc_id_a AS u, doc_id_b AS v FROM pairs
  UNION
  SELECT doc_id_b, doc_id_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, n.v FROM reach r JOIN und n ON r.v = n.u
)
SELECT d.doc_id,
       COALESCE(LEAST(d.doc_id, (SELECT MIN(v) FROM reach WHERE u = d.doc_id)),
                d.doc_id) AS cluster_id
FROM documents d
"""


QUERIES["x_dedup_clusters"] = x_dedup_clusters
ORACLES["x_dedup_clusters"] = _clusters_sql()


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


QUERIES["x_ann_ivf_topk"] = x_ann_ivf_topk
ORACLES["x_ann_ivf_topk"] = _ann_ivf_sql()


# ---------------------------------------------------------------------------
# x_doc_winnowing — rolling window-min fingerprints (Schleimer et al.)
# ---------------------------------------------------------------------------

WINNOW_WINDOW = 4


def x_doc_winnowing(spark, sf_dir):
    from kinbaku_spark.operators.text import winnowing_fingerprints

    return winnowing_fingerprints(
        load_table(spark, sf_dir, "documents"), window=WINNOW_WINDOW
    )


# NOTE: positions must be NON-distinct shingles in document order; the
# rolling min runs over a frame of WINNOW_WINDOW consecutive positions.
X_DOC_WINNOWING_SQL = f"""
WITH w AS (SELECT doc_id, {SQL_WORDS.format(expr='text')} AS words FROM documents),
grams AS (
  SELECT doc_id,
         generate_subscripts(g, 1) AS pos,
         unnest(g) AS gram
  FROM (
    SELECT doc_id,
      CASE WHEN len(words) >= 3 THEN
        list_transform(generate_series(1, len(words) - 2),
                       i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
      ELSE CAST([] AS VARCHAR[]) END AS g
    FROM w
  )
),
hx AS (SELECT doc_id, pos, {sql_md5_long('gram')} AS h FROM grams)
SELECT DISTINCT doc_id,
  MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING) AS fingerprint
FROM hx
"""


QUERIES["x_doc_winnowing"] = x_doc_winnowing
ORACLES["x_doc_winnowing"] = X_DOC_WINNOWING_SQL


# ---------------------------------------------------------------------------
# x_curate_corpus — the composed pipeline: quality filter -> MinHash-LSH
# near-dup clustering -> representative selection. The oracle replays the
# identical composition as nested CTEs.
# ---------------------------------------------------------------------------

MIN_QUALITY = 0.72


def x_curate_corpus(spark, sf_dir):
    from kinbaku_spark.operators.pipeline import curate_corpus
    from kinbaku_spark.queries.dedup_state import shingle_sets, shingle_state

    sh, sig = shingle_state(spark, sf_dir)
    return curate_corpus(
        load_table(spark, sf_dir, "documents"),
        min_quality=MIN_QUALITY,
        dup_threshold=MINHASH_THRESHOLD,
        n_hashes=N_HASHES,
        bands=N_BANDS,
        sh=sh,
        sig=sig,
        sets=shingle_sets(spark, sf_dir),
    )


def _curate_sql() -> str:
    quality = X_TEXT_QUALITY_SQL.strip()
    minhash_on_filtered = _minhash_sql("filtered").strip()
    return f"""
WITH RECURSIVE q AS (
  SELECT doc_id, quality_score FROM ({quality})
),
filtered AS (
  SELECT d.*, q.quality_score FROM documents d JOIN q USING (doc_id)
  WHERE q.quality_score >= {MIN_QUALITY}
),
pairs AS (
  SELECT doc_id_a, doc_id_b FROM ({minhash_on_filtered})
),
und AS (
  SELECT doc_id_a AS u, doc_id_b AS v FROM pairs
  UNION
  SELECT doc_id_b, doc_id_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, n.v FROM reach r JOIN und n ON r.v = n.u
)
SELECT f.doc_id, f.lang, f.source, f.quality_score
FROM filtered f
WHERE COALESCE(LEAST(f.doc_id, (SELECT MIN(v) FROM reach WHERE u = f.doc_id)),
               f.doc_id) = f.doc_id
"""


QUERIES["x_curate_corpus"] = x_curate_corpus
ORACLES["x_curate_corpus"] = _curate_sql()


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


QUERIES["x_ann_recall"] = x_ann_recall
ORACLES["x_ann_recall"] = _ann_recall_sql()


# ---------------------------------------------------------------------------
# x_pii_scrub — email/phone redaction over a deterministically-enriched
# corpus (the synthetic docs contain no PII, so every third doc gets a
# synthesized contact line FIRST — identically in both engines — and the
# scrub then has real work to verify: varying counts and masked text).
# ---------------------------------------------------------------------------

def x_pii_scrub(spark, sf_dir):
    from kinbaku_spark.operators.text import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" Contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com tel 555-123-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pii_scrub(enriched).orderBy("doc_id")


def _pii_scrub_sql() -> str:
    from kinbaku_spark.operators.text import PII_EMAIL_RE, PII_PHONE_RE

    return f"""
WITH enriched AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
      THEN text || ' Contact: user' || CAST(doc_id AS VARCHAR)
           || '@example.com tel 555-123-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      ELSE text END AS t
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS INTEGER) AS n_phones,
  regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                 '{PII_PHONE_RE}', '[PHONE]', 'g') AS scrubbed
FROM enriched
ORDER BY doc_id
"""


QUERIES["x_pii_scrub"] = x_pii_scrub
ORACLES["x_pii_scrub"] = _pii_scrub_sql()


# ---------------------------------------------------------------------------
# x_dedup_incremental — probe NEW docs (odd ids) against the corpus index
# (even ids): the production ingest pattern — each batch pays only its own
# shingling plus band joins against the stored index, never corpus x corpus.
# ---------------------------------------------------------------------------

def x_dedup_incremental(spark, sf_dir):
    from kinbaku_spark.operators.dedup import incremental_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_near_duplicates(
        corpus, new, threshold=MINHASH_THRESHOLD, n_hashes=N_HASHES, bands=N_BANDS
    )


def _incremental_sql() -> str:
    coeffs = minhash_coeffs(N_HASHES, 42)
    mins = ",\n    ".join(
        f"MIN(({a} * (h % {P}) + {b}) % {P}) AS mh{j}" for j, (a, b) in enumerate(coeffs)
    )
    band_selects = []
    for k in range(N_BANDS):
        key = " || '|' || ".join(
            f"CAST(mh{k * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)
        )
        band_selects.append(f"SELECT doc_id, {k} AS band, {key} AS key FROM sig")
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
WITH {_sql_shingle_cte(3)},
sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id),
bands AS (
  {bands_sql}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_new, b.doc_id AS doc_id_corpus
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hx GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_new, c.doc_id_corpus, COUNT(*) AS i
  FROM cand c
  JOIN hx a ON a.doc_id = c.doc_id_new
  JOIN hx b ON b.doc_id = c.doc_id_corpus AND b.h = a.h
  GROUP BY 1, 2
)
SELECT i.doc_id_new, i.doc_id_corpus,
       ROUND(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_id_new
JOIN sizes sb ON sb.doc_id = i.doc_id_corpus
WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= {MINHASH_THRESHOLD}
"""


QUERIES["x_dedup_incremental"] = x_dedup_incremental
ORACLES["x_dedup_incremental"] = _incremental_sql()


# ---------------------------------------------------------------------------
# x_fuzzy_match — entity resolution by edit distance: a probe set of
# corrupted part names (3rd char dropped, deterministic in both engines) is
# matched back to the catalog by minimum levenshtein, ties by part key.
# Scale: probes broadcast (they're the small side by construction); the
# catalog is scanned once; top-1 per probe is a window over per-probe
# groups. Both engines implement classic unit-cost Levenshtein.
# ---------------------------------------------------------------------------

FUZZY_PROBE_MOD = 97


def x_fuzzy_match(spark, sf_dir):
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    probes = part.filter(F.col("p_partkey") % FUZZY_PROBE_MOD == 0).select(
        F.col("p_partkey").alias("probe_key"),
        F.concat(
            F.substring("p_name", 1, 2), F.substring(F.col("p_name"), 4, 1000000)
        ).alias("corrupted"),
    )
    # Exact deletion-neighborhood banding (FastSS): the corrupted probe is
    # its own p_name minus one char, so the rn=1 winner has levenshtein
    # <= 1 — and any pair at distance <= 1 MUST share a key in
    # {s} ∪ {1-deletions of s} (substitution: delete the differing char
    # from both; indel: the shorter IS a deletion of the longer). Candidate
    # generation is therefore an EQUI-JOIN on the deletion key — the
    # at-scale shape (no crossJoin, no all-pairs levenshtein; census
    # 6.8s -> ~1s). The band is a superset of the dist<=1 pairs (some
    # dist-2 pairs share a key), so the exact levenshtein verify + global
    # (dist, match_key) rank below is unchanged and the naive all-pairs
    # SQL stays the oracle.
    def del_variants(col_name: str):
        return F.expr(
            # greatest(...,1): sequence(1,0) would DESCEND on a zero-length
            # string; the clamped form yields the identity variant instead
            f"array_union(array({col_name}), "
            f"transform(sequence(1, greatest(length({col_name}), 1)), "
            f"i -> concat(substr({col_name}, 1, i-1), substr({col_name}, i+1))))"
        )

    probes_v = probes.select(
        "probe_key", "corrupted", F.explode(del_variants("corrupted")).alias("v")
    )
    parts_v = part.select(
        F.col("p_partkey").alias("match_key"),
        F.col("p_name").alias("match_name"),
        F.explode(del_variants("p_name")).alias("v"),
    )
    # probes is |part|/97-sized — it GROWS with the data — and the deletion
    # explode multiplies it by ~|name|+1, so the hint must be size-gated
    # like every other data-sized broadcast (ADVICE r03). Bound derived
    # from actual counts in one small agg over the filtered probe scan:
    # |probes_v| <= |probes| * (max corrupted length + 1 identity variant).
    # Memoized per part fingerprint so plan CONSTRUCTION stays lazy after
    # the first call — the _query_vec pattern; an unmemoized .collect()
    # here would run a part scan on every QUERIES['x_fuzzy_match'] call
    # (bench/parity/plan-lock each build the plan several times).
    def probes_bound():
        pstats = probes.agg(
            F.count("*").alias("n"), F.max(F.length("corrupted")).alias("mx")
        ).collect()[0]
        return (pstats["n"] or 0) * ((pstats["mx"] or 0) + 1)

    probes_v_bound = shared(spark, sf_dir, "fuzzy_probes_bound", probes_bound, ["part"])
    cand = (
        parts_v.join(maybe_broadcast(probes_v, probes_v_bound), "v")
        .select("probe_key", "corrupted", "match_key", "match_name")
        .distinct()
    )
    scored = cand.select(
        "probe_key",
        "corrupted",
        "match_key",
        "match_name",
        F.levenshtein("corrupted", "match_name").alias("dist"),
    )
    w = Window.partitionBy("probe_key").orderBy("dist", "match_key")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_key", "corrupted", "match_key", "match_name", "dist")
        .orderBy("probe_key")
    )


X_FUZZY_MATCH_SQL = f"""
WITH probes AS (
  SELECT p_partkey AS probe_key,
         substr(p_name, 1, 2) || substr(p_name, 4) AS corrupted
  FROM part WHERE p_partkey % {FUZZY_PROBE_MOD} = 0
),
scored AS (
  SELECT pr.probe_key, pr.corrupted, p.p_partkey AS match_key,
         p.p_name AS match_name,
         CAST(levenshtein(pr.corrupted, p.p_name) AS INTEGER) AS dist,
         ROW_NUMBER() OVER (PARTITION BY pr.probe_key
                            ORDER BY levenshtein(pr.corrupted, p.p_name), p.p_partkey) AS rn
  FROM probes pr CROSS JOIN part p
)
SELECT probe_key, corrupted, match_key, match_name, dist
FROM scored WHERE rn = 1
ORDER BY probe_key
"""


QUERIES["x_fuzzy_match"] = x_fuzzy_match
ORACLES["x_fuzzy_match"] = X_FUZZY_MATCH_SQL


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


QUERIES["x_embed_quantize"] = x_embed_quantize
ORACLES["x_embed_quantize"] = X_EMBED_QUANTIZE_SQL


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


QUERIES["x_embed_covariance"] = x_embed_covariance
ORACLES["x_embed_covariance"] = X_EMBED_COVARIANCE_SQL


# ---------------------------------------------------------------------------
# x_repetition_ratio — duplicate 3-gram ratio per document (the Gopher-rule
# repetition filter): documents whose n-grams repeat heavily are boilerplate
# or degenerate generations. Pure per-row projection — no shuffle anywhere
# except the presentation sort — so at 100 TB it rides the scan. The ratio
# is integer ppm (floor), exact in any engine.
# ---------------------------------------------------------------------------

def x_repetition_ratio(spark, sf_dir):
    from kinbaku_spark.functions.textfns import shingle_array

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    total = F.greatest(F.size(words) - 2, F.lit(0)).cast("long")
    distinct = F.size(shingle_array(F.col("text"), 3)).cast("long")
    return (
        docs.select("doc_id", total.alias("n_grams"), distinct.alias("n_distinct"))
        .withColumn(
            "rep_ppm",
            F.when(
                F.col("n_grams") > 0,
                F.expr("((n_grams - n_distinct) * 1000000) div n_grams"),
            ).otherwise(F.lit(0)),
        )
        .orderBy("doc_id")
    )


X_REPETITION_SQL = f"""
WITH w AS (
  SELECT doc_id, {SQL_WORDS.format(expr='text')} AS words FROM documents
),
g AS (
  SELECT doc_id,
         CAST(GREATEST(len(words) - 2, 0) AS BIGINT) AS n_grams,
         CAST(len({sql_shingle_array('words', 3)}) AS BIGINT) AS n_distinct
  FROM w
)
SELECT doc_id, n_grams, n_distinct,
       CASE WHEN n_grams > 0
            THEN ((n_grams - n_distinct) * 1000000) // n_grams
            ELSE 0 END AS rep_ppm
FROM g ORDER BY doc_id
"""


QUERIES["x_repetition_ratio"] = x_repetition_ratio
ORACLES["x_repetition_ratio"] = X_REPETITION_SQL


# ---------------------------------------------------------------------------
# x_dedup_simhash_banded — the CANONICAL SimHash dedup (VERDICT r02 #1).
# Pigeonhole banding: a pair with hamming <= SIMHASH_BANDS - 1 differing
# bits across SIMHASH_BANDS disjoint bands must leave at least one band
# untouched, so the banded equi-join finds EXACTLY the same pairs as the
# all-pairs compare — no recall loss at this threshold, and candidate
# volume drops from n² to Σ|band bucket|² (bucket keys are 15-bit band
# slices of the 60-bit signature; at 100 TB the signature table is stored
# state and each band join is a hash-partitioned, AQE-skew-splittable
# equi-join). The hamming<=10 all-pairs form (x_dedup_simhash) stays
# registered as the wide-threshold verification baseline — 10 differing
# bits can straddle all 4 bands, so banding cannot reach it exactly.
# ---------------------------------------------------------------------------

SIMHASH_BANDS = 4
SIMHASH_BANDED_HAMMING = SIMHASH_BANDS - 1  # pigeonhole-exact reach


def x_dedup_simhash_banded(spark, sf_dir):
    from kinbaku_spark.queries.dedup_state import simhash_sigs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        docs,
        max_hamming=SIMHASH_BANDED_HAMMING,
        banded=True,
        bands=SIMHASH_BANDS,
        sig=simhash_sigs(spark, sf_dir),
    )


QUERIES["x_dedup_simhash_banded"] = x_dedup_simhash_banded
# the oracle is the naive all-pairs SQL at the band-reachable threshold —
# banding is exact (pigeonhole) below SIMHASH_BANDS, so the sets coincide
ORACLES["x_dedup_simhash_banded"] = _simhash_sql(SIMHASH_BANDED_HAMMING)


def _pair_recall(truth, cand, keys, truth_name, cand_name):
    """Shared recall/precision readout over two pair sets (integer ppm):
    used by the embedding-LSH and banded-SimHash recall queries — one
    implementation, one place to fix."""
    j = truth.withColumn("t", F.lit(1)).join(
        cand.withColumn("c", F.lit(1)), keys, "full_outer"
    )
    agg = j.agg(
        F.count("t").alias(truth_name),
        F.count("c").alias(cand_name),
        F.count(F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)).alias(
            "tp"
        ),
        F.count(F.when(F.col("c").isNotNull() & F.col("t").isNull(), 1)).alias(
            "fp"
        ),
        F.count(F.when(F.col("t").isNotNull() & F.col("c").isNull(), 1)).alias(
            "fn"
        ),
    )
    return agg.select(
        truth_name,
        cand_name,
        "tp",
        "fp",
        "fn",
        F.expr(f"tp * 1000000 div greatest({cand_name}, 1)").alias(
            "precision_ppm"
        ),
        F.expr(f"tp * 1000000 div greatest({truth_name}, 1)").alias("recall_ppm"),
    )


def _pair_recall_sql(
    truth_sql: str, cand_sql: str, key_a: str, key_b: str,
    truth_name: str, cand_name: str,
) -> str:
    """The identical readout as one DuckDB template over two pair-set
    subqueries (same integer-ppm arithmetic)."""
    return f"""
WITH truth AS (
  SELECT {key_a}, {key_b} FROM ({truth_sql})
),
cand AS (
  SELECT {key_a}, {key_b} FROM ({cand_sql})
),
j AS (
  SELECT t.{key_a} IS NOT NULL AS has_t, c.{key_a} IS NOT NULL AS has_c
  FROM truth t FULL OUTER JOIN cand c
    ON t.{key_a} = c.{key_a} AND t.{key_b} = c.{key_b}
),
agg AS (
  SELECT COUNT(*) FILTER (WHERE has_t) AS {truth_name},
         COUNT(*) FILTER (WHERE has_c) AS {cand_name},
         COUNT(*) FILTER (WHERE has_t AND has_c) AS tp,
         COUNT(*) FILTER (WHERE has_c AND NOT has_t) AS fp,
         COUNT(*) FILTER (WHERE has_t AND NOT has_c) AS fn
  FROM j
)
SELECT {truth_name}, {cand_name}, tp, fp, fn,
       tp * 1000000 // greatest({cand_name}, 1) AS precision_ppm,
       tp * 1000000 // greatest({truth_name}, 1) AS recall_ppm
FROM agg
"""


# ---------------------------------------------------------------------------
# x_dedup_simhash_banded_recall — how much of the WIDE-threshold
# (hamming<=10) dup set the canonical banded form (pigeonhole-exact at
# hamming<=3) captures on this corpus. The banding docstring above states
# the limitation; this is the measured readout (the repo standard set by
# x_dedup_recall_eval / x_dedup_embedding_lsh_recall: readout, not claim).
# Both legs share one signature table, so banded ⊆ baseline by
# construction — fp = 0 and precision_ppm = 1000000 are oracle-locked
# invariants; recall_ppm is the corpus-dependent number (a function of
# the hamming histogram between 4 and 10).
# ---------------------------------------------------------------------------


def x_dedup_simhash_banded_recall(spark, sf_dir):
    base = x_dedup_simhash(spark, sf_dir).select("doc_id_a", "doc_id_b")
    banded = x_dedup_simhash_banded(spark, sf_dir).select("doc_id_a", "doc_id_b")
    return _pair_recall(
        base, banded, ["doc_id_a", "doc_id_b"], "n_baseline", "n_banded"
    )


QUERIES["x_dedup_simhash_banded_recall"] = x_dedup_simhash_banded_recall
ORACLES["x_dedup_simhash_banded_recall"] = _pair_recall_sql(
    _simhash_sql(), _simhash_sql(SIMHASH_BANDED_HAMMING),
    "doc_id_a", "doc_id_b", "n_baseline", "n_banded",
)


# ---------------------------------------------------------------------------
# x_dedup_embedding_lsh — the CANONICAL embedding near-dup (VERDICT r02 #2).
# Hyperplane-LSH banded candidates (32 planes -> 4 bands x 8 bits = 256
# buckets per band) + exact rounded-6dp cosine verify over candidates only.
# The DuckDB oracle replays the IDENTICAL plane literals and band split, so
# the approximate candidate set is deterministic and engine-independent.
# The all-pairs x_dedup_embedding stays registered as the exhaustive
# recall baseline.
# ---------------------------------------------------------------------------

EMB_LSH_PLANES = random_hyperplanes(n_planes=32, dim=64, seed=11)
EMB_LSH_BANDS = 4


def x_dedup_embedding_lsh(spark, sf_dir):
    from kinbaku_spark.operators.similarity import embedding_near_duplicates_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates_lsh(
        emb,
        threshold=EMB_NEAR_DUP_THRESHOLD,
        planes=EMB_LSH_PLANES,
        bands=EMB_LSH_BANDS,
    )


def _emb_lsh_sql(
    planes: list | None = None,
    bands: int | None = None,
    source: str = "embeddings",
) -> str:
    planes = EMB_LSH_PLANES if planes is None else planes
    bands = EMB_LSH_BANDS if bands is None else bands
    width = len(planes) // bands
    mask = (1 << width) - 1
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {k} AS band, (sig >> {k * width}) & {mask} AS bk FROM sigs"
        for k in range(bands)
    )
    return f"""
WITH es AS (SELECT * FROM {source}),
sigs AS (
  SELECT vec_id, {_sql_lsh_sig('embedding', planes)} AS sig FROM es
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
  WHERE a.vec_id < b.vec_id
)
SELECT c.vec_id_a, c.vec_id_b,
       ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS sim
FROM cand c
JOIN es a ON a.vec_id = c.vec_id_a
JOIN es b ON b.vec_id = c.vec_id_b
WHERE ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) >= {EMB_NEAR_DUP_THRESHOLD}
"""


QUERIES["x_dedup_embedding_lsh"] = x_dedup_embedding_lsh
ORACLES["x_dedup_embedding_lsh"] = _emb_lsh_sql()


# ---------------------------------------------------------------------------
# x_dedup_embedding_lsh_recall — measured recall/precision of the canonical
# banded LSH near-dup vs the all-pairs exhaustive truth the repo keeps
# around precisely as this baseline (VERDICT r03 "What's wrong" #2: the
# miss rate at the 0.4 threshold was derived in a docstring, not measured).
# Both legs are existing registered queries; this is the x_dedup_recall_eval
# readout shape (integer-ppm, full-outer pair join). Because the LSH form
# VERIFIES candidates with the identical rounded cosine, its pairs are a
# subset of truth — fp = 0 and precision_ppm = 1000000 are INVARIANTS the
# oracle hash locks; recall_ppm is the number the docstring only asserted.
# Scale: the truth leg is the O(n²/B²)-task block GEMM — an evaluation
# harness to run on a sampled corpus at 100 TB, like x_dedup_recall_eval's
# fixed subcorpus; the PIPELINE under test is the banded path.
# ---------------------------------------------------------------------------


def x_dedup_embedding_lsh_recall(spark, sf_dir):
    truth = x_dedup_embedding(spark, sf_dir).select("vec_id_a", "vec_id_b")
    lsh = x_dedup_embedding_lsh(spark, sf_dir).select("vec_id_a", "vec_id_b")
    return _pair_recall(truth, lsh, ["vec_id_a", "vec_id_b"], "n_truth", "n_lsh")


QUERIES["x_dedup_embedding_lsh_recall"] = x_dedup_embedding_lsh_recall
ORACLES["x_dedup_embedding_lsh_recall"] = _pair_recall_sql(
    X_DEDUP_EMBEDDING_SQL, _emb_lsh_sql(), "vec_id_a", "vec_id_b",
    "n_truth", "n_lsh",
)


# ---------------------------------------------------------------------------
# x_dedup_recall_sampled — the 100-TB MONITORING shape of the recall
# readouts (VERDICT r04 next-round #3; production-shaped per VERDICT r05
# next-round #1). The full readouts above deliberately run the quadratic
# all-pairs truth leg; that is correct as a small-scale diagnostic but
# cannot run as a production monitor. Here an md5-stratum sample of the
# CORPUS feeds BOTH legs, so the truth side is bounded at
# DEDUP_RECALL_TARGET_STRATUM² regardless of corpus size: the modulus is
# DERIVED from the corpus count (max(1, n // target) — the identical
# integer expression inlined in the DuckDB oracle as a scalar subquery,
# so both engines compute the same stratum without anyone editing code at
# scale). The stratum is content-hash-deterministic (md5 of doc_id, the
# engine's cross-engine 60-bit hash), never a Bernoulli sample, so the
# oracle replays the identical slice and the readout is reproducible
# run-over-run. Sampling the CORPUS keeps both legs honest: recall is
# measured on exactly the dup pairs whose BOTH endpoints fall in the
# stratum — an unbiased estimator of pairwise recall under a uniform
# stratum, with inclusion probability (1/mod)² per pair. That quadratic
# thinning is the shape's statistical limit: support falls as corpus
# grows (the r05 drill's n_baseline=1 row), so the readout now carries
# sample_mod / stratum_n / low_support columns — the minimum-support
# guard a dashboard alerts on — and the CONSTANT-SUPPORT shape lives in
# x_dedup_recall_stratified below.
# ---------------------------------------------------------------------------

DEDUP_RECALL_TARGET_STRATUM = 2500  # docs per evaluation stratum
EMB_RECALL_TARGET_STRATUM = 1000  # vectors per evaluation stratum
DEDUP_RECALL_MIN_SUPPORT = 30  # truth pairs below which low_support fires


def _corpus_count(df, sf_dir: str, table: str) -> int:
    """df.count() of base table ``table``, memoized as a ``state.shared``
    entry: every monitor invocation after the first reads the count
    instead of paying a job (the x_ann _query_vec pattern). The table's
    parquet fingerprint is the invalidation rule, so a rebuilt-fixture
    session can never pair a stale Spark-side modulus with the DuckDB
    oracle's live COUNT(*) (ADVICE r06 #3)."""
    return shared(df.sparkSession, sf_dir, f"count:{table}", df.count, [table])


def _stratum_mod(df, target: int, sf_dir: str, table: str) -> int:
    """max(1, count // target) — the corpus-count-derived stratum modulus
    (VERDICT r05 #1). One driver-side count (parquet metadata-backed, a
    rounding error next to the readout, memoized per table fingerprint);
    the DuckDB oracle inlines the SAME integer expression
    (GREATEST(1, COUNT(*) // target)) so both engines derive the
    identical modulus at any corpus size."""
    return max(1, _corpus_count(df, sf_dir, table) // target)


def _sql_stratum_mod(table: str, target: int) -> str:
    return f"(SELECT GREATEST(1, COUNT(*) // {target}) FROM {table})"


def _with_support(readout, mod: int, stratum_n: int, truth_name: str):
    """Append the monitor's support columns: the modulus used, the stratum
    row count, and the minimum-support guard (truth pairs below
    DEDUP_RECALL_MIN_SUPPORT ⇒ the recall_ppm readout is statistically
    unsupported and must not be alerted on)."""
    return readout.select(
        "*",
        F.lit(mod).cast("long").alias("sample_mod"),
        F.lit(stratum_n).cast("long").alias("stratum_n"),
        (F.col(truth_name) < DEDUP_RECALL_MIN_SUPPORT).alias("low_support"),
    )


def _with_support_counted(readout, mod: int, stratum_df, truth_name: str):
    """:func:`_with_support` with the stratum count computed INSIDE the
    plan (one broadcast 1-row aggregate of the stratum table) instead of
    a driver-side .count() job at query-construction time — same columns,
    same values (n = COUNT(*) either way)."""
    counted = stratum_df.agg(F.count(F.lit(1)).cast("long").alias("stratum_n"))
    cols = readout.columns
    return readout.crossJoin(F.broadcast(counted)).select(
        *cols,
        F.lit(mod).cast("long").alias("sample_mod"),
        "stratum_n",
        (F.col(truth_name) < DEDUP_RECALL_MIN_SUPPORT).alias("low_support"),
    )


def _with_support_sql(
    inner: str, mod_sql: str, stratum_n_sql: str, truth_name: str
) -> str:
    return f"""
SELECT r.*, CAST({mod_sql} AS BIGINT) AS sample_mod,
       CAST({stratum_n_sql} AS BIGINT) AS stratum_n,
       r.{truth_name} < {DEDUP_RECALL_MIN_SUPPORT} AS low_support
FROM ({inner}) r
"""


_SAMPLED_DOCS_MOD_SQL = _sql_stratum_mod(
    "documents", DEDUP_RECALL_TARGET_STRATUM
)
_SAMPLED_DOCS_SQL = (
    "(SELECT * FROM documents WHERE "
    f"{sql_md5_long('CAST(doc_id AS VARCHAR)')} % {_SAMPLED_DOCS_MOD_SQL} = 0)"
    " dsamp"
)


def x_dedup_recall_sampled(spark, sf_dir):
    from kinbaku_spark.operators.dedup import shingle_hashes

    docs_all = load_table(spark, sf_dir, "documents")
    mod = _stratum_mod(docs_all, DEDUP_RECALL_TARGET_STRATUM, sf_dir, "documents")
    docs = docs_all.filter(
        F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(mod)) == 0
    )
    # ONE shingle + ONE signature pipeline feeds BOTH legs (the
    # x_dedup_simhash sig= pattern): previously each leg re-ran the
    # 60-sum signature aggregation as its own eager checkpoint job, and
    # the stratum count was a third construction-time corpus scan (now a
    # broadcast aggregate inside the plan — _with_support_counted)
    from kinbaku_spark.operators.dedup import simhash_signatures_df

    # lazy pins: both legs resolve inside the ONE final action, so the
    # stratum explode and the 60-sum aggregation still materialize exactly
    # once — without the two serial construction-time jobs
    sh = pin(shingle_hashes(docs, "doc_id", "text", 3), eager=False)
    sig = pin(simhash_signatures_df(sh, "doc_id"), eager=False)
    base = simhash_near_duplicates(
        docs, max_hamming=SIMHASH_MAX_HAMMING, sig=sig
    ).select("doc_id_a", "doc_id_b")
    banded = simhash_near_duplicates(
        docs,
        max_hamming=SIMHASH_BANDED_HAMMING,
        banded=True,
        bands=SIMHASH_BANDS,
        sig=sig,
    ).select("doc_id_a", "doc_id_b")
    readout = _pair_recall(
        base, banded, ["doc_id_a", "doc_id_b"], "n_baseline", "n_banded"
    )
    return _with_support_counted(readout, mod, docs, "n_baseline")


QUERIES["x_dedup_recall_sampled"] = x_dedup_recall_sampled
ORACLES["x_dedup_recall_sampled"] = _with_support_sql(
    _pair_recall_sql(
        _simhash_sql(source=_SAMPLED_DOCS_SQL),
        _simhash_sql(SIMHASH_BANDED_HAMMING, source=_SAMPLED_DOCS_SQL),
        "doc_id_a", "doc_id_b", "n_baseline", "n_banded",
    ),
    _SAMPLED_DOCS_MOD_SQL,
    f"(SELECT COUNT(*) FROM {_SAMPLED_DOCS_SQL})",
    "n_baseline",
)


# ---------------------------------------------------------------------------
# x_dedup_recall_stratified — the CONSTANT-SUPPORT monitoring shape
# (VERDICT r05 next-round #1, "multi-stratum union"). The single-stratum
# monitor above has constant COST but pair support that thins as
# (1/mod)²; this form partitions the WHOLE corpus into mod md5-residue
# strata and measures recall over the union of all WITHIN-stratum pairs —
# every pair is included with probability exactly 1/mod (endpoint hashes
# agree mod m), so expected support is true_pairs/mod = dup_rate × target
# stratum size: CONSTANT in corpus size for a fixed dup rate. Cost is one
# residue-keyed self-join — n × target/2 popcount comparisons, linear in
# the corpus with a tiny constant, embarrassingly parallel across strata
# (md5 residues are uniform, so no skewed stratum), and the signature
# table it joins is the SAME session-persisted artifact the production
# banded dedup already computes (dedup_state.shingle_state), so the
# monitor's marginal cost at 100 TB is the popcount join alone. The
# banded leg is the REAL production banded operator's output restricted
# to within-stratum pairs (same inclusion rule ⇒ same pair population ⇒
# unbiased recall; banded ⊆ baseline still holds, so fp = 0 stays an
# oracle-locked invariant).
# ---------------------------------------------------------------------------


def x_dedup_recall_stratified(spark, sf_dir):
    from kinbaku_spark.queries.dedup_state import simhash_sigs

    docs = load_table(spark, sf_dir, "documents")
    n_docs = _corpus_count(docs, sf_dir, "documents")
    mod = max(1, n_docs // DEDUP_RECALL_TARGET_STRATUM)

    def strat_of(col):
        return F.pmod(md5_long(F.col(col).cast("string")), F.lit(mod))

    # signatures over the FULL corpus: the SAME session-pinned table the
    # banded production dedup reads (dedup_state.simhash_sigs — the query
    # used to pin its own copy, re-running the 60-sum aggregation), each
    # row tagged with its md5-residue stratum (a projection over the pin)
    sig = simhash_sigs(spark, sf_dir).withColumn("strat", strat_of("doc_id"))
    a = sig.select(
        F.col("doc_id").alias("doc_id_a"), F.col("sig").alias("sig_a"), "strat"
    )
    b = sig.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sig_b"), "strat"
    )
    base = (
        a.join(b, "strat")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .filter(
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            <= SIMHASH_MAX_HAMMING
        )
        .select("doc_id_a", "doc_id_b")
    )
    banded = (
        simhash_near_duplicates(
            docs,
            max_hamming=SIMHASH_BANDED_HAMMING,
            banded=True,
            bands=SIMHASH_BANDS,
            sig=simhash_sigs(spark, sf_dir),
        )
        .filter(strat_of("doc_id_a") == strat_of("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
    )
    readout = _pair_recall(
        base, banded, ["doc_id_a", "doc_id_b"], "n_baseline", "n_banded"
    )
    # stratum_n here is the NOMINAL per-stratum size n // mod (the knob
    # the target controls); the modulus column disambiguates the shape
    return _with_support(readout, mod, n_docs // mod, "n_baseline")


QUERIES["x_dedup_recall_stratified"] = x_dedup_recall_stratified
ORACLES["x_dedup_recall_stratified"] = _with_support_sql(
    _pair_recall_sql(
        _simhash_sql(stratum_mod_sql=_SAMPLED_DOCS_MOD_SQL),
        _simhash_sql(
            SIMHASH_BANDED_HAMMING, stratum_mod_sql=_SAMPLED_DOCS_MOD_SQL
        ),
        "doc_id_a", "doc_id_b", "n_baseline", "n_banded",
    ),
    _SAMPLED_DOCS_MOD_SQL,
    f"(SELECT COUNT(*) // {_SAMPLED_DOCS_MOD_SQL} FROM documents)",
    "n_baseline",
)


# ---------------------------------------------------------------------------
# x_dedup_embedding_lsh_wide — the width-scaled embedding-LSH
# parameterization PROMOTED to a registered, oracle-backed query (VERDICT
# r04 next-round #4; previously built ad hoc inside the 100× drill).
# 60 planes in 4×15-bit bands = 32,768 buckets per band instead of the
# canonical 32-plane/4×8-bit form's 256 — the banding knob a 100× corpus
# turns to keep Σ|bucket|² (the candidate-join volume) flat as n grows.
# Same verify-with-exact-cosine contract, so pairs ⊆ the true ≥-threshold
# set; the oracle replays the identical 60 plane literals and band split.
# ---------------------------------------------------------------------------

EMB_LSH_WIDE_PLANES = random_hyperplanes(n_planes=60, dim=64, seed=11)
EMB_LSH_WIDE_BANDS = 4


def x_dedup_embedding_lsh_wide(spark, sf_dir):
    from kinbaku_spark.operators.similarity import embedding_near_duplicates_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates_lsh(
        emb,
        threshold=EMB_NEAR_DUP_THRESHOLD,
        planes=EMB_LSH_WIDE_PLANES,
        bands=EMB_LSH_WIDE_BANDS,
    )


QUERIES["x_dedup_embedding_lsh_wide"] = x_dedup_embedding_lsh_wide
ORACLES["x_dedup_embedding_lsh_wide"] = _emb_lsh_sql(
    EMB_LSH_WIDE_PLANES, EMB_LSH_WIDE_BANDS
)


# ---------------------------------------------------------------------------
# x_dedup_embedding_recall_sampled — the embedding-side twin of
# x_dedup_recall_sampled (VERDICT r04 next-round #3 asked for the sampled
# monitoring shape "for the banded dedup forms", plural): an md5-stratum
# sample of the VECTORS feeds both the exhaustive-cosine truth leg and the
# banded-LSH leg, so the O(sample²) truth cost is fixed at any corpus
# size. Same deterministic-stratum / fp=0-invariant contract as the
# simhash twin; STRESS_PIPELINE_100X.md carries the constant-cost row for
# the family.
# ---------------------------------------------------------------------------


_SAMPLED_EMB_MOD_SQL = _sql_stratum_mod("embeddings", EMB_RECALL_TARGET_STRATUM)
_SAMPLED_EMB_SRC = (
    "(SELECT * FROM embeddings WHERE "
    f"{sql_md5_long('CAST(vec_id AS VARCHAR)')} % {_SAMPLED_EMB_MOD_SQL} = 0)"
)


def x_dedup_embedding_recall_sampled(spark, sf_dir):
    from kinbaku_spark.operators.similarity import (
        embedding_near_duplicates,
        embedding_near_duplicates_lsh,
    )

    emb_all = load_table(spark, sf_dir, "embeddings")
    mod = _stratum_mod(emb_all, EMB_RECALL_TARGET_STRATUM, sf_dir, "embeddings")
    # lazy: both legs + the support count resolve in one action
    emb = emb_all.filter(
        F.pmod(md5_long(F.col("vec_id").cast("string")), F.lit(mod)) == 0
    ).localCheckpoint(eager=False)
    truth = embedding_near_duplicates(emb, threshold=EMB_NEAR_DUP_THRESHOLD).select(
        "vec_id_a", "vec_id_b"
    )
    lsh = embedding_near_duplicates_lsh(
        emb,
        threshold=EMB_NEAR_DUP_THRESHOLD,
        planes=EMB_LSH_PLANES,
        bands=EMB_LSH_BANDS,
    ).select("vec_id_a", "vec_id_b")
    readout = _pair_recall(
        truth, lsh, ["vec_id_a", "vec_id_b"], "n_truth", "n_lsh"
    )
    # stratum count folded into the plan (a 1-row aggregate over the
    # already-checkpointed stratum) — no construction-time .count() job
    return _with_support_counted(readout, mod, emb, "n_truth")


QUERIES["x_dedup_embedding_recall_sampled"] = x_dedup_embedding_recall_sampled
# both legs REUSE the canonical SQL builders with the sampled stratum as
# the source relation — one definition of the sig/band/verify math, so a
# fix to the canonical oracle cannot silently diverge from the sampled one
ORACLES["x_dedup_embedding_recall_sampled"] = _with_support_sql(
    _pair_recall_sql(
        _emb_truth_sql(_SAMPLED_EMB_SRC),
        _emb_lsh_sql(source=_SAMPLED_EMB_SRC),
        "vec_id_a", "vec_id_b", "n_truth", "n_lsh",
    ),
    _SAMPLED_EMB_MOD_SQL,
    f"(SELECT COUNT(*) FROM {_SAMPLED_EMB_SRC} esamp)",
    "n_truth",
)


# ---------------------------------------------------------------------------
# x_substring_dedup — cross-document repeated-span detection (the Lee et
# al. 2022 "Deduplicating Training Data Makes Language Models Better"
# shape): pairs of documents sharing >= 1 contiguous SPAN_N-token span,
# with the count of distinct shared spans. A shared contiguous span IS a
# shared word-n-gram at span width, so the operator is an inverted-index
# equi-join on the 60-bit span hash — the same postings shape as
# x_dedup_ngram_jaccard, no suffix array needed for the pair-detection
# half of the paper. Scale: postings are (hash, doc) rows, df-capped at
# SUBSTRING_DF_CAP before the self-join (VERDICT r03 #2) — a licence
# header shared by 10^6 docs would otherwise make the OUTPUT itself 10^12
# pair rows; boilerplate above the cap is not dup *signal* for the pair
# readout, and the removal half below handles it linearly without any cap.
# Span REMOVAL (the paper's second half) is x_substring_dedup_apply:
# positional postings (operators/dedup.py span_postings), owner-keeps
# semantics, coverage-interval cut, rebuilt text.
# ---------------------------------------------------------------------------

SPAN_N = 20
SUBSTRING_DF_CAP = 16  # mirrors WINDOW_DF_CAP (pipeline_ext4.py)


def x_substring_dedup(spark, sf_dir):
    from kinbaku_spark.queries.dedup_state import span_state

    # the positional span postings are session-persisted engine state
    # (dedup_state.span_state — the suffix-array replacement shared with
    # the removal query); the distinct (doc_id, h) form this query needs
    # is one projection+distinct over the warm index, pinned because the
    # df profile and the capped self-join both consume it
    # lazy pins: every consumer resolves inside the one final action
    sh = pin(
        span_state(spark, sf_dir).select("doc_id", "h").distinct(), eager=False
    )
    keep = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter((F.col("c") >= 2) & (F.col("c") <= SUBSTRING_DF_CAP))
        .select("h")
    )
    post = pin(sh.join(keep, "h", "left_semi"), eager=False)
    b = post.select(F.col("doc_id").alias("doc_id_b"), "h")
    return (
        post.join(b, "h")
        .filter(F.col("doc_id") < F.col("doc_id_b"))
        .groupBy(F.col("doc_id").alias("doc_id_a"), F.col("doc_id_b"))
        .agg(F.count(F.lit(1)).alias("shared_spans"))
        .orderBy("doc_id_a", "doc_id_b")
    )


X_SUBSTRING_DEDUP_SQL = f"""
WITH {_sql_shingle_cte(SPAN_N)},
df AS (SELECT h, COUNT(*) AS c FROM hx GROUP BY h),
keep AS (SELECT h FROM df WHERE c BETWEEN 2 AND {SUBSTRING_DF_CAP}),
post AS MATERIALIZED (SELECT hx.doc_id, hx.h FROM hx JOIN keep USING (h))
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(COUNT(*) AS BIGINT) AS shared_spans
FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY 1, 2
"""

QUERIES["x_substring_dedup"] = x_substring_dedup
ORACLES["x_substring_dedup"] = X_SUBSTRING_DEDUP_SQL


# ---------------------------------------------------------------------------
# x_substring_dedup_apply — the REMOVAL half of Lee et al. 2022 (VERDICT
# r03 #3): cut every cross-document duplicated SPAN_N-token span out of
# all documents except the span's owner, and rebuild the text.
#
# Semantics (deterministic, SQL-replayable):
# - positional postings (doc_id, pos, h) over word SPAN_N-grams
#   (operators/dedup.py span_postings; pos = 0-based first-token index);
# - a span hash is duplicated if it occurs in >= 2 DISTINCT docs; its
#   owner is the min doc_id containing it. The owner keeps all its
#   occurrences (the paper keeps one occurrence in the corpus); every
#   other doc removes all of its occurrences of that span;
# - overlapping removals merge naturally: each removed occurrence covers
#   token positions [pos, pos+SPAN_N), and the doc's kept text is the
#   positions covered by none (a distinct coverage set instead of an
#   interval-merge pass — same result, one explode + anti-join);
# - output: one row per doc that lost tokens (doc_id, n_tokens,
#   n_removed, text_clean), text_clean '' when everything went.
#
# Scale: NO df cap needed, and none would be right — removal of a
# 10^6-doc licence header is exactly the point. Everything is linear:
# the dup-hash set is a groupBy (no self-join), occurrence rows are
# bounded by the postings, coverage is a bounded SPAN_N-fold explode of
# the REMOVED occurrences only, and the rebuild is one groupBy(doc_id).
# The hash->owner table is data-sized, so it joins by shuffle (no
# broadcast hint); it is PINNED before the join because AQE's skew split
# cannot replicate a derived-aggregate join side — unpinned, the
# hash->owner agg would pin the partitioning and a 10^6-df hot span
# could NOT be split (measured: tests/test_skew_probe.py::
# test_substring_apply_join_shape_skew_splits, planted-hot-span drill
# row in STRESS_SKEW_HUB.md).
# ---------------------------------------------------------------------------


def x_substring_dedup_apply(spark, sf_dir):
    from kinbaku_spark.queries.dedup_state import span_state

    docs = load_table(spark, sf_dir, "documents")
    # the positional postings are the session-persisted span index (shared
    # with x_substring_dedup); the token explode has two consumers (kept
    # tokens + token counts), pinned once
    spans = span_state(spark, sf_dir)
    # lazy pin: both consumers resolve inside the one final action
    toks = pin(
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
                "pos", "tok"
            ),
        ),
        eager=False,
    )

    # pinned: a derived-aggregate join side defeats AQE skew-split on the
    # hot span hash (see the Scale note above) — lazy keeps the leaf
    # shape (LogicalRDD) while skipping the construction-time job
    dup = pin(
        spans.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"), F.min("doc_id").alias("owner"))
        .filter(F.col("nd") >= 2)
        .select("h", "owner"),
        eager=False,
    )
    occ = (
        spans.join(dup, "h")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "pos")
    )
    cov = occ.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(SPAN_N - 1))).alias(
            "pos"
        ),
    ).distinct()

    kept = toks.join(cov, ["doc_id", "pos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("text_clean")
    )
    removed = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_removed"))
    ntok = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        removed.join(ntok, "doc_id")
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_removed",
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
        .orderBy("doc_id")
    )


def _substring_apply_sql() -> str:
    n = SPAN_N
    parts = " || ' ' || ".join(f"words[i+{j}]" for j in range(n))
    return f"""
WITH w AS (SELECT doc_id, {SQL_WORDS.format(expr="text")} AS words FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(words) >= {n} THEN
           list_transform(generate_series(1, len(words) - {n - 1}), i -> {parts})
         ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM w
),
spans AS (
  SELECT doc_id, generate_subscripts(grams, 1) - 1 AS pos,
         {sql_md5_long('unnest(grams)')} AS h
  FROM g
),
dup AS (
  SELECT h, MIN(doc_id) AS owner
  FROM (SELECT DISTINCT doc_id, h FROM spans)
  GROUP BY h HAVING COUNT(*) >= 2
),
occ AS (
  SELECT s.doc_id, s.pos FROM spans s JOIN dup d ON s.h = d.h
  WHERE s.doc_id <> d.owner
),
cov AS (
  SELECT DISTINCT doc_id, pos + unnest(generate_series(0, {n - 1})) AS pos
  FROM occ
),
toks AS (
  SELECT doc_id, generate_subscripts(words, 1) - 1 AS pos, unnest(words) AS tok
  FROM w
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
)
SELECT r.doc_id,
       CAST(nt.n_tokens AS BIGINT) AS n_tokens,
       CAST(r.n_removed AS BIGINT) AS n_removed,
       COALESCE(k.text_clean, '') AS text_clean
FROM (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id) r
JOIN (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id) nt
  USING (doc_id)
LEFT JOIN (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
) k USING (doc_id)
ORDER BY r.doc_id
"""


QUERIES["x_substring_dedup_apply"] = x_substring_dedup_apply
ORACLES["x_substring_dedup_apply"] = _substring_apply_sql()
