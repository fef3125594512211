"""Training-data pipeline operators: sampling, packing, contamination,
mixture weights, sharding, tokenizer statistics and the end-to-end corpus
curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kinbaku_spark.functions.hashing import (
    HASH_PRIME,
    md5_long,
    minhash_coeffs,
    sql_md5_long,
)
from kinbaku_spark.functions.textfns import SQL_WORDS, sql_shingle_array
from kinbaku_spark.operators.dedup import minhash_near_duplicates, shingle_hashes
from kinbaku_spark.operators.pipeline import (
    cross_split_contamination,
    pack_sequences,
    stratified_sample,
    weighted_sample,
)
from kinbaku_spark.operators.rank import with_ntile
from kinbaku_spark.operators.text import TOKEN_PATTERN, lang_id
from kinbaku_spark.queries import kmeans_state, register
from kinbaku_spark.queries.dedup import (
    MINHASH_THRESHOLD,
    _minhash_sql,
    _sql_shingle_cte,
)
from kinbaku_spark.queries.dedup_state import (
    BAND_ROWS,
    N_BANDS,
    N_HASHES,
    shingle_sets,
    shingle_state,
)
from kinbaku_spark.queries.kmeans_state import kmeans_assign_cte
from kinbaku_spark.queries.similarity import _sql_cosine
from kinbaku_spark.queries.text import X_TEXT_QUALITY_SQL, _lang_id_sql
from kinbaku_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# x_curate_corpus — the composed pipeline: quality filter -> MinHash-LSH
# near-dup clustering -> representative selection. The oracle replays the
# identical composition as nested CTEs.
# ---------------------------------------------------------------------------

MIN_QUALITY = 0.72


def x_curate_corpus(spark, sf_dir):
    from kinbaku_spark.operators.pipeline import curate_corpus

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


register(x_curate_corpus, _curate_sql())


# ---------------------------------------------------------------------------
# Training-data plumbing queries, wave 2: deterministic stratified
# sampling + splits, sequence packing (token-budget chunking), and benchmark
# contamination detection. Thin adapters over operators/pipeline.py with
# exact DuckDB replays (shared md5-derived 60-bit hash, integer window math).
# ---------------------------------------------------------------------------

SAMPLE_RATES = {"en": 0.2}
SAMPLE_DEFAULT = 0.6
PACK_CAPACITY = 512
TRAIN_SOURCES = [f"src{i}" for i in range(10)]
EVAL_SOURCES = [f"src{i}" for i in range(10, 20)]


# -- deterministic stratified sample + split ----------------------------------

def x_sample_stratified(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, rates=SAMPLE_RATES, default_rate=SAMPLE_DEFAULT)


X_SAMPLE_SQL = f"""
WITH s AS (
  SELECT doc_id, lang,
    {sql_md5_long("CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
    {sql_md5_long("CAST(doc_id AS VARCHAR) || ':split'")} % 10 AS sb
  FROM documents
)
SELECT doc_id, lang, bucket,
  CASE WHEN sb < 8 THEN 'train' WHEN sb < 9 THEN 'val' ELSE 'test' END AS split
FROM s
WHERE bucket < CASE WHEN lang = 'en' THEN 200 ELSE 600 END
"""


# -- deterministic weighted sample (Efraimidis-Spirakis top-k) ----------------

WSAMPLE_K = 20


def x_weighted_sample(spark, sf_dir):
    """Length-weighted document sample: longer docs proportionally more
    likely, yet the draw is a pure function of doc_id (see
    operators/pipeline.py weighted_sample for the scale analysis)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "weight", (F.col("n_chars") + F.lit(1)).cast("long")
    )
    return weighted_sample(docs, k=WSAMPLE_K, weight_col="weight")


X_WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, CAST(n_chars + 1 AS BIGINT) AS weight,
         ln(CAST({sql_md5_long("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
            / CAST('{1 << 60}' AS DOUBLE))
         / CAST(n_chars + 1 AS DOUBLE) AS k
  FROM documents
), top AS (
  SELECT doc_id, weight FROM keyed ORDER BY k DESC, doc_id LIMIT {WSAMPLE_K}
)
SELECT doc_id, weight FROM top ORDER BY doc_id
"""


# -- sequence packing (token-budget chunking) ---------------------------------

def x_seq_packing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, capacity=PACK_CAPACITY)


X_SEQ_PACKING_SQL = f"""
WITH t AS (
  SELECT source, doc_id,
         len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS tok
  FROM documents
), c AS (
  SELECT source, tok,
    CAST(FLOOR(COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {PACK_CAPACITY}) AS BIGINT)
      AS chunk_id
  FROM t
)
SELECT source, chunk_id, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS sum_tokens
FROM c
GROUP BY source, chunk_id
ORDER BY source, chunk_id
"""


# -- benchmark contamination (8-gram inverted-index join) ---------------------

def x_contamination(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return cross_split_contamination(
        docs, train_sources=TRAIN_SOURCES, eval_sources=EVAL_SOURCES
    )


_TRAIN_IN = ", ".join(f"'{s}'" for s in TRAIN_SOURCES)
_EVAL_IN = ", ".join(f"'{s}'" for s in EVAL_SOURCES)

X_CONTAMINATION_SQL = f"""
WITH w AS (
  SELECT doc_id, source, {SQL_WORDS.format(expr="text")} AS words FROM documents
),
sh AS (
  SELECT doc_id, source, unnest({sql_shingle_array("words", 8)}) AS s FROM w
),
hx AS (
  SELECT doc_id, source, {sql_md5_long("s")} AS h FROM sh
),
tr AS (SELECT doc_id, h FROM hx WHERE source IN ({_TRAIN_IN})),
ev AS (SELECT doc_id AS eval_doc_id, h FROM hx WHERE source IN ({_EVAL_IN}))
SELECT tr.doc_id,
       COUNT(DISTINCT ev.eval_doc_id) AS n_eval_docs,
       COUNT(DISTINCT tr.h) AS n_shared_grams
FROM tr JOIN ev ON ev.h = tr.h
GROUP BY tr.doc_id
ORDER BY tr.doc_id
"""


register(x_sample_stratified, X_SAMPLE_SQL)
register(x_weighted_sample, X_WEIGHTED_SAMPLE_SQL)
register(x_seq_packing, X_SEQ_PACKING_SQL)
register(x_contamination, X_CONTAMINATION_SQL)


# -- multimodal plumbing, oracle-checked ------------------------------------
# The fake decoders are pure functions of the payload BYTES, so DuckDB can
# replay them exactly (hex() + per-byte arithmetic): the mapInPandas
# plumbing gets a full value-hash check, not just rows-only. (The image
# variant stays rows-only: its aspect ratio can land on exact 6dp rounding
# ties, e.g. odd/128.)

VIDEO_EVERY_MS = 200


def x_multimodal_audio(spark, sf_dir):
    from kinbaku_spark.operators.multimodal import audio_features, with_binary_payload

    docs = load_table(spark, sf_dir, "documents")
    return audio_features(with_binary_payload(docs), fake=True)


X_MULTIMODAL_AUDIO_SQL = """
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
)
SELECT doc_id,
  CAST(n AS INT) AS n_bytes,
  CAST(CASE n % 3 WHEN 0 THEN 16000 WHEN 1 THEN 22050 ELSE 44100 END AS INT)
    AS sample_rate,
  CAST(n * 4 AS INT) AS n_frames,
  ROUND(CAST(n * 4 AS DOUBLE)
        / CASE n % 3 WHEN 0 THEN 16000 WHEN 1 THEN 22050 ELSE 44100 END, 6)
    AS duration_s
FROM b
"""


def x_multimodal_video(spark, sf_dir):
    from kinbaku_spark.operators.multimodal import (
        video_frame_samples,
        with_binary_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return video_frame_samples(with_binary_payload(docs), every_ms=VIDEO_EVERY_MS)


X_MULTIMODAL_VIDEO_SQL = f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
), f AS (
  SELECT doc_id, hx, n,
         GREATEST(1, (n * 3) // {VIDEO_EVERY_MS}) AS n_frames,
         n // GREATEST(1, (n * 3) // {VIDEO_EVERY_MS}) AS frame_len
  FROM b
), fr AS (
  SELECT doc_id, hx, n, n_frames, frame_len,
         unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT))) AS k
  FROM f
)
SELECT doc_id,
  CAST(k AS INT) AS frame_idx,
  CAST(k * {VIDEO_EVERY_MS} AS BIGINT) AS ts_ms,
  CAST((CASE WHEN k = n_frames - 1 THEN n ELSE (k + 1) * frame_len END)
       - k * frame_len AS INT) AS frame_bytes,
  CAST(list_aggregate(list_transform(
      generate_series(CAST(k * frame_len + 1 AS BIGINT),
                      CAST(CASE WHEN k = n_frames - 1 THEN n
                                ELSE (k + 1) * frame_len END AS BIGINT)),
      i -> CAST(('0x' || substr(hx, CAST(2 * i - 1 AS INT), 2)) AS BIGINT)),
    'sum') AS BIGINT) AS frame_checksum
FROM fr
"""


register(x_multimodal_audio, X_MULTIMODAL_AUDIO_SQL)
register(x_multimodal_video, X_MULTIMODAL_VIDEO_SQL)


# -- one-pass table profiling -------------------------------------------------

PROFILE_NUM_COLS = ["l_discount", "l_extendedprice", "l_quantity"]
PROFILE_STR_COLS = ["l_linestatus", "l_returnflag"]


def x_profile_lineitem(spark, sf_dir):
    from kinbaku_spark.operators.pipeline import profile_table

    li = load_table(spark, sf_dir, "lineitem")
    return profile_table(li, PROFILE_NUM_COLS, PROFILE_STR_COLS)


def _profile_sql() -> str:
    aggs = ["COUNT(*) AS n_rows"]
    for c in PROFILE_NUM_COLS + PROFILE_STR_COLS:
        aggs += [
            f"COUNT({c}) AS nn_{c}",
            f"COUNT(DISTINCT {c}) AS nd_{c}",
            f"MIN({c}) AS mn_{c}",
            f"MAX({c}) AS mx_{c}",
        ]
    rows = []
    for c in PROFILE_NUM_COLS:
        rows.append(
            f"SELECT '{c}' AS col, n_rows, CAST(nn_{c} AS BIGINT) AS n_nonnull,"
            f" CAST(nd_{c} AS BIGINT) AS n_distinct,"
            f" CAST(mn_{c} AS DOUBLE) AS min_num, CAST(mx_{c} AS DOUBLE) AS max_num,"
            f" CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM a"
        )
    for c in PROFILE_STR_COLS:
        rows.append(
            f"SELECT '{c}' AS col, n_rows, CAST(nn_{c} AS BIGINT) AS n_nonnull,"
            f" CAST(nd_{c} AS BIGINT) AS n_distinct,"
            f" CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,"
            f" CAST(mn_{c} AS VARCHAR) AS min_str, CAST(mx_{c} AS VARCHAR) AS max_str FROM a"
        )
    body = "\nUNION ALL\n".join(rows)
    return f"WITH a AS (SELECT {', '.join(aggs)} FROM lineitem)\n{body}\nORDER BY col"


register(x_profile_lineitem, _profile_sql())


# ---------------------------------------------------------------------------
# Training-data pipeline operators, batch 2: BPE-style merge-pair counting
# (the tokenizer-training inner loop), EWMA trend smoothing over the event
# stream, and per-domain quota capping (Common-Crawl-style corpus balancing).
#
# The reference (kerighan/kinbaku) has no text/tokenizer/time surface at all
# (SURVEY.md §2.4); these extend the engine's LLM-data-curation surface on the
# driver's `documents` / `events` tables.
#
# Shuffle shapes (the 100 TB story):
#
# - BPE pairs: tokenize + adjacent-pair explode are narrow (flatMap per
#   document, zero shuffle); the ONE shuffle is the pair-count groupBy, with
#   map-side partial aggregation collapsing each partition to its distinct
#   pairs (vocab-bounded, not corpus-bounded) before the exchange; the top-k
#   is TakeOrderedAndProject, never a global sort.
# - EWMA: facts collapse via ONE groupBy (event_type, day) — map-side
#   partials again — then all per-day work happens on the tiny aggregate
#   (types x days rows), never over raw events.
# - quota: one hash shuffle on (source, lang) for the per-group rank; the
#   output is group-sized. At 100 TB the rank-by-hash stays a single window
#   pass per partition group; hot domains are bounded by the quota itself.
#
# Determinism: integer counts; EWMA folds doubles SEQUENTIALLY over the
# day-ordered prefix (`F.aggregate` on the Spark side, `list_reduce` in
# DuckDB — same left fold, same IEEE ops, bit-equal) with shared constants
# rendered via string->double casts; quota ranks on the shared 60-bit
# md5-derived hash (functions/hashing.py), never on engine RNG.
# ---------------------------------------------------------------------------

# -- x_bpe_pair_merges: adjacent-pair frequency, the BPE merge step ----------

BPE_TOP_K = 20


def x_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-`BPE_TOP_K` adjacent word pairs by corpus frequency — the
    counting step of one BPE merge round (word-level granularity: the
    driver's `documents.text` is already whitespace-tokenizable).

    Pair construction is `zip_with` over two shifted slices of the token
    array — pure per-row JVM expressions, no UDF, no shuffle until the
    vocab-bounded count.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = F.expr(
        "zip_with(slice(words, 1, size(words) - 1),"
        "         slice(words, 2, size(words) - 1),"
        "         (a, b) -> concat(a, ' ', b))"
    )
    return (
        docs.select(F.split(F.trim(F.col("text")), r"\s+").alias("words"))
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(BPE_TOP_K)
    )


X_BPE_PAIR_SQL = rf"""
WITH w AS (SELECT string_split_regex(trim(text), '\s+') AS words FROM documents),
p AS (
  SELECT list_transform(generate_series(1, len(words) - 1),
                        i -> words[i] || ' ' || words[i + 1]) AS pairs
  FROM w
),
e AS (SELECT unnest(pairs) AS pair FROM p)
SELECT pair, COUNT(*) AS cnt FROM e
GROUP BY pair ORDER BY cnt DESC, pair LIMIT {BPE_TOP_K}
"""


# -- x_ewma_daily: exponentially weighted daily trend ------------------------

EWMA_ALPHA = "0.3"  # rendered identically into both engines via string cast


def x_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily counts with an EWMA trend line
    (s_1 = x_1; s_t = (1-alpha) * s_{t-1} + alpha * x_t).

    The fold runs over the day-ordered PREFIX of each type's daily series:
    `F.aggregate` seeded with the first element replicates DuckDB's
    `list_reduce` left fold exactly. Day cardinality is tiny (types x days),
    so the quadratic prefix expansion is on the aggregate, never the stream.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    ar = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "cnt"))).alias("a")
    )
    a0 = F.lit(EWMA_ALPHA).cast("double")
    a1 = F.lit("1.0").cast("double") - a0
    ex = ar.select("event_type", "a", F.posexplode("a").alias("pos", "e"))
    rest = F.expr("transform(slice(a, 2, pos), s -> CAST(s.cnt AS DOUBLE))")
    seed = F.element_at(F.col("a"), 1)["cnt"].cast("double")
    return ex.select(
        "event_type",
        F.col("e.day").cast("string").alias("day"),
        F.col("e.cnt").alias("cnt"),
        F.round(
            F.aggregate(rest, seed, lambda acc, x: acc * a1 + x * a0), 6
        ).alias("ewma"),
    )


X_EWMA_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
ar AS (
  SELECT event_type, list(struct_pack(day := day, cnt := cnt) ORDER BY day) AS a
  FROM daily GROUP BY 1
),
ex AS (
  SELECT event_type, a, generate_subscripts(a, 1) AS pos, unnest(a) AS e FROM ar
)
SELECT event_type, CAST(e.day AS VARCHAR) AS day, e.cnt AS cnt,
       ROUND(list_reduce(
         list_transform(list_slice(a, 1, pos), s -> CAST(s.cnt AS DOUBLE)),
         (acc, x) -> acc * (CAST('1.0' AS DOUBLE) - CAST('{EWMA_ALPHA}' AS DOUBLE))
                     + x * CAST('{EWMA_ALPHA}' AS DOUBLE)), 6) AS ewma
FROM ex
"""


# -- x_domain_quota: per-(source, lang) corpus balancing ---------------------

QUOTA_PER_GROUP = 20


def x_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap each (source, lang) group at `QUOTA_PER_GROUP` documents, chosen
    by the shared 60-bit md5 hash of doc_id (deterministic pseudo-random,
    no engine RNG); report total/kept/dropped per group — the corpus
    balancing step that stops one domain from dominating a training mix.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = md5_long(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source", "lang").orderBy(h.alias("h"), "doc_id")
    ranked = docs.select(
        "source", "lang", (F.row_number().over(w) <= QUOTA_PER_GROUP).alias("keep")
    )
    return ranked.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("keep"), 1)).alias("kept"),
        F.count(F.when(~F.col("keep"), 1)).alias("dropped"),
    )


X_DOMAIN_QUOTA_SQL = f"""
WITH ranked AS (
  SELECT source, lang,
         ROW_NUMBER() OVER (
           PARTITION BY source, lang
           ORDER BY {sql_md5_long("CAST(doc_id AS VARCHAR)")}, doc_id
         ) <= {QUOTA_PER_GROUP} AS keep
  FROM documents
)
SELECT source, lang,
       COUNT(*) AS total,
       COUNT(*) FILTER (WHERE keep) AS kept,
       COUNT(*) FILTER (WHERE NOT keep) AS dropped
FROM ranked
GROUP BY source, lang
"""


register(x_bpe_pair_merges, X_BPE_PAIR_SQL)
register(x_ewma_daily, X_EWMA_SQL)
register(x_domain_quota, X_DOMAIN_QUOTA_SQL)


# -- x_kmeans_clusters: Lloyd's k-means over the embedding corpus ------------
# (operator in operators/similarity.py — see its docstring for the
# zero-shuffle assignment / d×k-aggregate recompute scale shape)


def x_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinbaku_spark.operators.similarity import kmeans_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_clusters(emb, assigned=kmeans_state.assignment(spark, sf_dir))


def _kmeans_sql() -> str:
    return kmeans_assign_cte() + """
SELECT cluster, COUNT(*) AS n_members,
       ROUND(CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_sim
FROM a2 GROUP BY cluster
"""


register(x_kmeans_clusters, _kmeans_sql())


# -- x_dedup_recall_eval: MinHash banding quality vs exact ground truth ------

DEDUP_EVAL_N = 150  # fixed-size subcorpus: the exact all-pairs truth stays
# O(DEDUP_EVAL_N^2) at every scale factor — the evaluation harness is
# constant-cost; the PIPELINE under test is the production banding path.


def x_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash banding stage against exact all-pairs
    Jaccard ground truth on a fixed subcorpus (doc_id < DEDUP_EVAL_N).

    Candidates are PRE-verification band pairs (the set the verify join
    would touch); truth is every pair with exact Jaccard >= the production
    threshold. This is the measurement that justifies banding at 100 TB:
    recall says what the pigeonhole misses, precision says how much work
    verification must absorb. Ratios in integer ppm (exact replay).
    """
    from kinbaku_spark.operators.dedup import minhash_band_candidates


    # the eval corpus is a doc_id prefix: shingles/signatures are per-doc,
    # so filtering the session-persisted index equals re-deriving on the
    # filtered corpus
    sh_full, sig_full = shingle_state(spark, sf_dir)
    sh = sh_full.filter(F.col("doc_id") < DEDUP_EVAL_N)
    sig = sig_full.filter(F.col("doc_id") < DEDUP_EVAL_N)
    cand = minhash_band_candidates(sig, "doc_id", N_HASHES, N_BANDS).select(
        F.col("doc_id_a").alias("da"), F.col("doc_id_b").alias("db")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.select(F.col("doc_id").alias("da"), "h")
        .join(sh.select(F.col("doc_id").alias("db"), "h"), "h")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na")), "da")
        .join(sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")), "db")
        .filter(
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6)
            >= MINHASH_THRESHOLD
        )
        .select("da", "db")
    )
    j = truth.withColumn("t", F.lit(1)).join(
        cand.withColumn("c", F.lit(1)), ["da", "db"], "full_outer"
    )
    agg = j.agg(
        F.count("t").alias("n_truth"),
        F.count("c").alias("n_cand"),
        F.count(F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)).alias("tp"),
        F.count(F.when(F.col("c").isNotNull() & F.col("t").isNull(), 1)).alias("fp"),
        F.count(F.when(F.col("t").isNotNull() & F.col("c").isNull(), 1)).alias("fn"),
    )
    return agg.select(
        "n_truth",
        "n_cand",
        "tp",
        "fp",
        "fn",
        F.expr("tp * 1000000 div greatest(n_cand, 1)").alias("precision_ppm"),
        F.expr("tp * 1000000 div greatest(n_truth, 1)").alias("recall_ppm"),
    )


def _dedup_eval_sql() -> str:
    from kinbaku_spark.functions.hashing import HASH_PRIME, minhash_coeffs

    coeffs = minhash_coeffs(N_HASHES, 42)
    mins = ",\n    ".join(
        f"MIN(({a} * (h % {HASH_PRIME}) + {b}) % {HASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    band_selects = []
    for k in range(N_BANDS):
        key = " || '|' || ".join(
            f"CAST(mh{k * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)
        )
        band_selects.append(f"SELECT doc_id, {k} AS band, {key} AS key FROM sig")
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    src = f"(SELECT * FROM documents WHERE doc_id < {DEDUP_EVAL_N})"
    return f"""
WITH {_sql_shingle_cte(3, src)},
sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id),
bands AS (
  {bands_sql}
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hx GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
  FROM hx a JOIN hx b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.da, i.db
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.da
  JOIN sizes sb ON sb.doc_id = i.db
  WHERE ROUND(i.i / (sa.n + sb.n - i.i), 6) >= {MINHASH_THRESHOLD}
),
j AS (
  SELECT t.da IS NOT NULL AS has_t, c.da IS NOT NULL AS has_c
  FROM truth t FULL OUTER JOIN cand c ON t.da = c.da AND t.db = c.db
),
agg AS (
  SELECT COUNT(*) FILTER (WHERE has_t) AS n_truth,
         COUNT(*) FILTER (WHERE has_c) AS n_cand,
         COUNT(*) FILTER (WHERE has_t AND has_c) AS tp,
         COUNT(*) FILTER (WHERE has_c AND NOT has_t) AS fp,
         COUNT(*) FILTER (WHERE has_t AND NOT has_c) AS fn
  FROM j
)
SELECT n_truth, n_cand, tp, fp, fn,
       tp * 1000000 // greatest(n_cand, 1) AS precision_ppm,
       tp * 1000000 // greatest(n_truth, 1) AS recall_ppm
FROM agg
"""


register(x_dedup_recall_eval, _dedup_eval_sql())


# -- x_langid_eval: confusion matrix of the language-ID heuristic ------------

def x_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword language classifier against the
    corpus's labeled `lang` column: (true lang, predicted lang, n). The
    model-evaluation shape: prediction is per-row map-side work; the ONE
    shuffle is the tiny (langs x langs) count."""
    from kinbaku_spark.operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _langid_eval_sql() -> str:
    return f"""
SELECT d.lang, p.pred_lang, COUNT(*) AS n
FROM documents d JOIN ({_lang_id_sql()}) p ON p.doc_id = d.doc_id
GROUP BY 1, 2
"""


register(x_langid_eval, _langid_eval_sql())


# -- x_entity_blocking: blocked entity-resolution candidate pairs ------------

BLOCK_LEV_MAX = 15


def x_entity_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking over part names: block on (first word,
    second word, p_size), generate within-block pairs, keep pairs with
    Levenshtein distance <= BLOCK_LEV_MAX.

    The scale pattern behind every record-linkage pipeline: blocking turns
    the O(n^2) cross join into one equi-join shuffle on the block key, and
    total work becomes sum-of-block^2 (bounded by the key design; skewed
    blocks split by AQE). Complements x_fuzzy_match, which is the
    broadcast-probe variant for a small query side.
    """
    part = load_table(spark, sf_dir, "part")
    w = F.split(F.col("p_name"), " ")
    keyed = part.select(
        "p_partkey",
        "p_name",
        w.getItem(0).alias("w1"),
        w.getItem(1).alias("w2"),
        "p_size",
    )
    a = keyed.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
        "w1", "w2", "p_size",
    )
    b = keyed.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        "w1", "w2", "p_size",
    )
    return (
        a.join(b, ["w1", "w2", "p_size"])
        .filter(F.col("part_a") < F.col("part_b"))
        .select(
            "part_a",
            "part_b",
            F.levenshtein("name_a", "name_b").alias("lev"),
        )
        .filter(F.col("lev") <= BLOCK_LEV_MAX)
    )


X_ENTITY_BLOCKING_SQL = f"""
WITH k AS (
  SELECT p_partkey, p_name,
         string_split(p_name, ' ')[1] AS w1,
         string_split(p_name, ' ')[2] AS w2,
         p_size
  FROM part
)
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS lev
FROM k a JOIN k b
  ON a.w1 = b.w1 AND a.w2 = b.w2 AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= {BLOCK_LEV_MAX}
"""


register(x_entity_blocking, X_ENTITY_BLOCKING_SQL)


# -- x_embed_outliers: centroid-similarity z-score outliers per label -------

OUTLIER_Z = "2.0"


def x_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality gate: flag vectors whose cosine similarity to
    their OWN label centroid is a >=2-sigma low outlier within the label —
    mislabeled or corrupted vectors sit far from their cluster center.
    (Norm-based screens are useless here: the corpus is unit-normalized.)

    Determinism: cosines round to 6dp, bridge to INTEGER micro-units via a
    decimal cast (double->decimal is correctly rounded on both engines),
    and every statistic is then an exact integer sum. Doubles reappear
    only through int->double conversions (IEEE-exact everywhere) — NOT
    fractional decimal->double casts, whose last-ulp rounding differs
    between engines (found at sf0.1). z is computed in micro-unit space,
    where it is scale-invariant. Shape: k x d centroid table broadcast;
    ONE groupBy(label).
    """
    from kinbaku_spark.operators.similarity import cosine, label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cen = label_centroids(emb, "label", "embedding")
    sim = F.round(cosine(F.col("embedding"), F.col("centroid")), 6)
    su = (sim.cast("decimal(18,6)") * 1000000).cast("long")
    sims = emb.join(F.broadcast(cen), "label").select(
        "vec_id", "label", sim.alias("sim"), su.alias("su")
    )
    d38 = "decimal(38,0)"
    stats = sims.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("su")).cast("long").alias("s1i"),
        F.sum(F.col("su").cast(d38) * F.col("su").cast(d38)).alias("s2i"),
    )
    j = sims.join(F.broadcast(stats), "label")
    nd = F.col("n").cast("double")
    s1d = F.col("s1i").cast("double")
    mean_u = s1d / nd
    var_u = (F.col("s2i").cast("double") - s1d * s1d / nd) / (
        nd - F.lit("1.0").cast("double")
    )
    z = (F.col("su").cast("double") - mean_u) / F.sqrt(var_u)
    zt = F.lit(OUTLIER_Z).cast("double")
    return j.select(
        "vec_id",
        "label",
        "sim",
        F.round(z, 6).alias("z"),
    ).filter(F.col("z") <= -zt)


def _embed_outliers_sql() -> str:
    mean_u = "(CAST(s1i AS DOUBLE) / CAST(n AS DOUBLE))"
    var_u = (
        "((CAST(s2i AS DOUBLE) - CAST(s1i AS DOUBLE) * CAST(s1i AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST('1.0' AS DOUBLE)))"
    )
    z = f"((CAST(su AS DOUBLE) - {mean_u}) / sqrt({var_u}))"
    return f"""
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS val
  FROM embeddings
),
cen AS (
  SELECT label, list(avg ORDER BY pos) AS centroid FROM (
    SELECT label, pos,
           CAST(CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * CAST(1000000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS DOUBLE) / CAST(1000000000.0 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg
    FROM ex GROUP BY label, pos
  ) GROUP BY label
),
sims AS (
  SELECT e.vec_id, e.label,
         ROUND({_sql_cosine('e.embedding', 'c.centroid')}, 6) AS sim,
         CAST(CAST(ROUND({_sql_cosine('e.embedding', 'c.centroid')}, 6)
                   AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS su
  FROM embeddings e JOIN cen c ON c.label = e.label
),
stats AS (
  SELECT label, COUNT(*) AS n,
         CAST(SUM(su) AS BIGINT) AS s1i,
         SUM(CAST(su AS DECIMAL(38,0)) * CAST(su AS DECIMAL(38,0))) AS s2i
  FROM sims GROUP BY label
)
SELECT vec_id, r.label, sim,
       ROUND({z}, 6) AS z
FROM sims r JOIN stats s ON s.label = r.label
WHERE ROUND({z}, 6) <= -CAST('{OUTLIER_Z}' AS DOUBLE)
"""


register(x_embed_outliers, _embed_outliers_sql())


# -- x_zorder_layout: Morton-code clustering stats over orders ---------------

ZORDER_BUCKETS_SHIFT = 12  # top 4 of 16 z-bits -> 16 buckets


def x_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-z-bucket bounding boxes for orders clustered by the Morton code
    of (customer key, order day): each bucket's (x, y) ranges stay tight in
    BOTH dimensions — the property that makes parquet min/max stats prune
    scans for either predicate after a z-ordered rewrite
    (sources/layout.py, the OPTIMIZE ZORDER pattern). Pure bit arithmetic,
    exact replay; one groupBy over bucket ids computed map-side.
    """
    from kinbaku_spark.sources.layout import ZBITS, morton2

    orders = load_table(spark, sf_dir, "orders")
    mask = (1 << ZBITS) - 1
    x = F.col("o_custkey").bitwiseAND(F.lit(mask)).cast("long")
    y = (
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        .bitwiseAND(F.lit(mask))
        .cast("long")
    )
    z = morton2(x, y, ZBITS)
    rows = orders.select(
        x.alias("x"), y.alias("y"),
        F.shiftright(z, ZORDER_BUCKETS_SHIFT).alias("bucket"),
    )
    return rows.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )


def _zorder_sql() -> str:
    from kinbaku_spark.sources.layout import ZBITS, sql_morton2

    mask = (1 << ZBITS) - 1
    z = sql_morton2("x", "y", ZBITS)
    return f"""
WITH base AS (
  SELECT (o_custkey & {mask}) AS x,
         (datediff('day', DATE '1992-01-01', o_orderdate) & {mask}) AS y
  FROM orders
),
rows_z AS (
  SELECT x, y, ({z} >> {ZORDER_BUCKETS_SHIFT}) AS bucket FROM base
)
SELECT bucket, COUNT(*) AS n,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max
FROM rows_z GROUP BY bucket
"""


register(x_zorder_layout, _zorder_sql())


# -- x_image_phash_dedup: perceptual-hash near-dup pairs (multimodal) --------

PHASH_MAX_HAMMING = 3


def x_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup over the binary payload column
    (operators/multimodal.py): Arrow-batched 60-bit dHash, 15-bit banding,
    exact bit_count(xor) verification. The payload here is the document
    bytes (this container has no image decoder — the sampling 'decode' is
    the deterministic stand-in), but the plumbing IS the production shape:
    bytes stay put, only 8-byte hashes shuffle."""
    from kinbaku_spark.operators.multimodal import (
        phash_near_duplicates,
        with_binary_payload,
    )

    docs = with_binary_payload(load_table(spark, sf_dir, "documents"))
    # report EVERY band-colliding candidate with its verified distance
    # (non-trivial at every scale; true dups exist only where the corpus
    # has near-identical payloads) and flag the <=PHASH_MAX_HAMMING dups
    pairs = phash_near_duplicates(docs, max_hamming=60)
    return pairs.withColumn(
        "is_dup", F.col("hamming") <= PHASH_MAX_HAMMING
    )


def _phash_sql() -> str:
    # byte at 0-based offset p of the (ASCII) payload = unicode(substr(text, p+1, 1))
    samples = (
        "list_transform(generate_series(0, 60), "
        "i -> unicode(substr(text, CAST(i * n // 61 AS INT) + 1, 1)))"
    )
    bits = (
        "list_transform(generate_series(1, 60), "
        "i -> CASE WHEN ls[i + 1] > ls[i] "
        "THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END)"
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, phash, {k} AS band, (phash >> {15 * k}) & 32767 AS key FROM ph"
        for k in range(4)
    )
    return f"""
WITH s AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
),
sampled AS (SELECT doc_id, {samples} AS ls FROM s),
ph AS (
  SELECT doc_id,
         CAST(list_aggregate({bits}, 'sum') AS BIGINT) AS phash
  FROM sampled
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                  a.phash AS ha, b.phash AS hb
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b,
       CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming,
       bit_count(xor(ha, hb)) <= {PHASH_MAX_HAMMING} AS is_dup
FROM cand
WHERE bit_count(xor(ha, hb)) <= 60
"""


register(x_image_phash_dedup, _phash_sql())


# -- x_vocab_coverage: OOV rate per source vs the top-K corpus vocab ---------

VOCAB_K = 200


def x_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-readiness stat: build the top-`VOCAB_K` token vocabulary
    from the corpus itself (count desc, token asc — deterministic), then
    per source report total tokens, in-vocab tokens, and OOV rate in ppm.

    Two shuffles total: the vocab count (vocab-bounded after map-side
    partials) and the per-source rollup; the vocab table broadcasts for
    the membership probe.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    probed = toks.join(F.broadcast(vocab), "tok", "left")
    return probed.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.count(F.col("in_vocab")).alias("in_vocab_tokens"),
        F.expr(
            "(count(1) - count(in_vocab)) * 1000000 div count(1)"
        ).alias("oov_ppm"),
    )


X_VOCAB_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT source, t.tok
  FROM documents,
       LATERAL (
         SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
       ) t
  WHERE t.tok <> ''
),
vocab AS (
  SELECT tok, 1 AS in_vocab FROM (
    SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ORDER BY cnt DESC, tok LIMIT {VOCAB_K}
  )
)
SELECT source,
       COUNT(*) AS total_tokens,
       COUNT(v.in_vocab) AS in_vocab_tokens,
       (COUNT(*) - COUNT(v.in_vocab)) * 1000000 // COUNT(*) AS oov_ppm
FROM toks LEFT JOIN vocab v ON v.tok = toks.tok
GROUP BY source
"""


register(x_vocab_coverage, X_VOCAB_COVERAGE_SQL)


# -- x_minhash_estimate_eval: signature-estimated vs exact Jaccard -----------

def x_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash accuracy eval: for every banding candidate pair, compare the
    signature-estimated Jaccard (fraction of agreeing minima, in exact
    1/32nds -> ppm) against the true shingle Jaccard, reporting the error.
    The companion to x_dedup_recall_eval: that one grades candidate
    RECALL, this one grades the ESTIMATOR the candidates are ranked by.
    Everything is integer arithmetic (agreement counts, ppm floors).
    """
    from kinbaku_spark.operators.dedup import minhash_band_candidates


    # the eval corpus is a doc_id prefix: shingles/signatures are per-doc,
    # so filtering the session-persisted index equals re-deriving on the
    # filtered corpus
    sh_full, sig_full = shingle_state(spark, sf_dir)
    sh = sh_full.filter(F.col("doc_id") < DEDUP_EVAL_N)
    sig = sig_full.filter(F.col("doc_id") < DEDUP_EVAL_N)
    cand = minhash_band_candidates(sig, "doc_id", N_HASHES, N_BANDS)
    sa = sig.select(
        F.col("doc_id").alias("doc_id_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_id_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(N_HASHES)],
    )
    agree = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(N_HASHES)
    )
    est = cand.join(sa, "doc_id_a").join(sb, "doc_id_b").select(
        "doc_id_a", "doc_id_b", agree.alias("n_agree")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.select(F.col("doc_id").alias("doc_id_a"), "h")
        .join(sh.select(F.col("doc_id").alias("doc_id_b"), "h"), "h")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    exact = (
        est.join(inter, ["doc_id_a", "doc_id_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n").alias("na")),
            "doc_id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n").alias("nb")),
            "doc_id_b",
        )
    )
    i = F.coalesce("i", F.lit(0))
    est_ppm = F.expr(f"n_agree * 1000000 div {N_HASHES}")
    true_ppm = (i * 1000000).cast("long") / (F.col("na") + F.col("nb") - i)
    true_ppm_i = F.floor(true_ppm).cast("long")
    return exact.select(
        "doc_id_a",
        "doc_id_b",
        "n_agree",
        est_ppm.alias("est_ppm"),
        true_ppm_i.alias("true_ppm"),
        F.abs(est_ppm - true_ppm_i).alias("abs_err_ppm"),
    )


def _minhash_est_sql() -> str:
    from kinbaku_spark.functions.hashing import HASH_PRIME, minhash_coeffs

    coeffs = minhash_coeffs(N_HASHES, 42)
    mins = ",\n    ".join(
        f"MIN(({a} * (h % {HASH_PRIME}) + {b}) % {HASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    band_selects = []
    for k in range(N_BANDS):
        key = " || '|' || ".join(
            f"CAST(mh{k * BAND_ROWS + r} AS VARCHAR)" for r in range(BAND_ROWS)
        )
        band_selects.append(f"SELECT doc_id, {k} AS band, {key} AS key FROM sig")
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    agree = " + ".join(
        f"CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END"
        for j in range(N_HASHES)
    )
    src = f"(SELECT * FROM documents WHERE doc_id < {DEDUP_EVAL_N})"
    return f"""
WITH {_sql_shingle_cte(3, src)},
sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id),
bands AS (
  {bands_sql}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_id_a, c.doc_id_b, ({agree}) AS n_agree
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_id_a
  JOIN sig sb ON sb.doc_id = c.doc_id_b
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hx GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS i
  FROM hx a JOIN hx b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT e.doc_id_a, e.doc_id_b, e.n_agree,
       e.n_agree * 1000000 // {N_HASHES} AS est_ppm,
       CAST(floor(COALESCE(i.i, 0) * 1000000
                  / (sa.n + sb.n - COALESCE(i.i, 0))) AS BIGINT) AS true_ppm,
       abs(e.n_agree * 1000000 // {N_HASHES}
           - CAST(floor(COALESCE(i.i, 0) * 1000000
                        / (sa.n + sb.n - COALESCE(i.i, 0))) AS BIGINT))
         AS abs_err_ppm
FROM est e
LEFT JOIN inter i ON i.doc_id_a = e.doc_id_a AND i.doc_id_b = e.doc_id_b
JOIN sizes sa ON sa.doc_id = e.doc_id_a
JOIN sizes sb ON sb.doc_id = e.doc_id_b
"""


register(x_minhash_estimate_eval, _minhash_est_sql())


# -- x_dataset_card: one-row corpus summary (the dataset-card numbers) -------

def x_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numbers every dataset card leads with, in one pass + one
    distinct: doc/source/lang counts, token and char totals, exact-dup doc
    count (docs minus distinct texts), and English share in ppm. Fused
    conditional aggregates over a single scan; the only extra shuffle is
    the distinct-text count (128-bit-hash distinct at scale).
    """
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    agg = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(ntok.cast("long")).alias("total_tokens"),
        F.count_distinct("text").alias("distinct_texts"),
        # CASE guard: ANSI div errors on 0/0 for an empty corpus, where
        # DuckDB's // yields NULL — make both produce NULL explicitly
        F.expr(
            "CASE WHEN count(1) = 0 THEN NULL"
            " ELSE count(CASE WHEN lang = 'en' THEN 1 END) * 1000000 div count(1)"
            " END"
        ).alias("en_ppm"),
    )
    return agg.select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_chars",
        "total_tokens",
        "distinct_texts",
        (F.col("n_docs") - F.col("distinct_texts")).alias("dup_docs"),
        "en_ppm",
    )


X_DATASET_CARD_SQL = r"""
SELECT n_docs, n_sources, n_langs, total_chars, total_tokens,
       distinct_texts, n_docs - distinct_texts AS dup_docs, en_ppm
FROM (
  SELECT COUNT(*) AS n_docs,
         COUNT(DISTINCT source) AS n_sources,
         COUNT(DISTINCT lang) AS n_langs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
           AS total_tokens,
         COUNT(DISTINCT text) AS distinct_texts,
         COUNT(CASE WHEN lang = 'en' THEN 1 END) * 1000000 // COUNT(*)
           AS en_ppm
  FROM documents
)
"""


register(x_dataset_card, X_DATASET_CARD_SQL)


# -- x_repeated_ngram_rate: cross-doc exact-substring duplication signal -----

REP_NGRAM_N = 8


def x_repeated_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rate of 8-gram positions whose 8-gram also appears in
    ANOTHER document — the exact-substring duplication signal behind
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al.): a high rate means the doc is largely boilerplate shared across
    the corpus, even when no single near-duplicate partner exists.

    Two shuffles: gram -> set of docs (bounded by gram vocabulary after
    map-side partials), then the per-doc rollup; the gram table carries
    60-bit hashes, never text. Rates in integer ppm (exact replay).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    # NOTE: guard short docs explicitly — Spark's sequence(1, 0) DESCENDS
    # ([1, 0]) instead of being empty like DuckDB's generate_series(1, 0)
    grams = F.expr(
        f"CASE WHEN size(words) >= {REP_NGRAM_N} THEN "
        f"transform(sequence(1, size(words) - {REP_NGRAM_N - 1}),"
        f" i -> concat_ws(' ', slice(words, i, {REP_NGRAM_N})))"
        f" ELSE array() END"
    )
    # two consumers (the gram->doc-count aggregate and the position join):
    # checkpoint the exploded gram table or the split+hash scan runs twice
    # lazy: both consumers resolve inside the one final action, so the
    # explode still materializes once without a construction-time job
    pos = (
        docs.select("doc_id", words.alias("words"))
        .select("doc_id", F.explode(grams).alias("gram"))
        .select("doc_id", md5_long(F.col("gram")).alias("h"))
        .localCheckpoint(eager=False)
    )
    # a gram position is "repeated" when its gram occurs in >= 2 DISTINCT docs
    gram_docs = pos.distinct().groupBy("h").agg(
        F.count(F.lit(1)).alias("docs_with")
    )
    j = pos.join(gram_docs, "h")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.when(F.col("docs_with") >= 2, 1)).alias("repeated"),
        F.expr(
            "count(CASE WHEN docs_with >= 2 THEN 1 END) * 1000000 div count(1)"
        ).alias("repeated_ppm"),
    )


def _repeated_ngram_sql() -> str:
    return rf"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
),
pos AS (
  SELECT doc_id, {sql_md5_long('gram')} AS h FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(words) - {REP_NGRAM_N - 1}, 0)),
             i -> array_to_string(list_slice(words, i, i + {REP_NGRAM_N - 1}), ' ')
           )) AS gram
    FROM w
  )
),
gram_docs AS (
  SELECT h, COUNT(*) AS docs_with FROM (SELECT DISTINCT doc_id, h FROM pos)
  GROUP BY h
)
SELECT p.doc_id,
       COUNT(*) AS n_grams,
       COUNT(CASE WHEN g.docs_with >= 2 THEN 1 END) AS repeated,
       COUNT(CASE WHEN g.docs_with >= 2 THEN 1 END) * 1000000 // COUNT(*)
         AS repeated_ppm
FROM pos p JOIN gram_docs g ON g.h = p.h
GROUP BY p.doc_id
"""


register(x_repeated_ngram_rate, _repeated_ngram_sql())


# -- x_hashing_trick_vectors: text -> fixed-dim count vectors ----------------

HT_DIM = 64


def x_hashing_trick_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing ('hashing trick') document vectors: every token maps
    to dimension md5(token) % HT_DIM and the doc's vector is the count per
    dimension — the classic way to featurize unbounded vocabularies into
    fixed-width vectors with no dictionary to build, broadcast, or keep
    consistent across 1000 executors. Output is the canonical
    comma-joined vector plus nnz/l1 stats; all integers, exact replay.

    ONE shuffle (doc_id, dim) after map-side combine; the dense vector is
    assembled per doc with a sort inside the aggregate, never a second
    shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    dims = toks.select(
        "doc_id", F.pmod(md5_long(F.col("tok")), F.lit(HT_DIM)).alias("dim")
    )
    per_dim = dims.groupBy("doc_id", "dim").agg(F.count(F.lit(1)).alias("c"))
    return per_dim.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: F.concat(
                    s["dim"].cast("string"), F.lit(":"), s["c"].cast("string")
                ),
            ),
            ",",
        ).alias("vec_sparse"),
        F.count(F.lit(1)).alias("nnz"),
        F.sum("c").cast("long").alias("l1"),
    )


X_HASHING_TRICK_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents,
       LATERAL (
         SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
       ) t
  WHERE t.tok <> ''
),
per_dim AS (
  SELECT doc_id, {sql_md5_long('tok')} % {HT_DIM} AS dim, COUNT(*) AS c
  FROM toks GROUP BY 1, 2
)
SELECT doc_id,
       string_agg(CAST(dim AS VARCHAR) || ':' || CAST(c AS VARCHAR), ','
                  ORDER BY dim) AS vec_sparse,
       COUNT(*) AS nnz,
       CAST(SUM(c) AS BIGINT) AS l1
FROM per_dim GROUP BY doc_id
"""


register(x_hashing_trick_vectors, X_HASHING_TRICK_SQL)


# -- x_ab_test_lift: hash-split A/B conversion analysis ----------------------

def x_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with a deterministic hash split: users hash
    into arm A or B (md5 parity — the same stable bucketing a real
    experiment framework uses, no RNG), conversion = user had a purchase
    event. Per arm: users, converters, conversion ppm; plus the pooled
    two-proportion z statistic computed from exact integer counts in one
    fixed double expression (the assortativity pattern).
    """
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct().select(
        "user_id",
        F.pmod(md5_long(F.col("user_id").cast("string")), F.lit(2)).alias("arm"),
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    per_arm = (
        users.join(F.broadcast(conv), "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("converted").alias("converters"),
        )
    )
    a = per_arm.filter(F.col("arm") == 0).select(
        F.col("n_users").alias("na"), F.col("converters").alias("ca")
    )
    b = per_arm.filter(F.col("arm") == 1).select(
        F.col("n_users").alias("nb"), F.col("converters").alias("cb")
    )
    j = a.crossJoin(b)
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    pa = F.col("ca").cast("double") / nad
    pb = F.col("cb").cast("double") / nbd
    pool = (F.col("ca") + F.col("cb")).cast("double") / (nad + nbd)
    one = F.lit("1.0").cast("double")
    se = F.sqrt(pool * (one - pool) * (one / nad + one / nbd))
    zero = F.lit("0.0").cast("double")
    # degenerate pools (0% or 100% conversion) have zero variance: no z
    z = F.when((pool > zero) & (pool < one), F.round((pb - pa) / se, 6))
    return j.select(
        "na", "ca", "nb", "cb",
        F.expr("ca * 1000000 div na").alias("conv_a_ppm"),
        F.expr("cb * 1000000 div nb").alias("conv_b_ppm"),
        z.alias("z_stat"),
    )


def _ab_test_sql() -> str:
    h = sql_md5_long("CAST(user_id AS VARCHAR)")
    return f"""
WITH users AS (
  SELECT user_id, {h} % 2 AS arm FROM (SELECT DISTINCT user_id FROM events)
),
conv AS (
  SELECT DISTINCT user_id, 1 AS converted FROM events
  WHERE event_type = 'purchase'
),
per_arm AS (
  SELECT arm, COUNT(*) AS n_users, COUNT(c.converted) AS converters
  FROM users u LEFT JOIN conv c ON c.user_id = u.user_id
  GROUP BY arm
),
a AS (SELECT n_users AS na, converters AS ca FROM per_arm WHERE arm = 0),
b AS (SELECT n_users AS nb, converters AS cb FROM per_arm WHERE arm = 1)
SELECT na, ca, nb, cb,
       ca * 1000000 // na AS conv_a_ppm,
       cb * 1000000 // nb AS conv_b_ppm,
       CASE WHEN (CAST(ca + cb AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))) > CAST('0.0' AS DOUBLE)
             AND (CAST(ca + cb AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))) < CAST('1.0' AS DOUBLE)
       THEN ROUND(
         ((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
          - (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)))
         / sqrt(
             (CAST(ca + cb AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
             * (CAST('1.0' AS DOUBLE)
                - (CAST(ca + cb AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))))
             * (CAST('1.0' AS DOUBLE) / CAST(na AS DOUBLE)
                + CAST('1.0' AS DOUBLE) / CAST(nb AS DOUBLE))
           ), 6) END AS z_stat
FROM a CROSS JOIN b
"""


register(x_ab_test_lift, _ab_test_sql())


# ---------------------------------------------------------------------------
# Training-data pipeline operators, batch 3: source-mixture temperature
# weighting (the data-mixing step of LLM pretraining), SemDeDup-style
# semantic deduplication over the embedding corpus, and CCNet-style
# quality-tercile resampling.
#
# The reference (kerighan/kinbaku) has no text/vector surface at all
# (SURVEY.md §2.4); these extend the LLM-data-curation surface on the
# driver's `documents` / `embeddings` tables.
#
# Shuffle shapes (the 100 TB story):
#
# - mixture weights: ONE groupBy(source) with map-side partials collapses
#   the corpus to a per-source row; everything after (sqrt temperature,
#   normalization) runs on the tiny aggregate via a single-partition window
#   — sources are O(100) even at 100 TB.
# - semantic dedup: the pair space is within-cluster only (equi-join on the
#   k-means cluster id, Σ|c|² not O(n²)); the cluster assignment is the
#   zero-shuffle literal-broadcast k-means pass (operators/similarity.py).
# - quality resample: one scan computes integer-ppm feature scores
#   (shuffle-free projection); the tercile NTILE is one global sort of
#   (score, doc_id) — at 100 TB swap for approx quantile cutpoints and keep
#   the same bucket rule; the keep-decision is a deterministic hash, never
#   engine RNG.
#
# Determinism: all scores are exact BIGINT ppm (integer div, no
# double-rounding hazards); sqrt is IEEE-correctly-rounded on integer inputs
# in both engines and is immediately quantized to integer micro-units before
# any summation; pair sims round to 6dp before thresholding (the proven
# x_dedup_embedding pattern); middle-bucket sampling keys on the shared
# 60-bit md5 hash (functions/hashing.py).
# ---------------------------------------------------------------------------


# -- x_mixture_weights: temperature-sampled source mixing --------------------
# w_s ∝ sqrt(tokens_s)  (alpha = 0.5), reported in exact integer ppm.

def x_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights for corpus mixing: natural token share
    vs temperature-flattened share (alpha=0.5 — the multilingual/domain
    rebalancing rule of mBERT/XLM-R and data-mixture tuning).

    sqrt(tokens) is quantized to integer micro-units BEFORE the
    normalizing sum, so both engines sum exact BIGINTs (order-free) and
    divide with integer `div` — bit-equal ppm outputs.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )
    q = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000.0).cast("long")
    w = Window.partitionBy()
    return (
        per_src.withColumn("q", q)
        .withColumn("tot_q", F.sum("q").over(w))
        .withColumn("tot_tokens", F.sum("n_tokens").over(w))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000000 div tot_tokens").alias("natural_ppm"),
            F.expr("q * 1000000 div tot_q").alias("weight_ppm"),
        )
        .orderBy("source")
    )


X_MIXTURE_WEIGHTS_SQL = r"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
qq AS (
  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS q
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       CAST((n_tokens * 1000000) // (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM qq) AS BIGINT) AS natural_ppm,
       CAST((q * 1000000) // (SELECT CAST(SUM(q) AS BIGINT) FROM qq) AS BIGINT) AS weight_ppm
FROM qq
ORDER BY source
"""


# -- x_semantic_dedup: SemDeDup within-k-means-cluster near-dup removal ------

SEMDEDUP_THRESHOLD = 0.4  # rendered as a bare literal in SQL, matching
# x_dedup_embedding's proven rounded-6dp comparison

# Cell-size cap (VERDICT r02 #3): with fixed k, cell size grows linearly
# with the corpus and within-cell pair work quadratically (the 10x drill
# measured 4.2x time at 10x rows uncapped). Oversized cells are split into
# ceil(sz/cap) deterministic md5 sub-buckets — bounding every join group at
# ~cap² pairs — and the oracle replays the identical md5 rule, so the
# (documented) cross-sub-bucket recall loss is engine-independent.
SEMDEDUP_MAX_CELL = 50


def x_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinbaku_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        threshold=SEMDEDUP_THRESHOLD,
        max_cluster_size=SEMDEDUP_MAX_CELL,
        assigned=kmeans_state.assignment(spark, sf_dir),
    )


def _semantic_dedup_sql() -> str:

    from kinbaku_spark.functions.hashing import sql_md5_long

    sub = (
        f"{sql_md5_long('CAST(a2.vec_id AS VARCHAR)')}"
        f" % CAST(ceil(szs.sz * 1.0 / {SEMDEDUP_MAX_CELL}) AS BIGINT)"
    )
    return kmeans_assign_cte() + f"""
, szs AS (SELECT cluster, COUNT(*) AS sz FROM a2 GROUP BY cluster),
mem AS (
  SELECT a2.vec_id, a2.cluster, {sub} AS sub, e.embedding
  FROM a2
  JOIN szs ON a2.cluster = szs.cluster
  JOIN embeddings e ON a2.vec_id = e.vec_id
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM mem a JOIN mem b
    ON a.cluster = b.cluster AND a.sub = b.sub AND a.vec_id < b.vec_id
  WHERE ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) >= {SEMDEDUP_THRESHOLD}
)
SELECT a2.cluster,
       COUNT(*) AS n_members,
       CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - SUM(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
FROM a2 LEFT JOIN dropped d ON a2.vec_id = d.vec_id
GROUP BY a2.cluster
ORDER BY a2.cluster
"""


# -- x_quality_resample: CCNet-style head/middle/tail resampling -------------

def x_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tercile quality buckets (1 = head, 3 = tail) over an exact
    integer-ppm quality score, with the CCNet keep rule: head kept
    entirely, middle hash-sampled at ~50%, tail dropped. Returns per-bucket
    doc counts, kept counts, and kept token mass.

    Score (ppm, all integer arithmetic):
      (alpha_ratio*5 + min(tokens/100, 1)*3 + (1 - digit_ratio)*2) / 10.

    Terciles come from the exact distributed ntile (operators/rank.py:
    range-parallel rank + broadcast total), not a single-partition
    ORDER BY window — the corpus never funnels through one task.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        (F.length("text") - F.length(F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz", ""))).cast("long").alias("alpha"),
        (F.length("text") - F.length(F.translate("text", "0123456789", ""))).cast("long").alias("digits"),
    )
    scored = feats.select(
        "doc_id",
        "n_tokens",
        F.expr(
            "(CASE WHEN n_chars > 0 THEN alpha * 1000000 div n_chars ELSE 0 END * 5"
            " + LEAST(n_tokens * 10000, 1000000) * 3"
            " + (1000000 - CASE WHEN n_chars > 0 THEN digits * 1000000 div n_chars ELSE 0 END) * 2"
            ") div 10"
        ).alias("score_ppm"),
    )
    bucketed = with_ntile(
        scored, 3, [F.desc("score_ppm"), F.col("doc_id")], "bucket"
    ).withColumn(
        "kept",
        F.when(F.col("bucket") == 1, F.lit(1))
        .when(
            (F.col("bucket") == 2)
            & (md5_long(F.col("doc_id").cast("string")) % 2 == 0),
            F.lit(1),
        )
        .otherwise(F.lit(0)),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.sum(F.col("kept") * F.col("n_tokens")).cast("long").alias("tokens_kept"),
        )
        .orderBy("bucket")
    )


X_QUALITY_RESAMPLE_SQL = rf"""
WITH feats AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
  FROM documents
),
scored AS (
  SELECT doc_id, n_tokens,
         ((CASE WHEN n_chars > 0 THEN (alpha * 1000000) // n_chars ELSE 0 END) * 5
          + LEAST(n_tokens * 10000, 1000000) * 3
          + (1000000 - (CASE WHEN n_chars > 0 THEN (digits * 1000000) // n_chars ELSE 0 END)) * 2
         ) // 10 AS score_ppm
  FROM feats
),
bucketed AS (
  SELECT doc_id, n_tokens,
         NTILE(3) OVER (ORDER BY score_ppm DESC, doc_id) AS bucket
  FROM scored
),
kept AS (
  SELECT bucket, n_tokens,
         CASE WHEN bucket = 1 THEN 1
              WHEN bucket = 2 AND ({sql_md5_long('CAST(doc_id AS VARCHAR)')}) % 2 = 0 THEN 1
              ELSE 0 END AS kept
  FROM bucketed
)
SELECT bucket, COUNT(*) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(kept * n_tokens) AS BIGINT) AS tokens_kept
FROM kept
GROUP BY bucket
ORDER BY bucket
"""


register(x_mixture_weights, X_MIXTURE_WEIGHTS_SQL)
register(x_semantic_dedup, _semantic_dedup_sql())
register(x_quality_resample, X_QUALITY_RESAMPLE_SQL)


# -- x_dataset_shards: deterministic shard manifest --------------------------

N_SHARDS = 16


def x_dataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest for writing the corpus as N_SHARDS training files:
    every doc hash-assigned (shared 60-bit md5, never engine RNG) to a
    shard; per-shard doc/token/byte totals. ONE groupBy on a uniform key —
    at 100 TB this is the partitionBy(shard) write plan itself, and the
    uniform hash guarantees no straggler shard.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            (md5_long(F.col("doc_id").cast("string")) % N_SHARDS).alias("shard"),
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("toks"),
            F.length("text").cast("long").alias("bytes"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.sum("bytes").cast("long").alias("n_bytes"),
        )
        .orderBy("shard")
    )


X_DATASET_SHARDS_SQL = rf"""
WITH d AS (
  SELECT ({sql_md5_long('CAST(doc_id AS VARCHAR)')}) % {N_SHARDS} AS shard,
         len(string_split_regex(trim(text), '\s+')) AS toks,
         length(text) AS bytes
  FROM documents
)
SELECT shard, COUNT(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS n_tokens,
       CAST(SUM(bytes) AS BIGINT) AS n_bytes
FROM d GROUP BY shard ORDER BY shard
"""


# -- x_cross_source_overlap: near-dup contamination matrix across sources ----

def x_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate overlap matrix between corpus sources: verified
    MinHash pairs (the x_dedup_minhash pipeline) joined back to each side's
    source, counted per unordered source pair — the cross-dataset
    contamination audit run before mixing corpora.

    Only (id, source) rides the extra joins (the sources dimension is
    broadcast-sized after the per-source distinct); the pair table is
    already candidate-pruned by banding.
    """
    from kinbaku_spark.operators.dedup import minhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    sh, sig = shingle_state(spark, sf_dir)
    pairs = minhash_near_duplicates(
        docs, sh=sh, sig=sig, sets=shingle_sets(spark, sf_dir)
    )  # a < b, verified
    src = docs.select("doc_id", "source")
    a = src.withColumnRenamed("doc_id", "doc_id_a").withColumnRenamed("source", "sa")
    b = src.withColumnRenamed("doc_id", "doc_id_b").withColumnRenamed("source", "sb")
    return (
        pairs.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


def _cross_source_overlap_sql() -> str:
    return f"""
WITH pairs AS ({_minhash_sql()})
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       COUNT(*) AS n_dup_pairs
FROM pairs
JOIN documents da ON pairs.doc_id_a = da.doc_id
JOIN documents db ON pairs.doc_id_b = db.doc_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


# -- x_hard_negatives: contrastive-training negative mining ------------------

HARD_NEG_ANCHORS = 8
HARD_NEG_K = 3


def x_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector (vec_id < HARD_NEG_ANCHORS), the top-HARD_NEG_K most-similar
    corpus vectors with a DIFFERENT label — maximally confusable negatives.

    The anchor set is broadcast as a literal-sized dimension, so the scan
    is one map-side pass over the corpus (no corpus shuffle); the per-anchor
    top-k is a bounded window over anchor-partitioned candidates. At 100 TB
    the same query runs per-anchor-batch with the ANN index pruning the
    scan (x_ann_ivf_topk) before exact re-ranking.
    """
    from kinbaku_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < HARD_NEG_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.join(F.broadcast(anchors), F.col("label") != F.col("qlabel"))
        .select(
            "anchor_id",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= HARD_NEG_K)
        .select("anchor_id", "vec_id", "sim", "rk")
        .orderBy("anchor_id", "rk")
    )


def _hard_negatives_sql() -> str:
    return f"""
WITH anchors AS (
  SELECT vec_id AS anchor_id, embedding AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < {HARD_NEG_ANCHORS}
),
scored AS (
  SELECT a.anchor_id, e.vec_id,
         ROUND({_sql_cosine('e.embedding', 'a.qv')}, 6) AS sim
  FROM embeddings e JOIN anchors a ON e.label <> a.qlabel
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY sim DESC, vec_id) AS rk
  FROM scored
)
SELECT anchor_id, vec_id, sim, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= {HARD_NEG_K}
ORDER BY anchor_id, rk
"""


register(x_dataset_shards, X_DATASET_SHARDS_SQL)
register(x_cross_source_overlap, _cross_source_overlap_sql())
register(x_hard_negatives, _hard_negatives_sql())


# -- x_embed_alignment: CLIP-style own-centroid alignment filter -------------

ALIGN_LOW = "0.1"  # shared constant, rendered identically into both engines


def x_embed_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-score-style alignment filter plumbing: every vector's cosine to
    its OWN label centroid, reported per label as (n_members, mean_align,
    n_low) where n_low counts vectors below ALIGN_LOW — the rows a
    multimodal curation pipeline would drop as mis-captioned.

    Centroids come from the exact nano-unit label_centroids aggregation
    (operators/similarity.py) and join back label-to-label — a broadcast
    of k centroid rows, so the corpus never shuffles; the per-label stats
    are one map-side-combined groupBy.

    Determinism: per-row sims rounded to 6dp, per-label mean via exact
    DECIMAL(18,6) sums of the rounded sims (the kmeans_clusters pattern).
    """
    from kinbaku_spark.operators.similarity import cosine, label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cen = label_centroids(emb, "label", "embedding")
    low = F.expr(f"CAST('{ALIGN_LOW}' AS DOUBLE)")
    joined = emb.join(F.broadcast(cen), "label").select(
        "label",
        F.round(cosine(F.col("embedding"), F.col("centroid")), 6).alias("sim"),
    )
    return (
        joined.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(
                F.sum(F.col("sim").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_align"),
            F.sum(F.when(F.col("sim") < low, 1).otherwise(0))
            .cast("long")
            .alias("n_low"),
        )
        .orderBy("label")
    )


def _embed_alignment_sql() -> str:
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
sims AS (
  SELECT e.label, ROUND({_sql_cosine('e.embedding', 'c.centroid')}, 6) AS sim
  FROM embeddings e JOIN cen c ON e.label = c.label
)
SELECT label, COUNT(*) AS n_members,
       ROUND(CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_align,
       CAST(SUM(CASE WHEN sim < CAST('{ALIGN_LOW}' AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_low
FROM sims
GROUP BY label
ORDER BY label
"""


register(x_embed_alignment, _embed_alignment_sql())


# -- x_bpe_apply: iterative BPE merge training rounds ------------------------

BPE_APPLY_ROUNDS = 3


def x_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, BPE_APPLY_ROUNDS full rounds: each round
    counts adjacent word pairs, picks the argmax merge (ties on pair
    text), APPLIES it to the corpus (space → '_' join), and recounts on
    the merged corpus. Returns (round, pair, cnt) — the learned merge
    table, the part of tokenizer training that actually needs the cluster.

    The per-round pair count is the vocab-bounded shuffle of
    x_bpe_pair_merges; the argmax is a 1-row driver collect (exactly the
    k-means centroid pattern); applying a merge is a map-only string
    replace, so rounds never add shuffles — at 100 TB each round is one
    scan + one vocab-sized aggregate, and the corpus rewrite would
    checkpoint every few rounds to cap lineage.

    Determinism: replace() is left-to-right non-overlapping in both
    engines; counts are exact integers; ties break lexicographically.
    """
    docs = load_table(spark, sf_dir, "documents")
    cur = docs.select(F.trim(F.col("text")).alias("t"))
    pair_expr = F.expr(
        "zip_with(slice(words, 1, size(words) - 1),"
        "         slice(words, 2, size(words) - 1),"
        "         (a, b) -> concat(a, ' ', b))"
    )
    learned = []
    for rnd in range(1, BPE_APPLY_ROUNDS + 1):
        tops = (
            cur.select(F.split(F.col("t"), r"\s+").alias("words"))
            .select(F.explode(pair_expr).alias("pair"))
            .groupBy("pair")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), "pair")
            .limit(1)
            .collect()
        )
        if not tops:  # no adjacent pairs (empty corpus): no merges to learn
            break
        top = tops[0]
        pair, cnt = top["pair"], int(top["cnt"])
        learned.append((rnd, pair, cnt))
        merged = pair.replace(" ", "_")
        # parameterized (F.lit), never f-string interpolation into F.expr:
        # a pair containing a quote/backslash would break the expression
        # while the DuckDB oracle (scalar subquery) kept working
        cur = cur.select(
            F.replace(F.col("t"), F.lit(pair), F.lit(merged)).alias("t")
        )
    return spark.createDataFrame(learned, "round int, pair string, cnt long")


def _bpe_apply_sql() -> str:
    def count_cte(src: str) -> str:
        return rf"""(
  SELECT pair, COUNT(*) AS cnt FROM (
    SELECT unnest(list_transform(generate_series(1, len(words) - 1),
                                 i -> words[i] || ' ' || words[i + 1])) AS pair
    FROM (SELECT string_split_regex(t, '\s+') AS words FROM {src})
  ) GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1
)"""

    parts = ["t0 AS (SELECT trim(text) AS t FROM documents)"]
    selects = []
    for rnd in range(1, BPE_APPLY_ROUNDS + 1):
        parts.append(f"m{rnd} AS {count_cte(f't{rnd - 1}')}")
        parts.append(
            f"t{rnd} AS (SELECT replace(t, (SELECT pair FROM m{rnd}),"
            f" (SELECT replace(pair, ' ', '_') FROM m{rnd})) AS t FROM t{rnd - 1})"
        )
        selects.append(f"SELECT {rnd} AS round, pair, cnt FROM m{rnd}")
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY round\n"
    )


register(x_bpe_apply, _bpe_apply_sql())


# ---------------------------------------------------------------------------
# Exact-substring window dedup, DSIR-style importance weights, and
# tokenizer-sizing statistics.
#
# The reference (kerighan/kinbaku) has no text-pipeline surface (SURVEY.md
# §2.4); these extend the LLM-training-data family with three published
# curation shapes:
#
# - window dedup: the exact-substring duplication scan of Lee et al. 2022
#   ("Deduplicating Training Data Makes Language Models Better") — two
#   documents sharing any W-word window are duplication candidates; unlike
#   MinHash it has no probabilistic miss, unlike full suffix-array
#   construction it is expressible as hash postings.
# - DSIR weights: Xie et al. 2023 ("Data Selection for Language Models via
#   Importance Resampling") — score every document by how target-like its
#   hashed-unigram profile is, here with an exact rational weight (the
#   arithmetic mean of per-token target-share) instead of a log-likelihood
#   ratio so both engines replay it bit-identically.
# - tokenizer stats: per-language type/token ratio and subword fertility
#   under a fixed 4-char-piece tokenizer proxy — the corpus statistics that
#   size a tokenizer's vocab and per-language compression before training.
#
# Shuffle shapes (the 100 TB story):
#
# - window dedup: ONE explode builds the window-hash postings; a document
#   -frequency profile (groupBy h) caps the postings BEFORE the self-join —
#   windows with df > WINDOW_DF_CAP are boilerplate (licence headers,
#   navigation chrome) and are dropped, so no hot window can produce a
#   quadratic bucket (the x_dedup_containment lesson, VERDICT r01 §wrong-4);
#   the surviving postings join is bounded by df ≤ cap ⇒ ≤ cap·|postings|
#   candidate rows.
# - DSIR: the bucket profile is O(N_BUCKETS) rows (1024) — broadcast back
#   onto the token stream; per-doc masses collapse map-side into one
#   groupBy(doc_id). No self-joins anywhere; the whole query is two scans
#   of the token explode (checkpointed once).
# - tokenizer stats: one explode + one groupBy(lang) — rides the scan.
#
# Determinism: counts are exact integers; weights/ratios are integer ppm
# via truncating div; the DSIR top-100 orders by (weight_ppm DESC, doc_id)
# — a total order. Window hashes reuse the proven 60-bit md5 idiom
# (functions/hashing.py) so DuckDB replays them exactly.
# ---------------------------------------------------------------------------


# -- x_window_dedup: exact W-word-window duplication scan --------------------

WINDOW_W = 8          # words per window (Lee et al. use 50 BPE tokens;
                      # 8 words ≈ the same order on this corpus's ~60-word docs)
WINDOW_DF_CAP = 16    # windows seen in more docs are boilerplate, not dup signal


def x_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing ≥1 exact 8-word window, with the count of
    distinct shared windows — the exact-substring dup scan. Postings are
    document-frequency-capped before the self-join so a hot boilerplate
    window can never create a quadratic candidate bucket.
    """
    docs = load_table(spark, sf_dir, "documents")
    # two consumers (df profile, postings): checkpoint the explode once.
    # Lazy: every consumer resolves inside the one final action, so the
    # blocks still materialize exactly once — without the serial
    # construction-time jobs the eager form ran (r07 work profile)
    sh = shingle_hashes(docs, "doc_id", "text", WINDOW_W).localCheckpoint(eager=False)
    keep = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter((F.col("c") >= 2) & (F.col("c") <= WINDOW_DF_CAP))
        .select("h")
    )
    # self-joined twice: pin the capped postings so the filter-join runs once
    post = sh.join(keep, "h", "left_semi").localCheckpoint(eager=False)
    a = post.select(F.col("doc_id").alias("doc_id_a"), "h")
    b = post.select(F.col("doc_id").alias("doc_id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
        .orderBy("doc_id_a", "doc_id_b")
    )


def _window_dedup_sql() -> str:
    return f"""
WITH {_sql_shingle_cte(WINDOW_W)},
df AS (SELECT h, COUNT(*) AS c FROM hx GROUP BY h),
keep AS (SELECT h FROM df WHERE c BETWEEN 2 AND {WINDOW_DF_CAP}),
post AS MATERIALIZED (SELECT hx.doc_id, hx.h FROM hx JOIN keep USING (h))
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(COUNT(*) AS BIGINT) AS shared_windows
FROM post a JOIN post b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


# -- x_dsir_weights: hashed-unigram importance weights (target = English) ----

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"
DSIR_TOP_K = 100


def _words_exploded(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, t): one row per token occurrence (whitespace split,
    empties dropped) — occurrences, not distinct types: DSIR masses are
    frequency-weighted."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id", "lang", F.explode(F.filter(words, lambda x: x != "")).alias("t")
    )


def x_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 most target-like documents under a DSIR-style hashed-unigram
    importance weight. Target distribution = the English sub-corpus; weight
    = 10⁶ · Σ_t n_target(bucket(t)) div Σ_t n_raw(bucket(t)) — the exact
    rational analogue of the unigram likelihood ratio (arithmetic instead
    of geometric mean, so no floating log leaves the JVM).
    """
    docs = load_table(spark, sf_dir, "documents")
    # two consumers (bucket profile, per-doc masses): pin the explode once
    # lazy: both consumers resolve inside the one final action
    b = (
        _words_exploded(docs)
        .select("doc_id", "lang", (md5_long(F.col("t")) % DSIR_BUCKETS).alias("bkt"))
        .localCheckpoint(eager=False)
    )
    prof = b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("raw_n"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.lit(1)).otherwise(F.lit(0))
        ).alias("tgt_n"),
    )
    return (
        b.join(F.broadcast(prof), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("tgt_n").alias("tgt_mass"),
            F.sum("raw_n").alias("raw_mass"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("tgt_mass * 1000000 div raw_mass").alias("weight_ppm"),
        )
        .orderBy(F.desc("weight_ppm"), "doc_id")
        .limit(DSIR_TOP_K)
    )


X_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                            x -> x <> '')) AS t
  FROM documents
),
b AS MATERIALIZED (
  SELECT doc_id, lang, {sql_md5_long('t')} % {DSIR_BUCKETS} AS bkt FROM tok
),
prof AS (
  SELECT bkt,
         CAST(COUNT(*) AS BIGINT) AS raw_n,
         CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS tgt_n
  FROM b GROUP BY 1
),
mass AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(p.tgt_n) AS BIGINT) AS tgt_mass,
         CAST(SUM(p.raw_n) AS BIGINT) AS raw_mass
  FROM b JOIN prof p USING (bkt)
  GROUP BY 1
)
SELECT doc_id, n_tokens,
       CAST(tgt_mass * 1000000 // raw_mass AS BIGINT) AS weight_ppm
FROM mass
ORDER BY weight_ppm DESC, doc_id
LIMIT {DSIR_TOP_K}
"""


# -- x_tokenizer_fertility: per-language tokenizer-sizing statistics ---------

FERTILITY_PIECE_LEN = 4  # fixed max-piece length of the subword proxy


def x_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language type/token ratio and subword fertility under a fixed
    4-char-piece tokenizer proxy (a word of length L costs ⌈L/4⌉ pieces).
    The two numbers that size a tokenizer's vocab and per-language
    compression rate before training.
    """
    docs = load_table(spark, sf_dir, "documents")
    p = FERTILITY_PIECE_LEN
    tok = _words_exploded(docs)
    return (
        tok.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_words"),
            F.countDistinct(F.lower(F.col("t"))).alias("vocab"),
            F.sum(F.expr(f"(length(t) + {p - 1}) div {p}")).alias("pieces"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "vocab",
            F.expr("vocab * 1000000 div n_words").alias("ttr_ppm"),
            F.expr("pieces * 1000000 div n_words").alias("fertility_ppm"),
        )
        .orderBy("lang")
    )


X_TOKENIZER_FERTILITY_SQL = f"""
WITH tok AS (
  SELECT lang, doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                            x -> x <> '')) AS t
  FROM documents
),
agg AS (
  SELECT lang,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(COUNT(DISTINCT lower(t)) AS BIGINT) AS vocab,
         CAST(SUM((length(t) + {FERTILITY_PIECE_LEN - 1})
                  // {FERTILITY_PIECE_LEN}) AS BIGINT) AS pieces
  FROM tok GROUP BY lang
)
SELECT lang, n_docs, n_words, vocab,
       CAST(vocab * 1000000 // n_words AS BIGINT) AS ttr_ppm,
       CAST(pieces * 1000000 // n_words AS BIGINT) AS fertility_ppm
FROM agg
ORDER BY lang
"""


# -- x_vocab_growth: Heaps'-law vocabulary growth curve -----------------------

VOCAB_DECILES = 10


def x_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law curve: cumulative distinct vocabulary after each tenth
    of the corpus (by doc_id order) — the growth curve that predicts how
    much NEW vocabulary another 10× of data buys, sizing tokenizer vocab
    and OOV budgets before training.

    One explode + one groupBy(word) computes each word's FIRST document;
    the curve is a 10-row cumulative sum over the first-seen buckets —
    the corpus is never scanned per decile.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    tok = docs.select(
        "doc_id", F.explode(F.filter(words, lambda x: x != "")).alias("t")
    )
    mx = docs.agg(F.max("doc_id").alias("mx"))
    first = (
        tok.groupBy(F.lower(F.col("t")).alias("w"))
        .agg(F.min("doc_id").alias("first_doc"))
        .crossJoin(F.broadcast(mx))
        # decile 1..10 by first-seen doc position (exact integer bounds)
        .select(
            F.expr(
                f"least({VOCAB_DECILES}, first_doc * {VOCAB_DECILES}"
                f" div (mx + 1) + 1)"
            ).alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        first.select(
            F.col("decile").cast("int").alias("decile"),
            "new_words",
            F.sum("new_words").over(w).cast("long").alias("cum_vocab"),
        )
        .orderBy("decile")
    )


X_VOCAB_GROWTH_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                            x -> x <> '')) AS t
  FROM documents
),
mx AS (SELECT MAX(doc_id) AS mx FROM documents),
first AS (
  SELECT lower(t) AS w, MIN(doc_id) AS first_doc FROM tok GROUP BY 1
),
bucketed AS (
  SELECT LEAST({VOCAB_DECILES}, first_doc * {VOCAB_DECILES} // (mx.mx + 1) + 1)
           AS decile
  FROM first CROSS JOIN mx
),
agg AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS new_words
  FROM bucketed GROUP BY decile
)
SELECT CAST(decile AS INTEGER) AS decile, new_words,
       CAST(SUM(new_words) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_vocab
FROM agg
ORDER BY decile
"""


# -- x_zipf_check: rank-frequency law audit -----------------------------------

ZIPF_TOP_K = 100


def x_zipf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 words by frequency with their rank·frequency product — the
    Zipf audit (r·f ≈ const for natural text; a flat or erratic product
    flags synthetic/templated corpora). One explode + one groupBy(word) +
    a k-bounded top-k; the rank window runs over 100 rows.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    freq = (
        docs.select(F.explode(F.filter(words, lambda x: x != "")).alias("t"))
        .groupBy(F.lower(F.col("t")).alias("w"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(ZIPF_TOP_K)
    )
    rk = Window.orderBy(F.desc("freq"), "w")
    return freq.select(
        F.row_number().over(rk).alias("rank"),
        "w",
        "freq",
        (F.row_number().over(rk) * F.col("freq")).cast("long").alias("rf"),
    ).orderBy("rank")


X_ZIPF_SQL = f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                            x -> x <> '')) AS t
  FROM documents
),
freq AS (
  SELECT lower(t) AS w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM tok GROUP BY 1
  ORDER BY freq DESC, w LIMIT {ZIPF_TOP_K}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS INTEGER) AS rank,
       w, freq,
       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, w) * freq AS BIGINT) AS rf
FROM freq
ORDER BY rank
"""


register(x_window_dedup, _window_dedup_sql())
register(x_vocab_growth, X_VOCAB_GROWTH_SQL)
register(x_zipf_check, X_ZIPF_SQL)
register(x_dsir_weights, X_DSIR_SQL)
register(x_tokenizer_fertility, X_TOKENIZER_FERTILITY_SQL)


# ---------------------------------------------------------------------------
# Training-data pipeline operators, batch 5: shard-layout skew audit and
# length-bucketed batching waste — the two write/batch planning readouts a
# 100 TB corpus run needs BEFORE committing to a partitionBy layout or a
# batching strategy.
#
# The reference (kerighan/kinbaku) has no corpus/write-planning surface at
# all (SURVEY.md §2.4); these extend the LLM-data-curation family on the
# driver's `documents` table.
#
# Shuffle shapes (the 100 TB story):
#
# - shard skew: ONE hash groupBy on the shard id (W groups, map-side partials
#   collapse each partition to ≤ W rows before the exchange); the global
#   totals ride in on a broadcast of the W-row aggregate. Nothing
#   corpus-sized ever shuffles — this is exactly the audit you run before a
#   `partitionBy(shard)` write so one hot shard doesn't straggle the job.
# - packing waste: tokens-per-doc is a per-row projection (rides the scan);
#   the ONE shuffle is the bucket groupBy (≤ PACK_BUCKETS groups). The waste
#   readout tells you whether length-bucketed batching (bucket docs by
#   length, pad to the bucket max) is close enough to perfect sequence
#   packing (x_seq_packing) to skip the packing shuffle entirely.
#
# Determinism: integer counts/bytes end-to-end; shares and waste in integer
# ppm via wide-integer div (Spark DECIMAL(38,0) == DuckDB HUGEINT); shard
# assignment uses the shared 60-bit md5 hash (functions/hashing.py), never
# engine RNG.
# ---------------------------------------------------------------------------


# -- x_shard_skew_audit: hash-shard balance before a partitioned write --------


def x_shard_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard document/byte/token totals under md5(doc_id) mod
    `N_SHARDS` hash sharding, with each shard's byte share and its skew
    vs the perfectly-even share, in integer ppm — the straggler audit a
    1000-executor `partitionBy(shard)` write plan is judged by.

    skew_ppm = shard_bytes · N_SHARDS · 10⁶ div total_bytes (10⁶ = even).
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        (md5_long(F.col("doc_id").cast("string")) % N_SHARDS).alias("shard"),
        F.octet_length("text").cast("long").alias("bytes"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("tokens"),
    )
    shards = per_doc.groupBy("shard").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("bytes").cast("long").alias("bytes_total"),
        F.sum("tokens").cast("long").alias("tokens_total"),
    )
    total = shards.agg(
        F.sum(F.col("bytes_total").cast("decimal(38,0)")).alias("grand_bytes")
    )
    return (
        shards.crossJoin(F.broadcast(total))
        .select(
            "shard",
            "docs",
            "bytes_total",
            "tokens_total",
            F.expr(
                "CAST(CAST(bytes_total AS DECIMAL(38,0)) * 1000000"
                " div grand_bytes AS BIGINT)"
            ).alias("byte_share_ppm"),
            F.expr(
                f"CAST(CAST(bytes_total AS DECIMAL(38,0)) * {N_SHARDS} * 1000000"
                " div grand_bytes AS BIGINT)"
            ).alias("skew_ppm"),
        )
        .orderBy("shard")
    )


X_SHARD_SKEW_SQL = f"""
WITH per_doc AS (
  SELECT {sql_md5_long("CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS shard,
         CAST(strlen(text) AS BIGINT) AS bytes,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tokens
  FROM documents
),
shards AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS docs,
         CAST(SUM(bytes) AS BIGINT) AS bytes_total,
         CAST(SUM(tokens) AS BIGINT) AS tokens_total
  FROM per_doc GROUP BY shard
),
total AS (SELECT CAST(SUM(bytes_total) AS HUGEINT) AS grand_bytes FROM shards)
SELECT s.shard, s.docs, s.bytes_total, s.tokens_total,
       CAST(CAST(s.bytes_total AS HUGEINT) * 1000000 // t.grand_bytes
            AS BIGINT) AS byte_share_ppm,
       CAST(CAST(s.bytes_total AS HUGEINT) * {N_SHARDS} * 1000000
            // t.grand_bytes AS BIGINT) AS skew_ppm
FROM shards s CROSS JOIN total t
ORDER BY s.shard
"""


# -- x_packing_waste: length-bucketed batching pad-token waste -----------------

PACK_BUCKET_WIDTH = 16


def x_packing_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad-token waste under length-bucketed batching: docs are bucketed
    by token count (width `PACK_BUCKET_WIDTH`), every doc in a bucket is
    padded to the bucket's observed max length, and the wasted-pad share
    is reported per bucket in integer ppm — the readout that decides
    whether bucketed batching is close enough to true sequence packing
    (x_seq_packing) to skip the packing shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("tokens")
    )
    bucketed = toks.select(
        (F.col("tokens") / PACK_BUCKET_WIDTH).cast("long").alias("bucket"),
        "tokens",
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("tokens").cast("long").alias("tokens_total"),
            F.max("tokens").alias("bucket_max"),
        )
        .select(
            "bucket",
            "docs",
            "tokens_total",
            "bucket_max",
            (F.col("bucket_max") * F.col("docs")).cast("long").alias("padded_total"),
            F.expr(
                "CAST((CAST(bucket_max AS DECIMAL(38,0)) * docs - tokens_total)"
                " * 1000000 div (CAST(bucket_max AS DECIMAL(38,0)) * docs)"
                " AS BIGINT)"
            ).alias("waste_ppm"),
        )
        .orderBy("bucket")
    )


X_PACKING_WASTE_SQL = f"""
WITH toks AS (
  SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tokens
  FROM documents
),
bucketed AS (
  SELECT CAST(tokens // {PACK_BUCKET_WIDTH} AS BIGINT) AS bucket, tokens
  FROM toks
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(tokens) AS BIGINT) AS tokens_total,
       CAST(MAX(tokens) AS BIGINT) AS bucket_max,
       CAST(MAX(tokens) * COUNT(*) AS BIGINT) AS padded_total,
       CAST((CAST(MAX(tokens) AS HUGEINT) * COUNT(*) - SUM(tokens)) * 1000000
            // (CAST(MAX(tokens) AS HUGEINT) * COUNT(*)) AS BIGINT)
         AS waste_ppm
FROM bucketed GROUP BY bucket
ORDER BY bucket
"""


register(x_shard_skew_audit, X_SHARD_SKEW_SQL)
register(x_packing_waste, X_PACKING_WASTE_SQL)
