"""Text analysis: quality signals, language id, tokens, repetition, PII
scrubbing, market-basket and inverted-index mining, BM25, and the UDF/UDTF
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from kinbaku_spark.functions.textfns import SQL_WORDS, sql_shingle_array
from kinbaku_spark.functions.udfs import make_ws_token_count, register_udfs
from kinbaku_spark.operators.text import (
    LANG_STOPWORDS,
    TOKEN_PATTERN,
    lang_id,
    text_quality,
    token_counts,
)
from kinbaku_spark.queries import register
from kinbaku_spark.sources.tables import load_table, register_views


# ---------------------------------------------------------------------------
# Per-document text analysis: quality signals, language id, token counts,
# repetition ratios and PII scrubbing. Each oracle replays the Spark
# expression tree exactly (same regexes, same stopword lists, same
# rounding).
# ---------------------------------------------------------------------------


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

register(x_text_quality, X_TEXT_QUALITY_SQL)
register(x_lang_id, _lang_id_sql())
register(x_token_count, X_TOKEN_COUNT_SQL)


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


register(x_pii_scrub, _pii_scrub_sql())


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


register(x_repetition_ratio, X_REPETITION_SQL)


# ---------------------------------------------------------------------------
# Overlapping document chunking (RAG / context-window prep): chunk
# starts are generated per row with sequence()/explode (1→N, no
# shuffle).
# ---------------------------------------------------------------------------


# -- overlapping document chunking (RAG / context-window prep) ----------------

def x_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into 40-char chunks with 10-char overlap
    (stride 30) — the standard RAG / context-window prep. Chunk starts
    are generated per row with sequence()/explode (1→N, no shuffle);
    substring math runs on the pruned (doc_id, text) projection.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text"), F.lit(30))
            ).alias("start"),
            "text",
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / 30).cast("bigint").alias("chunk_id"),
            F.substring(F.col("text"), F.col("start"), F.lit(40)).alias(
                "chunk_text"
            ),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    )


X_CHUNK_SQL = """
SELECT doc_id,
       CAST((s.start - 1) / 30 AS BIGINT) AS chunk_id,
       substr(text, s.start, 40) AS chunk_text,
       length(substr(text, s.start, 40)) AS chunk_len
FROM documents,
     LATERAL (
       SELECT unnest(generate_series(1, length(text), 30)) AS start
     ) s
WHERE length(text) > 0
ORDER BY doc_id, chunk_id
"""

register(x_chunk_documents, X_CHUNK_SQL)


# ---------------------------------------------------------------------------
# Pattern-mining operators: market-basket association rules and an
# inverted-index build — batch-analytics surface the reference cannot
# express at all (SURVEY.md §2.4: no joins, no aggregation).
#
# Shuffle shapes (the 100 TB story):
#
# - market basket: the item-pair self-join is the classic quadratic risk.
#   Baskets first collapse to DISTINCT (order, part) — one shuffle keyed on
#   the same order key the pair join needs, so the join itself is
#   co-partitioned (no second exchange of the big side). Per-basket item
#   counts are small (TPC-H ~4/order) and bounded, so pair fan-out is
#   O(orders * k^2); item-support maps are item-dimension-sized and
#   broadcast back for confidence/lift.
# - inverted index: tokenize → explode is map-side 1→N; the only shuffle
#   is the groupBy token (heavily combinable: per-partition postings merge
#   before the exchange). Posting lists are rendered as canonical sorted
#   strings so the oracle hash-compares them byte-for-byte.
#
# Determinism: association metrics are integer-count ratios evaluated with
# the identical double expression tree on both engines; posting lists are
# numerically sorted before rendering; ties in rule ranking break on the
# item-id pair.
# ---------------------------------------------------------------------------

BASKET_MIN_SUPPORT = 2  # absolute pair count; scale-adaptive mining would
# derive it from n_orders — kept fixed so every SF exercises the same plan
BASKET_TOP = 50


def x_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over orders-as-baskets: for part pairs (a < b)
    co-occurring in >= BASKET_MIN_SUPPORT orders, emit support,
    confidence a→b, and lift; top BASKET_TOP by lift (ties on the pair).
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
        )
        .distinct()
        # two consumers (baskets, item supports) with incompatible key
        # requirements: materialize the distinct once instead of running
        # the fact-table dedup shuffle twice
        .localCheckpoint(eager=False)
    )
    # ONE shuffle on okey builds per-basket item arrays; pairs are then
    # generated map-side from each (small, bounded) array — no self-join,
    # so the item table is never exchanged twice. The SQL oracle keeps the
    # equivalent join formulation; sorted arrays make a<b pair sets equal.
    baskets = items.groupBy("okey").agg(
        F.array_sort(F.collect_list("part")).alias("parts")
    )
    # basket count enters the plan as a broadcast 1-row aggregate (the SQL
    # CTE n) — a driver-side .count() here would cost a whole extra job
    totals = baskets.agg(
        F.count(F.lit(1)).cast("double").alias("n_orders")
    )
    item_cnt = items.groupBy("part").agg(F.count(F.lit(1)).alias("cnt"))
    pair = F.explode(
        F.flatten(
            F.expr(
                "transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts)),"
                " y -> struct(x AS part_a, y AS part_b)))"
            )
        )
    )
    pairs = (
        baskets.select(pair.alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= BASKET_MIN_SUPPORT)
    )
    ca = item_cnt.select(F.col("part").alias("part_a"), F.col("cnt").alias("cnt_a"))
    cb = item_cnt.select(F.col("part").alias("part_b"), F.col("cnt").alias("cnt_b"))
    n = F.col("n_orders")
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "part_a",
            "part_b",
            "cnt_ab",
            (F.col("cnt_ab") / n).alias("support"),
            (F.col("cnt_ab") / F.col("cnt_a")).alias("confidence"),
            (
                F.col("cnt_ab") * n / (F.col("cnt_a") * F.col("cnt_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(BASKET_TOP)
    )


X_BASKET_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
),
n AS (SELECT CAST(COUNT(DISTINCT okey) AS DOUBLE) AS n_orders FROM items),
item_cnt AS (SELECT part, COUNT(*) AS cnt FROM items GROUP BY part),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b, COUNT(*) AS cnt_ab
  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
)
SELECT p.part_a, p.part_b, p.cnt_ab,
       p.cnt_ab / n.n_orders AS support,
       p.cnt_ab / ca.cnt AS confidence,
       p.cnt_ab * n.n_orders / (ca.cnt * cb.cnt) AS lift
FROM pairs p
JOIN item_cnt ca ON ca.part = p.part_a
JOIN item_cnt cb ON cb.part = p.part_b
CROSS JOIN n
ORDER BY lift DESC, p.part_a, p.part_b
LIMIT {BASKET_TOP}
"""


# -- inverted index build -----------------------------------------------------

INDEX_MIN_DF = 5


def x_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a token → postings inverted index over documents: document
    frequency, total term frequency, and the canonical (numerically
    sorted, comma-joined) posting list of doc ids; tokens with
    df >= INDEX_MIN_DF, ordered by token.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf_total"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= INDEX_MIN_DF)
        .orderBy("tok")
    )


X_INDEX_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents,
       LATERAL (
         SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
       ) t
  WHERE t.tok <> ''
),
grouped AS (
  SELECT tok,
         COUNT(DISTINCT doc_id) AS df,
         COUNT(*) AS tf_total
  FROM toks GROUP BY tok
),
posting AS (
  SELECT tok,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
  FROM (SELECT DISTINCT tok, doc_id FROM toks) GROUP BY tok
)
SELECT g.tok, g.df, g.tf_total, p.postings
FROM grouped g JOIN posting p ON p.tok = g.tok
WHERE g.df >= {INDEX_MIN_DF}
ORDER BY g.tok
"""


register(x_market_basket, X_BASKET_SQL)
register(x_inverted_index, X_INDEX_SQL)


# -- keyword extraction (tf * N/df, log-free idf) -----------------------------

KEYWORDS_PER_DOC = 3


def x_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top KEYWORDS_PER_DOC keywords per document scored tf * (N/df) — a
    linear-idf variant of tf-idf, chosen because ln() is not required to
    be correctly rounded by IEEE and differs between the JVM and C libm
    in the last ulp; every factor here is an integer ratio, so the score
    replays exactly. Ties break on the token.

    Shuffle shape: one groupBy (doc, token) for tf (map-side combinable),
    one token groupBy for df (broadcast back — vocabulary-sized), and a
    per-doc window for the top-k. The raw text is scanned once.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.col("tok")
    )
    return (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * F.col("n_docs") / F.col("df")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KEYWORDS_PER_DOC)
        .select("doc_id", "rank", "tok", "score")
        .orderBy("doc_id", "rank")
    )


X_KEYWORD_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents,
       LATERAL (
         SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
       ) t
  WHERE t.tok <> ''
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf * n.n_docs / df.df AS score
  FROM tf JOIN df ON df.tok = tf.tok CROSS JOIN n
),
ranked AS (
  SELECT doc_id, tok, score,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY score DESC, tok
         ) AS rank
  FROM scored
)
SELECT doc_id, rank, tok, score
FROM ranked WHERE rank <= {KEYWORDS_PER_DOC}
ORDER BY doc_id, rank
"""


register(x_keyword_extract, X_KEYWORD_SQL)


# ---------------------------------------------------------------------------
# x_bm25_topk — BM25 ranked retrieval for a literal query (the RAG primitive)
# ---------------------------------------------------------------------------

BM25_TERMS = ["spark", "window", "join"]
BM25_TOP_K = 10
# constants rendered identically into both engines via string->double casts
_K1, _K1P1, _B, _OMB, _HALF = "1.2", "2.2", "0.75", "0.25", "0.5"


def x_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 scores of a fixed query against the corpus, top-k docs.

    ONE shuffle: a single per-doc aggregation carries doc length AND every
    per-term tf; corpus stats (N, avg length, per-term df) reduce from that
    same table into one broadcast row, so scoring is a map-side expression
    and the top-k is TakeOrderedAndProject. The classic log(idf) is
    replaced by the raw idf ratio (N - df + 0.5)/(df + 0.5) — monotone in
    df, so rankings are BM25-faithful while staying log-free (the engine's
    exact-replay rule; same trade as x_keyword_extract).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("len"),
        *[
            F.count(F.when(F.col("tok") == t, 1)).alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("len").alias("sum_len"),
        *[
            F.count(F.when(F.col(f"tf{i}") > 0, 1)).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    half = F.lit(_HALF).cast("double")
    k1 = F.lit(_K1).cast("double")
    k1p1 = F.lit(_K1P1).cast("double")
    b = F.lit(_B).cast("double")
    omb = F.lit(_OMB).cast("double")
    avg = F.col("sum_len").cast("double") / F.col("n_docs").cast("double")
    score = None
    for i in range(len(BM25_TERMS)):
        idf = ((F.col("n_docs") - F.col(f"df{i}")) + half) / (
            F.col(f"df{i}") + half
        )
        term = (idf * (F.col(f"tf{i}") * k1p1)) / (
            F.col(f"tf{i}") + k1 * (omb + b * (F.col("len") / avg))
        )
        score = term if score is None else score + term
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(sum(F.col(f"tf{i}") for i in range(len(BM25_TERMS))) > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOP_K)
    )


def _bm25_sql() -> str:
    tf_cols = ",\n         ".join(
        f"COUNT(*) FILTER (WHERE tok = '{t}') AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"COUNT(*) FILTER (WHERE tf{i} > 0) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    half = f"CAST('{_HALF}' AS DOUBLE)"
    k1 = f"CAST('{_K1}' AS DOUBLE)"
    k1p1 = f"CAST('{_K1P1}' AS DOUBLE)"
    b = f"CAST('{_B}' AS DOUBLE)"
    omb = f"CAST('{_OMB}' AS DOUBLE)"
    avg = "(CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    terms = []
    for i in range(len(BM25_TERMS)):
        idf = f"(((n_docs - df{i}) + {half}) / (df{i} + {half}))"
        terms.append(
            f"(({idf} * (tf{i} * {k1p1})) / "
            f"(tf{i} + {k1} * ({omb} + {b} * (len / {avg}))))"
        )
    score = " + ".join(terms)
    any_tf = " + ".join(f"tf{i}" for i in range(len(BM25_TERMS)))
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents,
       LATERAL (
         SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
       ) t
  WHERE t.tok <> ''
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS len,
         {tf_cols}
  FROM toks GROUP BY doc_id
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(len) AS sum_len,
         {df_cols}
  FROM per_doc
)
SELECT doc_id, ROUND({score}, 6) AS bm25
FROM per_doc CROSS JOIN stats
WHERE ({any_tf}) > 0
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOP_K}
"""


register(x_bm25_topk, _bm25_sql())


# ---------------------------------------------------------------------------
# UDF/UDTF surface queries: the Arrow pandas_udf and the Python UDTF from
# ``functions.udfs`` driven end-to-end, with exact DuckDB replays (integer and
# string outputs only — no float drift possible).
#
# The reference's UDF story is a pluggable hash function and dataclass
# schemas (SURVEY.md §2.4); this is the Spark-native equivalent surface.
# ---------------------------------------------------------------------------


def x_udf_token_count(spark, sf_dir):
    """Arrow-vectorized pandas UDF over the corpus (batch transfer, one
    Python invocation per Arrow batch — the only acceptable Python-UDF
    shape at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", make_ws_token_count()("text").alias("n_ws_tokens")
    ).orderBy("doc_id")


X_UDF_TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       CAST(CASE WHEN text IS NULL THEN 0
            ELSE len(list_filter(string_split_regex(text, '\s+'), p -> p <> ''))
       END AS INTEGER) AS n_ws_tokens
FROM documents
ORDER BY doc_id
"""


def x_udtf_sentences(spark, sf_dir):
    """Python UDTF via LATERAL correlation in SQL: 1->N row generation with
    per-document state (the sentence index)."""
    register_udfs(spark)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s.doc_id, s.sent_idx, s.sentence, s.n_tokens
        FROM documents d, LATERAL sentence_split(d.doc_id, d.text) s
        ORDER BY doc_id, sent_idx
        """
    )


X_UDTF_SENTENCES_SQL = r"""
WITH parts AS (
  SELECT doc_id, generate_subscripts(p, 1) AS i, unnest(p) AS raw
  FROM (SELECT doc_id, string_split(text, '.') AS p FROM documents)
),
sent AS (
  SELECT doc_id, i, trim(raw, ' ' || chr(9) || chr(10) || chr(13)) AS sentence
  FROM parts
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INTEGER) AS sent_idx,
       sentence,
       CAST(len(list_filter(string_split_regex(sentence, '\s+'), p -> p <> '')) AS INTEGER) AS n_tokens
FROM sent
WHERE sentence <> ''
ORDER BY doc_id, sent_idx
"""


register(x_udf_token_count, X_UDF_TOKEN_COUNT_SQL)
register(x_udtf_sentences, X_UDTF_SENTENCES_SQL)
