"""Near-duplicate detection and dedup-driven curation: exact, MinHash,
SimHash, embedding and substring dedup, their recall monitors, the point
probe and the curation diagnostics built on the dedup index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

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
    minhash_band_candidates,
    minhash_near_duplicates,
    prefix_filter_candidates,
    simhash_near_duplicates,
)
from kinbaku_spark.operators.similarity import (
    embedding_near_duplicates,
    random_hyperplanes,
)
from kinbaku_spark.operators.text import doc_fingerprint, text_quality
from kinbaku_spark.plans.checkpoints import pin
from kinbaku_spark.plans.hints import size_hint
from kinbaku_spark.queries import register
from kinbaku_spark.queries.dedup_state import (
    BAND_ROWS,
    N_BANDS,
    N_HASHES,
    SPAN_N,
    shingle_sets,
    shingle_state,
    simhash_sigs,
    span_state,
)
from kinbaku_spark.queries.similarity import _sql_cosine, _sql_lsh_sig
from kinbaku_spark.queries.text import X_TEXT_QUALITY_SQL
from kinbaku_spark.sources.tables import load_table
from kinbaku_spark.state import shared


# ---------------------------------------------------------------------------
# Core dedup operators: exact, MinHash/LSH, n-gram Jaccard, SimHash,
# embedding near-dups, clusters, incremental and substring dedup, and
# their sampled recall monitors.
#
# Every oracle replays the Spark pipeline EXACTLY: same md5-derived hashes,
# same universal-hash coefficients, same sequential double accumulation
# (list_reduce ≡ F.aggregate), same rounding. The SQL strings are generated
# from the same Python constants the Spark operators use.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# SQL fragment generators (shared constants -> identical pipelines)
# ---------------------------------------------------------------------------

P = HASH_PRIME
MINHASH_THRESHOLD = 0.8
JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 10
EMB_NEAR_DUP_THRESHOLD = 0.4


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


register(x_dedup_exact, X_DEDUP_EXACT_SQL)
register(x_dedup_minhash, _minhash_sql())
register(x_dedup_ngram_jaccard, X_JACCARD_SQL)
register(x_dedup_simhash, _simhash_sql())
register(x_dedup_embedding, X_DEDUP_EMBEDDING_SQL)
register(x_doc_fingerprint, X_DOC_FINGERPRINT_SQL)


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


register(x_dedup_clusters, _clusters_sql())


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


register(x_doc_winnowing, X_DOC_WINNOWING_SQL)


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


register(x_dedup_incremental, _incremental_sql())


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
        parts_v.join(size_hint(probes_v_bound)(probes_v), "v")
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


register(x_fuzzy_match, X_FUZZY_MATCH_SQL)


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
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        docs,
        max_hamming=SIMHASH_BANDED_HAMMING,
        banded=True,
        bands=SIMHASH_BANDS,
        sig=simhash_sigs(spark, sf_dir),
    )


# the oracle is the naive all-pairs SQL at the band-reachable threshold —
# banding is exact (pigeonhole) below SIMHASH_BANDS, so the sets coincide
register(x_dedup_simhash_banded, _simhash_sql(SIMHASH_BANDED_HAMMING))


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


register(
    x_dedup_simhash_banded_recall,
    _pair_recall_sql(
        _simhash_sql(), _simhash_sql(SIMHASH_BANDED_HAMMING),
        "doc_id_a", "doc_id_b", "n_baseline", "n_banded",
    ),
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


register(x_dedup_embedding_lsh, _emb_lsh_sql())


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


register(
    x_dedup_embedding_lsh_recall,
    _pair_recall_sql(
        X_DEDUP_EMBEDDING_SQL, _emb_lsh_sql(), "vec_id_a", "vec_id_b",
        "n_truth", "n_lsh",
    ),
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


register(
    x_dedup_recall_sampled,
    _with_support_sql(
        _pair_recall_sql(
            _simhash_sql(source=_SAMPLED_DOCS_SQL),
            _simhash_sql(SIMHASH_BANDED_HAMMING, source=_SAMPLED_DOCS_SQL),
            "doc_id_a", "doc_id_b", "n_baseline", "n_banded",
        ),
        _SAMPLED_DOCS_MOD_SQL,
        f"(SELECT COUNT(*) FROM {_SAMPLED_DOCS_SQL})",
        "n_baseline",
    ),
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


register(
    x_dedup_recall_stratified,
    _with_support_sql(
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
    ),
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


register(
    x_dedup_embedding_lsh_wide,
    _emb_lsh_sql(
        EMB_LSH_WIDE_PLANES, EMB_LSH_WIDE_BANDS
    ),
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


# both legs REUSE the canonical SQL builders with the sampled stratum as
# the source relation — one definition of the sig/band/verify math, so a
# fix to the canonical oracle cannot silently diverge from the sampled one
register(
    x_dedup_embedding_recall_sampled,
    _with_support_sql(
        _pair_recall_sql(
            _emb_truth_sql(_SAMPLED_EMB_SRC),
            _emb_lsh_sql(source=_SAMPLED_EMB_SRC),
            "vec_id_a", "vec_id_b", "n_truth", "n_lsh",
        ),
        _SAMPLED_EMB_MOD_SQL,
        f"(SELECT COUNT(*) FROM {_SAMPLED_EMB_SRC} esamp)",
        "n_truth",
    ),
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

SUBSTRING_DF_CAP = 16  # mirrors WINDOW_DF_CAP (curation.py)


def x_substring_dedup(spark, sf_dir):
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

register(x_substring_dedup, X_SUBSTRING_DEDUP_SQL)


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


register(x_substring_dedup_apply, _substring_apply_sql())


# ---------------------------------------------------------------------------
# Containment dedup, corpus-diversity impurity, and rank-distribution
# windows.
#
# The reference (kerighan/kinbaku) has no text/window surface (SURVEY.md
# §2.4); these extend the dedup family (Jaccard's asymmetric sibling), the
# dataset-card diversity metrics, and the window-function coverage
# (percent_rank / cume_dist).
#
# Shuffle shapes (the 100 TB story):
#
# - containment: identical plan to x_dedup_ngram_jaccard — inverted-index
#   candidate join on shared shingle hashes, then exact verification over
#   candidates only; at scale the candidate generator swaps to MinHash
#   banding (x_dedup_minhash) with the same verify tail.
# - impurity: ONE groupBy(source, lang) collapses the corpus; the
#   per-source rollup runs over O(sources x langs) rows.
# - rank windows: degrees are one groupBy(src); both rank functions share
#   ONE window sort over the |V|-sized degree table.
#
# Determinism: containment divides exact intersection counts by the exact
# smaller set size (round 6dp — the proven jaccard pattern); impurity is
# exact integer ppm ((n² - Σ n_l²)·10⁶ div n²); percent_rank/cume_dist are
# ratios of exact integers, IEEE-identical in both engines, rounded 6dp.
# ---------------------------------------------------------------------------


# -- x_dedup_containment: asymmetric (subset) near-dup detection -------------

CONTAINMENT_THRESHOLD = 0.8


def x_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-duplicates: pairs where the SMALLER document's
    shingle set is >= 80% contained in the other — catches excerpt/
    quotation duplication that symmetric Jaccard misses (a 10x-longer
    superset document caps Jaccard at ~0.1 but containment at 1.0).
    """
    # three consumers (df counts, ranked postings, verify sets) share the
    # session-persisted shingle index (dedup_state.py) — the materialized
    # table every dedup query scans instead of re-shingling the corpus
    sh, _ = shingle_state(spark, sf_dir)

    # Exact prefix filtering (operators/dedup.py prefix_filter_candidates):
    # for containment >= t the smaller set's required overlap is
    # alpha = ceil(t*n), so the prefix is n - ((4n + 4) div 5) + 1 rarest
    # shingles at t = 0.8 (exact integer ceil). Provable superset of the
    # naive self-join pairs -> the naive-SQL oracle stays the unchanged
    # ground truth, while hot-shingle df^2 buckets disappear from the plan.
    cand = prefix_filter_candidates(
        sh, "doc_id", F.col("r") <= F.expr("n - ((4 * n + 4) div 5) + 1")
    )
    # array-set verification (same shape as operators/dedup._jaccard_verify):
    # two doc-keyed joins + codegen array_intersect over candidates only,
    # reading the MATERIALIZED per-doc set index (dedup_state.shingle_sets)
    # instead of re-aggregating the postings per call
    sets = shingle_sets(spark, sf_dir)
    return (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_id_a"), F.col("hs").alias("hs_a")),
            "doc_id_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_id_b"), F.col("hs").alias("hs_b")),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
            F.least(F.size("hs_a"), F.size("hs_b")).alias("nmin"),
        )
        .withColumn("containment", F.round(F.col("inter") / F.col("nmin"), 6))
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("doc_id_a", "doc_id_b", "containment")
        .orderBy("doc_id_a", "doc_id_b")
    )


def _containment_sql() -> str:
    return f"""
WITH {_sql_shingle_cte(3)},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM hx a JOIN hx b ON a.h = b.h
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hx GROUP BY doc_id),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS i
  FROM cand c
  JOIN hx a ON a.doc_id = c.doc_id_a
  JOIN hx b ON b.doc_id = c.doc_id_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT i.doc_id_a, i.doc_id_b,
       ROUND(i.i * 1.0 / LEAST(sa.n, sb.n), 6) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_id_a
JOIN sizes sb ON sb.doc_id = i.doc_id_b
WHERE ROUND(i.i * 1.0 / LEAST(sa.n, sb.n), 6) >= {CONTAINMENT_THRESHOLD}
ORDER BY i.doc_id_a, i.doc_id_b
"""


# -- x_source_lang_impurity: corpus diversity per source ---------------------

def x_source_lang_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity of the language mix per source, in exact integer ppm
    ((n² − Σ n_l²)·10⁶ div n²) — the log-free diversity metric for
    dataset cards (0 = monolingual source, →10⁶ = uniform mix).
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("nl"))
    return (
        per.groupBy("source")
        .agg(
            F.sum("nl").alias("n_docs"),
            # DECIMAL sum-of-squares: nl^2 wraps int64 at ~3e9 docs in one
            # (source, lang) cell, and n_docs^2 * 10^6 wraps at just ~3e6
            # docs per source — the tightest overflow bound the ppm audit
            # found; DECIMAL(38,0)/HUGEINT keeps the Gini-Simpson impurity
            # integer-exact at any corpus size on both engines
            F.sum(F.col("nl").cast("decimal(38,0)") * F.col("nl")).alias(
                "ssq"
            ),
            F.count(F.lit(1)).cast("long").alias("n_langs"),
        )
        .select(
            "source",
            "n_docs",
            "n_langs",
            F.expr(
                "CAST((CAST(n_docs AS DECIMAL(38,0)) * n_docs - ssq)"
                " * 1000000"
                " div (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)"
            ).alias("impurity_ppm"),
        )
        .orderBy("source")
    )


X_LANG_IMPURITY_SQL = """
WITH per AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nl
  FROM documents GROUP BY 1, 2
),
agg AS (
  SELECT source, CAST(SUM(nl) AS BIGINT) AS n_docs,
         SUM(CAST(nl AS HUGEINT) * nl) AS ssq,
         CAST(COUNT(*) AS BIGINT) AS n_langs
  FROM per GROUP BY source
)
SELECT source, n_docs, n_langs,
       CAST((CAST(n_docs AS HUGEINT) * n_docs - ssq) * 1000000
              // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT)
         AS impurity_ppm
FROM agg
ORDER BY source
"""


register(x_dedup_containment, _containment_sql())
register(x_source_lang_impurity, X_LANG_IMPURITY_SQL)


# ---------------------------------------------------------------------------
# Character-level (edit-distance) near-duplicate detection.
#
# The dedup family so far works at token/shingle granularity (exact hash,
# MinHash-Jaccard, SimHash, containment) or embedding granularity (cosine,
# SemDeDup). This adds the character-granularity member: Levenshtein
# distance, relative to the longer document — the right tool for
# boilerplate-injected or lightly-templated duplicates where a handful of
# character edits separate the copies.
#
# Shape (the 100 TB story): all-pairs Levenshtein is O(n² · len²) and
# never viable; the scale path is CANDIDATES-THEN-VERIFY reusing the
# MinHash banded-LSH generator (operators/dedup.minhash_band_candidates —
# the same 8-band equi-join that powers x_dedup_minhash, shuffle keys are
# 32-byte band keys, never text), then one join back to the text column and
# a JVM-side `levenshtein()` verify over candidate pairs only. The verify
# is built-in in BOTH engines (Spark `F.levenshtein`, DuckDB
# `levenshtein`), so the oracle replays the full pipeline bit-for-bit:
# same shingles, same universal-hash signatures, same bands, same verify.
#
# Determinism: the accept test is exact integer arithmetic —
# ed * 100 <= ED_REL_PCT * greatest(len_a, len_b) — and the reported
# relative distance is integer ppm (truncating div), so the value hash is
# exact, no float rounding anywhere.
#
# Reference parity: the reference (kerighan/kinbaku) has no text dedup at
# all (SURVEY.md §2.4) — this extends the brief's dedup requirement.
# ---------------------------------------------------------------------------

ED_REL_PCT = 20  # accept pairs within 20% of the longer doc's length


def x_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicates: MinHash band candidates (same
    generator as x_dedup_minhash), verified by relative Levenshtein —
    ed <= 20% of the longer document's length. Output: the pair, the
    exact edit distance, and the relative distance in ppm."""
    docs = load_table(spark, sf_dir, "documents")
    _, sig = shingle_state(spark, sf_dir)
    cand = minhash_band_candidates(sig, "doc_id", N_HASHES, N_BANDS)
    texts = docs.select("doc_id", "text")
    ed = F.levenshtein("text_a", "text_b")
    mx = F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        cand.join(
            texts.select(
                F.col("doc_id").alias("doc_id_a"), F.col("text").alias("text_a")
            ),
            "doc_id_a",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("doc_id_b"), F.col("text").alias("text_b")
            ),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            ed.cast("int").alias("edit_dist"),
            mx.alias("mx"),
        )
        .filter(F.col("edit_dist") * 100 <= ED_REL_PCT * F.col("mx"))
        .select(
            "doc_id_a",
            "doc_id_b",
            "edit_dist",
            F.expr("CAST(edit_dist AS BIGINT) * 1000000 div mx").alias("rel_ppm"),
        )
        .orderBy("doc_id_a", "doc_id_b")
    )


def _edit_distance_sql() -> str:
    # reuse x_dedup_minhash's CTE chain up to `cand`, swap the verify tail
    base = _minhash_sql()
    head, _tail = base.split("sizes AS", 1)
    return (
        head
        + f"""t AS (SELECT doc_id, text FROM documents)
SELECT c.doc_id_a, c.doc_id_b,
       CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist,
       CAST(CAST(levenshtein(a.text, b.text) AS BIGINT) * 1000000
            // GREATEST(LENGTH(a.text), LENGTH(b.text)) AS BIGINT) AS rel_ppm
FROM cand c
JOIN t a ON a.doc_id = c.doc_id_a
JOIN t b ON b.doc_id = c.doc_id_b
WHERE levenshtein(a.text, b.text) * 100
      <= {ED_REL_PCT} * GREATEST(LENGTH(a.text), LENGTH(b.text))
ORDER BY c.doc_id_a, c.doc_id_b
"""
    )


register(x_dedup_edit_distance, _edit_distance_sql())


# ---------------------------------------------------------------------------
# Curation planning: quality-threshold sweep and duplicate-cluster size
# distribution.
#
# The reference (kerighan/kinbaku) has no curation surface (SURVEY.md §2.4);
# these are the two readouts a filtering run is planned from:
#
# - threshold sweep: docs/tokens retained at each candidate quality cutoff
#   — the yield curve that picks the operating point before committing a
#   100 TB filter pass.
# - cluster sizes: the size histogram of MinHash near-duplicate components
#   — duplication's shape (many pairs vs few giant families) decides
#   whether survivorship or family-level review is the right dedup action.
#
# Shuffle shapes (the 100 TB story): the sweep is one scan-bound projection
# (text_quality rides the parquet scan) cross-joined to a 9-row broadcast
# threshold table, then ONE aggregation keyed by threshold — no per-
# threshold passes over the corpus. Cluster sizes reuse x_dedup_clusters'
# banded-LSH + hash-min label propagation and add two O(|clusters|)
# aggregations on top.
#
# Determinism: retention shares are exact integer ppm; the quality score is
# the proven 6dp-rounded composite compared against k/100.0 double literals
# (identical strtod in both engines); cluster labels are min-doc_id labels,
# size buckets exact integers.
# ---------------------------------------------------------------------------


# -- x_quality_threshold_sweep: retention yield curve -------------------------

SWEEP_THRESHOLDS_PCT = list(range(50, 95, 5))  # 0.50 .. 0.90


def x_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs and tokens retained at each candidate quality_score cutoff
    (0.50‥0.90 by 0.05), with exact ppm retention shares — one corpus
    scan, one broadcast cross join, one aggregation.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = text_quality(docs).select("quality_score", "n_tokens")
    thr = spark.createDataFrame(
        [(t,) for t in SWEEP_THRESHOLDS_PCT], "thr_pct int"
    )
    keep = F.col("quality_score") >= F.col("thr_pct") / F.lit(100.0)
    return (
        per.crossJoin(F.broadcast(thr))
        .groupBy("thr_pct")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).alias("docs_kept"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens_total"),
        )
        .select(
            "thr_pct",
            "docs_kept",
            "tokens_kept",
            # DECIMAL numerators: token mass scales with the corpus and
            # tokens_kept * 10^6 wraps int64 near 9.2e12 tokens (~35 TB
            # of text — inside the 100 TB brief); docs get the same cast
            # so the ppm contract is unconditional
            F.expr(
                "CAST(CAST(docs_kept AS DECIMAL(38,0)) * 1000000"
                " div n_docs AS BIGINT)"
            ).alias("docs_share_ppm"),
            F.expr(
                "CASE WHEN n_tokens_total = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST(CAST(tokens_kept AS DECIMAL(38,0)) * 1000000"
                " div n_tokens_total AS BIGINT) END"
            ).alias("tokens_share_ppm"),
        )
        .orderBy("thr_pct")
    )


def _sweep_sql() -> str:
    values = ", ".join(f"({t})" for t in SWEEP_THRESHOLDS_PCT)
    return f"""
WITH per AS (SELECT quality_score, n_tokens FROM ({X_TEXT_QUALITY_SQL})),
thr(thr_pct) AS (VALUES {values}),
agg AS (
  SELECT thr_pct,
         CAST(SUM(CASE WHEN quality_score >= thr_pct / 100.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS docs_kept,
         CAST(SUM(CASE WHEN quality_score >= thr_pct / 100.0 THEN n_tokens
                       ELSE 0 END) AS BIGINT) AS tokens_kept,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total
  FROM per CROSS JOIN thr
  GROUP BY thr_pct
)
SELECT CAST(thr_pct AS INTEGER) AS thr_pct, docs_kept, tokens_kept,
       CAST(CAST(docs_kept AS HUGEINT) * 1000000 // n_docs AS BIGINT)
         AS docs_share_ppm,
       CAST(CASE WHEN n_tokens_total = 0 THEN 0
                 ELSE CAST(tokens_kept AS HUGEINT) * 1000000 // n_tokens_total
            END AS BIGINT) AS tokens_share_ppm
FROM agg
ORDER BY thr_pct
"""


# -- x_dup_cluster_sizes: near-duplicate family size histogram ----------------

def x_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of MinHash near-duplicate component sizes: how many
    clusters of each size exist and what share of the corpus sits in
    them. Size 1 = unique documents.
    """
    # the labels are session-persisted engine state (built once per sf_dir)
    labels = dup_cluster_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    total = labels.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .crossJoin(F.broadcast(total))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            # DECIMAL numerator: cluster_size * n_clusters is up to the
            # corpus doc count, and * 10^6 wraps int64 near 9.2e12 docs
            F.expr(
                "CAST(CAST(cluster_size AS DECIMAL(38,0)) * n_clusters"
                " * 1000000 div n_total AS BIGINT)"
            ).alias("docs_share_ppm"),
        )
        .orderBy("cluster_size")
    )


def _cluster_sizes_sql() -> str:
    return f"""
WITH labels AS (SELECT * FROM ({_clusters_sql()})),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM labels GROUP BY cluster_id
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM labels)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
       CAST(CAST(cluster_size AS HUGEINT) * COUNT(*) * 1000000
              // (SELECT n FROM total)
            AS BIGINT) AS docs_share_ppm
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
"""


# -- x_soft_dedup_weights: down-weight duplicate families ---------------------

def x_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of dropping near-duplicates, give every
    document the training weight 10⁶ div |its duplicate family| — the
    family's total influence stays one document's worth while all
    surface variants remain sampleable. Unique docs keep weight 10⁶.
    """
    labels = dup_cluster_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            F.expr("1000000 div cluster_size").alias("weight_ppm"),
        )
        .orderBy("doc_id")
    )


def _soft_dedup_sql() -> str:
    return f"""
WITH labels AS (SELECT * FROM ({_clusters_sql()})),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM labels GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       CAST(1000000 // s.cluster_size AS BIGINT) AS weight_ppm
FROM labels l JOIN sizes s USING (cluster_id)
ORDER BY l.doc_id
"""


register(x_quality_threshold_sweep, _sweep_sql())
register(x_dup_cluster_sizes, _cluster_sizes_sql())
# -- x_minhash_band_sweep: LSH banding-config planner --------------------------

SWEEP_BANDS = (4, 8, 16)  # over the 32-hash signature: r = 8, 4, 2 rows/band
SWEEP_JACCARD = 0.8


def x_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate volume vs confirmed-pair precision for three LSH banding
    configs of the same 32-hash MinHash signature — the planning readout
    that picks bands before a corpus-scale dedup run (more bands = higher
    recall, quadratically more candidates to verify).

    The signature table is computed ONCE (checkpointed) and shared by all
    configs; per config the cost is one band equi-join + the exact-Jaccard
    verify over its own candidates. No driver collects — each config's
    counts are 1-row aggregates unioned JVM-side.
    """
    from kinbaku_spark.operators.dedup import (
        _jaccard_verify,
        minhash_band_candidates,
    )

    sh, sig = shingle_state(spark, sf_dir)
    sets = shingle_sets(spark, sf_dir)
    per_config = []
    for b in SWEEP_BANDS:
        # lazy checkpoint: both consumers (count, verify) resolve inside
        # the ONE final action, so the candidates still materialize once —
        # without the three serial per-config jobs the eager form ran at
        # query-construction time (r07 work profile: 28 jobs -> fewer)
        cand = minhash_band_candidates(sig, "doc_id", 32, b).localCheckpoint(
            eager=False
        )
        n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        n_conf = _jaccard_verify(cand, sh, "doc_id", SWEEP_JACCARD, sets=sets).agg(
            F.count(F.lit(1)).alias("n_confirmed")
        )
        per_config.append(
            n_cand.crossJoin(n_conf).select(
                F.lit(b).alias("bands"),
                F.lit(32 // b).alias("rows_per_band"),
                "n_candidates",
                "n_confirmed",
                F.expr(
                    "CASE WHEN n_candidates = 0 THEN 0"
                    " ELSE n_confirmed * 1000000 div n_candidates END"
                ).alias("precision_ppm"),
            )
        )
    out = per_config[0]
    for p in per_config[1:]:
        out = out.unionByName(p)
    return out.orderBy("bands")


def _band_sweep_sql() -> str:
    from kinbaku_spark.functions.hashing import HASH_PRIME as P
    from kinbaku_spark.functions.hashing import minhash_coeffs

    coeffs = minhash_coeffs(32, 42)
    mins = ",\n    ".join(
        f"MIN(({a} * (h % {P}) + {b}) % {P}) AS mh{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    parts = [
        f"{_sql_shingle_cte(3)}".strip().lstrip(","),
        f"sig AS MATERIALIZED (SELECT doc_id, {mins} FROM hx GROUP BY doc_id)",
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM hx GROUP BY doc_id)",
    ]
    selects = []
    for b in SWEEP_BANDS:
        rows = 32 // b
        band_selects = "\n  UNION ALL\n  ".join(
            "SELECT doc_id, {k} AS band, {key} AS key FROM sig".format(
                k=k,
                key=" || '|' || ".join(
                    f"CAST(mh{k * rows + r} AS VARCHAR)" for r in range(rows)
                ),
            )
            for k in range(b)
        )
        parts.append(
            f"""bands{b} AS (
  {band_selects}
),
cand{b} AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bands{b} a JOIN bands{b} b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
conf{b} AS (
  SELECT COUNT(*) AS n FROM (
    SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS i
    FROM cand{b} c
    JOIN hx a ON a.doc_id = c.doc_id_a
    JOIN hx x ON x.doc_id = c.doc_id_b AND x.h = a.h
    GROUP BY 1, 2
  ) j
  JOIN sizes sa ON sa.doc_id = j.doc_id_a
  JOIN sizes sb ON sb.doc_id = j.doc_id_b
  WHERE ROUND(j.i * 1.0 / (sa.n + sb.n - j.i), 6) >= {SWEEP_JACCARD}
)""",
        )
        selects.append(
            f"""SELECT {b} AS bands, {rows} AS rows_per_band,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{b}) AS n_candidates,
       (SELECT CAST(n AS BIGINT) FROM conf{b}) AS n_confirmed,
       CAST(CASE WHEN (SELECT COUNT(*) FROM cand{b}) = 0 THEN 0
                 ELSE (SELECT n FROM conf{b}) * 1000000
                      // (SELECT COUNT(*) FROM cand{b}) END AS BIGINT)
         AS precision_ppm"""
        )
    union = "\nUNION ALL\n".join(selects)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(bands AS INTEGER) AS bands,
       CAST(rows_per_band AS INTEGER) AS rows_per_band,
       n_candidates, n_confirmed, precision_ppm
FROM (
{union}
) ORDER BY bands
"""
    )


register(x_soft_dedup_weights, _soft_dedup_sql())
# -- x_normalized_dedup: normalization's effect on exact dedup ----------------

def x_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row normalization audit: how many exact-dup groups exist on the
    raw text vs after canonical normalization (lowercase, whitespace
    collapse, trim) — `extra_merged` is the number of distinct raw texts
    that normalization folds together, i.e. the dup mass raw-exact dedup
    would MISS. The canonical pre-dedup pass every curation pipeline runs
    first; one projection + one aggregate, rides the scan at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        docs.select(
            F.md5(norm).alias("norm_hash"), F.md5(F.col("text")).alias("raw_hash")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("raw_hash").alias("raw_distinct"),
            F.countDistinct("norm_hash").alias("norm_distinct"),
        )
        .select(
            "n_docs",
            "raw_distinct",
            "norm_distinct",
            (F.col("n_docs") - F.col("raw_distinct")).alias("raw_dup_docs"),
            (F.col("raw_distinct") - F.col("norm_distinct")).alias("extra_merged"),
        )
    )


X_NORMALIZED_DEDUP_SQL = r"""
WITH h AS (
  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_hash,
         md5(text) AS raw_hash
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT raw_hash) AS BIGINT) AS raw_distinct,
       CAST(COUNT(DISTINCT norm_hash) AS BIGINT) AS norm_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT raw_hash) AS BIGINT) AS raw_dup_docs,
       CAST(COUNT(DISTINCT raw_hash) - COUNT(DISTINCT norm_hash) AS BIGINT)
         AS extra_merged
FROM h
"""


register(x_minhash_band_sweep, _band_sweep_sql())
register(x_normalized_dedup, X_NORMALIZED_DEDUP_SQL)


# ---------------------------------------------------------------------------
# Curation operators, batch 2: point near-duplicate probe and the
# quality-band × duplication contingency matrix.
#
# The probe is the dedup family's POINT-LOOKUP shape — the analog of the
# reference's `node(key)` / `neighbors(key)` point reads (kinbaku
# graph.py:856) applied to the MinHash index: given ONE document, return
# its verified near-duplicates without an all-pairs pass. The matrix is
# the curation diagnostic that tells you whether your duplicates are
# concentrated in low-quality mass (drop them with the quality gate) or
# spread across the quality range (dedup must run regardless).
#
# Shuffle shapes (the 100 TB story):
#
# - probe: the corpus band index is built once (at scale: the PERSISTED
#   incremental index of x_dedup_incremental); the probe's ≤ B band keys
#   broadcast onto it, so candidate generation touches only the probe's
#   band buckets, and verification joins the ≤ |candidates| shingle sets
#   against ONE broadcast probe set. Nothing pairs corpus-with-corpus.
# - matrix: quality scoring rides the scan (pure column expressions); the
#   dup flag is one hash groupBy + a hash-keyed join-back; the contingency
#   is a ≤ (bands × 2)-group aggregate with map-side partials. Quality
#   bands are FIXED ppm thresholds (map-only), not NTILE — a global
#   tercile window would single-task sort the corpus.
#
# Determinism: the probe is the smallest doc_id that has an exact
# duplicate (computable identically in both engines); MinHash coefficients
# and shingle hashing are the shared fixtures (functions/hashing.py);
# quality in integer ppm; jaccard rounded to 6dp.
# ---------------------------------------------------------------------------

PROBE_THRESHOLD = 0.5
PROBE_TOPK = 10

_DOC_HASH = 'md5(COALESCE(text, chr(0) || \'NULL\'))'


def _banded(sig: DataFrame) -> DataFrame:
    band_cols = [
        F.struct(
            F.lit(k).alias("band"),
            F.concat_ws(
                "|",
                *[F.col(f"mh{k * BAND_ROWS + r}") for r in range(BAND_ROWS)],
            ).alias("key"),
        )
        for k in range(N_BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


# -- x_dedup_probe: point near-dup lookup against the band index --------------

def x_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-duplicates of ONE probe document: band-bucket
    candidate lookup + exact-Jaccard verification against the single
    broadcast probe set. Returns (doc_id, jaccard) with jaccard >=
    `PROBE_THRESHOLD`, strongest first, top `PROBE_TOPK`.

    The probe FIXTURE (smallest doc_id that collides with another doc in
    any band — guaranteed to have candidates when near-dups exist) costs
    one band self-join; a production point-probe skips it (the caller
    has the id) and touches only the probe's own band buckets.
    """
    sh, sig = shingle_state(spark, sf_dir)
    banded = _banded(sig)

    other = banded.select(
        F.col("doc_id").alias("doc_id_b"), "band", "key"
    )
    probe = (
        banded.join(other, ["band", "key"])
        .filter(F.col("doc_id") != F.col("doc_id_b"))
        .agg(F.min("doc_id").alias("probe_id"))
        .where(F.col("probe_id").isNotNull())
    )

    pb = banded.join(
        F.broadcast(probe), banded.doc_id == F.col("probe_id")
    ).select("band", "key")
    cand = (
        banded.join(F.broadcast(pb), ["band", "key"])
        .join(F.broadcast(probe), banded.doc_id != F.col("probe_id"))
        .select("doc_id")
        .distinct()
    )

    # the MATERIALIZED per-doc set index (dedup_state.shingle_sets) —
    # previously re-aggregated from the postings per probe
    sets = shingle_sets(spark, sf_dir)
    pset = sets.join(
        F.broadcast(probe), sets.doc_id == F.col("probe_id")
    ).select(F.col("hs").alias("hs_p"))
    return (
        cand.join(sets, "doc_id")
        .crossJoin(F.broadcast(pset))
        .select(
            "doc_id",
            F.size(F.array_intersect("hs", "hs_p")).alias("i"),
            F.size("hs").alias("n"),
            F.size("hs_p").alias("np"),
        )
        .withColumn(
            "jaccard",
            F.round(F.col("i") / (F.col("n") + F.col("np") - F.col("i")), 6),
        )
        .filter(F.col("jaccard") >= PROBE_THRESHOLD)
        .select("doc_id", "jaccard")
        .orderBy(F.desc("jaccard"), "doc_id")
        .limit(PROBE_TOPK)
    )


def _probe_sql() -> str:
    coeffs = minhash_coeffs(N_HASHES, 42)
    p = (1 << 31) - 1
    mins = ",\n    ".join(
        f"MIN(({a} * (h % {p}) + {b}) % {p}) AS mh{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {k} AS band, {key} AS key FROM sig".format(
            k=k,
            key=" || '|' || ".join(
                f"CAST(mh{k * BAND_ROWS + r} AS VARCHAR)"
                for r in range(BAND_ROWS)
            ),
        )
        for k in range(N_BANDS)
    )
    return f"""
WITH {_sql_shingle_cte(3)},
sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id),
bands AS (
  {band_selects}
),
pid AS (
  SELECT MIN(a.doc_id) AS probe_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id <> b.doc_id
),
pb AS (SELECT band, key FROM bands JOIN pid ON doc_id = probe_id),
cand AS (
  SELECT DISTINCT b.doc_id
  FROM bands b JOIN pb USING (band, key) CROSS JOIN pid
  WHERE b.doc_id <> pid.probe_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hx GROUP BY doc_id),
psize AS (SELECT n AS np FROM sizes JOIN pid ON doc_id = probe_id),
inter AS (
  SELECT b.doc_id, COUNT(*) AS i
  FROM cand c
  JOIN hx b ON b.doc_id = c.doc_id
  CROSS JOIN pid
  JOIN hx p ON p.doc_id = pid.probe_id AND p.h = b.h
  GROUP BY b.doc_id
)
SELECT i.doc_id, ROUND(i.i * 1.0 / (s.n + ps.np - i.i), 6) AS jaccard
FROM inter i JOIN sizes s USING (doc_id) CROSS JOIN psize ps
WHERE i.i * 1.0 / (s.n + ps.np - i.i) >= {PROBE_THRESHOLD}
ORDER BY jaccard DESC, doc_id
LIMIT {PROBE_TOPK}
"""


# -- x_quality_dup_matrix: quality band x duplication contingency -------------

QBAND_WIDTH_PPM = 250_000


def x_quality_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency of fixed quality bands (integer-ppm score div 250k,
    capped at band 3) × exact-duplicate status, with each cell's share of
    its band in ppm — tells you whether duplicates concentrate in
    low-quality mass (quality gate handles them) or not (dedup must run).
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.coalesce(F.col("text"), F.lit("\x00NULL")))
    feats = docs.select(
        "doc_id",
        h.alias("__h"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        (F.length("text") - F.length(F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz", ""))).cast("long").alias("alpha"),
        (F.length("text") - F.length(F.translate("text", "0123456789", ""))).cast("long").alias("digits"),
    )
    scored = feats.select(
        "doc_id",
        "__h",
        F.expr(
            "(CASE WHEN n_chars > 0 THEN alpha * 1000000 div n_chars ELSE 0 END * 5"
            " + LEAST(n_tokens * 10000, 1000000) * 3"
            " + (1000000 - CASE WHEN n_chars > 0 THEN digits * 1000000 div n_chars ELSE 0 END) * 2"
            ") div 10"
        ).alias("score_ppm"),
    )
    dup = (
        scored.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("__h", (F.col("c") >= 2).alias("is_dup"))
    )
    banded = scored.join(dup, "__h").select(
        F.least(F.expr(f"score_ppm div {QBAND_WIDTH_PPM}"), F.lit(3))
        .cast("int")
        .alias("score_band"),
        "is_dup",
    )
    cells = banded.groupBy("score_band", "is_dup").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = cells.groupBy("score_band").agg(
        F.sum("n_docs").cast("long").alias("band_total")
    )
    return (
        cells.join(F.broadcast(totals), "score_band")
        .select(
            "score_band",
            "is_dup",
            "n_docs",
            F.expr(
                "CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000"
                " div band_total AS BIGINT)"
            ).alias("band_share_ppm"),
        )
        .orderBy("score_band", "is_dup")
    )


X_QUALITY_DUP_SQL = rf"""
WITH feats AS (
  SELECT doc_id, {_DOC_HASH} AS h,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
  FROM documents
),
scored AS (
  SELECT doc_id, h,
         (CASE WHEN n_chars > 0 THEN alpha * 1000000 // n_chars ELSE 0 END * 5
          + LEAST(n_tokens * 10000, 1000000) * 3
          + (1000000 - CASE WHEN n_chars > 0
                            THEN digits * 1000000 // n_chars ELSE 0 END) * 2
         ) // 10 AS score_ppm
  FROM feats
),
dup AS (SELECT h, COUNT(*) >= 2 AS is_dup FROM scored GROUP BY h),
banded AS (
  SELECT CAST(LEAST(s.score_ppm // {QBAND_WIDTH_PPM}, 3) AS INTEGER)
           AS score_band,
         d.is_dup
  FROM scored s JOIN dup d USING (h)
),
cells AS (
  SELECT score_band, is_dup, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM banded GROUP BY score_band, is_dup
),
totals AS (
  SELECT score_band, CAST(SUM(n_docs) AS BIGINT) AS band_total
  FROM cells GROUP BY score_band
)
SELECT c.score_band, c.is_dup, c.n_docs,
       CAST(CAST(c.n_docs AS HUGEINT) * 1000000 // t.band_total AS BIGINT)
         AS band_share_ppm
FROM cells c JOIN totals t USING (score_band)
ORDER BY c.score_band, c.is_dup
"""


register(x_dedup_probe, _probe_sql())
register(x_quality_dup_matrix, X_QUALITY_DUP_SQL)


# -- x_linkage_agreement_lift: Fellegi-Sunter-style field weights --------------
#
# The u-probability side of probabilistic record linkage, computed WITHOUT
# enumerating a single pair: P(field agrees | pair in same nation block)
# vs P(field agrees | random pair) from contingency counts alone —
# Σ C(n_{block,value}, 2) over Σ C(N_block, 2), etc. At 100 TB every term
# is a small-dim groupBy with map-side partials; the pair space (10²³ at
# that scale) is never materialized. Fields whose block-agreement lift is
# high are informative matchers; lift ≈ 10⁶ means the field is
# independent of the block and adds no linkage evidence.

_LINK_FIELDS = [
    ("mktsegment", "c_mktsegment"),
    ("bal_sign", "CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END"),
    ("bal_kbucket", "CAST(CAST(floor(c_acctbal) AS BIGINT) // 1000 AS VARCHAR)"),
]


def x_linkage_agreement_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field agreement rates among same-nation-block customer pairs
    vs all pairs, and the block lift (ppm of the overall rate) — the
    field-informativeness table a Fellegi-Sunter linker is seeded with.
    """
    cust = load_table(spark, sf_dir, "customer")
    spark_exprs = {
        "mktsegment": F.col("c_mktsegment"),
        "bal_sign": F.when(F.col("c_acctbal") < 0, "neg").otherwise("pos"),
        "bal_kbucket": F.expr(
            "CAST(CAST(floor(c_acctbal) AS BIGINT) div 1000 AS STRING)"
        ),
    }
    d38 = "decimal(38,0)"
    pairs2 = lambda c: (F.col(c).cast(d38) * (F.col(c) - 1))  # noqa: E731

    # ONE customer pass for all fields: explode each row into its three
    # (field, value) pairs and aggregate by (field, nation, value) — the
    # r07 work profile showed the per-field form scanning customer 8
    # times through 31 serial single-task jobs (guide §1.2, §2.3: the
    # exploded rows carry only nation + two short strings, and every
    # per-field / per-block / per-nation aggregate below is an exact
    # integer rollup of this table)
    f0 = _LINK_FIELDS[0][0]
    base = cust.select(
        "c_nationkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(fname).alias("field"),
                        spark_exprs[fname].alias("v"),
                    )
                    for fname, _sql in _LINK_FIELDS
                ]
            )
        ).alias("fv"),
    ).select("c_nationkey", F.col("fv.field").alias("field"), F.col("fv.v").alias("v"))
    # (field, nation, value) counts: every downstream statistic is an
    # exact rollup; lazily pinned — four consumers inside one action
    g = (
        base.groupBy("field", "c_nationkey", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    gb = g.groupBy("field").agg(F.sum(pairs2("c")).alias("agree_block2"))
    cv = g.groupBy("field", "v").agg(F.sum("c").alias("c"))
    ga = cv.groupBy("field").agg(F.sum(pairs2("c")).alias("agree_all2"))
    # n = corpus rows = Σc over any one field's groups; nb = per-nation
    # rows likewise (exact identities — each field maps every row once)
    total = cv.filter(F.col("field") == f0).agg(
        F.sum("c").cast("long").alias("n")
    )
    block_tot = (
        g.filter(F.col("field") == f0)
        .groupBy("c_nationkey")
        .agg(F.sum("c").cast("long").alias("nb"))
        .agg(F.sum(F.expr("CAST(nb AS DECIMAL(38,0)) * (nb - 1)")).alias("bp2"))
    )
    return (
        gb.join(ga, "field")
        .crossJoin(F.broadcast(block_tot))
        .crossJoin(F.broadcast(total))
        .filter(
            (F.col("bp2") > 0)
            & (F.col("n") >= 2)
            & (F.col("agree_all2") > 0)
        )
        .select(
            "field",
            F.expr(
                "CAST(agree_block2 * 1000000 div bp2 AS BIGINT)"
            ).alias("block_agree_ppm"),
            F.expr(
                "CAST(agree_all2 * 1000000 div"
                " (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"
            ).alias("overall_agree_ppm"),
            F.expr(
                "CAST((agree_block2 * 1000000 div bp2) * 1000000 div"
                " (agree_all2 * 1000000 div"
                "  (CAST(n AS DECIMAL(38,0)) * (n - 1))) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("field")
    )


def _linkage_sql() -> str:
    blocks = []
    for fname, sql_expr in _LINK_FIELDS:
        blocks.append(
            f"""
SELECT '{fname}' AS field,
       CAST(ab.agree_block2 * 1000000 // bt.bp2 AS BIGINT)
         AS block_agree_ppm,
       CAST(aa.agree_all2 * 1000000 // (CAST(t.n AS HUGEINT) * (t.n - 1))
            AS BIGINT) AS overall_agree_ppm,
       CAST((ab.agree_block2 * 1000000 // bt.bp2) * 1000000 //
            (aa.agree_all2 * 1000000 // (CAST(t.n AS HUGEINT) * (t.n - 1)))
            AS BIGINT) AS lift_ppm
FROM (
  SELECT SUM(CAST(c AS HUGEINT) * (c - 1)) AS agree_block2 FROM (
    SELECT c_nationkey, {sql_expr} AS v, COUNT(*) AS c
    FROM customer GROUP BY 1, 2
  )
) ab
CROSS JOIN (
  SELECT SUM(CAST(c AS HUGEINT) * (c - 1)) AS agree_all2 FROM (
    SELECT {sql_expr} AS v, COUNT(*) AS c FROM customer GROUP BY 1
  )
) aa
CROSS JOIN (
  SELECT SUM(CAST(nb AS HUGEINT) * (nb - 1)) AS bp2 FROM (
    SELECT c_nationkey, COUNT(*) AS nb FROM customer GROUP BY 1
  )
) bt
CROSS JOIN (SELECT COUNT(*) AS n FROM customer) t
WHERE bt.bp2 > 0 AND t.n >= 2 AND aa.agree_all2 > 0
"""
        )
    return "\nUNION ALL\n".join(blocks) + "\nORDER BY field"


register(x_linkage_agreement_lift, _linkage_sql())
