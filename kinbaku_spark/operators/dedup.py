"""Deduplication operators for large-scale training-data pipelines.

The reference has no dedup surface (its closest concept is edge-identity
upsert, graph.py:1466-1492); these are the north-star extensions built on the
same engine. Every operator is pure DataFrame algebra over a shared
cross-engine hash (functions/hashing.py) so the DuckDB oracle replays it
exactly.

Scale design (100 TB):
- exact dedup: hash-shuffle on the content hash only (never the payload);
  one groupBy, map-side combine.
- MinHash-LSH: signatures are a single shuffle (explode shingles -> groupBy
  doc); banding turns the O(n^2) pair space into equi-join buckets; the
  exact-Jaccard verify join touches only candidate pairs.
- SimHash: one signature per doc; the pair join at 100 TB uses banded
  signatures (pigeonhole: hamming<=k pairs share one of k+1 bands); the
  all-pairs variant here is for oracle-checkable thresholds beyond band
  reach.
- embedding near-dup: cosine over banded-LSH buckets (similarity.py); the
  all-pairs form is the verification baseline.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window, functions as F

from kinbaku_spark.functions.hashing import HASH_PRIME, md5_long, minhash_coeffs
from kinbaku_spark.functions.textfns import shingle_array

SIMHASH_BITS = 60  # the md5-derived content hash is 60 bits


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct content tuple.

    Shuffles on the full 128-bit md5 of the content, not the payload: at
    100 TB the shuffle carries 32B+id per row instead of the document text,
    and 128 bits keeps collision probability negligible at any realistic
    corpus size (2^-128 birthday bound dominates).

    NULLs are sentinel-coded before hashing — concat_ws silently drops
    nulls, which would dedup NULL content with empty strings.
    """
    coded = [F.coalesce(F.col(c), F.lit("\x00NULL")) for c in content_cols]
    h = F.md5(F.concat_ws("\x1f", *coded)).alias("__h")
    keep = (
        df.select(F.col(id_col), h)
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def shingle_hashes(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, h): distinct word-n-gram shingles hashed to 60 bits."""
    return docs.select(
        F.col(id_col), F.explode(shingle_array(text_col, n)).alias("__s")
    ).select(id_col, md5_long(F.col("__s")).alias("h"))


def span_postings(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, pos, h): POSITIONAL (non-distinct) word-n-gram span postings —
    the offset-extended postings the removal half of exact-substring dedup
    needs (Lee et al. 2022: find the duplicated span, then cut it out).
    ``pos`` is the 0-based index of the span's first token, so the span
    covers tokens [pos, pos + n). Shares the tokenization + gram
    construction with :func:`shingle_hashes` via textfns.gram_array (one
    definition — a tokenization change cannot desynchronize the
    pair-detection and removal halves), minus the distinct, plus the
    position from posexplode."""
    from kinbaku_spark.functions.textfns import gram_array

    return docs.select(
        F.col(id_col), F.posexplode(gram_array(text_col, n)).alias("pos", "__s")
    ).select(id_col, "pos", md5_long(F.col("__s")).alias("h"))


def minhash_signatures(
    shingles: DataFrame, id_col: str, n_hashes: int = 32, seed: int = 42
) -> DataFrame:
    """One row per doc with mh0..mh{n-1} universal-hash minima."""
    hp = F.col("h") % HASH_PRIME
    aggs = [
        F.min((F.lit(a) * hp + F.lit(b)) % HASH_PRIME).alias(f"mh{j}")
        for j, (a, b) in enumerate(minhash_coeffs(n_hashes, seed))
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def _jaccard_verify(
    candidates: DataFrame,
    shingles: DataFrame,
    id_col: str,
    threshold: float,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over candidate pairs only (the LSH contract: banding
    prunes, verification decides)."""
    # Per-doc shingle SET carried as one array row (shingles are distinct
    # per doc), so verification is two doc-keyed joins + a codegen
    # array_intersect — instead of re-exploding postings per candidate
    # (2 wide joins + a pair-keyed groupBy). At 100 TB arrays are bounded
    # by document length, and the candidate table shuffles once per side.
    # ``sets``: a MATERIALIZED (id, hs) per-doc set table built from the
    # SAME shingle index (queries/dedup_state.shingle_sets — the 100 TB
    # shape); when absent, the aggregation runs inline per call.
    if sets is None:
        sets = shingles.groupBy(id_col).agg(F.collect_list("h").alias("hs"))
    va = sets.select(F.col(id_col).alias(f"{id_col}_a"), F.col("hs").alias("hs_a"))
    vb = sets.select(F.col(id_col).alias(f"{id_col}_b"), F.col("hs").alias("hs_b"))
    # Size-ratio prune BEFORE the intersection (r08, guide §1.2/§4 — keep
    # it codegen): inter <= min(na, nb), so jaccard <= nmin/nmax. IEEE
    # division of exact integers and ROUND are both monotone, and at
    # inter = nmin the bound is attained by the SAME float expression the
    # final filter evaluates — so a pair failing
    # round(nmin/nmax, 6) >= threshold provably fails the final
    # round(jaccard, 6) >= threshold too. Dropping it here skips the
    # O(na+nb) array_intersect for every size-skewed candidate (banding
    # collides plenty of short-vs-long pairs) without changing one result
    # row.
    sized = (
        candidates.join(va, f"{id_col}_a")
        .join(vb, f"{id_col}_b")
        .select(
            f"{id_col}_a",
            f"{id_col}_b",
            "hs_a",
            "hs_b",
            F.size("hs_a").alias("na"),
            F.size("hs_b").alias("nb"),
        )
        .filter(
            F.round(F.least("na", "nb") / F.greatest("na", "nb"), 6)
            >= threshold
        )
    )
    return (
        sized.select(
            f"{id_col}_a",
            f"{id_col}_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
            "na",
            "nb",
        )
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(f"{id_col}_a", f"{id_col}_b", "jaccard")
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int | None = None,
    seed: int | None = None,
    sh: DataFrame | None = None,
    sig: DataFrame | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH + exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    Deterministic end-to-end: same shingles, same universal-hash coefficients,
    same verification arithmetic in Spark and the SQL oracle.
    """
    # NOTE: no .persist() on an inline-built shingle table — its three
    # consumers (signatures, set sizes, pair intersection) share identical
    # shuffle subplans that Spark's ReusedExchange already dedups; a cache
    # barrier measured ~2x slower at sf0.1. Callers with a MATERIALIZED
    # shingle index (queries/dedup_state.py — the 100 TB shape) inject it
    # via sh/sig instead.
    # injection contract (ADVICE r02/r03): a parameter baked into an
    # injected index at build time cannot be re-verified from the DataFrame,
    # so accepting an EXPLICIT value alongside that injected table would
    # silently change dedup semantics (the arg would be ignored). The
    # sentinel default is None — only a caller-passed value trips the guard,
    # so a caller who built the injected table with some value and passes
    # the same value consistently is still (correctly) told to stop passing
    # it: the guard cannot verify equality with what the table baked in.
    # Scope: shingle_n is fixed by an injected sh (shingle_hashes takes no
    # seed); seed is fixed by an injected sig (and still HONORED when only
    # sh is injected, since signatures are then built here from it).
    if sh is not None and shingle_n is not None:
        raise ValueError(
            "shingle_n is ignored when sh is injected — it is fixed at"
            " shingle-index build time; rebuild the injected index instead"
        )
    if sig is not None and seed is not None:
        raise ValueError(
            "seed is ignored when sig is injected — it is fixed at"
            " signature build time; rebuild the injected signatures instead"
        )
    if sh is None:
        sh = shingle_hashes(docs, id_col, text_col, 3 if shingle_n is None else shingle_n)
    if sig is None:
        sig = minhash_signatures(sh, id_col, n_hashes, 42 if seed is None else seed)
    else:
        # the banding below reads mh0..mh{n-1}; a signature table built
        # with a different width would silently band a prefix of
        # differently-built minima
        got = sum(1 for c in sig.columns if c.startswith("mh"))
        if got != n_hashes:
            raise ValueError(
                f"injected sig has {got} minhash columns, caller asked for"
                f" {n_hashes}"
            )
    if sets is not None and sh is None:
        raise ValueError(
            "sets is the per-doc array form of an injected shingle index —"
            " inject sh alongside it (dedup_state builds both)"
        )
    candidates = minhash_band_candidates(sig, id_col, n_hashes, bands)
    return _jaccard_verify(candidates, sh, id_col, threshold, sets=sets)


def minhash_band_candidates(
    sig: DataFrame, id_col: str, n_hashes: int, bands: int
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b, distinct) from a signature
    table — the pruning half of the MinHash contract, exposed separately so
    recall/precision evaluation can inspect PRE-verification candidates."""
    rows = n_hashes // bands
    band_cols = [
        F.struct(
            F.lit(k).alias("band"),
            F.concat_ws("|", *[F.col(f"mh{k * rows + r}") for r in range(rows)]).alias(
                "key"
            ),
        )
        for k in range(bands)
    ]
    banded = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    left = banded.select(
        F.col(id_col).alias(f"{id_col}_a"), "band", "key"
    )
    right = banded.select(F.col(id_col).alias(f"{id_col}_b"), "band", "key")
    return (
        left.join(right, ["band", "key"])
        .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .select(f"{id_col}_a", f"{id_col}_b")
        .distinct()
    )


def prefix_filter_candidates(
    sh: DataFrame,
    id_col: str,
    prefix_keep,
    size_cond=None,
) -> DataFrame:
    """Exact prefix-filtered candidate pairs (ppjoin-style) from a distinct
    (id, h) shingle-posting table.

    Theory: if the pair's required overlap is alpha (in terms of the SMALLER
    set S), then under ANY fixed global shingle order S's first
    |S| - alpha + 1 shingles must contain at least one shared shingle —
    otherwise all >= alpha shared shingles squeeze into the last alpha - 1
    slots. So joining each doc's prefix against the FULL postings of
    partners with >= its size yields a provable SUPERSET of qualifying
    pairs; the exact verify stage downstream keeps results identical to the
    naive all-pairs inverted-index join.

    Ordering ascending by document frequency (rarest first) keeps hot
    shingles out of prefixes: the naive self-join's df^2 hot buckets become
    (df-in-prefixes) x df, which is what makes this the 100 TB plan.

    prefix_keep: Column predicate over (n, r) — keep posting when its rank r
    (1-based, by ascending (df, h) within the doc) is inside the prefix for
    set size n. Use floor-widened lengths so float thresholds only ever
    LENGTHEN the prefix (superset stays guaranteed).
    size_cond: optional extra Column predicate over (n_p, n_f) for
    threshold-derived size pruning (e.g. Jaccard's n_f * t <= n_p).
    """
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # one doc-keyed shuffle computes both the set size (unordered count over
    # the doc partition) and the rarity rank — no separate sizes groupBy+join
    ranked = sh.join(dfreq, "h").select(
        id_col,
        "h",
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("n"),
        F.row_number()
        .over(Window.partitionBy(id_col).orderBy("df", "h"))
        .alias("r"),
    )
    prefix = ranked.filter(prefix_keep).select(
        F.col(id_col).alias("id_p"), F.col("n").alias("n_p"), "h"
    )
    full = ranked.select(F.col(id_col).alias("id_f"), F.col("n").alias("n_f"), "h")
    pred = (F.col("n_p") < F.col("n_f")) | (
        (F.col("n_p") == F.col("n_f")) & (F.col("id_p") != F.col("id_f"))
    )
    if size_cond is not None:
        pred = pred & size_cond
    return (
        prefix.join(full, "h")
        .filter(pred)
        .select(
            F.least("id_p", "id_f").alias(f"{id_col}_a"),
            F.greatest("id_p", "id_f").alias(f"{id_col}_b"),
        )
        .distinct()
    )


def jaccard_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = 3,
    sh: DataFrame | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold via prefix-filtered
    candidates (see prefix_filter_candidates) + exact verify.

    For J(A,B) >= t with sizes a <= b: overlap i >= t(a+b)/(1+t) >=
    (2t/(1+t))*a, so the smaller set probes with prefix length
    a - floor(2t/(1+t)*a) + 1; and i <= a forces the size filter
    b*t <= a (checked with +0.5 slack so integer boundaries can only
    widen the candidate set). Result set is identical to the naive
    inverted-index self-join; only the candidate generator changes.
    """
    # THREE consumers (df counts, ranked postings, verify sets) — eager
    # checkpoint or the shingling regex+hash scan re-runs per consumer;
    # an injected sh (queries/dedup_state.py) is already persisted
    if sh is None:
        sh = shingle_hashes(docs, id_col, text_col, shingle_n).localCheckpoint(
            eager=True
        )
    frac = 2.0 * threshold / (1.0 + threshold)
    keep = F.col("r") <= F.col("n") - F.floor(F.lit(frac) * F.col("n")) + 1
    size_cond = F.col("n_f") * F.lit(threshold) <= F.col("n_p") + F.lit(0.5)
    if sets is not None and sh is None:
        raise ValueError(
            "sets is the per-doc array form of an injected shingle index —"
            " inject sh alongside it (dedup_state builds both)"
        )
    candidates = prefix_filter_candidates(sh, id_col, keep, size_cond)
    return _jaccard_verify(candidates, sh, id_col, threshold, sets=sets)


def simhash_signatures_df(
    shingles: DataFrame, id_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Per-doc SimHash: bit b is the sign of sum(+1/-1) of feature-hash bit b
    over the doc's shingles. One groupBy; 60 conditional sums stay entirely
    in whole-stage codegen."""
    sums = shingles.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sig = functools.reduce(
        lambda acc, b: acc
        + F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0)),
        range(bits),
        F.lit(0).cast("long"),
    )
    return sums.select(F.col(id_col), sig.alias("sig"))


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 10,
    shingle_n: int = 3,
    banded: bool = False,
    bands: int = 4,
    sh: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming.

    banded=True: pigeonhole banding (hamming<=bands-1 pairs MUST share a
    band) — exact for max_hamming < bands, and the only viable plan at
    100 TB. banded=False: all-pairs compare, used when the threshold exceeds
    band reach (still one signature row per doc, so n^2 over docs, not rows).

    sig: an already-materialized (id, sig) SimHash table (the minhash
    sig= pattern — queries/dedup_state.simhash_sigs for the corpus, or a
    caller-pinned stratum table); when absent it is built from sh/docs
    and eagerly checkpointed here.
    """
    if sig is None:
        if sh is None:
            sh = shingle_hashes(docs, id_col, text_col, shingle_n)
        # both compare sides (2 consumers; 2·bands when banded) read the
        # signature table — checkpoint it or the shingle scan + 60-sum
        # aggregate re-run per consumer
        sig = simhash_signatures_df(sh, id_col).localCheckpoint(eager=True)
    a = sig.select(F.col(id_col).alias(f"{id_col}_a"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col(id_col).alias(f"{id_col}_b"), F.col("sig").alias("sig_b"))
    if banded:
        width = SIMHASH_BITS // bands
        mask = (1 << width) - 1
        def band_key(col, k):
            return F.shiftright(col, k * width).bitwiseAND(F.lit(mask))
        pieces = []
        for k in range(bands):
            la = a.withColumn("bk", band_key(F.col("sig_a"), k)).withColumn(
                "band", F.lit(k)
            )
            lb = b.withColumn("bk", band_key(F.col("sig_b"), k)).withColumn(
                "band", F.lit(k)
            )
            pieces.append(la.join(lb, ["band", "bk"]).drop("band", "bk"))
        pairs = functools.reduce(lambda x, y: x.unionByName(y), pieces).distinct()
    else:
        pairs = a.crossJoin(b)
    return (
        pairs.filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(f"{id_col}_a", f"{id_col}_b", "hamming")
        .distinct()
    )


def duplicate_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id", max_iter: int = 64
) -> DataFrame:
    """Connected components over near-duplicate pairs: every doc labeled with
    the min id reachable through dup edges (its cluster representative).

    Min-label propagation WITH pointer-doubling shortcutting, run to
    FIXPOINT (operators/cc_kernel.py): O(log diameter) rounds, deterministic
    regardless of iteration order, so the SQL oracle's recursive closure
    produces the identical labeling. ``max_iter`` is a runaway guard only —
    exhausting it raises ``CCConvergenceError`` instead of silently
    returning unconverged labels (the round-4 hazard: a plain bounded sweep
    truncated any component whose label distance exceeded the cap).

    Serial tail (r08, the Multistep pattern operators/components.scc
    already carries, applied per VERDICT r07 next-round #8): components
    only ever merge through PAIR edges, so when the symmetrized pair set
    fits the driver (same memory class as the broadcast gate), one
    in-memory union-find over the pair ENDPOINTS replaces the whole
    multi-round distributed fixpoint — docs are NEVER collected;
    non-endpoint docs keep their own id through the coalesce of one
    broadcast map join. The labeling is identical by construction (the CC
    partition is unique and the representative is the component min either
    way; differential-locked in tests/test_property_dedup.py and the
    streaming split-invariance suite). ``KB_CC_LOCAL_THRESHOLD`` overrides
    the gate; 0 forces the distributed kernel (tests lock both paths).

    Both paths return one row per doc, and every cluster id is a doc: a
    pair naming an id absent from ``docs`` is ignored.
    """
    from kinbaku_spark.knobs import env_int
    from kinbaku_spark.operators.cc_kernel import min_label_fixpoint

    # LAZY checkpoint + count (the merged materialize-and-probe pattern):
    # the count materializes the pin — without a pin the FULL upstream
    # pair pipeline (typically MinHash candidates + verify) would
    # re-execute once per fixpoint iteration per consumer (measured
    # 15 s -> 2 s on curate_corpus at sf0.1) — and doubles as the serial-
    # tail gate, so the eager checkpoint job disappears.
    und = (
        pairs.select(
            F.col(f"{id_col}_a").alias("u"), F.col(f"{id_col}_b").alias("v")
        )
        .union(
            pairs.select(F.col(f"{id_col}_b").alias("u"), F.col(f"{id_col}_a").alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = und.count()
    threshold = env_int("KB_CC_LOCAL_THRESHOLD", 100000)
    if threshold and n_edges <= threshold:
        from pyspark.sql.types import StructField, StructType

        key_t = docs.schema[id_col].dataType
        # a pair naming an id absent from docs is no edge, as in the
        # distributed kernel: the collect also brings back which endpoints
        # are docs (one semi-join of docs against the broadcast tail-sized
        # endpoint list)
        ends = F.broadcast(und.select(F.col("u").alias("__cc_k")))
        is_doc = (
            docs.select(F.col(id_col).alias("u"))
            .join(ends, F.col("u") == F.col("__cc_k"), "left_semi")
            .select("u", F.lit(None).cast(key_t).alias("v"))
        )
        rows = (
            und.withColumn("pair", F.lit(True))
            .unionByName(is_doc, allowMissingColumns=True)
            .collect()
        )
        members = {r.u for r in rows if not r.pair}
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            if not (r.pair and r.u in members and r.v in members):
                continue
            parent.setdefault(r.u, r.u)
            parent.setdefault(r.v, r.v)
            ru, rv = find(r.u), find(r.v)
            if ru != rv:
                parent[rv] = ru
        comp_min: dict = {}
        for x in parent:
            root = find(x)
            if root not in comp_min or x < comp_min[root]:
                comp_min[root] = x
        schema = StructType([StructField("__cc_k", key_t), StructField("__cc_m", key_t)])
        relabel = docs.sparkSession.createDataFrame(
            [(x, comp_min[find(x)]) for x in parent], schema
        )
        return (
            docs.select(F.col(id_col))
            .join(F.broadcast(relabel), F.col(id_col) == F.col("__cc_k"), "left")
            .select(
                id_col,
                F.coalesce("__cc_m", F.col(id_col)).alias("cluster_id"),
            )
        )
    labels = docs.select(F.col(id_col).alias("u"), F.col(id_col).alias("label"))
    labels = min_label_fixpoint(labels, und, max_rounds=max_iter)
    return labels.select(F.col("u").alias(id_col), F.col("label").alias("cluster_id"))


def incremental_near_duplicates(
    corpus_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Incremental MinHash dedup: probe NEW documents against an existing
    corpus index without re-pairing the corpus with itself.

    This is the production ingest shape at 100 TB: the corpus side
    (signatures banded to keys + shingle table) is computed once and stored
    — here it is derived inline from ``corpus_docs``, but the plan is
    identical when those two tables are read from Parquet, bucketed by the
    band key so the probe join is shuffle-free on the corpus side. Each
    ingest batch only pays for its own shingling plus one join per band
    against the index, then exact-Jaccard verification on candidates.

    Returns (id_new, id_corpus, jaccard) for pairs >= threshold.
    """
    rows = n_hashes // bands

    def banded_keys(sig: DataFrame) -> DataFrame:
        cols = [
            F.struct(
                F.lit(k).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh{k * rows + r}") for r in range(rows)]
                ).alias("key"),
            )
            for k in range(bands)
        ]
        return sig.select(
            F.col(id_col), F.explode(F.array(*cols)).alias("bk")
        ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    sh_c = shingle_hashes(corpus_docs, id_col, text_col, shingle_n)
    sh_n = shingle_hashes(new_docs, id_col, text_col, shingle_n)
    b_c = banded_keys(minhash_signatures(sh_c, id_col, n_hashes, seed)).select(
        F.col(id_col).alias(f"{id_col}_corpus"), "band", "key"
    )
    b_n = banded_keys(minhash_signatures(sh_n, id_col, n_hashes, seed)).select(
        F.col(id_col).alias(f"{id_col}_new"), "band", "key"
    )
    cand = (
        b_n.join(b_c, ["band", "key"])
        .select(f"{id_col}_new", f"{id_col}_corpus")
        .distinct()
    )
    sizes_n = sh_n.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_new"))
    sizes_c = sh_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_corpus"))
    inter = (
        cand.join(
            sh_n.select(F.col(id_col).alias(f"{id_col}_new"), "h"), f"{id_col}_new"
        )
        .join(
            sh_c.select(F.col(id_col).alias(f"{id_col}_corpus"), "h"),
            [f"{id_col}_corpus", "h"],
        )
        .groupBy(f"{id_col}_new", f"{id_col}_corpus")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes_n.select(F.col(id_col).alias(f"{id_col}_new"), "n_new"),
            f"{id_col}_new",
        )
        .join(
            sizes_c.select(F.col(id_col).alias(f"{id_col}_corpus"), "n_corpus"),
            f"{id_col}_corpus",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_new") + F.col("n_corpus") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(f"{id_col}_new", f"{id_col}_corpus", "jaccard")
    )
