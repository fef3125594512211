"""Property-based differential tests (hypothesis): dedup operators vs
pure-Python reference implementations on random corpora — extends the
reference's randomized-differential strategy beyond fixed fixtures.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from kinbaku_spark.operators.dedup import (
    duplicate_clusters,
    exact_dedup,
    jaccard_near_duplicates,
)

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]

doc_strategy = st.lists(
    st.sampled_from(VOCAB), min_size=0, max_size=12
).map(lambda ws: " ".join(ws))
corpus_strategy = st.lists(doc_strategy, min_size=1, max_size=12)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _shingles(text: str, n: int = 3) -> set[str]:
    ws = text.strip().split()
    if len(ws) < n:
        return set()
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def _corpus_df(spark, corpus):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )


@given(corpus=corpus_strategy)
@SETTINGS
def test_exact_dedup_matches_python(spark, corpus):
    df = _corpus_df(spark, corpus)
    got = sorted(r["doc_id"] for r in exact_dedup(df, ["text"], "doc_id").collect())
    first_seen: dict[str, int] = {}
    for i, t in enumerate(corpus):
        first_seen.setdefault(t, i)
    assert got == sorted(first_seen.values())


@given(corpus=corpus_strategy)
@SETTINGS
def test_jaccard_pairs_match_python(spark, corpus):
    df = _corpus_df(spark, corpus)
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in jaccard_near_duplicates(df, threshold=0.5).collect()
    }
    want = {}
    sh = [_shingles(t) for t in corpus]
    for i in range(len(corpus)):
        for j in range(i + 1, len(corpus)):
            inter = len(sh[i] & sh[j])
            union = len(sh[i] | sh[j])
            if union and inter / union >= 0.5:
                want[(i, j)] = round(inter / union, 6)
    assert got == want


@given(
    n=st.integers(min_value=2, max_value=10),
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=15
    ),
)
@SETTINGS
def test_clusters_match_union_find(spark, n, edges):
    edges = [(a, b) for a, b in edges if a < b and a < n and b < n]
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        edges or [(None, None)], "doc_id_a long, doc_id_b long"
    ).dropna()
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(docs, pairs).collect()
    }
    # union-find reference
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}
    assert got == want


def test_prefix_filter_survives_hot_shingle_skew(spark):
    """A shingle shared by EVERY document must not produce a quadratic
    candidate bucket: ranked ascending by document frequency, the hot
    shingle never lands in any prefix, so candidates come only from rare
    shingles — while true near-dups (sharing rare shingles) still pair up
    and the verified result equals the pure-Python reference."""
    from pyspark.sql import functions as F

    from kinbaku_spark.operators.dedup import (
        jaccard_near_duplicates,
        prefix_filter_candidates,
        shingle_hashes,
    )

    n_docs = 200
    hot = "alpha beta gamma"  # one shared leading 3-shingle per doc
    corpus = [f"{hot} u{i}a u{i}b u{i}c u{i}d u{i}e" for i in range(n_docs)]
    corpus[n_docs - 1] = corpus[0] + " extraword"  # one true near-dup pair
    df = _corpus_df(spark, corpus)

    sh = shingle_hashes(df, "doc_id", "text", 3)
    frac = 2.0 * 0.8 / 1.8
    keep = F.col("r") <= F.col("n") - F.floor(F.lit(frac) * F.col("n")) + 1
    cand = prefix_filter_candidates(sh, "doc_id", keep)
    n_cand = cand.count()
    # naive inverted-index self-join would emit C(200, 2) = 19900 pairs
    # through the hot shingle; the prefix filter must stay near-linear
    assert n_cand < 5 * n_docs, f"quadratic candidate bucket: {n_cand}"

    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in jaccard_near_duplicates(df, threshold=0.8).collect()
    }
    sh_py = [_shingles(t) for t in corpus]
    want = {
        (a, b)
        for a in range(n_docs)
        for b in range(a + 1, n_docs)
        if sh_py[a] | sh_py[b]
        and len(sh_py[a] & sh_py[b]) / len(sh_py[a] | sh_py[b]) >= 0.8
    }
    assert got == want and (0, n_docs - 1) in got


# -- FastSS deletion-neighborhood banding (x_fuzzy_match candidate rule) ------

def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _del_band(s: str) -> set[str]:
    """{s} union {1-deletions of s} — the x_fuzzy_match banding key set."""
    return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}


@given(
    st.lists(st.text(alphabet="abcd", min_size=0, max_size=8), min_size=2, max_size=12)
)
@settings(max_examples=200, deadline=None)
def test_deletion_band_covers_all_dist1_pairs(strings):
    """The FastSS exactness claim behind x_fuzzy_match: EVERY pair at
    levenshtein distance <= 1 shares a deletion-band key (substitution:
    deleting the differing position from both sides yields one string;
    indel: the shorter string is itself a 1-deletion of the longer) — so
    the equi-join on the band key can never lose a distance<=1 winner."""
    for i, a in enumerate(strings):
        for b in strings[i + 1:]:
            if _levenshtein(a, b) <= 1:
                assert _del_band(a) & _del_band(b), (a, b)


def test_span_removal_cuts_license_header_keeps_owner(spark):
    """The motivating Lee et al. case end-to-end: a 20-token licence
    header shared by every doc is removed from all but the owner (min
    doc_id), unique tails survive verbatim, and overlapping duplicated
    spans merge into one cut."""
    from kinbaku_spark.queries import dedup
    from kinbaku_spark.state import reset

    header = " ".join(f"lic{i}" for i in range(dedup.SPAN_N))
    rows = [
        (i, f"{header} tail{i}a tail{i}b tail{i}c", "en", "t", 0)
        for i in range(4)
    ]
    # doc 10: the header twice back-to-back — 21 duplicated span starts
    # (every window inside header+header containing only lic tokens),
    # coverage must merge into ONE contiguous cut of 2*SPAN_N tokens
    rows.append((10, f"{header} {header} own10", "en", "t", 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )

    import tempfile, os
    sf = tempfile.mkdtemp(prefix="kb_span_case_")
    docs.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    try:
        out = {
            r["doc_id"]: r
            for r in dedup.x_substring_dedup_apply(spark, sf).collect()
        }
        # owner (doc 0) keeps everything -> not in the output at all
        assert 0 not in out
        for i in (1, 2, 3):
            r = out[i]
            assert r["n_removed"] == dedup.SPAN_N
            assert r["text_clean"] == f"tail{i}a tail{i}b tail{i}c"
        r10 = out[10]
        assert r10["text_clean"] == "own10"
        assert r10["n_removed"] == 2 * dedup.SPAN_N
    finally:
        reset()  # drop the persisted span index for the temp sf_dir
        import shutil
        shutil.rmtree(sf, ignore_errors=True)
