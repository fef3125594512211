"""100x-corpus scale drill for the CANONICAL dedup forms (VERDICT r03
next-round #6): the 10x drill is green, so repeat the disjoint-isomorphic-
shard construction at 100x (500,000 docs / 200,000 vectors) to catch the
next constant that only moves at a decade.

Construction, invariants, and caveats are stress_pipeline_10x.py's
(injective word renaming per copy -> shingle-local shards; dim-rolled
embedding copies -> within-copy geometry preserved, copies NOT mutually
dissimilar). Only the canonical scale-path forms run here — the all-pairs
verification baselines are O(n²) by declared contract and excluded by
design.

Expected non-linearity to LOOK FOR (not assert away): hyperplane-LSH
bucket sizes grow linearly with corpus size at FIXED band width, so the
banded candidate count Σ|bucket|² grows quadratically once buckets
saturate — the at-scale remedy is wider bands (more planes), a
parameter of the operator, exercised here as the `width-scaled` row.

Usage: python scripts/stress_pipeline_100x.py
Writes STRESS_PIPELINE_100X.md.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("KB_CACHE_TABLES", "1")

from stress_pipeline_10x import BASE, build_shards, timed  # noqa: E402

from kinbaku_spark.session import get_spark  # noqa: E402

HUNDREDX = "/tmp/kb_stress_100x"
COPIES = 100

PICKS = [
    "x_dedup_exact",
    "x_dedup_minhash",
    "x_dedup_simhash_banded",
    "x_dedup_embedding_lsh",
    "x_semantic_dedup",
    "x_substring_dedup",
    "x_substring_dedup_apply",
]

EXACT_100X = {
    "x_dedup_exact",
    "x_substring_dedup",
    "x_substring_dedup_apply",
}


def width_scaled_lsh(spark, sf_dir: str):
    """The at-scale parameterization of the embedding LSH: 60 planes in
    4x15-bit bands (32,768 buckets per band) instead of the registered
    32/4x8 — the knob a 100x corpus turns to keep buckets, and therefore
    Σ|bucket|² candidates, bounded. 60 not 64: the packed signature is a
    BIGINT and bit 63 would overflow it (same 60-bit discipline as the
    md5 hash idiom)."""
    from kinbaku_spark.operators.similarity import (
        embedding_near_duplicates_lsh,
        random_hyperplanes,
    )
    from kinbaku_spark.queries.dedup import EMB_NEAR_DUP_THRESHOLD
    from kinbaku_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates_lsh(
        emb,
        threshold=EMB_NEAR_DUP_THRESHOLD,
        planes=random_hyperplanes(n_planes=60, dim=64, seed=11),
        bands=4,
    )


if __name__ == "__main__":
    spark = get_spark(app_name="kb_stress_100x")
    t0 = time.perf_counter()
    build_shards(spark, HUNDREDX, COPIES)
    print(f"built 100x corpus in {time.perf_counter() - t0:.1f}s", flush=True)

    lines = [
        "# 100x-corpus scale drill (scripts/stress_pipeline_100x.py)",
        "",
        "sf0.1 (5,000 docs / 2,000 vecs) vs 100 disjoint isomorphic shards",
        "(500,000 docs / 200,000 vecs), local[32], warm min-of-2 at base,",
        "single timed run at 100x. Canonical scale-path forms only.",
        "",
        "| query | sf0.1 s | 100x s | time ratio | sf0.1 rows | 100x rows |"
        " exact-100x rows |",
        "|---|---|---|---|---|---|---|",
    ]
    ok = True
    for name in PICKS:
        tb, rb = timed(spark, name, BASE)
        tx, rx = timed(spark, name, HUNDREDX, reps=1)
        exact = "n/a"
        if name in EXACT_100X:
            exact = "PASS" if rx == COPIES * rb else f"FAIL ({rx} != 100*{rb})"
            ok = ok and rx == COPIES * rb
        lines.append(
            f"| {name} | {tb:.2f} | {tx:.2f} | {tx / tb:.1f}x | {rb} | {rx} |"
            f" {exact} |"
        )
        print(lines[-1], flush=True)
        # incremental write: an exception in a later row (or the extra
        # width-scaled leg) must not lose the finished rows
        with open(os.path.join(ROOT, "STRESS_PIPELINE_100X.md"), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    # the width-scaling readout for the LSH form
    def force(df):
        df.write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    force(width_scaled_lsh(spark, HUNDREDX))
    t_wide = time.perf_counter() - t0
    rows_wide = width_scaled_lsh(spark, HUNDREDX).count()
    lines += [
        "",
        f"`x_dedup_embedding_lsh` width-scaled variant (60 planes, 4x15-bit"
        f" bands — the parameter a 100x corpus turns): {t_wide:.2f}s,"
        f" {rows_wide} rows at 100x.",
        "",
        "Reading: `time ratio` ~<= 100x means the plan scales linearly in",
        "the corpus (fixed per-job floors make base-input times look worse",
        "per row). The exact-100x row checks prove dedup semantics stay",
        "shard-local at this scale — in particular the NEW df-capped",
        "x_substring_dedup and its span-removal apply form (VERDICT r03",
        "#2/#3) must emit exactly 100 disjoint copies of the base output.",
        "The embedding-LSH rows document bucket saturation honestly: this",
        "construction makes the TRUE >=0.4 pair set itself ~quadratic",
        "across the 100 mutually-similar dim-rolled copies, so no index",
        "can emit it in linear time — the banded plan is absorbing a",
        "quadratic OUTPUT, not broken. The width-scaled variant bounds",
        "candidate work but pays recall on this adversarially dense",
        "corpus (per-band collision probability falls from cos-angle^8",
        "to ^15). Real-corpus guidance stands — band width grows with",
        "log n — but when the duplicate structure is itself quadratic the",
        "honest knobs are dup-clustering (x_dedup_clusters collapses the",
        "pair set) or a tighter threshold, not banding alone.",
    ]
    with open(os.path.join(ROOT, "STRESS_PIPELINE_100X.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("exact-100x invariants:", "ALL PASS" if ok else "FAILURES", flush=True)
    sys.exit(0 if ok else 1)
