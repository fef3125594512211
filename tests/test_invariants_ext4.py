"""Structural invariants for the round-2 batch-4 operators (real media
decode, edit-distance dedup) — properties that must hold on ANY input,
checked at sf0.001 on top of the oracle-parity gate.

Where cheap, results are re-derived independently in plain Python from
the collected base tables, so a Spark-side logic bug and a matching
oracle bug cannot cancel out.
"""

from __future__ import annotations

import pytest

from kinbaku_spark.queries import QUERIES
from kinbaku_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def run(spark, sf_dir):
    def _run(name):
        return QUERIES[name](spark, sf_dir).collect()

    return _run


def test_image_decode_real_matches_synthesis_params(run, spark, sf_dir):
    """The decoded dims/pixel sums must equal the synthesis parameters —
    re-derived in plain Python from the documents table (an actual
    encode→decode identity, not an oracle echo)."""
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    rows = run("x_image_decode_real")
    assert len(rows) == len(docs)
    for r in rows:
        n = docs[r.doc_id]
        w, h, v = n % 31 + 1, n % 17 + 1, r.doc_id % 251
        assert (r.width, r.height) == (w, h)
        assert r.fmt == ("png" if r.doc_id % 2 == 0 else "bmp")
        assert r.pixel_sum == w * h * 3 * v


def test_audio_decode_real_matches_synthesis_params(run, spark, sf_dir):
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    rates = (16000, 22050, 44100)
    rows = run("x_audio_decode_real")
    assert len(rows) == len(docs)
    for r in rows:
        n = docs[r.doc_id]
        sr, nf, v = rates[r.doc_id % 3], n % 100 + 1, r.doc_id % 1001 - 500
        assert (r.sample_rate, r.n_frames) == (sr, nf)
        assert r.sample_sum == nf * v
        assert r.duration_us == nf * 1_000_000 // sr


def test_edit_distance_pairs_verified_in_python(run, spark, sf_dir):
    """Every reported pair must satisfy the relative threshold with the
    TRUE Levenshtein distance, recomputed in pure Python."""
    from kinbaku_spark.queries.dedup import ED_REL_PCT

    def lev(a: str, b: str) -> int:
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    rows = run("x_dedup_edit_distance")
    seen = set()
    for r in rows:
        assert r.doc_id_a < r.doc_id_b
        assert (r.doc_id_a, r.doc_id_b) not in seen
        seen.add((r.doc_id_a, r.doc_id_b))
        true_ed = lev(texts[r.doc_id_a], texts[r.doc_id_b])
        assert r.edit_dist == true_ed
        mx = max(len(texts[r.doc_id_a]), len(texts[r.doc_id_b]))
        assert true_ed * 100 <= ED_REL_PCT * mx
        assert r.rel_ppm == true_ed * 1_000_000 // mx


def test_edit_distance_candidates_bound_recall_vs_minhash(run):
    """Band candidates are shared with x_dedup_minhash, so every
    minhash-verified pair at Jaccard >= 0.8 that is also within the edit
    threshold must appear — spot the containment direction we can check:
    edit-distance results are a subset of the band-candidate universe, and
    identical-text pairs (jaccard 1.0, ed 0) must be in BOTH."""
    ed_pairs = {(r.doc_id_a, r.doc_id_b) for r in run("x_dedup_edit_distance")}
    exact_ed0 = {
        (r.doc_id_a, r.doc_id_b)
        for r in run("x_dedup_edit_distance")
        if r.edit_dist == 0
    }
    mh_pairs = {(r.doc_id_a, r.doc_id_b) for r in run("x_dedup_minhash")}
    # ed == 0 means byte-identical text -> identical shingles -> identical
    # signatures -> same band keys -> minhash must report jaccard 1.0
    assert exact_ed0 <= mh_pairs
    assert all(a < b for a, b in ed_pairs)


def test_kcenter_picks_are_true_farthest_first(run, spark, sf_dir):
    """Replay greedy farthest-first in plain Python over the collected
    embeddings (micro-unit integer L2) — the incremental-min rewrite must
    still produce the exact greedy sequence."""
    from kinbaku_spark.queries.similarity import KC_PICKS

    import math

    emb = {
        int(r["vec_id"]): [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    rows = sorted(run("x_coreset_kcenter"), key=lambda r: r.pick_round)
    assert rows[0].vec_id == 0 and rows[0].d2 == 0
    chosen = [0]
    d2 = {
        v: sum((a - b) ** 2 for a, b in zip(q, emb[0]))
        for v, q in emb.items()
        if v != 0
    }
    for r in rows[1:]:
        best = min(d2, key=lambda v: (-d2[v], v))
        assert (r.vec_id, r.d2) == (best, d2[best])
        chosen.append(best)
        del d2[best]
        for v in d2:
            d = sum((a - b) ** 2 for a, b in zip(emb[v], emb[best]))
            if d < d2[v]:
                d2[v] = d
    assert len(chosen) == min(KC_PICKS, len(emb))


def test_image_resize_real_replayed_in_python(run, spark, sf_dir):
    """Replay the decode->NN-resize pipeline in pure Python (no numpy
    fancy-indexing, no Spark) for every document."""
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    from kinbaku_spark.queries.media import RESIZE_TO

    rows = run("x_image_resize_real")
    assert len(rows) == len(docs)
    for r in rows:
        n = docs[r.doc_id]
        w, h = n % 31 + 1, n % 17 + 1
        assert (r.src_w, r.src_h) == (w, h)
        total = 0
        for yy in range(RESIZE_TO):
            for xx in range(RESIZE_TO):
                sx, sy = xx * w // RESIZE_TO, yy * h // RESIZE_TO
                total += 3 * ((sx + sy) % 251)
        assert r.resized_sum == total
