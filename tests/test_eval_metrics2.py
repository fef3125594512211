"""Classifier-eval family (queries/eval.py): the integer-exact ROC
AUC must equal a brute-force O(P*N) pairwise count (the Mann-Whitney
definition: P(score_pos > score_neg) + 0.5 P(=)), and the confusion/
calibration readouts must match a pure-Python replay."""

from __future__ import annotations

from fractions import Fraction

from kinbaku_spark.queries.eval import (
    CONFUSION_THRESHOLDS_PCT,
    x_calibration_bins,
    x_confusion_f1,
    x_roc_auc,
)
from kinbaku_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _scored_rows(spark):
    from pyspark.sql import functions as F

    from kinbaku_spark.operators.text import text_quality

    docs = load_table(spark, SF, "documents")
    q = text_quality(docs).select(
        "doc_id",
        F.round(F.col("quality_score") * 1_000_000).cast("long").alias("s"),
    )
    lab = docs.select("doc_id", (F.col("lang") == "en").cast("int").alias("y"))
    return [(r.s, r.y) for r in q.join(lab, "doc_id").collect()]


def test_roc_auc_equals_bruteforce_pairwise(spark):
    rows = _scored_rows(spark)
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    assert pos and neg
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    auc = Fraction(2 * wins + ties, 2 * len(pos) * len(neg))
    want_ppm = int(auc * 1_000_000)  # floor, matching integer div
    got = x_roc_auc(spark, SF).collect()[0]
    assert (got.n_pos, got.n_neg) == (len(pos), len(neg))
    assert got.auc_ppm == want_ppm, (got.auc_ppm, want_ppm)


def test_confusion_f1_matches_python_replay(spark):
    rows = _scored_rows(spark)
    got = {r.thr_pct: r for r in x_confusion_f1(spark, SF).collect()}
    assert sorted(got) == sorted(CONFUSION_THRESHOLDS_PCT)
    for t in CONFUSION_THRESHOLDS_PCT:
        tp = sum(1 for s, y in rows if s >= t * 10_000 and y == 1)
        fp = sum(1 for s, y in rows if s >= t * 10_000 and y == 0)
        fn = sum(1 for s, y in rows if s < t * 10_000 and y == 1)
        tn = sum(1 for s, y in rows if s < t * 10_000 and y == 0)
        r = got[t]
        assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn), t
        assert r.f1_ppm == 2 * tp * 1_000_000 // max(2 * tp + fp + fn, 1)


def test_calibration_bins_partition_and_rates(spark):
    rows = _scored_rows(spark)
    got = x_calibration_bins(spark, SF).collect()
    assert sum(r.n_docs for r in got) == len(rows)
    for r in got:
        members = [
            (s, y) for s, y in rows if min(s // 100_000, 9) == r.bin
        ]
        assert r.n_docs == len(members)
        assert r.n_pos == sum(y for _, y in members)
        assert r.pos_rate_ppm == r.n_pos * 1_000_000 // r.n_docs
