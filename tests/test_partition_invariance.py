"""Partition-count invariance: re-running a hash/aggregation-heavy query
with a different spark.sql.shuffle.partitions must produce IDENTICAL
rows — the failure class where per-partition float accumulation order or
partition-id-dependent logic leaks into results (the round-2 ids bug).

Session-persisted engine state (co_shared, cluster labels, geo_fwd,
the shingle/signature index, the PQ-scored corpus) would mask the
re-partitioned run, so the whole engine-state registry is DROPPED
(``state.reset()``) between the reference and alternate runs. The picks
cover the sensitive arithmetic paths: decimal sums, minhash aggregation,
exact-integer Gram partial aggs, k-means centroid sums, hash-argmin
walks, window ranking.
"""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("KB_FULL_PARITY") != "1",
    reason=(
        "heavy receipt tier (r08, VERDICT r07 next-round #1b): runs with"
        " KB_FULL_PARITY=1 alongside the 286-query parity replica so the"
        " default suite finishes inside the driver's verify window;"
        " receipted per round in OPTIMIZATION_rNN.md"
    ),
)

import math
from datetime import datetime

import pytest

from kinbaku_spark import state
from kinbaku_spark.queries import QUERIES

PICKS = [
    "q1_pricing_summary",
    "x_dsir_weights",
    "x_dedup_minhash",
    "x_group_quantiles",
    "x_pca_top_component",
    "x_kmeans_clusters",
    "g_node2vec_walks",
    "q_window_top_orders",
    "x_ann_pq_adc",
    "g_boruvka_mst",
    "x_bootstrap_ci",
    "x_coreset_kcenter",
    "x_dedup_edit_distance",
    "x_image_decode_real",
    "x_audio_decode_real",
    "g_katz_bounded",
    "g_scc_bounded",
    "g_densest_subgraph",
]


def _norm(pdf):
    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6f}"
        if isinstance(v, datetime):
            return v.isoformat()
        return str(v)

    cols = sorted(pdf.columns)
    return sorted(
        "|".join(cell(x) for x in r.tolist()) for _, r in pdf[cols].iterrows()
    )


@pytest.mark.parametrize("name", PICKS)
def test_result_is_partition_count_invariant(name, spark, sf_dir):
    base = spark.conf.get("spark.sql.shuffle.partitions")
    state.reset()
    ref = _norm(QUERIES[name](spark, sf_dir).toPandas())
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        state.reset()
        alt = _norm(QUERIES[name](spark, sf_dir).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)
        state.reset()
    assert ref == alt, f"{name}: result depends on shuffle partition count"
