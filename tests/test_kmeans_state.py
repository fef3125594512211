"""Shared k-means assignment state (queries/kmeans_state.py) and the
``assigned=`` injection contract of kmeans_clusters / semantic_dedup —
the dedup_state injection-guard idiom: a parameter baked into an injected
table cannot be re-verified from it, so passing it explicitly alongside
the table raises; injected and locally-computed results are identical.
"""

from __future__ import annotations

import pytest

from kinbaku_spark.operators.similarity import (
    kmeans_assign,
    kmeans_clusters,
    semantic_dedup,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (i, [float(i % 3), float((i * 7) % 5), float((i * 3) % 4), 1.0])
        for i in range(24)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_explicit_param_with_injected_assignment_raises(spark, corpus):
    assigned = kmeans_assign(corpus, k=8, rounds=2)
    with pytest.raises(ValueError, match="k is ignored"):
        kmeans_clusters(corpus, k=8, assigned=assigned)
    with pytest.raises(ValueError, match="rounds is ignored"):
        kmeans_clusters(corpus, rounds=2, assigned=assigned)
    with pytest.raises(ValueError, match="k is ignored"):
        semantic_dedup(corpus, k=8, assigned=assigned)
    with pytest.raises(ValueError, match="rounds is ignored"):
        semantic_dedup(corpus, rounds=2, assigned=assigned)


def test_injected_matches_local(spark, corpus):
    assigned = kmeans_assign(corpus, k=8, rounds=2)
    inj = kmeans_clusters(corpus, assigned=assigned).collect()
    loc = kmeans_clusters(corpus).collect()  # defaults: k=8, rounds=2
    assert sorted(map(tuple, inj)) == sorted(map(tuple, loc))

    inj_sd = semantic_dedup(
        corpus, threshold=0.4, max_cluster_size=50, assigned=assigned
    ).collect()
    loc_sd = semantic_dedup(corpus, threshold=0.4, max_cluster_size=50).collect()
    assert sorted(map(tuple, inj_sd)) == sorted(map(tuple, loc_sd))


def test_state_built_once_per_sf_dir(spark, sf_dir):
    from kinbaku_spark import state
    from kinbaku_spark.queries import kmeans_state

    state.reset()
    a = kmeans_state.assignment(spark, sf_dir)
    b = kmeans_state.assignment(spark, sf_dir)
    assert a is b  # second call returns the pinned table, no rebuild
    # pinned leaf: the plan is a materialized scan, not the Lloyd's chain
    assert "Scan ExistingRDD" in b._jdf.queryExecution().executedPlan().toString()
    state.reset()
