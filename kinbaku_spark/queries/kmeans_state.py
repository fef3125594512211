"""Session-persisted canonical k-means assignment state.

Five registered queries consume the IDENTICAL deterministic Lloyd's
assignment over the embeddings corpus (k = KMEANS_K,
rounds = KMEANS_ROUNDS, seeded on vec_id < k): x_kmeans_clusters,
x_semantic_dedup, x_cluster_purity, x_label_noise_detect and
x_topic_diversity. Each used to re-run :func:`kmeans_assign`'s serial
construction-time driver loop per call — a seeds collect plus, per Lloyd's
round, a full assignment pass feeding the d*k centroid collect (~13 serial
jobs per query, r07 work profile).

Same "stored engine state" framing as the dedup index tables
(queries/dedup_state.py): a production pipeline clusters the corpus once
and every downstream consumer (topic mix, purity eval, SemDeDup, noise
screen) reads the stored assignment; it is refreshed on ingest, not
re-derived per query. Here it is one ``state.shared`` entry over the
``embeddings`` input — built once per sf_dir, rebuilt when that parquet is
rewritten — and injected via the ``assigned=`` parameter of
:func:`kmeans_clusters` / :func:`semantic_dedup`, or selected directly.

Stored as an eager :func:`pin` (localCheckpoint leaf), not persist:
semantic_dedup references the table three times in one plan (sizes,
pair cells, final rollup) and several consumers broadcast aggregates
derived from it — a lazy pin would let the broadcast job race the main
action's materialization, and a persisted table embeds its origin lineage
at every reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kinbaku_spark.operators.similarity import kmeans_assign
from kinbaku_spark.plans.checkpoints import pin
from kinbaku_spark.queries.similarity import _sql_cosine
from kinbaku_spark.sources.tables import load_table
from kinbaku_spark.state import shared

KMEANS_K = 8
KMEANS_ROUNDS = 2


def assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, cluster, sim): the pinned canonical k-means
    assignment over the embeddings corpus (KMEANS_K / KMEANS_ROUNDS)."""
    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        return pin(kmeans_assign(emb, k=KMEANS_K, rounds=KMEANS_ROUNDS))

    return shared(spark, sf_dir, "kmeans_assignment", build, ["embeddings"])


def kmeans_assign_cte() -> str:
    """The ``WITH … a2`` prefix replaying two Lloyd's rounds in DuckDB —
    ``a2(vec_id, cluster, sim)`` is the final assignment. Shared by the
    k-means query and the SemDeDup replay (curation.py)."""
    return f"""
WITH seeds AS (
  SELECT CAST(vec_id AS INTEGER) AS cluster, embedding AS centroid
  FROM embeddings WHERE vec_id < {KMEANS_K}
),
a1p AS (
  SELECT e.vec_id, s.cluster,
         ROUND({_sql_cosine('e.embedding', 's.centroid')}, 6) AS sim
  FROM embeddings e CROSS JOIN seeds s
),
a1 AS (
  SELECT vec_id, cluster, sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cluster) AS rn
    FROM a1p
  ) WHERE rn = 1
),
ex AS (
  SELECT a1.cluster, generate_subscripts(e.embedding, 1) AS pos,
         unnest(e.embedding) AS val
  FROM embeddings e JOIN a1 ON e.vec_id = a1.vec_id
),
cen AS (
  SELECT cluster, list(avg ORDER BY pos) AS centroid FROM (
    SELECT cluster, pos,
           CAST(CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * CAST(1000000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS DOUBLE) / CAST(1000000000.0 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg
    FROM ex GROUP BY cluster, pos
  ) GROUP BY cluster
),
a2p AS (
  SELECT e.vec_id, c.cluster,
         ROUND({_sql_cosine('e.embedding', 'c.centroid')}, 6) AS sim
  FROM embeddings e CROSS JOIN cen c
),
a2 AS (
  SELECT vec_id, cluster, sim FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cluster) AS rn
    FROM a2p
  ) WHERE rn = 1
)
"""
