"""Session-persisted dedup index state: the 3-shingle hash postings and
the 32-hash MinHash signature table over `documents`, built ONCE per
sf_dir and shared by every dedup-family consumer (pair dedup, banding
sweep, point probe, edit-distance verify, containment). Every table here
is a ``state.shared`` entry over the ``documents`` input: it is rebuilt
when that parquet is rewritten, and ``state.reset()`` drops it.

Rationale — the same "stored engine state" framing as the derived graph
(graph_queries._cached) and the near-dup labels
(dedup.dup_cluster_labels):
a production dedup engine does not re-shingle and re-sign the corpus per
query; the shingle index and signatures are materialized index-build
artifacts, refreshed on ingest (see streaming/windows.dedup_ingest_batch,
which maintains exactly this state incrementally). At 100 TB these are
stored tables; in the session engine they are persisted DataFrames.

The per-query plans then scan two warm tables instead of replaying the
regex-tokenize → explode → md5 → 32-way min aggregation subtree — the
single largest repeated subplan across the dedup suite.

NOTE the intra-query tradeoff documented in operators/dedup.py (a cache
barrier between the shingle scan and ONE consumer measured slower than
ReusedExchange) is about caching mid-plan; this is cross-QUERY reuse of
final index tables, where persist wins by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kinbaku_spark.operators.dedup import (
    minhash_signatures,
    shingle_hashes,
    span_postings,
)
from kinbaku_spark.sources.tables import load_table
from kinbaku_spark.state import shared

# single source of truth: the signature width N_HASHES and its banding
# (N_BANDS bands of BAND_ROWS rows) are the constants every band consumer
# and SQL oracle is generated from; shingle width and seed match
# _sql_shingle_cte / minhash_coeffs defaults
N_HASHES, N_BANDS, BAND_ROWS = 32, 8, 4
SHINGLE_N = 3
SIG_SEED = 42


def shingle_state(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(shingles, signatures) for the documents corpus — both persisted.

    shingles: (doc_id, h) distinct 60-bit word-3-gram hashes.
    signatures: (doc_id, mh0..mh31) universal-hash minima.
    """
    def build():
        docs = load_table(spark, sf_dir, "documents")
        sh = shingle_hashes(docs, "doc_id", "text", SHINGLE_N).persist()
        sig = minhash_signatures(sh, "doc_id", N_HASHES, SIG_SEED).persist()
        sig.count()  # one pass materializes sh (its only input) and sig
        sh.count()
        return sh, sig

    return shared(spark, sf_dir, "shingle_state", build, ["documents"])


# -- per-doc shingle sets (verification-side index) ---------------------------
# The exact-verify stage of every dedup pipeline (operators/dedup.py
# _jaccard_verify, the containment query) consumes the postings as ONE
# ARRAY PER DOC (doc_id, hs) so verification is two doc-keyed joins + a
# codegen array_intersect. That per-doc aggregation is itself a corpus-wide
# groupBy over the postings — r07 work profile: the band sweep re-ran it
# THREE times per invocation (once per _jaccard_verify call). It is the
# same index-build artifact class as the postings themselves, so it is
# built once per sf_dir here and injected by every verify consumer.


def shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs): persisted per-doc shingle-hash arrays over the
    documents corpus — collect_list over :func:`shingle_state`'s postings
    (order irrelevant: consumers only take sizes and intersections)."""
    from pyspark.sql import functions as F

    def build():
        sh, _ = shingle_state(spark, sf_dir)
        s = sh.groupBy("doc_id").agg(F.collect_list("h").alias("hs")).persist()
        s.count()
        return s

    return shared(spark, sf_dir, "shingle_sets", build, ["documents"])


# -- corpus SimHash signatures (banded-dedup index) ---------------------------
# The 60-bit SimHash signature table over the documents corpus is the same
# index-build artifact class: x_dedup_simhash, x_dedup_simhash_banded, the
# banded-recall readout (which runs BOTH) and the stratified recall
# monitor all consume the identical (doc_id, sig) table, and each used to
# re-run the 60-conditional-sum aggregation over the postings as its own
# eager checkpoint job (r07 work profile). Stored as an eager
# localCheckpoint, not persist: the banded form references the table
# 2·bands times in one plan, and a persisted table embeds its origin
# lineage at every reference.


def simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig): pinned corpus-wide 60-bit SimHash signatures derived
    from :func:`shingle_state`'s postings."""
    from kinbaku_spark.operators.dedup import simhash_signatures_df
    from kinbaku_spark.plans.checkpoints import pin

    def build():
        sh, _ = shingle_state(spark, sf_dir)
        return pin(simhash_signatures_df(sh, "doc_id"))

    return shared(spark, sf_dir, "simhash_sigs", build, ["documents"])


# -- positional span postings (exact-substring dedup index) ------------------
# The SPAN_N-gram postings are the same "stored index" class as the
# 3-shingle postings above: the Lee et al. exact-substring pipeline's
# replacement for a suffix array, shared by the pair-detection query
# (x_substring_dedup, which derives the distinct (doc_id, h) form) and
# the removal query (x_substring_dedup_apply, which needs the offsets).
# Built once per sf_dir; refreshed on ingest in a production deployment.
# Span width is SPAN_N, the constant the SQL oracles are generated from.
SPAN_N = 20


def span_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, h): persisted positional SPAN_N-gram postings over
    the documents corpus (operators/dedup.py span_postings)."""
    def build():
        docs = load_table(spark, sf_dir, "documents")
        sp = span_postings(docs, "doc_id", "text", SPAN_N).persist()
        sp.count()
        return sp

    return shared(spark, sf_dir, "span_state", build, ["documents"])
