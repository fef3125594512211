"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with the noop sink (full pipeline runs, nothing is
collected to the driver), so timings measure the distributed plan, not
driver materialization.

    python bench.py [--trace] [NAME...]

Every query runs twice in one session, run 1 *cold* (it pays the query's
shared-state builds and first-call codegen) and run 2 *warm*; the faster
one is reported. ``--trace`` adds both runs' work, folded from Spark's
event log, and their generated-class compiles and JIT seconds, read from
the JVM (see ``run_columns``), to BENCH_DETAIL.json. NAMEs run those
registry queries instead, print one JSON line each and leave
BENCH_DETAIL.json alone; one NAME per process gives a fresh-process cold
number.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Resident-engine mode: base tables live in executor memory as Spark's
# columnar cache (sources/tables.py — persist-only; a repartitioned cache
# measured slower on every headline query). The reference is
# benchmarked with its mmap page cache warm (BENCH_COMPARISON.md); this is
# the same steady-state, and the one-time load happens in the warm-up
# below, outside every timed region.
os.environ.setdefault("KB_CACHE_TABLES", "1")

from kinbaku_spark.queries import QUERIES  # noqa: E402
from kinbaku_spark.session import get_spark  # noqa: E402
from kinbaku_spark.sources.tables import load_tables  # noqa: E402
from perfbench.eventlog import GroupWork, driver_gap_s, fold_dir  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
)

# Headline set: scan-bound agg, shuffle join, star join, top-k, window,
# sessionization, graph degree agg, graph traversal join, adjacency export.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q_top_parts",
    "q_window_top_orders",
    "q_events_sessions",
    "g_out_degrees",
    "g_neighbors_from",
    "g_adjacency_coo",
    "g_edges_table",
    "g_link_prediction",
    "g_pagerank",
    "q_events_json",
]
# Extension headliners are appended as they land (kept in one place so the
# bench and the correctness gate stay aligned).
EXTENSION_HEADLINE = [
    "x_dedup_exact",
    "x_dedup_minhash",
    "x_dedup_simhash",
    "x_dedup_simhash_banded",
    "x_dedup_embedding_lsh",
    "x_ann_cosine_topk",
    "x_ann_lsh_topk",
    "x_text_quality",
    "q10_returned_items",
    "q8_market_share",
    "q21_waiting_suppliers",
    "g_kcore",
    "x_asof_join",
    "x_range_join",
    "x_hypertable_rollup",
    "x_kmv_distinct",
    "x_ann_ivf_topk",
    "q_pivot_orders",
    "q_sql_top_nations",
    "x_pii_scrub",
    "x_udf_token_count",
    "x_profile_lineitem",
    "x_retention_cohorts",
    "x_scd2_history",
    "x_hll_distinct",
    "x_bloom_prune",
    "x_market_basket",
    "x_inverted_index",
    "x_chunk_documents",
    "g_sssp_bounded",
    "x_embed_covariance",
    "x_reconcile_daily",
    "x_doc_lm_score",
    "x_bpe_pair_merges",
    "x_ewma_daily",
    "x_kmeans_clusters",
    "x_bm25_topk",
    "g_modularity",
    "x_hll_merge_sources",
    "x_entity_blocking",
    "x_image_phash_dedup",
    "x_dataset_card",
    "g_negative_samples",
    "x_repeated_ngram_rate",
    "x_semantic_dedup",
    "x_mixture_weights",
    "x_event_transitions",
    "x_session_paths",
    "x_gap_fill_ffill",
    "x_value_histogram",
    "g_geodesic_counts",
    "x_cluster_purity",
    "x_mrr_eval",
    "x_winsorized_stats",
    "x_group_quantiles",
    "x_collocations",
    "x_order_seasonality",
    "x_qty_price_corr",
    "x_revenue_concentration",
    "x_dau_wau_stickiness",
    "x_rolling_features",
    "x_target_encoding",
    "x_knn_hubness",
    "x_itemsets3",
    "x_churn_labels",
    "g_degree_gini",
    "x_range_frame_revenue",
    "g_rich_club",
    "x_dedup_containment",
    "x_source_lang_impurity",
    "x_percentile_ranks",
    "x_distribution_drift",
    "x_ks_statistic",
    "x_autocorrelation",
    "x_cusum_changepoint",
    "x_mad_outliers",
    "g_transitivity",
    "x_cross_val_folds",
    "g_graph_summary",
    "x_label_noise_detect",
    "x_pca_top_component",
    "x_multiset_ops",
    "x_dedup_survivorship",
    "x_stationary_markov",
    "x_benford_check",
    "x_window_dedup",
    "x_substring_dedup",
    "x_substring_dedup_apply",
    "x_dedup_embedding_lsh_recall",
    "x_dedup_simhash_banded_recall",
    "x_video_decode_real",
    "x_dsir_weights",
    "x_tokenizer_fertility",
    "g_truss_bounded",
    "g_eccentricity",
    "x_rrf_fusion",
    "g_betweenness_bounded",
    "x_quality_threshold_sweep",
    "x_dup_cluster_sizes",
    "g_node2vec_walks",
    "x_soft_dedup_weights",
    "g_butterflies",
    "x_minhash_band_sweep",
    "x_normalized_dedup",
    "x_vocab_growth",
    "x_zipf_check",
    "x_shard_skew_audit",
    "x_packing_waste",
    "x_ann_pq_adc",
    "x_coreset_kcenter",
    "g_boruvka_mst",
    "g_greedy_matching",
    "x_bootstrap_ci",
    "x_vocab_size_sweep",
    "x_dedup_probe",
    "x_quality_dup_matrix",
    "x_ann_pq_recall",
    "x_vocab_drift",
    "x_topic_diversity",
    "x_join_size_estimate",
    "x_ndcg_eval",
    "x_linkage_agreement_lift",
    "x_hist_quantile_accuracy",
    "g_motif_brokers",
    "x_image_decode_real",
    "x_audio_decode_real",
    "x_dedup_edit_distance",
    "x_image_resize_real",
    "x_curate_corpus",
    "g_katz_bounded",
    "g_eigenvector_bounded",
    "g_densest_subgraph",
    "g_local_clustering",
    "g_scc_bounded",
    # round 5 (g_cc_incremental stays OUT: its three sequential state
    # round-trips are a correctness-gate shape, ~22 s cold at sf0.1 —
    # documented in COVERAGE.md round-4 notes)
    "x_dedup_recall_sampled",
    "x_dedup_embedding_lsh_wide",
    "x_dedup_embedding_recall_sampled",
    "x_video_decode_mjpeg",
    "x_image_decode_gif",
    # round 6
    "g_scc",
    "g_motif_typed_chain",
    "x_dedup_recall_stratified",
    "x_roc_auc",
    "x_calibration_bins",
    "x_confusion_f1",
]


# Stable reported subset (round 8, VERDICT r07 next-round #1): the driver
# parses the final JSON line out of a 2000-char stdout TAIL (BENCH_r01..r07
# all store exactly 2000 chars; round 1's 6 KB line overflowed it ->
# parsed:null), so the full 158-query map (~4.2 KB compact at 10 ms
# rounding) CANNOT ride the stdout line. The next-best contract the tail
# admits: a FIXED named subset — the 68 slowest queries of the committed
# r07 receipt (~79% of suite seconds, superset of every name any round's
# stdout line ever carried) — plus the run's dynamic slowest-8, emitted at
# 10 ms rounding. Worst-case line stays under ~1.9 KB; names are only ever
# ADDED round over round (the driver's add-only queries contract). The
# full map still lands in BENCH_DETAIL.json.
REPORTED = [
    "x_dedup_containment", "g_boruvka_mst", "g_scc_bounded",
    "x_dedup_minhash", "g_greedy_matching", "x_bootstrap_ci",
    "x_dedup_probe", "x_coreset_kcenter", "x_curate_corpus", "x_itemsets3",
    "x_dedup_embedding_lsh_recall", "x_dedup_embedding_recall_sampled",
    "g_kcore", "g_node2vec_walks", "g_motif_brokers", "x_knn_hubness",
    "g_eccentricity", "x_window_dedup", "x_dedup_embedding_lsh",
    "q21_waiting_suppliers", "g_scc", "x_dedup_recall_sampled",
    "g_betweenness_bounded", "x_winsorized_stats", "g_rich_club",
    "x_market_basket", "x_minhash_band_sweep", "x_group_quantiles",
    "g_negative_samples", "x_hist_quantile_accuracy", "g_pagerank",
    "q1_pricing_summary", "q5_local_supplier_volume",
    "x_substring_dedup_apply", "g_densest_subgraph", "g_butterflies",
    "x_vocab_size_sweep", "g_eigenvector_bounded",
    "x_quality_threshold_sweep", "g_motif_typed_chain", "g_sssp_bounded",
    "x_dedup_embedding_lsh_wide", "q8_market_share", "x_confusion_f1",
    "x_dedup_simhash_banded", "g_degree_gini", "x_repeated_ngram_rate",
    "g_katz_bounded", "q10_returned_items", "q_sql_top_nations",
    "x_quality_dup_matrix", "x_collocations", "x_linkage_agreement_lift",
    "g_truss_bounded", "x_hll_distinct", "x_profile_lineitem",
    "g_modularity", "x_inverted_index", "g_adjacency_coo", "x_bloom_prune",
    "x_ks_statistic", "q_events_json", "x_ndcg_eval", "x_doc_lm_score",
    "x_pca_top_component", "x_vocab_drift", "x_dedup_exact",
    "x_qty_price_corr",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stdout_line(timings: dict[str, float], total: float, sf_val) -> str:
    """The final stdout line: the stable REPORTED subset plus the run's
    slowest-8, 10 ms rounding, compact separators — it must fit the
    2000-char stdout tail it is parsed from (see REPORTED above). If
    values ever grow the line past 1950 bytes, the guard moves names
    fastest-first from ``queries`` into a ``trimmed`` list (their times
    stay in BENCH_DETAIL.json), so a name never silently leaves the line;
    the dynamic slowest-8 are never trimmed."""
    slowest8 = [
        k for k, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:8]
    ]
    names_out = [n for n in REPORTED if n in timings] + [
        n for n in slowest8 if n not in REPORTED
    ]
    trimmed: list[str] = []

    def _line() -> str:
        obj = {
            "metric": "headline_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": {n: round(timings[n], 2) for n in names_out},
            "sf": sf_val,
            "n_queries": len(timings),
            "detail": "BENCH_DETAIL.json",
        }
        if trimmed:
            obj["trimmed"] = trimmed
        return json.dumps(obj, separators=(",", ":"))

    out = _line()
    while len(out) > 1950 and len(names_out) > 8:
        drop = min(
            (n for n in names_out if n not in slowest8),
            key=lambda n: timings[n],
            default=None,
        )
        if drop is None:
            break
        names_out.remove(drop)
        trimmed.append(drop)
        out = _line()
    return out


def enable_event_log() -> str:
    """Turn on Spark's event log, uncompressed (Spark 4 defaults to zstd;
    stdlib ``json`` needs it plain), in a fresh temp dir and return that
    dir. The submit args are read once, when the JVM starts, so this must
    run before the first ``get_spark``; existing ones are kept."""
    log_dir = tempfile.mkdtemp(prefix="kb_bench_events_")
    conf = [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{log_dir}",
        "spark.eventLog.compress=false",
    ]
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "").strip()
    args = args.removesuffix("pyspark-shell") + "".join(f"--conf {c} " for c in conf)
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + "pyspark-shell"
    return log_dir


def jvm_counters(spark) -> tuple[int, float]:
    """``(compiles, jit_s)`` so far in the driver JVM: generated classes
    Janino compiled (one per codegen-cache miss) and HotSpot's JIT
    compilation time, elapsed seconds summed over its compiler threads
    (they run beside the query, so this is not wall time on its path).
    ``local`` executors share that JVM, so both count the tasks' codegen
    too."""
    jvm = spark.sparkContext._jvm
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return codegen.METRIC_COMPILATION_TIME().getCount(), jit.getTotalCompilationTime() / 1e3


def time_query(spark, name: str, spans: dict, tag: bool) -> None:
    """Run ``name`` twice; ``spans["<name>|<run>"]`` gets each run's epoch
    start (ms) and wall seconds. With ``tag`` the run's jobs carry that
    key as their job group, and its span adds the run's change in
    :func:`jvm_counters`."""
    for run in ("cold", "warm"):
        group = f"{name}|{run}"
        if tag:
            spark.sparkContext.setJobGroup(group, group)
            before = jvm_counters(spark)
        wall0, t0 = time.time(), time.perf_counter()
        _force(QUERIES[name](spark, SF_DIR))
        spans[group] = (wall0 * 1e3, time.perf_counter() - t0)
        if tag:
            after = jvm_counters(spark)
            spans[group] += tuple(a - b for a, b in zip(after, before))
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def run_columns(spans, folded: dict[str, GroupWork] | None = None) -> dict:
    """``{name: {run: columns}}``: each run's wall seconds and, given the
    folded event log, the work of its job group and its driver gap, plus
    its compiles and JIT seconds when its span carries them."""
    out: dict[str, dict] = {}
    for group, (start_ms, secs, *jvm) in spans.items():
        name, run = group.rsplit("|", 1)
        cols = out.setdefault(name, {})[run] = {"wall_s": round(secs, 3)}
        if folded is None:
            continue
        w = folded.get(group, GroupWork())
        gap = driver_gap_s(start_ms, start_ms + secs * 1e3, w.job_intervals_ms)
        cols.update(
            jobs=w.jobs,
            stages=w.stages,
            tasks=w.tasks,
            task_failures=w.task_failures,
            executor_cpu_s=round(w.executor_cpu_s, 3),
            gc_s=round(w.gc_s, 3),
            shuffle_read_mb=round(w.shuffle_read_bytes / 2**20, 3),
            shuffle_write_mb=round(w.shuffle_write_bytes / 2**20, 3),
            spill_mb=round(w.spill_bytes / 2**20, 3),
            python_bytes=w.python_bytes,
            driver_gap_s=round(gap, 3),
        )
        if jvm:
            compiles, jit_s = jvm
            cols.update(codegen_compiles=compiles, jit_s=round(jit_s, 3))
    return out


def measure(names: list[str], log_dir: str | None) -> dict:
    """Warm up, then run each query (the headline suite when ``names`` is
    empty) twice; returns :func:`run_columns`, traced when ``log_dir`` is
    the event-log dir."""
    spark = get_spark(app_name="kinbaku_spark_bench")
    names = names or [n for n in HEADLINE + EXTENSION_HEADLINE if n in QUERIES]

    # warm up the JVM, load every base table into the resident cache, and
    # materialize the derived-graph ETL once — all outside the timed region
    # (the tables and the graph are the engine's stored state; loading them
    # is load, not query work)
    load_tables(spark, SF_DIR)
    _force(QUERIES["q1_pricing_summary"](spark, SF_DIR))
    _force(QUERIES["g_counts"](spark, SF_DIR))

    # two runs per query, report the faster: the first run pays one-time
    # codegen/broadcast setup that a resident engine amortizes; steady-state
    # is the comparable number
    spans: dict[str, tuple] = {}
    for name in names:
        time_query(spark, name, spans, tag=log_dir is not None)
    if log_dir is None:
        return run_columns(spans)
    spark.stop()  # flushes the event log
    return run_columns(spans, fold_dir(log_dir))


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(
        description="Time the headline suite, or the named registry queries."
    )
    parser.add_argument(
        "--trace", action="store_true",
        help="add each run's work, folded from Spark's event log",
    )
    parser.add_argument(
        "names", nargs="*", metavar="NAME",
        help="registry queries to run instead of the headline suite",
    )
    args = parser.parse_args(argv)
    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        parser.error(
            f"unknown query name(s): {', '.join(unknown)} "
            "(REGISTRY.md lists the registry)"
        )
    log_dir = enable_event_log() if args.trace else None
    try:
        columns = measure(args.names, log_dir)
    finally:
        if log_dir:
            shutil.rmtree(log_dir, ignore_errors=True)
    timings = {
        name: min(c["wall_s"] for c in runs.values())
        for name, runs in columns.items()
    }
    if args.names:
        for name, runs in columns.items():
            print(json.dumps({"query": name, "best_s": timings[name], **runs}))
        return

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full per-query map goes to a file; the final stdout line stays SHORT
    # (<1 KB) so the driver's stdout tail capture can always parse it
    # (round-1 lesson: a 6 KB single line overflowed the tail -> parsed:null).
    detail = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n_queries": len(timings),
    }
    if args.trace:
        detail["trace"] = columns
    with open(DETAIL_PATH, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)

    print(stdout_line(timings, total, sf_val))


if __name__ == "__main__":
    main()
