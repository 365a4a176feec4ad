"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full computation,
no driver collect bottleneck). One warm query first so JVM/codegen
startup isn't billed to the first headline entry.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Headline queries: one per operator family (vector search, zero-shot,
#: scan+agg, multi-join, window, dedup exact/approx/semantic, text).
HEADLINE = [
    "knn_batch",
    "knn_batch_matrix",
    "ann_ivf_search",
    "zeroshot_cosine",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "orders_topn_per_customer",
    "orders_range_join",
    "events_sessionize",
    "events_json_extract",
    "events_asof_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_embedding_lsh",
    "text_quality_score",
    "text_langid",
    "text_top_tokens",
    "text_chunking",
    "kmeans_clusters",
    "multimodal_decode_meta",
    "tpch_q6_forecast_revenue",
    "dedup_connected_components",
    "documents_hash_split",
    "knn_filtered",
    "docs_filter_pipeline",
    "dedup_simhash64",
    "knn_mmr_rerank",
    "tpch_q2_min_cost_supplier",
    "docs_chunk_dedup",
    "docs_tfidf_hashed",
    "docs_pack_windows",
    "dedup_incremental_ingest",
    "text_bm25_search",
    "knn_pq_rerank",
    "ann_ivfpq_search",
    "docs_assembly_pipeline",
    "events_user_hll_distinct",
    "docs_temperature_sample",
    "docs_unigram_logprob",
    # round 3
    "dedup_embedding_cosine_blocked",
    "docs_pack_bins_ffd",
    "docs_weighted_sample",
    "docs_token_cms",
    "events_user_overlap_kmv",
    "events_zorder_histogram",
    "docs_heavy_tokens",
    # round 4
    "docs_dsir_sample",
    "docs_segment_dedup",
    "embeddings_outliers",
    "text_token_entropy",
    "dedup_semantic",
    "embeddings_hard_negatives",
    "docs_token_budget_mixture",
    # round 4, session 2
    "docs_bigram_logprob",
    "docs_vocab_oov",
    "text_token_pmi",
    "customers_fuzzy_name_pairs",
    "events_markov_transitions",
    "graph_pagerank_neardup",
    "events_session_concurrency",
    "docs_snapshot_diff",
    "events_ohlc_hourly",
    "customers_cdc_merge",
    "multimodal_image_ahash",
    "multimodal_ahash_neardup",
    "docs_curriculum_order",
    # round 4, session 3
    "lineitem_weighted_median",
    "orders_neyman_sample",
    "events_attribution",
    "embeddings_dim_covariance",
    "embeddings_logreg_train",
    "embeddings_random_projection",
    "docs_unimax_allocation",
    "docs_duplicate_spans",
    "events_value_winsorized",
    "events_basket_lift",
    "docs_calibrated_quality",
    "embeddings_dim_drift_psi",
    "docs_pareto_frontier",
    "events_value_mad_outliers",
    "docs_ngram_diversity",
    "events_trend_by_type",
    "events_seasonality",
    "events_running_distinct_hll",
    "events_incident_overlap_join",
    "ann_ivf_search_filtered",
    "knn_binary_rerank",
    "text_gopher_repetition",
    "dedup_minhash_recall",
    "docs_scrub_spans",
    "events_time_to_convert",
    "lineitem_weighted_quantiles",
    "docs_tfidf_cosine_pairs",
    "orders_abc_analysis",
    "events_cohort_ltv",
    "docs_length_quality_histogram",
    # round 6: the promoted pending lane (33)
    "docs_benchmark_contamination",
    "dedup_keep_best",
    "docs_truncation_stats",
    "events_value_tdigest",
    "knn_crossencoder_rerank",
    "events_skew_report",
    "docs_containment_pairs",
    "embeddings_hubness",
    "tpch_fk_integrity",
    "embeddings_retrieval_metrics",
    "events_percentile_rank",
    "docs_badword_filter",
    "docs_normalized_dedup",
    "docs_zipf_fit",
    "docs_source_divergence",
    "docs_top_terms",
    "docs_langid_confusion",
    "events_rolling_zscore",
    "events_interarrival",
    "orders_yoy_growth",
    "customer_rfm_scores",
    "events_ab_test",
    "events_cusum_changepoint",
    "orders_benford",
    "orders_gini",
    "events_kaplan_meier",
    "docs_token_chi2",
    "events_mannwhitney",
    "events_ks_drift",
    "orders_daily_acf",
    "embeddings_matryoshka",
    "embeddings_knn_label_eval",
    "embeddings_top_pc",
    # round-7 promoted lane
    "docs_hapax_ratio",
    "events_daily_peaks",
    "orders_theilsen_trend",
    "events_bootstrap_ci",
    "embeddings_pca_top2",
    "docs_curriculum_sharded",
    "events_retention_triangle",
    "dedup_cluster_profile",
    "docs_readability",
    "events_seasonal_decompose",
    "embeddings_silhouette",
    # round-8 promoted lane (the 32-entry wave; the round-8
    # DIAGNOSTICS — canaries, hash echoes, literal fixture — are
    # deliberately NOT timed: they are constant-size probes whose
    # cost is an inner collect, not a plan worth benchmarking)
    "events_spearman_corr",
    "events_kendall_tau",
    "events_transition_entropy",
    "events_fano_daily",
    "docs_boilerplate_prefix",
    "docs_ngram_novelty",
    "docs_chunk_overlap",
    "embeddings_pq_distortion",
    "events_hill_tail_index",
    "embeddings_norm_anova",
    "orders_ship_delay_quantiles",
    "orders_interpurchase_median",
    "docs_pair_similarity_histogram",
    "docs_source_overlap",
    "docs_token_quantiles",
    "events_lorenz_curve",
    "events_max_drawdown",
    "events_rolling_corr",
    "lineitem_corr_matrix",
    "customers_scd2_history",
    "docs_tokenizer_fertility",
    "multimodal_storage_budget",
    "orders_basket_size_histogram",
    "lineitem_discount_band_profit",
    "text_unicode_health",
    "docs_diversity_indices",
    "dedup_cluster_lang_purity",
    "events_seasonal_anomalies",
    "events_completeness_gaps",
    "orders_seasonal_naive_wape",
    "docs_dedup_impact",
    "embeddings_exact_dup_vectors",
    # round-9 promoted lane (the 8-entry wave)
    "graph_triangle_count",
    "events_funnel_conversion",
    "docs_split_leakage",
    "embeddings_triplet_mining",
    "events_audience_overlap",
    "ann_recall_curve",
    "orders_conformal_coverage",
    "embeddings_mutual_knn",
    # round-10 promoted lane (the 11-entry wave)
    "events_nelson_aalen",
    "events_mann_kendall",
    "events_fdr_bh",
    "events_ewma_forecast",
    "events_dau_mau_stickiness",
    "events_diff_in_diff",
    "docs_trigram_backoff",
    "docs_template_clusters",
    "docs_loo_source_influence",
    "docs_quality_ece",
    "lineitem_price_elasticity",
]

#: Cross-round pinned subset (VERDICT r8 "Next round" #5): the full
#: HEADLINE total grows with every promoted wave, so round-over-round
#: speed degraded into per-query averages computed by hand. This list
#: is FROZEN as of round 9 — the 13 top-cost queries from BENCH_r08
#: plus one representative per operator family — so `pinned_total` is
#: directly comparable across rounds on identical members. Do NOT add
#: entries here when promoting new waves; open a new pinned list
#: (PINNED_R{N}) only if membership must ever change, and report both
#: during the transition round. PERF.md (round 9) documents the split.
PINNED = [
    # 13 top-cost from BENCH_r08 (bench_detail.json)
    "docs_pair_similarity_histogram",
    "orders_theilsen_trend",
    "dedup_cluster_profile",
    "embeddings_knn_label_eval",
    "embeddings_pq_distortion",
    "dedup_cluster_lang_purity",
    "dedup_keep_best",
    "docs_source_overlap",
    "dedup_connected_components",
    "customers_fuzzy_name_pairs",
    "docs_dedup_impact",
    "orders_ship_delay_quantiles",
    "events_value_mad_outliers",
    # one per operator family
    "knn_batch",                      # brute-force vector search
    "ann_ivfpq_search",               # ANN (IVF-PQ/ADC)
    "zeroshot_cosine",                # zero-shot classification
    "tpch_q1_pricing_summary",        # scan + aggregate
    "tpch_q3_shipping_priority",      # multi-join (HEADLINE member)
    "orders_topn_per_customer",       # window / top-k
    "events_sessionize",              # sessionization
    "dedup_exact",                    # exact dedup
    "dedup_minhash_lsh",              # approximate dedup
    "dedup_semantic",                 # semantic dedup
    "text_quality_score",             # text quality
    "text_bm25_search",               # lexical search
    "docs_tfidf_hashed",              # tf-idf featurization
    "kmeans_clusters",                # clustering
    "events_user_hll_distinct",       # sketches
    "docs_pack_bins_ffd",             # sequence packing
    "multimodal_image_ahash",         # multimodal
]


def _host_preamble() -> dict:
    """Idle-host check (VERDICT r10 #7): this host's documented failure
    mode is co-tenant bursts and orphaned spinning JVMs polluting timed
    sessions (PERF.md round-10 retraction note). Record the 1-min load
    average and any pre-existing JVMs BEFORE the timed session starts so
    a polluted run is visible in the artifact instead of silently eating
    the signal. Detection only — killing by pattern could hit a
    legitimate co-tenant process; the numbers let the reader discount."""
    info: dict = {}
    try:
        with open("/proc/loadavg") as f:
            info["loadavg_1m"] = float(f.read().split()[0])
    except Exception:
        pass
    try:
        import subprocess

        out = subprocess.run(
            ["ps", "-eo", "pid,etime,comm"], capture_output=True, text=True
        ).stdout
        jvms = [ln for ln in out.splitlines() if ln.split()[-1] == "java"]
        info["preexisting_jvms"] = len(jvms)
        for ln in jvms:
            print(f"bench preamble: pre-existing JVM: {ln}", file=sys.stderr)
    except Exception:
        pass
    print(f"bench preamble: {info}", file=sys.stderr)
    return info


def main() -> None:
    from vectorsearchutil_spark import queries as Q
    from vectorsearchutil_spark.session import get_spark

    host = _host_preamble()
    spark = get_spark("vectorsearchutil-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM, parquet footer reads, codegen paths. The tiny
    # sf0.001 knn warms the vector-expression/window/broadcast codegen
    # shared by the first headline entries — without it the first
    # vector query is billed ~4 s of one-time JIT that belongs to
    # session startup, not the query.
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    Q.QUERIES["knn_single"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()

    # per-query plan warm-up (VERDICT r2 #8): immediately before each
    # timed sf0.1 run, run the same query once at sf0.001.
    # Whole-stage-codegen classes are cached by generated source, so
    # the tiny run compiles (janino) and JIT-warms the exact operators
    # the timed run uses at negligible data cost — the timed numbers
    # then reflect plan quality, not the ~0.5-1 s one-time codegen
    # tail per query shape. Warm-then-time ADJACENCY matters: the
    # codegen cache is a bounded LRU, and warming all 43 queries up
    # front evicted the largest compiled classes (measured: the giant
    # filter_pipeline projection re-compiled 5 s in its timed run).
    # Queries whose plans inline data-derived literals still recompile
    # at sf0.1; that residual is inherent to the plan and stays billed.
    # Each query is timed twice back-to-back and the MIN is reported:
    # single-shot numbers on a shared VM swing ±20% run-to-run (GC,
    # page cache, scheduler noise — measured 37.8 vs 45.0 s totals on
    # identical code), and min-of-2 is the standard noise floor
    # estimator for warm steady-state cost. Doubles bench wall-clock,
    # which is fine — the artifact's job is comparability.
    warm_dir = "/root/testdata/sf0.001"
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = Q.QUERIES[name]
        try:
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # warmup is best-effort; the timed run decides
        best = None
        for _ in range(2):
            # every timed rep starts cold: no in-query cache of the
            # previous rep (or query) can serve it through plan matching
            spark.catalog.clearCache()
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    pinned = {n: timings[n] for n in PINNED if n in timings}
    assert len(pinned) == len(PINNED), (
        f"pinned subset lost members: {sorted(set(PINNED) - set(pinned))}"
    )
    summary = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n": len(timings),
        # frozen cross-round subset (see PINNED): round-over-round
        # speed is THIS number; `value` grows with registry promotion
        "pinned_total": round(sum(pinned.values()), 3),
        "pinned_n": len(pinned),
        "sf": sf_val,
        "queries": timings,
        "host": host,
    }
    # The driver records only the TAIL of stdout; round 4's single
    # giant JSON line was head-truncated and BENCH_r04.json carried
    # "parsed": null (VERDICT r4 #2). Fix: per-query detail goes to
    # stderr and bench_detail.json; stdout carries exactly ONE final
    # compact JSON line, so any tail capture contains it whole. The
    # per-query dict is inlined only while it fits a conservative
    # tail budget; past that it is replaced by the file pointer.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_detail.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps(summary), file=sys.stderr)
    line = json.dumps(summary)
    if len(line) > 3000:
        # VERDICT r10 #2: dropping the whole `queries` dict left the
        # driver with per_query={} (no geomean, no scaling ratios).
        # The frozen 30-entry PINNED per-query dict fits the tail
        # budget — inline it so cross-round per-query comparison
        # survives, and keep the full-dict file pointer + top5.
        compact = dict(summary)
        compact["queries"] = pinned
        compact["queries_file"] = "bench_detail.json"
        compact["top5"] = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:5]
        )
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
