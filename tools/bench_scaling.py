"""Scaling-curve benchmark: headline queries across sf0.001/0.01/0.1.

Writes BENCH_SCALING.md — evidence that runtime grows sub-linearly /
linearly with data size (fixed overhead dominates at small SF; the
100 TB question is the slope between the two largest points).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from project_bigdata_spark.plans.catalog import load_all  # noqa: E402
from project_bigdata_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

SFS = ["sf0.001", "sf0.01", "sf0.1"]
BASE = "/root/testdata"


# Non-headline queries whose scale behavior is worth publishing (the
# bench.py headline set stays fixed so round-over-round totals compare).
EXTRA = [
    "dedup_clusters",
    "incremental_dedup",
    "unigram_logprob",
    "quality_quantile_filter",
    "snapshot_diff",
    "hash_split",
    "knn_batch",
    "token_packing",
    "repeated_ngram_spans",
    "semantic_dedup",
    "bloom_dedup_prefilter",
    "diversity_sample",
    "bigram_logprob",
    "segment_dedup",
    "boilerplate_ngrams",
    "edit_distance_linkage",
    "session_window_native",
    "feature_scaling",
    "approx_distinct_audit",
    "feature_hashing",
    "bpe_pair_counts",
    "segment_dedup_apply",
    "unigram_entropy",
    "weighted_sample",
    "audio_segments",
    "ewma_features",
    "scd2_customer",
    "cdc_state",
    "mad_outliers",
    "approx_quantile_audit",
    "salted_hourly_agg",
    "trend_fit",
    "shard_manifest",
    "image_resize_grid",
    "epoch_shuffle",
    "ivfpq_search",
    "hybrid_rrf_search",
    "prf_expanded_search",
    "drift_psi",
    "higher_moments",
    "chi_square_independence",
    "woe_iv_encoding",
    "rfm_segments",
    "global_ids",
    "session_paths",
    "markov_steady_state",
    "gini_concentration",
    "seasonal_anomaly",
    "concurrency_curve",
    "welch_ttest",
    "touch_attribution",
    "time_to_conversion",
    "state_merge_audit",
    "assoc_rules",
    "funnel_depth",
    "distinct_rollup_two_level",
    "temperature_mix",
    "source_reputation",
    "centroid_classifier_eval",
    "knn_classifier_eval",
    "exact_percentile_bands",
    "csv_roundtrip",
    "jsonl_roundtrip",
    "partitioned_parquet_roundtrip",
    "wordpiece_apply",
    "hopping_window_counts",
    "period_over_period",
    "rolling_distinct_24h",
    "key_skew_profile",
    "embedding_drift",
    "salted_join_attested",
    "hard_negative_mining",
    "training_prep_audit",
    "countmin_audit",
    "equi_depth_histogram",
    "mahalanobis_outliers",
    # round-4 additions
    "weighted_median_delay",
    "ohlc_bars",
    "interval_overlap_join",
    "ks_drift_by_type",
    "audience_overlap",
    "streaming_dedup_attested",
    "bucketed_join_roundtrip",
    "partition_upsert_roundtrip",
    "grouping_sets_profile",
    "pareto_frontier_suppliers",
    "streaming_upsert_sink_attested",
    "quantile_normalize",
    "mmr_rerank",
    "corr_matrix_lineitem",
    "schema_evolution_roundtrip",
    "streaming_multibatch_attested",
    "scd2_point_in_time_join",
    "orc_roundtrip",
    "time_weighted_avg",
    "loo_target_encode",
    "json_pack_unpack",
    "dynamic_partition_pruning_roundtrip",
    "stream_stream_join_attested",
    "custom_state_stream_attested",
    "python_sink_roundtrip",
    "triangle_count",
    "pagerank_parts",
    "variant_shred",
    "recursive_reachability",
    "sql_udf_pipeline",
    "lateral_topk_orders",
    "xml_pack_unpack",
    "listagg_profile",
    "try_arithmetic_audit",
    # round-5 additions
    "benford_audit",
    "cusum_drift",
    "domain_kl_divergence",
    "minhash_containment",
    "margin_bitext_mining",
    "kmeans_lloyd",
    "hilbert_layout",
    "pca_power_iteration",
    "golden_record_survivorship",
    "holt_forecast",
    "theil_sen_trend",
    "mann_kendall_test",
    "runs_test",
    "acf_lags",
    "spearman_hourly",
    "changepoint_best_split",
    "anova_oneway",
    "stl_profile",
    "ngram_novelty",
    "sequential_patterns",
    "xcorr_lags",
    "kaplan_meier",
    "retention_cohorts",
    "harmonic_regression",
    "poisson_bootstrap_ci",
    "trimmed_stats",
    "hill_tail_index",
    "word_pmi",
    "decision_stump",
    "uncertainty_sampling",
    "conformal_intervals",
    "entropy_rate",
    "median_polish",
    "forecast_backtest",
    "ljung_box_test",
    "quality_auc",
    "label_propagation",
    "adamic_adar_links",
    "degree_assortativity",
    "modularity_lpa",
    "stratified_ate",
    "diff_in_diff",
    "cuped_adjustment",
    "raking_ipf",
    "power_analysis",
    # round-6 additions
    "kendall_tau_hourly",
    "pacf_profile",
    "friedman_daily_types",
    "overdispersion_test",
    "ndcg_eval",
    "precision_recall_at_k",
    "roc_curve_points",
    "calibration_bins",
    "jaccard_link_prediction",
    "k_core_decomposition",
    "naive_bayes_eval",
    "matryoshka_truncation_audit",
    "shingle_granularity_curve",
    "csv_malformed_audit",
    "mutual_information_profile",
    "zipf_slope_fit",
    # round-7 additions
    "simhash_hamming_pairs",
    "hll_distinct_audit",
    "chao1_vocab_richness",
    "heaps_law_fit",
    "luhn_pii_audit",
    "readability_scores",
    "temperature_mix_allocation",
    "ann_recall_audit",
    "event_order_inversions",
    "gumbel_topk_sample",
    "winnowing_fingerprints",
    "tfidf_cosine_pairs",
    "kcenter_maximin_init",
    "fellegi_sunter_linkage",
    "blocking_quality_audit",
    # round-8 additions
    "dsir_resample",
    "bpe_train_merges",
    "anchor_substring_spans",
    "contamination_audit",
    "leakage_safe_split",
    "gopher_quality_gates",
    "tokenizer_fertility",
    # round-8 second-wave additions
    "mrr_map_eval",
    "query_likelihood_retrieval",
    "ridge_normal_equations",
    "logistic_gd_classifier",
    "gbm_residual_stumps",
    "word_burstiness",
    "soft_dedup_weights",
    "ccnet_perplexity_buckets",
    "hits_hubs_authorities",
    # round-8 third-wave additions
    "clustering_ari_eval",
    "gmm_em_1d",
    "wasserstein_drift",
    "mann_whitney_u",
    # round-8 fourth-wave additions
    "doremi_domain_weights",
    "char_entropy_compression",
    "corpus_self_bleu",
    # round-8 fifth-wave additions
    "lagged_crosscorr",
    "hll_intersection",
    "kneser_ney_bigram",
    "svm_hinge_gd",
    "embedding_isotropy",
    "item_cooccurrence_recs",
    # round-8 sixth-wave additions
    "interarrival_fit",
    "user_sequence_anomaly",
    "markov_backtest",
    "mcnemar_filter_agreement",
    "brier_decomposition",
    "rbo_rankings",
    # round-8 seventh-wave additions
    "wilson_proportion_ci",
    "hod_uniformity_test",
    # round-8 eighth-wave additions
    "cluster_quality_indices",
    "err_eval",
    "cochran_q_gates",
    "yule_k_richness",
    "rec_coverage_audit",
    # round-9 additions (batch entries; the streaming and sink-writing
    # ones are attested elsewhere — their builder calls ARE the jobs)
    "url_canonicalize",
    "domain_share_stats",
    "domain_blocklist_filter",
    "url_exact_dedup",
    "repetition_dedup_apply",
    "connected_components_minlabel",
    "kruskal_wallis_value",
    "cramers_v_effect",
    "brown_forsythe_variance",
    "isotonic_calibration",
    "neyman_allocation",
    "textrank_keywords",
    "wilcoxon_signed_rank",
    "fleiss_kappa_gates",
    "label_cosine_matrix",
    "kfold_assignment",
    "jensen_shannon_sources",
    "randomization_test_diff",
    "nelson_aalen_hazard",
    "log_rank_test",
    "cohens_d_effect",
    "benjamini_hochberg_pairs",
    "ams_f2_audit",
    "block_jackknife_variance",
    # round 10
    "udtf_trigram_spans",
    "gbm_depth2_trees",
    "line_quality_stats",
    "line_dedup_apply",
    "line_gate_filter",
    "aqi_recommendation_rollup",
    "pii_redaction_apply",
]


def main() -> None:
    spark = get_spark(app_name="bench-scaling")
    registry = load_all()
    specs = [s for s in registry.values() if s.headline]
    specs += [registry[n] for n in EXTRA if n in registry]
    # warm-up at the smallest SF
    for s in specs:
        s.builder(spark, f"{BASE}/sf0.001").limit(1).write.format("noop").mode(
            "overwrite"
        ).save()

    results: dict[str, dict[str, float]] = {}
    for sf in SFS:
        for s in specs:
            # best-of-2: a single-shot cell is 20-40% noisy on this VM
            # (GC pauses, /tmp churn from the IO entries) — enough to
            # print a phantom 4-7x slope on a genuinely linear plan
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                s.builder(spark, f"{BASE}/{sf}").write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            results.setdefault(s.name, {})[sf] = best

    lines = [
        "# BENCH_SCALING — headline runtimes across scale factors",
        "",
        f"Generated by `python tools/bench_scaling.py` on local[{DEFAULT_CPUS}]. "
        "lineitem rows: 6k / 60k / 600k; events: 1k / 10k / 100k.",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | x10 data slope (0.01→0.1) |",
        "|---|---|---|---|---|",
    ]
    for name, row in results.items():
        slope = row["sf0.1"] / row["sf0.01"] if row["sf0.01"] > 0 else float("nan")
        lines.append(
            f"| `{name}` | {row['sf0.001']:.2f}s | {row['sf0.01']:.2f}s "
            f"| {row['sf0.1']:.2f}s | {slope:.1f}x |"
        )
    lines += [
        "",
        "A slope well under 10x on a 10x data step means fixed overhead "
        "(JVM, planning, task launch) still dominates — the engine has "
        "headroom; the per-row cost visible in the slope is what "
        "extrapolates to cluster scale.",
        "",
    ]
    md = Path(__file__).resolve().parent.parent / "BENCH_SCALING.md"
    # preserve the skew-soak section maintained by tools/bench_skew.py
    suffix = ""
    if md.exists() and "\n## Skew soak" in md.read_text():
        old = md.read_text()
        suffix = old[old.index("\n## Skew soak") :]
    md.write_text("\n".join(lines).rstrip() + "\n" + suffix)
    print("\n".join(lines[5 : 5 + len(results)]))


if __name__ == "__main__":
    main()
