"""Physical-plan audits: assert the plan shapes that matter at 100 TB.

These tests read ``.explain``-style output and pin the properties the
engine's scale story depends on: predicate/column pushdown into parquet,
broadcast strategies for dim joins, partial aggregation, and the absence
of cartesian products. A green catalog with a wrong plan is a perf bug —
this is where it fails loudly.
"""

from __future__ import annotations

from project_bigdata_spark.plans.catalog import load_all
from tools.plan_doctor import formatted_plan


def plan_of(spark, sf_dir, name: str) -> str:
    return formatted_plan(load_all()[name].builder(spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "date_range_filter")
    assert "PushedFilters" in plan
    # the event_type IN-list must reach the parquet reader. (The ts bounds
    # cannot: events.ts is TIMESTAMP(NANOS) parquet, read as long and
    # converted — a derived column is not pushable. A production table
    # written with µs timestamps pushes both; this is a testdata artifact.)
    assert "In(event_type" in plan or "EqualTo(event_type" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "deterministic_sample")
    # ReadSchema must not include unused columns like props/event_type
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "props" not in read[0] and "event_type" not in read[0]


def test_q5_broadcasts_all_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 4  # customer/supplier/nation/region
    assert "CartesianProduct" not in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    # partial -> exchange -> final: map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_semi_anti_join_strategies(spark, sf_dir):
    semi = plan_of(spark, sf_dir, "semi_join_customers")
    anti = plan_of(spark, sf_dir, "anti_join_customers")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_knn_broadcasts_query_not_corpus(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "knn_brute_force")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # top-k must be a TakeOrderedAndProject, not a global Sort
    assert "TakeOrderedAndProject" in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "top_k_latest")
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "asof_join_events")
    # union + window construction: no join operator at all, and only
    # hash-partitioning exchanges (no range-join blowup)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_gold_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "gold_hourly")
    # one aggregation exchange; bronze/silver stages are narrow
    assert plan.count("Exchange hashpartitioning") <= 1


def test_ivf_zero_corpus_shuffle(spark, sf_dir):
    # The index side (centroids [+ query + probe set]) collapses to ONE
    # broadcast row; the corpus side must stay a narrow map — the
    # window-argmax formulation would re-shuffle corpus×centroids, the
    # dominant cost at billions of vectors.
    for name in ("ivf_assign", "ivf_search"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" in plan, name
        assert "Window" not in plan, name
        assert "SortMergeJoin" not in plan, name
    assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "ivf_search")


def test_knn_batch_no_window_over_scored_set(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "knn_batch")
    # two-level bounded top-k: aggregates, never a Window/global Sort over
    # the corpus x queries product
    assert "Window" not in plan
    assert "ObjectHashAggregate" in plan or "HashAggregate" in plan


def test_q2_no_row_inflation(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
    # the cheapest-supplier set reduces to ONE broadcast row before
    # touching part: no per-part window, no window shuffle
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_ngram_block_guard_in_plan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "ngram_jaccard_block")
    # the max_block windowed-count filter must sit in the plan (the
    # quadratic-block guard), and the self-join must not be cartesian
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_pii_redact_stays_in_codegen(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pii_redact")
    # pure per-row regex work: no shuffle, no Python worker, one codegen span
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "codegen id" in plan


def test_corpus_mix_broadcasts_rates(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "corpus_mix")
    # the per-lang rate table is broadcast; the corpus never shuffles for it
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_packing_single_window_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "token_packing")
    # one hash exchange on shard for the running sum; no global sort
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning" in plan
    assert "rangepartitioning" not in plan


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "contamination_check")
    # benchmark shingle set broadcast; corpus side narrow + aggregate
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dedup_clusters_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_clusters")
    assert "CartesianProduct" not in plan


def test_chunk_embed_search_single_python_stage_topk(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "chunk_embed_search")
    # top-k is a TakeOrderedAndProject; the query-row branch is broadcast
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_unigram_scoring_broadcast_lookups(spark, sf_dir):
    # token lookups must be broadcast HASH joins (O(1) per token — an
    # element_at on a vocab MAP is a linear scan), the one-row total
    # arrives by broadcast nested loop, and nothing sorts or SMJs
    plan = plan_of(spark, sf_dir, "unigram_logprob")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_quality_quantile_threshold_broadcasts(spark, sf_dir):
    # the one-row-per-language threshold table joins broadcast, never SMJ
    plan = plan_of(spark, sf_dir, "quality_quantile_filter")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_snapshot_diff_joins_digests_only(spark, sf_dir):
    # full-outer join on doc_id: SMJ is the right strategy (both sides
    # large at scale); the join schema must carry digests, never text
    plan = plan_of(spark, sf_dir, "snapshot_diff")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_incremental_dedup_no_cartesian_no_corpus_self_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "incremental_dedup")
    assert "CartesianProduct" not in plan
    # pairing happens through the band_key equi-join, never a nested loop
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_apply_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dedup_apply")
    assert "CartesianProduct" not in plan


def test_knn_quantized_broadcast_and_takeordered(spark, sf_dir):
    # same scale shape as knn_brute_force: query row broadcasts, top-k
    # compiles to TakeOrderedAndProject, no window over the scored set
    plan = plan_of(spark, sf_dir, "knn_quantized")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_top_ngrams_window_over_aggregate_not_corpus(spark, sf_dir):
    # the ranking window consumes the (lang, gram) aggregate, and Spark's
    # WindowGroupLimit pushes the rank<=K cut below the exchange (partial
    # top-k on the map side) — the corpus explode never reaches a window
    plan = plan_of(spark, sf_dir, "top_ngrams")
    assert "Window" in plan
    assert "WindowGroupLimit" in plan
    # column pruning: the scan reads only text+lang
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "doc_id" not in read[0] and "source" not in read[0]


def test_bloom_probe_broadcasts_bitmap_no_cartesian(spark, sf_dir):
    # the bitmap and the confirm-join corpus side must both arrive by
    # broadcast at this SF (the only nested-loop allowed is the bounded
    # shards x words skeleton cross join inside the bitmap build — it
    # never touches corpus rows); the probe itself is bit math
    plan = plan_of(spark, sf_dir, "bloom_dedup_prefilter")
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_diversity_sample_single_exchange_group_limit(spark, sf_dir):
    # one hash exchange on the LSH cell; the quota filter must appear as
    # a WindowGroupLimit (rank rewrite), not a post-window Filter alone
    plan = plan_of(spark, sf_dir, "diversity_sample")
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange") <= 2  # one hash + possible AQE read
    assert "SortMergeJoin" not in plan


def test_bigram_scoring_zero_corpus_shuffle(spark, sf_dir):
    # model lookups are broadcast HASH joins (bigram + both unigram
    # sides), the one-row total is broadcast nested loop, vocab caps via
    # TakeOrdered — no window, no SMJ
    plan = plan_of(spark, sf_dir, "bigram_logprob")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_segment_dedup_shuffles_digests_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "segment_dedup")
    # segment text must be projected away before any exchange: the md5
    # digest and (doc_id, seg_idx) are the only keyed bytes that move
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "seg#" not in line and "seg," not in line


def test_feature_scaling_broadcasts_stats_not_facts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "feature_scaling")
    # stats side broadcast back; the event stream itself never reshuffles
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_fixed_n_group_limit_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "stratified_fixed_n")
    # rn <= n must push into the per-group sort, not filter post-window
    assert "WindowGroupLimit" in plan


def test_asof_tolerance_no_join_operator(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "asof_tolerance_join")
    # same union+carry shape as asof_join_events: the tolerance bound must
    # not introduce a range join or any join operator at all
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_counts_without_distinct_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "boilerplate_ngrams")
    # array_distinct-before-explode: plain count(*), so there must be no
    # count-distinct expand and the top-20 must be a TakeOrdered merge
    assert "Expand" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ewma_single_window_exchange(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "ewma_features")
    # one entity exchange feeding one Window: the EWMA fold must not add
    # a shuffle beyond the shared per-entity window partitioning
    assert plan.count("(2) Exchange") == 1
    assert "Window" in plan
    assert "Join" not in plan


def test_cdc_head_pick_uses_window_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "cdc_state")
    # rank-1 head pick must push into the exchange sort (partial + final)
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan


def test_scd2_single_dim_pass(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "scd2_customer")
    # explode form, not a 3-way union: the update batch's aggregation must
    # appear ONCE (union branches would replay it per branch)
    assert "Union" not in plan
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    # update batch broadcasts onto the dim
    assert "BroadcastHashJoin" in plan


def test_mad_checkpointed_stats_no_lineage_replay(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "mad_outliers")
    # the tiny stats frames are lineage-truncated; the fact median
    # aggregation must not be recomputed per branch — at most the two
    # genuine fact passes (deviation agg + outlier count) remain
    assert plan.count("percentile(value") <= 1
    assert "CartesianProduct" not in plan


def test_ivfpq_corpus_never_wide_shuffles(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "ivfpq_search")
    # index side rides broadcast rows; candidate cut is a TakeOrdered;
    # the only exchanges may carry the <= rerank candidate rows
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_seasonal_anomaly_baseline_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "seasonal_anomaly")
    # the ~35-row baseline joins back onto facts via broadcast, never SMJ
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_concurrency_curve_bounded_explode_not_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "concurrency_curve")
    # hour-grid explode (Generate) replaces the sweep-line prefix sum; a
    # global-order window would show a single-partition Exchange
    assert "Generate" in plan
    assert "SinglePartition" not in plan
    assert "Join" not in plan


def test_welch_ttest_single_pass_no_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "welch_ttest")
    # variant moments come from ONE fact scan (each node prints twice in
    # formatted explain: tree + detail); the 2-row pivot is an agg
    assert plan.count("Scan parquet") == 2
    assert "Join" not in plan


def test_touch_attribution_rides_entity_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "touch_attribution")
    # both IGNORE-NULLS last_value specs share ONE user_id exchange; the
    # only other exchange feeds the 5-row rollup (2 nodes x 2 mentions)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "Join" not in plan


def test_time_to_conversion_signup_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "time_to_conversion")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_state_merge_audit_two_level_no_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "state_merge_audit")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_assoc_rules_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "assoc_rules")
    # pair join keys on the session; only the 1-row total may ride a
    # broadcast nested loop
    assert "CartesianProduct" not in plan


def test_funnel_depth_single_fold_no_per_stage_scans(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "funnel_depth")
    # greedy chain folds in ONE aggregate: the cascaded min-after-previous
    # oracle shape would need a fact scan per stage (each scan node prints
    # twice: tree + detail -> 2 scans = 4 mentions)
    assert plan.count("Scan parquet") == 4  # stage events + distinct users
    assert "CartesianProduct" not in plan


def test_distinct_rollup_two_level_no_expand(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "distinct_rollup_two_level")
    # exact distinct via pre-grouping, not a count-distinct Expand
    assert "Expand" not in plan
    assert "Join" not in plan


def test_temperature_mix_normalizers_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "temperature_mix")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_source_reputation_global_mean_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "source_reputation")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_centroid_classifier_corpus_side_fold(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "centroid_classifier_eval")
    # the centroid table reaches the holdout as ONE broadcast row; the
    # holdout itself must not shuffle for classification
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "aggregate(" in plan  # the in-plan argmin fold


def test_knn_classifier_eval_set_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "knn_classifier_eval")
    # eval set broadcasts against the train corpus (knn_batch shape)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_percentile_bands_single_group_pipeline(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "exact_percentile_bands")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2  # one scan node (tree + detail)


def test_partitioned_roundtrip_read_prunes_partitions(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "partitioned_parquet_roundtrip")
    # the day filter must prune hive partitions at the read-back scan,
    # not filter rows post-scan
    assert "PartitionFilters" in plan
    assert "day#" in plan[plan.index("PartitionFilters") :][:300]


def test_dynamic_partition_pruning_in_plan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "dynamic_partition_pruning_roundtrip")
    # the runtime-derived busy-day set must be injected into the
    # partitioned fact scan as a DPP subquery filter — without it the
    # join reads all 30 day partitions
    assert "dynamicpruning" in plan.lower()

