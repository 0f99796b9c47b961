"""Catalog-wide physical-plan audit: every query's pre-execution plan is
checked for the antipatterns that break at 100 TB, and the result is
published as PLAN_AUDIT.md. tests/test_plans.py pins deep properties for
~30 showcase queries; :func:`check_plan` runs the three checks that need
no per-query knowledge, and ``tests/test_oracle_parity.py`` applies it to
every entry's build before collecting it:

- **cartesian**: a `CartesianProduct` operator (an unconditioned
  fact×fact join — always a bug; intentional tiny-side cross joins
  compile to BroadcastNestedLoopJoin instead).
- **single_partition**: a `SinglePartition` exchange, i.e. the plan
  funnels through ONE task. Legitimate only when the funneled frame is
  a post-aggregate/top-k reduced to scalars or value-cardinality rows —
  every such case is whitelisted BY NAME with the justification below.
- **py_row_udf**: `BatchEvalPython` (row-at-a-time pickled Python) —
  the engine's zero-row-UDF policy allows only Arrow-batched
  `ArrowEvalPython` / `MapInPandas` nodes (media path) and the
  `ArrowEvalPythonUDTF` node (the round-10 `udtf_trigram_spans` seam:
  @udtf(useArrow=True) batches via Arrow exactly like mapInPandas; the
  check string "BatchEvalPython" deliberately also catches a pickled
  `BatchEvalPythonUDTF`, so a UDTF that silently loses its arrow
  optimization WILL flag here).

Side-effectful builders (streaming runs, sink roundtrips) are skipped:
their builder CALL executes jobs, and their plans are the batch shapes
already audited elsewhere.

Usage: python tools/plan_doctor.py   (writes PLAN_AUDIT.md, exits 1 on
any non-whitelisted finding)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from project_bigdata_spark.plans.catalog import load_all  # noqa: E402
from project_bigdata_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# Builders whose CALL runs jobs (streams, sink writes) — their batch
# plan shapes are audited by tests/test_plans.py where meaningful.
SIDE_EFFECTFUL = {
    "csv_roundtrip",
    "jsonl_roundtrip",
    "partitioned_parquet_roundtrip",
    "streaming_hourly_attested",
    "streaming_sliding_attested",
    "stream_static_join_attested",
    "streaming_session_attested",
    # round 4
    "streaming_dedup_attested",
    "streaming_upsert_sink_attested",
    "streaming_multibatch_attested",
    "bucketed_join_roundtrip",
    "partition_upsert_roundtrip",
    "schema_evolution_roundtrip",
    "orc_roundtrip",
    "dynamic_partition_pruning_roundtrip",
    "stream_stream_join_attested",
    "custom_state_stream_attested",
    "python_sink_roundtrip",
    # round 9
    "stream_stream_outer_attested",
    "compression_codec_roundtrip",
    "streaming_availablenow_attested",
    # round 10
    "stream_stream_full_outer_attested",
    # round 11: the builder drives one noop-write action so observe()
    # metrics materialize; the result frame is the 3-row metric readout
    "observe_layer_counts",
}

# SinglePartition exchanges that are CORRECT: the funneled frame is a
# scalar / few-row reduction, never fact-scale rows.
SINGLE_PARTITION_OK = {
    # global scalar aggregates (one output row)
    "heaps_law_fit": "OLS moments reduced over the #(lang,source)-slice "
    "frame (~100 rows at any SF) -> one scalar row",
    "mmr_rerank": "r12 state-frame re-plan: whole-frame windows over the "
    "TOP-20 candidate pool (bounded by the limit upstream, never corpus "
    "rows); the corpus pass itself stays partitioned and is pinned once",
    "temperature_mix_allocation": "largest-remainder rank window over the "
    "#langs-row weight frame (vocabulary-bounded); corpus touched once "
    "upstream",
    "tfidf_cosine_pairs": "broadcast one-row n_docs scalar feeding the idf "
    "literal; the postings joins themselves are term-partitioned",
    "fellegi_sunter_linkage": "one-row m/u sufficient-statistics scalar "
    "broadcast back over the candidate frame; candidates come from the "
    "blocked (lang, first-word) self-join",
    "blocking_quality_audit": "per-scheme census rows (4 schemes x one "
    "row) + |truth|-row key-equality joins — block-cardinality frames, "
    "pairs never materialized",
    "dsir_resample": "one-row target/raw total-mass scalar crossed into "
    "the 1024-bucket ratio table (model-width-bounded, never corpus "
    "rows); the corpus side is hash-partitioned (doc_id, bucket) counts",
    "welch_ttest": "2-row variant pivot -> one scalar row",
    "key_skew_profile": "cumsum over DISTINCT count values (cardinality-bounded)",
    "embedding_drift": "64-row per-dim means packed into one row",
    "dataset_profile_5v": "five scalar census numbers",
    "approx_stats": "sketch-vs-exact audit over #event_types rows",
    "value_hour_correlation": "five scalar moments",
    "higher_moments": "four scalar moments",
    "interval_overlap_join": "global hourly-total scalar (one row) feeding "
    "the broadcast hot-hour filter",
    "pagerank_parts": "broadcast one-row n_nodes frame drives the integer "
    "base (replaced the round-4 driver-side deg.count() action)",
    "benford_audit": "broadcast one-row n_total scalar crossed into the "
    "9 digit rows",
    "raking_ipf": "IPF sweeps run on the 20-cell (type x 6h-bucket) "
    "grid — marginal sums and rescales are grid-sized, never volume",
    "cuped_adjustment": "one-row covariate-moment reduce broadcast back "
    "over the per-user frame; variant/total frames are 2-3 rows",
    "stratified_ate": "48-cell (hour x arm) frame reduced to scalar "
    "estimates — bounded by the stratum grid, never event volume",
    "diff_in_diff": "one scalar span row + the 4-cell design aggregate "
    "reduced to one contrast row",
    "degree_assortativity": "five scalar degree moments reduced to one "
    "row",
    "modularity_lpa": "scalar m / e_in / sum_dc2 reduces crossed into "
    "the one modularity row (community frame is label-cardinality)",
    "quality_auc": "cumulative window over the SCORE-GRID bins (<= 1e6+1 "
    "rows by construction, never corpus-sized) — the sort-free "
    "histogram AUC",
    "entropy_rate": "states^2-row transition frame reduced to the one "
    "entropy row + one-row state-count scalar — bounded by the type "
    "vocabulary, never event volume",
    "friedman_daily_types": "k-row rank-sum frame reduced to the one "
    "Q-statistic row (k = type vocabulary) + one-row k scalar; the "
    "per-day rank windows partition on the day key",
    "doremi_domain_weights": "one-row corpus token-total scalar feeding "
    "both LM vocab TakeOrdereds + the |sources|-row normalizing reduce "
    "— model tables and domain frame are vocabulary/source-bounded",
    "clustering_ari_eval": "k x labels contingency aggregate reduced to "
    "three scalar pair-count rows; the kmeans assignment underneath is "
    "the already-audited kmeans_lloyd plan",
    "gmm_em_1d": "per-round responsibility-moment reduce to one scalar "
    "row crossed with the 1-row broadcast parameter state — model "
    "state never exceeds one row",
    "wasserstein_drift": "one-row pooled-total scalar; the cumsum "
    "windows partition BY EVENT TYPE over the value-grid-bounded "
    "frame (|types| x |grid| rows by construction)",
    "mann_whitney_u": "ordered cumsum over the VALUE-GRID frame "
    "(cents-cardinality-bounded, never row volume) + one-row "
    "tie-correction scalar",
    "mrr_map_eval": "rank + cumulative-hit windows over the TakeOrdered "
    "top-100 cut (100 rows by construction) + one-row relevant-total "
    "scalar",
    "query_likelihood_retrieval": "one-row corpus-token-total scalar and "
    "|q|-row collection-frequency broadcast; final rank window over the "
    "TakeOrdered top-10 (10 rows)",
    "ridge_normal_equations": "ONE sufficient-statistics reduce to a "
    "single scalar row; the Cramer solve is scalar projections after",
    "logistic_gd_classifier": "per-step gradient reduce to one scalar "
    "row crossed with the 1-row broadcast weight state — model-width-"
    "bounded, never corpus rows",
    "svm_hinge_gd": "per-step subgradient reduce to one scalar row "
    "crossed with the 1-row broadcast weight state — the "
    "logistic_gd_classifier shape with a hinge kernel",
    "user_sequence_anomaly": "top-20 rank filter compiles to "
    "WindowGroupLimit (per-partition partial top-k before the single-"
    "partition final, the tfidf_top_terms discipline) + one-row "
    "type-cardinality scalar",
    "markov_backtest": "LIMIT 1 global-majority cut over the "
    "types-cardinality count frame + the overall-accuracy scalar "
    "reduce union branch",
    "mcnemar_filter_agreement": "ONE 2x2-census scalar reduce — the "
    "whole output is a single row of exact integer counts",
    "cochran_q_gates": "ONE gate-census scalar reduce (the McNemar "
    "shape with three flag columns) — a single row of exact integers",
    "rec_coverage_audit": "exposure-Gini rank window over the "
    "item-vocabulary-bounded (<=|items|) exposure counts + one-row "
    "catalog scalar crossed in",
    "brier_decomposition": "scalar Brier reduce + the component reduce "
    "over the 10-bin frame crossed with the 1-row totals",
    "rbo_rankings": "both inputs are TakeOrdered top-10 cuts; the "
    "depth join, overlap aggregate and cumulative window all run on "
    "10-row frames by construction",
    "lagged_crosscorr": "one-row min/max bounds scalar seeding the "
    "dense hour grid; the per-lag Pearson reduce runs over the "
    "series-length-bounded (720×13) aligned frame, never facts",
    "kneser_ney_bigram": "one-row bigram-type-total scalar (N1+(·,·), "
    "the continuation denominator) crossed into the broadcast model "
    "join; counts tables are vocabulary-bounded",
    "embedding_isotropy": "the ALL-scope branch reduces the 64·L "
    "per-dimension cells (bounded by dims × labels, never vectors) "
    "and the label-count side is a labels-cardinality scalar frame",
    "word_burstiness": "one-row corpus-doc-count scalar crossed into the "
    "TakeOrdered top-50 term table",
    "ccnet_perplexity_buckets": "one-row token-total scalar feeding the "
    "broadcast vocab join; the tercile rank windows partition BY "
    "LANGUAGE (the funneled frame is the scalar, not the ranking)",
    "hits_hubs_authorities": "one-row mass-total scalar per half-step "
    "(the integer renormalization divisor) + rank windows over the two "
    "TakeOrdered top-10 cuts",
    "precision_recall_at_k": "rank window over the TakeOrdered top-20 "
    "cut (20 rows by construction) + one-row relevant-total scalar",
    "k_core_decomposition": "one census row per peeling round (3 rows "
    "total) unioned; the peels themselves are keyed joins",
    "shingle_granularity_curve": "one census row per shingle width "
    "(5 rows total) unioned; each arm is a map-side-combinable agg",
    "naive_bayes_eval": "vocab-size + train-doc-count scalars (one row "
    "each) broadcast into the model build",
    "mutual_information_profile": "(type x hour) cell grid (24 x "
    "|types| rows) reduced to the one MI row + one-row entropy scalar",
    "embedding_near_dups": "one-row adaptive plane-count scalar "
    "(k = clamp(ceil(log2(n/8)), 8, 16)) broadcast into the bucketing",
    "zipf_slope_fit": "rank window over the TakeOrdered top-1000 "
    "frequency cut + one 5-moment scalar reduce",
    "roc_curve_points": "9-threshold confusion table (9 rows by the "
    "literal threshold set) + one-row positives/negatives scalar",
    "word_pmi": "global top-20 rank over the vocabulary-bounded pair "
    "frame (WindowGroupLimit-capped) + one-row N scalar",
    "decision_stump": "9-row decile-candidate frame and the global "
    "rank window over it; the volume work is the map-side-combined "
    "broadcast conditional aggregate",
    "kaplan_meier": "duration-grid frame (rows = distinct event "
    "durations, bounded by the observation window in hours) carries "
    "the prefix windows — never user- or event-count-sized",
    "sequential_patterns": "one-row total-session scalar crossed into "
    "the type-pair rows (vocabulary-squared cardinality)",
    "anova_oneway": "k-row (event-type vocabulary) group-moment frame "
    "reduced to the single F-statistic row — bounded by the type "
    "cardinality, never by event volume",
    "pca_power_iteration": "per-round norm + trace scalars folded from "
    "the 64-row matvec frame (dim-bounded, corpus-free)",
    "triangle_count": "three single-row scalar counts (nodes/edges/"
    "triangles) crossed into the summary row",
    "corr_matrix_lineitem": "single 15-column moment row; the 6 pair rows "
    "explode from it, no re-aggregation",
    "chi_square_independence": "scalar test statistic",
    # round 9
    "kruskal_wallis_value": "ordered cumsum over the VALUE-GRID frame "
    "(cents-cardinality-bounded, the mann_whitney_u machinery) + the "
    "k-row term frame and its scalar reduce",
    "wilcoxon_signed_rank": "ordered cumsum over the |d|-GRID frame "
    "(bounded by distinct hourly differences, never events) + one "
    "scalar reduce",
    "brown_forsythe_variance": "k-row (type) sufficient-statistics "
    "frame reduced to the single F row; the per-type median runs "
    "partitioned BY TYPE",
    "cramers_v_effect": "scalar effect-size row (the "
    "chi_square_independence funnel with four extra renders)",
    "fleiss_kappa_gates": "one scalar agreement row from the corpus "
    "three-flag reduce",
    "neyman_allocation": "largest-remainder rank window over the "
    "|types|-row weight frame (the temperature_mix_allocation shape)",
    "isotonic_calibration": "prefix window + minimax algebra over the "
    "10-BIN reliability frame (<= B^3/6 rows by construction); the "
    "corpus contributes one 10-group aggregate",
    "nelson_aalen_hazard": "duration-grid frame carries the prefix "
    "windows (the kaplan_meier shape) — never user- or event-sized",
    "randomization_test_diff": "60-row permuted-stat frame + one-row "
    "observed scalar; the volume work is ONE fan-out aggregate with "
    "map-side combine straight to 60 sufficient rows",
    "label_cosine_matrix": "labels×dims cells self-join (k·L bounded, "
    "never vectors) + k-row count broadcast — the embedding_isotropy "
    "funnel widened to pairs",
    "connected_components_minlabel": "one-row round-3→4 flip-count "
    "scalar crossed into the component-size census (sizes ≤ "
    "components, never edges)",
    "textrank_keywords": "broadcast one-row n_nodes frame drives the "
    "integer base + final top-20 TakeOrdered (the pagerank_parts "
    "shape on the vocabulary-bounded word graph)",
    "jensen_shannon_sources": "one-row vocab-total scalar + top-256 "
    "TakeOrdered vocabulary broadcast (the domain_kl_divergence "
    "shape); the |sources|×256 grid is bounded regardless of corpus",
    "domain_share_stats": "one-row corpus doc/token totals broadcast "
    "into the |domains|-row share table",
    "url_exact_dedup": "url-keyed hash aggregate only — flagged here "
    "solely for the final few-row render",
    "log_rank_test": "duration-grid frame carries the per-group "
    "cumulative windows (the kaplan_meier shape) + one scalar reduce",
    "cohens_d_effect": "one conditional-aggregate scalar row",
    "benjamini_hochberg_pairs": "rank + suffix-min windows over the "
    "m=C(types,2) p-value frame (pair-cardinality-bounded); the "
    "volume work is ONE ×pairs×60 fan-out aggregate with map-side "
    "combine straight to m×60 sufficient rows",
    "ams_f2_audit": "16-row estimator frame + one-row exact-F2 scalar; "
    "the volume work is ONE ×16 fan-out aggregate with map-side "
    "combine straight to 16 (k, X) rows",
    "block_jackknife_variance": "≤31-row day-block frame and its "
    "scalar reduces — the corpus is touched once by the block "
    "aggregate",
    "drift_psi": "scalar PSI",
    "gini_concentration": "per-entity aggregate ranked once (keys, not facts)",
    "markov_steady_state": "8x8 transition matrix in one row",
    "minhash_error_eval": "estimator-error summary scalars",
    "approx_distinct_audit": "sketch-vs-exact scalar compare",
    "approx_quantile_audit": "sketch-vs-exact scalar compare",
    "scalar_misc": "scalar expressions demo row",
    "q6_forecast_revenue": "single-row revenue reduce",
    "pq_encode": "codebook distance-table build (one broadcast row)",
    "pq_search": "top-k TakeOrdered merge",
    "ivfpq_search": "top-k TakeOrdered merge",
    "trend_fit": "per-entity OLS on entity-aggregate (keys, not facts)",
    "exact_percentile_bands": "per-type order stats; final merge of 5 groups",
    "period_over_period": "lag over days x types post-aggregate",
    "rfm_segments": "quartile thresholds from per-customer aggregate",
    "global_ids": "shard-rank offsets (shards, not rows)",
    "epoch_shuffle": "per-shard rank offsets",
    "snapshot_diff": "added/removed/changed scalar census",
    "dq_check_suite": "constraint scalar report",
    "dq_referential_integrity": "orphan-count scalars",
    "dedup_exact": "duplicate-count scalar tail",
    "temperature_mix": "per-source weights (|sources| rows)",
    "source_reputation": "per-source shrunk means (|sources| rows)",
    "training_prep_audit": "fold x label census (50 rows)",
    "corpus_composition": "per-source cumulative share (|sources| rows)",
    "funnel_conversion": "4 funnel scalars",
    "layer_stats": "3-layer census",
    "q1_pricing_summary": "4-group final sort",
    # one-broadcast-row builds: a tiny aggregate (vocab / centroids /
    # corpus stats / global thresholds) collapses to ONE row that then
    # broadcasts — the engine's core zero-shuffle idiom; the funneled
    # frame is the aggregate, never facts
    "corpus_mix": "per-language quota row (one broadcast row build)",
    "unigram_logprob": "top-4096 vocab packed into one broadcast row",
    "bigram_logprob": "capped LM rows packed into one broadcast row",
    "semantic_dedup": "coarse centroid table packed into one broadcast row",
    "zorder_events": "global min/max stats row for rank normalization",
    "tfidf_top_terms": "corpus doc-count scalar",
    "bm25_retrieval": "corpus stats row (N, avgdl)",
    "boilerplate_ngrams": "distinct-doc count scalar",
    "dq_conditional_counts": "scalar condition census",
    "q14_promo_share": "single-row promo-share reduce",
    "q19_bracketed_revenue": "single-row revenue reduce",
    "q22_idle_customers": "global avg-balance scalar subquery",
    "q15_top_supplier": "global max-revenue scalar",
    "q17_small_quantity_revenue": "single-row revenue reduce",
    "q11_important_parts": "global value-threshold scalar",
    "ivf_assign": "centroid table packed into one broadcast row",
    "ivf_search": "centroid + query packed into one broadcast row",
    "hybrid_rrf_search": "corpus stats + few-row top-k fusion",
    "prf_expanded_search": "feedback term set packed into one broadcast row",
    "woe_iv_encoding": "global event/non-event totals row",
    "assoc_rules": "session-count scalar (the support denominator)",
    "centroid_classifier_eval": "10-row centroid table packed into one broadcast row",
    "equi_depth_histogram": "cumsum over DISTINCT values (cardinality-bounded)",
    "countmin_audit": "d x w counter cells (a few KB by construction)",
    "mahalanobis_outliers": "64 (mu, var) pairs packed into one broadcast row",
    "copurchase_affinity": "order-count scalar (the lift denominator)",
}


# finding -> the operator that marks it in the formatted physical plan
PLAN_MARKERS = {
    "cartesian": "CartesianProduct",
    "py_row_udf": "BatchEvalPython",
}


def formatted_plan(df) -> str:
    """``df.explain("formatted")`` as a string: the pre-execution physical
    plan that every plan check, test and dump in the repo reads."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def check_plan(name: str, df) -> tuple[list[str], bool]:
    """(findings, whitelisted) for ``df``'s pre-execution physical plan:
    the antipatterns found, and whether the plan holds a SinglePartition
    exchange that ``SINGLE_PARTITION_OK`` allows for ``name``."""
    plan = formatted_plan(df)
    findings = [f for f, marker in PLAN_MARKERS.items() if marker in plan]
    single = "Arguments: SinglePartition" in plan
    if single and name not in SINGLE_PARTITION_OK:
        findings.append("single_partition")
    return findings, single and name in SINGLE_PARTITION_OK


def audit() -> int:
    spark = get_spark(app_name="plan-doctor")
    specs = load_all()
    rows: list[tuple[str, str, str]] = []
    bad = 0
    # name order: the audit must not reshuffle when the catalog's
    # attestation order moves
    for name, spec in sorted(specs.items()):
        if name in SIDE_EFFECTFUL:
            rows.append((name, "skipped", "side-effectful builder"))
            continue
        try:
            findings, whitelisted = check_plan(name, spec.builder(spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001
            rows.append((name, "ERROR", str(exc).splitlines()[0][:80]))
            bad += 1
            continue
        if findings:
            rows.append((name, "FLAG", ",".join(findings)))
            bad += 1
        elif whitelisted:
            rows.append(
                (name, "ok*", f"1-partition OK: {SINGLE_PARTITION_OK[name]}")
            )
        else:
            rows.append((name, "ok", ""))
    lines = [
        "# PLAN_AUDIT — catalog-wide physical-plan checks",
        "",
        "Generated by `python tools/plan_doctor.py` at sf0.001. Checks: no",
        "`CartesianProduct`, no row-at-a-time `BatchEvalPython`, and every",
        "`SinglePartition` exchange whitelisted with its justification",
        "(legitimate only on scalar/cardinality-bounded frames).",
        "",
        f"**{len(rows)} queries: "
        f"{sum(1 for r in rows if r[1] == 'ok')} clean, "
        f"{sum(1 for r in rows if r[1] == 'ok*')} whitelisted single-partition, "
        f"{sum(1 for r in rows if r[1] == 'skipped')} skipped (side-effectful), "
        f"{bad} flagged.**",
        "",
        "| query | status | note |",
        "|---|---|---|",
    ]
    for name, status, note in rows:
        if status in ("ok",):
            continue  # keep the table to the interesting rows
        lines.append(f"| `{name}` | {status} | {note} |")
    lines += [
        "",
        "All rows not listed are `ok` (no findings). A FLAG or ERROR row "
        "fails the tool (exit 1) and the paired pytest.",
        "",
    ]
    Path(__file__).resolve().parent.parent.joinpath("PLAN_AUDIT.md").write_text(
        "\n".join(lines)
    )
    print(f"PLAN_AUDIT.md: {len(rows)} queries, {bad} flagged")
    return bad


if __name__ == "__main__":
    sys.exit(1 if audit() else 0)
