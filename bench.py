"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ...}

Each query is timed as a full materialization (count of the result —
forces the whole plan without driver-side toPandas overhead). A warmup
query first absorbs JVM/codegen startup so per-query numbers reflect
steady-state execution.

Every headline query runs TWICE: cold (includes that query's own
codegen compile) and warm (steady state — the number round-over-round
comparisons should use).

Output discipline (round 2's full line overflowed the driver's tail
capture → BENCH_r02 "parsed": null): the LAST stdout line is a COMPACT
JSON summary — totals, per-query cold seconds rounded to 2 dp, and
per-table input stats so round-over-round ratios are interpretable
when the testdata is regenerated. The full detail (cold + warm per
query, unrounded) is written to BENCH_FULL.json next to this script.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stacktrend_spark.plans.registry import all_queries
from stacktrend_spark.session import get_spark

#: headline set: the flagship rollup, a shuffle-heavy join chain, the
#: full gold-layer acceptance surface, and the scale-critical
#: training-data operators.
HEADLINE = [
    "q1_pricing_summary",
    "join_revenue_by_nation",
    "window_lag_monthly_trend",
    "window_lead_ntile",
    "sessionize_events",
    "asof_purchase_login",
    "range_join_halfday_windows",
    "skew_salted_agg",
    "gold_tech_metrics",
    "gold_repo_ranks",
    "gold_trend_daily",
    "gold_repo_health_dashboard",
    "merge_upsert_orders",
    "agg_percentiles",
    "cube_revenue",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "sim_bruteforce_topk",
    "text_quality",
    "text_regex_tokens",
    "text_tfidf_topk",
    "split_train_test",
    "pipeline_corpus_curation",
    "multimodal_features",
    "stream_tumbling_daily",
    "stream_session_windows",
    "stream_stateful_totals",
    # --- end of the round-1 set: everything above is COMPARABLE, the
    # pinned subset behind `comparable_total` (identical membership to
    # BASELINE.json's r1 bench, so round-over-round deltas never need
    # tail archaeology). Additions go BELOW this line only.
    # r2 additions
    "sim_lsh_topk",
    "stream_stream_attribution",
    "text_decontaminate",
    "kmeans_recompute_centroids",
    # r3 additions
    "pipeline_semdedup",
    "sim_ivf_multiprobe",
    "validation_violations",
    "silver_keyword_extraction",
    # r4 additions
    "text_chunk_windows",
    "embedding_quantize_int8",
    "er_blocked_name_match",
    "triangle_count_copurchase",
    "max_concurrent_intervals",
    "corpus_shard_assign",
    "source_schema_evolution",
    "bucketed_join_colocated",
    "source_partition_pruning",
    "interval_overlap_join",
    "heavy_hitters_twopass",
    "variant_props_rollup",
    "sample_exact_k_per_group",
    "containment_join_keywords",
    "text_lm_score",
    "table_fingerprint_buckets",
    "lateral_top2_orders",
    "agg_weighted_median",
    "events_markov_transition",
    "customer_rfm_scores",
    "user_activity_streaks",
    "grouped_map_mad",
    "q6_forecast_revenue",
    "q3_shipping_priority",
    # r5 additions
    "kmv_distinct_sketch",
    "kmv_union_jaccard",
    "asof_nearest_click",
    "ewma_purchase_value",
    "compaction_bin_packing",
    "table_diff_by_fingerprint",
    "skyline_price_size",
    "top_user_paths",
    "bpe_pair_stats",
    "approx_quantile_bounded",
    "incremental_join_maintenance",
    "dedup_simhash_hamming",
    "kcore_copurchase_peel",
    "stream_kmv_daily_users",
    "target_encode_loo",
    "chi2_segment_status",
    "gini_revenue_by_nation",
    "simpson_diversity_events",
    "interval_merge_coverage",
    "cms_heavy_hitters",
    "setops_all_multiset",
    "graph_jaccard_neighbors",
    "bm25_keyword_search",
    "ks_drift_by_source",
    "geo_grid_nearest",
    "geo_cell_density",
    "stream_outer_attribution",
    "scd2_point_in_time_daily",
    "setsim_prefix_join",
    "q13_customer_distribution",
    "weighted_sample_aes",
    "zonemap_skipping_audit",
    "stream_dedup_within_watermark",
    "business_days_sla",
    "winnowing_fingerprints",
    "embedding_pq_codes",
    "q15_top_supplier",
    "q18_large_orders",
    "sim_ivfpq_adc_topk",
    "exact_median_distributed",
    "scd_consistency_audit",
    "bitmap_audience_overlap",
    "table_column_stats",
    "division_not_exists",
    "gdpr_anonymize_cascade",
    # r6 additions
    "dedup_minhash_star",
    "dedup_incremental_batch",
    "er_sorted_neighborhood",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q10_returned_items",
    "q16_supplier_variety",
    "q19_disjunctive_filter",
    "q21_waiting_suppliers",
    "hll_register_sketch",
    "k_anonymity_audit",
    "capped_running_balance",
    "attribution_first_last_touch",
    "band_join_price_pairs",
    "partition_skew_audit",
    "phrase_match_positions",
    "stream_hll_daily_users",
    "outlier_mahalanobis_2d",
    "dbscan_grid_clusters",
    "model_eval_auc",
    "golden_record_survivorship",
    # r6 batch 2
    "abtest_two_proportion_z",
    "powerlaw_degree_fit",
    "acf_daily_revenue",
    "holt_level_trend",
    "label_propagation_communities",
    "assoc_rules_lift",
    "pca_power_iteration",
    "model_calibration_ece",
    "hybrid_rrf_fusion",
    "moments_skew_kurtosis",
    "benford_leading_digit",
    "survival_km_curve",
    "q12_shipmode_priority",
    "q20_dominant_suppliers",
    "bloom_filter_membership",
    "entropy_kl_priority_mix",
    "gbdt_split_histogram",
    "naive_bayes_lang_confusion",
    "isotonic_calibration_minimax",
    "ols_two_feature_cramer",
    "hits_hubs_authorities",
    "cusum_changepoint",
    "stl_lite_decompose",
    "seq_pattern_trigrams",
    "stream_full_outer_attribution",
    "item_item_collab_filter",
    "dtw_nation_revenue",
    "spearman_rank_corr",
    "bootstrap_ci_revenue",
    "multimodal_image_dhash",
    "theilsen_mann_kendall",
    "model_gains_deciles",
    "mutual_info_pmi_cells",
    "negative_sampling_pairs",
    "l_diversity_audit",
    "clustering_coefficient_topk",
    "psi_feature_drift",
    "churn_training_assembly",
    "isoweek_rollup_parity",
    "ols_slope_by_nation",
    "wilson_lcb_category_ranking",
    "stl_residual_outliers",
    "lang_centroid_similarity",
    "collocation_pmi_topk",
    "gdpr_subject_access_export",
    "conversion_latency_quantiles",
    "huffman_code_cost",
    "join_cardinality_estimate",
    "bloom_prejoin_pruning",
    "pipeline_feature_store",
    "zorder_vs_linear_skipping",
    "array_hof_cosine_topk",
    "session_type_affinity",
    "quantile_drift_boundaries",
    "recursive_amortization_native",
    "rolling_correlation_14d",
    "forecast_backtest_snaive",
    "lexical_diversity_by_source",
    "vocab_coverage_curve",
    "degree_assortativity",
    "interevent_burstiness",
    "capture_recapture_estimate",
    "kfold_balance_audit",
    "cohens_kappa_raters",
    "cohens_d_segments",
    "dispersion_index_basket",
    # r7 additions
    "c4_boilerplate_ngrams",
    "quality_budget_cut",
    "curriculum_stage_assign",
    "ngram_novelty_decay",
    "dedup_containment_star",
    "source_leakage_matrix",
    "max_word_run_lengths",
    "dedup_cluster_stats",
    "feature_hashing_trick",
    "t_closeness_audit",
    "corpus_datasheet",
    "minhash_band_tuning",
    "source_corrupt_record_routing",
    "dsir_importance_resampling",
    "unigram_surprisal_filter",
    "tokenizer_fertility_panel",
    "fairness_demographic_parity",
    "conformal_calibration_quantile",
    "woe_information_value",
    "matryoshka_truncation_agreement",
    "jl_projection_distortion",
    "anova_oneway_f",
    "kruskal_wallis_h",
    "cuped_variance_reduction",
    "did_revenue_estimator",
    "srm_allocation_check",
    "stream_cms_event_counters",
    "query_likelihood_dirichlet",
    "misra_gries_summary",
    "session_window_native_batch",
    "snippet_best_window",
    "decayed_halflife_trending",
    "fellegi_sunter_weights",
    "grouped_applyinarrow_iqr",
    "source_python_datasource",
    "source_dynamic_partition_pruning",
    "observed_metrics_noop_sink",
    "retrieval_ndcg_eval",
    "attribution_position_based",
    "geo_point_in_polygon",
    "stream_scd2_asof_enrichment",
    "multimodal_scene_diff",
    "neyman_allocation_plan",
    "parameterized_sql_binding",
    "arrow_scalar_udf_luhn",
    "pinball_loss_quantile_eval",
    "merge_full_sync_orders",
    "running_max_drawdown",
    # r8 additions — the ~11 nontrivial rows the r7 verdict found with
    # no recorded timing anywhere (six gold_* mirrors, pagerank, the
    # two orchestration pipelines, semantic curation, patch grid):
    # HEADLINE now carries them every round instead of a one-shot.
    "gold_lang_stats",
    "gold_market_pulse",
    "gold_development_velocity",
    "gold_portfolio_overview",
    "gold_adoption_matrix",
    "gold_tech_health",
    "pagerank_copurchase",
    "pipeline_trend_gold",
    "pipeline_personal_gold",
    "pipeline_semantic_curation",
    "multimodal_patch_grid",
    # r9: the SemDeDup cell-scoped scale twin of dedup_embedding_cosine
    "dedup_semdedup_pairs",
    # r11: per-bucket audit of the hot-bucket triangle-grid guard
    "dedup_hotbucket_guard_audit",
    # r12: 64-bit band search — production config of the extracted
    # hamming_band_candidates operator (sign-safe shift+mask bands)
    "dedup_hamming_band64",
]

#: Exclusion manifest (r7 verdict task 3 — "no silent caps"): every
#: registered query NOT in HEADLINE gets an explicit reason here, and
#: bench.py emits the resolved map into BENCH_FULL.json. One-shot
#: cold/warm timings for every excluded row live in BENCH_LITE.json
#: (tools/bench_lite.py), so no query is without a recorded number.
EXCLUDE_TIER_REASONS = {
    # ground-truth baselines whose scale-safe twins are the headline
    "dedup_ngram_jaccard": "O(N²)-family ground-truth baseline; headline twin: dedup_minhash_lsh/dedup_minhash_star",
    "semdedup_recall_eval": "recall eval that runs the exhaustive ground truth inside itself; headline twin: dedup_semdedup_pairs",
}
EXCLUDE_DEFAULT_REASON = (
    "outside HEADLINE to bound bench wall time; one-shot timing "
    "recorded in BENCH_LITE.json (tools/bench_lite.py)"
)


def excluded_queries(registered: list[str]) -> dict[str, str]:
    head = set(HEADLINE)
    return {
        n: EXCLUDE_TIER_REASONS.get(n, EXCLUDE_DEFAULT_REASON)
        for n in registered
        if n not in head
    }

#: the r1-membership prefix of HEADLINE (see marker above)
COMPARABLE = HEADLINE[:29]


def input_stats(sf_dir: str) -> dict[str, dict[str, int]]:
    """Per-table row counts + byte sizes from parquet footers (no Spark
    jobs) — pins what the bench actually read, so an unexplained
    round-over-round slowdown is attributable to data vs code."""
    import pyarrow.parquet as pq

    stats: dict[str, dict[str, int]] = {}
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.splitext(os.path.basename(path))[0]
        try:
            stats[name] = {
                "rows": pq.read_metadata(path).num_rows,
                "bytes": os.path.getsize(path),
            }
        except Exception:
            stats[name] = {"rows": -1, "bytes": os.path.getsize(path)}
    return stats


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    specs = all_queries()

    # warmup: absorb JVM + codegen compile cost
    specs["q1_pricing_summary"].fn(spark, sf_dir).count()

    # Python-worker warmup: the first Arrow-batched query otherwise
    # pays the one-time pool spin-up (32 forked workers each importing
    # pandas+pyarrow — measured 13 s attributed to whichever grouped-map
    # query runs first; capped_running_balance showed 16.1 s cold vs
    # 2.2 s warm purely from this). On a real cluster the worker pool is
    # long-lived per executor, so steady state is the honest per-query
    # number; the spin-up cost is still reported, just attributed to
    # itself (python_worker_warmup_sec) instead of one arbitrary query.
    t0 = time.time()

    def _ident(batches):
        yield from batches

    spark.range(32).repartition(32).mapInPandas(_ident, "id long").count()
    py_warmup = round(time.time() - t0, 3)

    # chunk mode (local iteration only — the driver passes no args):
    # with query names given, run just those HEADLINE entries and
    # MERGE into the existing BENCH_FULL.json, so a full refresh can
    # be composed from <10-min runs. No-arg behavior is unchanged.
    picked = [a for a in sys.argv[1:] if not a.startswith("--")]
    run_list = [n for n in HEADLINE if not picked or n in picked]
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    warm_runs: dict[str, list[float]] = {}
    # committed warm medians from the last run — the reference the
    # variance guard below compares against (read BEFORE overwrite)
    prior_warm: dict[str, float] = {}
    if os.path.exists(full_path):
        with open(full_path) as f:
            prior = json.load(f)
        prior_warm = dict(prior.get("queries_warm", {}))
        if picked:
            timings = {n: v for n, v in prior.get("queries", {}).items() if n in HEADLINE}
            warm = {n: v for n, v in prior.get("queries_warm", {}).items() if n in HEADLINE}
            warm_runs = {
                n: v for n, v in prior.get("queries_warm_runs", {}).items() if n in HEADLINE
            }
    for name in run_list:
        # clean slate per query: several operators persist() small
        # intermediates they cannot unpersist (the result depends on
        # them lazily); without this the cache accumulates across the
        # run and later queries measure GC pressure, not themselves
        spark.catalog.clearCache()
        # label jobs (optimization guide §1.5) so UI/event-log trails
        # attribute stages to queries; no effect on timing or output
        spark.sparkContext.setJobDescription(f"bench cold: {name}")
        t0 = time.time()
        specs[name].fn(spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        # warm = MEDIAN of 3 runs (r5, verdict task 6): single warm
        # runs moved ±0.3 s round-over-round with zero code change —
        # the median floors that noise so real regressions show.
        spark.sparkContext.setJobDescription(f"bench warm: {name}")
        runs = []
        for _ in range(3):
            t1 = time.time()
            specs[name].fn(spark, sf_dir).count()
            runs.append(round(time.time() - t1, 3))
        warm_runs[name] = runs
        warm[name] = sorted(runs)[1]

    # VARIANCE GUARD (r6 verdict task 2; SYMMETRIC since r8 per
    # ADVICE): the r6 driver artifact showed ~8 comparable-subset
    # outliers (e.g. gold_repo_health_dashboard 0.28 → 2.38 s) on
    # untouched code — transient host contention read as a regression.
    # If a comparable query's warm median came out >2× OR <0.5× its
    # last committed value, re-measure it ONCE at the very end of the
    # session (when whatever contended has moved on) and record BOTH
    # sets; the official warm becomes the median of all 6 runs — still
    # an honest estimator, but one a single noisy window can't own.
    # The <0.5× side keeps a lucky quiet window from ratcheting the
    # committed medians down (the asymmetry ADVICE flagged).
    variance_reruns: dict[str, dict] = {}
    for name in [n for n in COMPARABLE if n in run_list]:
        ref = prior_warm.get(name)
        if ref and ref > 0 and (warm[name] > 2.0 * ref or warm[name] < 0.5 * ref):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"bench variance rerun: {name}")
            rerun = []
            for _ in range(3):
                t1 = time.time()
                specs[name].fn(spark, sf_dir).count()
                rerun.append(round(time.time() - t1, 3))
            all6 = sorted(warm_runs[name] + rerun)
            med6 = round((all6[2] + all6[3]) / 2, 3)
            variance_reruns[name] = {
                "prior_committed_warm": ref,
                "first_warm_runs": warm_runs[name],
                "rerun_warm_runs": rerun,
                "official_warm_median6": med6,
            }
            warm_runs[name] = all6
            warm[name] = med6

    tables = input_stats(sf_dir)
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_warm": warm,
        "queries_warm_runs": warm_runs,
        "warm_total": round(sum(warm.values()), 3),
        "comparable_total": round(sum(timings[n] for n in COMPARABLE), 3),
        "comparable_warm_total": round(sum(warm[n] for n in COMPARABLE), 3),
        # real median across the comparable subset's per-query warm
        # medians (r5 verdict: the old field duplicated the total)
        "comparable_warm_median": round(
            sorted(warm[n] for n in COMPARABLE)[len(COMPARABLE) // 2], 3
        ),
        "warm_is_median_of": 3,
        "variance_reruns": variance_reruns,
        "python_worker_warmup_sec": py_warmup,
        "comparable_n": len(COMPARABLE),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries_registered": len(specs),
        "n_queries_headline": len(HEADLINE),
        # no silent caps (r7 verdict task 3): every registered-but-
        # unbenched query appears here with its reason; one-shot
        # timings for all of them live in BENCH_LITE.json.
        "excluded_queries": excluded_queries(list(specs)),
        "input_tables": tables,
    }
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    # Compact summary LAST so a tail capture always gets a complete,
    # parseable line: cold seconds at 2 dp; warm only as totals; table
    # stats compressed to rows only.
    summary = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "warm_total": round(sum(warm.values()), 2),
        "comparable_total": full["comparable_total"],
        "comparable_warm_total": full["comparable_warm_total"],
        "comparable_warm_median": full["comparable_warm_median"],
        "variance_reruns": {
            n: v["official_warm_median6"] for n, v in variance_reruns.items()
        },
        "python_worker_warmup_sec": py_warmup,
        "sf": full["sf"],
        "input_rows": {n: s["rows"] for n, s in tables.items()},
        "detail": "BENCH_FULL.json",
    }
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
