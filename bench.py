"""Benchmark harness: times registered queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 testdata) on local[$SPARK_GRAFT_CPUS].

    python bench.py                  # every HEADLINE query -> BENCH_FULL.json
    python bench.py <query> [...]    # just those, merged into the files

Every timing is ``measure()``: the frame is written through the noop
sink, which runs the whole plan (a ``count()`` lets Catalyst prune what
it does not read -- ``window_lead_ntile`` loses its Window). One cold
run, then three warm runs whose median is the only estimator.

With query names (any registered query; an unknown name exits non-zero
before Spark starts), HEADLINE rows merge into BENCH_FULL.json and the
rest into BENCH_LITE.json. A merge refuses a file of another series
(sink or scale factor), so no file mixes two kinds of number.

The LAST stdout line is a COMPACT JSON summary (a full line once
overflowed a tail capture): totals, per-query cold seconds
at 2 dp, and per-table input rows, so ratios across rounds stay
interpretable when the testdata is regenerated. The files hold the
full detail.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from stacktrend_spark.plans.registry import all_queries  # noqa: E402
from stacktrend_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: how every query is materialized; recorded in each result file
SINK = "noop"

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

#: Exclusion manifest ("no silent caps"): every registered query NOT in
#: HEADLINE gets an explicit reason here, and bench.py emits the
#: resolved map into BENCH_FULL.json.
EXCLUDE_TIER_REASONS = {
    # ground-truth baselines whose scale-safe twins are the headline
    "dedup_ngram_jaccard": "O(N²)-family ground-truth baseline; headline twin: dedup_minhash_lsh/dedup_minhash_star",
    "semdedup_recall_eval": "recall eval that runs the exhaustive ground truth inside itself; headline twin: dedup_semdedup_pairs",
}
EXCLUDE_DEFAULT_REASON = (
    "outside HEADLINE to bound bench wall time; `python bench.py <name>` "
    "times it into BENCH_LITE.json"
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
            stats[name] = {"rows": pq.read_metadata(path).num_rows, "bytes": os.path.getsize(path)}
        except Exception:
            stats[name] = {"rows": -1, "bytes": os.path.getsize(path)}
    return stats


def scale_factor(sf_dir: str) -> float | str:
    """The scale factor a testdata dir holds, from its ``sf<scale>`` name."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def _noop(df) -> None:
    df.write.format(SINK).mode("overwrite").save()


def measure(spark, name: str, fn, sf_dir: str | None) -> dict:
    """Time the frame ``fn(spark, sf_dir)``, built anew inside the timer
    and written through the noop sink under job group ``name``: one cold
    run, then three warm runs whose median is the estimator."""
    spark.sparkContext.setJobGroup(name, name)
    runs = []
    for _ in range(4):
        t0 = time.time()
        _noop(fn(spark, sf_dir))
        runs.append(round(time.time() - t0, 3))
    return {"cold": runs[0], "warm_runs": runs[1:], "warm": statistics.median(runs[1:])}


def warm_up(spark, sf_dir: str) -> float:
    """Absorb JVM start and codegen with one q1 run, then spin up the
    Python worker pool, which the first Arrow-batched query would pay
    otherwise (a grouped-map query once read 16.1 s cold, 2.2 s warm).
    On a cluster the pool lives as long as its executor. Returns the
    pool's spin-up seconds, reported as itself."""
    _noop(all_queries()["q1_pricing_summary"].fn(spark, sf_dir))

    def _ident(batches):
        yield from batches

    t0 = time.time()
    _noop(spark.range(32).repartition(32).mapInPandas(_ident, "id long"))
    return round(time.time() - t0, 3)


def load_series(path: str, sf, merge: bool) -> dict:
    """The result file at ``path`` if it holds this run's series (same
    sink and scale factor), else ``{}`` — or, when the run would merge
    rows into it, a refusal: merged rows would mix two kinds of number
    under one label."""
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        prior = json.load(f)
    series = (prior.get("sink"), prior.get("sf"))
    if series == (SINK, sf):
        return prior
    if merge:
        raise SystemExit(
            f"{path} holds sink={series[0]} sf={series[1]}, this run is "
            f"sink={SINK} sf={sf}; move the file aside to start a new series"
        )
    return {}


def write_full(path, prior, results, reruns, py_warmup, sf, tables) -> dict:
    timings = {n: v for n, v in prior.get("queries", {}).items() if n in HEADLINE}
    warm = {n: v for n, v in prior.get("queries_warm", {}).items() if n in HEADLINE}
    warm_runs = {n: v for n, v in prior.get("queries_warm_runs", {}).items() if n in HEADLINE}
    for name, r in results.items():
        timings[name], warm[name], warm_runs[name] = r["cold"], r["warm"], r["warm_runs"]
    # a chunked file may still lack comparable rows: no partial totals
    whole = all(n in warm for n in COMPARABLE)
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sink": SINK,
        "queries": timings,
        "queries_warm": warm,
        "queries_warm_runs": warm_runs,
        "warm_total": round(sum(warm.values()), 3),
        "comparable_total": round(sum(timings[n] for n in COMPARABLE), 3) if whole else None,
        "comparable_warm_total": round(sum(warm[n] for n in COMPARABLE), 3) if whole else None,
        # median across the comparable subset's per-query warm medians
        "comparable_warm_median": (
            round(statistics.median(warm[n] for n in COMPARABLE), 3) if whole else None
        ),
        "warm_is_median_of": 3,
        "variance_reruns": reruns,
        "python_worker_warmup_sec": py_warmup,
        "comparable_n": len(COMPARABLE),
        "sf": sf,
        "n_queries_registered": len(all_queries()),
        "n_queries_headline": len(HEADLINE),
        "excluded_queries": excluded_queries(list(all_queries())),
        "input_tables": tables,
    }
    with open(path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    return full


def write_lite(path, prior, results, sf, tables) -> dict:
    queries = {**prior.get("queries", {}), **results}
    lite = {
        "metric": "excluded_queries",
        "unit": "sec",
        "sink": SINK,
        "sf": sf,
        "n_excluded": len(queries),
        "queries": queries,
        "warm_total": round(sum(q["warm"] for q in queries.values()), 3),
        "input_rows": {n: s["rows"] for n, s in tables.items()},
    }
    with open(path, "w") as f:
        json.dump(lite, f, indent=1, sort_keys=True)
    return lite


def main(argv: list[str]) -> None:
    specs = all_queries()
    picked = list(dict.fromkeys(argv))
    unknown = [n for n in picked if n not in specs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    sf = scale_factor(SF_DIR)
    head = [n for n in HEADLINE if not picked or n in picked]
    rest = [n for n in picked if n not in HEADLINE]
    full_path = os.path.join(REPO, "BENCH_FULL.json")
    lite_path = os.path.join(REPO, "BENCH_LITE.json")
    # read (and for a merge, check) both files before any Spark work
    prior_full = load_series(full_path, sf, merge=bool(picked)) if head else {}
    prior_lite = load_series(lite_path, sf, merge=True) if rest else {}

    spark = get_spark("bench")
    py_warmup = warm_up(spark, SF_DIR)
    results = {n: measure(spark, n, specs[n].fn, SF_DIR) for n in head + rest}

    # VARIANCE GUARD: host contention once read as a 1.35x regression on
    # untouched code. A comparable query whose warm median is >2x OR
    # <0.5x its committed value (the low side keeps a lucky quiet window
    # from ratcheting the medians down) is measured again at the end of
    # the session; both sets are kept, the median of all 6 is official.
    reruns: dict[str, dict] = {}
    prior_warm = prior_full.get("queries_warm", {})
    for name in [n for n in COMPARABLE if n in results]:
        r, ref = results[name], prior_warm.get(name)
        if ref and (r["warm"] > 2.0 * ref or r["warm"] < 0.5 * ref):
            again = measure(spark, name, specs[name].fn, SF_DIR)["warm_runs"]
            all6 = sorted(r["warm_runs"] + again)
            reruns[name] = {
                "prior_committed_warm": ref,
                "first_warm_runs": r["warm_runs"],
                "rerun_warm_runs": again,
                "official_warm_median6": round(statistics.median(all6), 3),
            }
            r["warm_runs"], r["warm"] = all6, reruns[name]["official_warm_median6"]

    tables = input_stats(SF_DIR)
    if rest:
        lite = write_lite(lite_path, prior_lite, {n: results[n] for n in rest}, sf, tables)
        print(json.dumps({k: lite[k] for k in ("metric", "sf", "n_excluded", "warm_total")}
                         | {"detail": "BENCH_LITE.json"}))
    if not head:
        return
    head_results = {n: results[n] for n in head}
    full = write_full(full_path, prior_full, head_results, reruns, py_warmup, sf, tables)
    # compact summary LAST: cold seconds at 2 dp, warm only as totals
    summary = {
        "metric": "headline_queries_total",
        "value": round(full["value"], 2),
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in full["queries"].items()},
        "warm_total": round(full["warm_total"], 2),
        "comparable_total": full["comparable_total"],
        "comparable_warm_total": full["comparable_warm_total"],
        "comparable_warm_median": full["comparable_warm_median"],
        "variance_reruns": {n: v["official_warm_median6"] for n, v in reruns.items()},
        "python_worker_warmup_sec": py_warmup,
        "sf": sf,
        "input_rows": {n: s["rows"] for n, s in tables.items()},
        "detail": "BENCH_FULL.json",
    }
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main(sys.argv[1:])
