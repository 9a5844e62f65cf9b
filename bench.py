"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on ``session.get_spark``'s local master
(``SPARK_GRAFT_CPUS`` cores, else the host's) and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each row is timed by ``tools/qtime.timed_reps``: one untimed cold run,
then ``REPS`` timed runs of ``materialize`` (row count plus the xor of
``xxhash64`` over every output column, so every output expression
evaluates while one row returns to the driver).  A row's time is the
median of its timed runs.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

# Timed runs per row.  Five lets the median absorb two stalled runs on
# a shared host; one fixed count keeps the schedule independent of any
# earlier record.
REPS = 5

# Headline set: the flagship pipeline shape plus one representative of
# every operator family that matters at scale.  Every driver row is
# here except the quadratic all-pairs ops (ngram_jaccard,
# embedding_near_dup), whose scale path is LSH, benched as
# minhash_lsh_pairs and cosine_topk_lsh.  No AUX row whose cost is test
# scaffolding rather than a query plan is benched: bronze_ingest_replay
# synthesizes a CSV fixture; maintenance_cycle, rest_workload_roundtrip,
# mapping_refresh_gate and alerting_roundtrip append to scratch tables
# or canned transports; the streaming rows drain scratch checkpoints.
BENCH_QUERIES = [
    "flagship_census_count",
    "pricing_summary",
    "filter_project",
    "top1_latest_order",
    "anti_join",
    "watermark_filter",
    "latest_snapshot",
    "hierarchical_fallback",
    "interval_containment",
    "tumbling_window",
    "sessionize",
    "json_extract",
    "nested_explode",
    "exact_dedup",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_fast",
    "simhash",
    "cosine_topk",
    "cosine_topk_lsh",
    "language_id",
    "quality_score",
    "token_count",
    "fingerprint",
    "multimodal_meta",
    "join_3way",
    "rollup_agg",
    "percentiles",
    "percentiles_approx",
    "running_sum",
    "asof_boundary_join",
    "bigram_freq",
    "tfidf_top_terms",
    "dedup_components",
    "cosine_topk_ivf",
    "time_reanchor",
    "scalar_functions",
    "stable_sample",
    "stratified_sample",
    "pack_sequences",
    "pack_sequences_native",
    "quality_quantile_filter",
    "repetition_ratio",
    "contamination",
    "curation_pipeline",
    "incremental_dedup",
    "trailing_range_agg",
    "cube_agg",
    "novelty_score",
    "cms_heavy_hitters",
    "triangle_count",
    "inverted_index",
    "embedding_covariance",
    "pagerank",
    "bm25_score",
    "tfidf_doc_similarity",
    "ohlc_bucket",
    "transition_matrix",
    "winsorize",
    "histogram",
    "corr_matrix",
    "period_over_period",
    "rolling_active_users",
    "hybrid_retrieval",
    "key_skew_profile",
    "token_entropy",
    "pmi_collocations",
    "source_kl",
    "chi_square",
    "weighted_sample",
    "benford",
    "gini_tokens",
    "copurchase_pairs",
    "twap",
    "cusum_drift",
    "events_daily_overview",
    "duplicate_passages",
    "url_stats",
    "fulfillment_latency",
    "revenue_pareto",
    "model_quality_filter",
    "source_overlap",
    "frequency_spectrum",
    "hard_negatives",
    "retrieval_quality",
    "cdc_apply",
    "rollup_merge",
    "ewma",
    "linear_attribution",
    "kcore",
    "shortest_paths",
    "label_spreading",
    "streaks",
    "skyline",
    "merge_intervals",
    "weighted_median",
    "cuped",
    "k_anonymity",
    "psi_drift",
    "entity_resolution",
    "personalized_pagerank",
    "common_paths",
    "sequence_match",
    "neighbor_jaccard",
    "adamic_adar",
    "clustering_coeff",
    "kaplan_meier",
    "fk_integrity",
    "interarrival",
    "diff_in_diff",
    "audience_overlap",
    "zipf_slope",
    "rolling_corr",
    "doc_keywords",
    "price_elasticity",
    "safety_stock",
    "term_keyness",
    "mutual_topk",
    "log_rank",
    "seasonal_anomaly",
    "new_vs_returning",
    "price_volume_mix",
    "resample_interpolate",
    "conversion_ztest",
    "retention_halflife",
    "geo_nearest",
    "lead_lag_corr",
    "sorted_neighborhood",
    "spatial_clusters",
    "entity_resolution_sn",
    "best_changepoint",
    "conversion_latency",
    "weekly_decomposition",
    "share_of_parent",
    "stickiness",
    "supplier_reliability",
    "also_bought_topk",
    "theil_inequality",
    "hhi_concentration",
    "pareto_abc",
    "robust_zscore",
    "acf_daily",
    "holt_trend",
    "poisson_bootstrap",
    "cube_shares",
    "hits_scores",
    "item_similarity_cf",
    "theil_sen",
    "lorenz_curve",
    "containment_dedup",
    "negative_sampling",
    "rfm_segments_distributed",
    "sequence_gaps",
    "hll_distinct",
    "golden_record",
    "bloom_semi_join",
    "max_drawdown",
    "salted_hot_agg",
    "hll_audience_algebra",
    "quantile_normalize",
    "pca_top_component",
    "join_size_estimate",
    "l_diversity",
    "spearman_corr",
    "anova_f",
    "kruskal_wallis",
    "t_closeness",
    "vwap",
    "mutual_information",
    "feature_info_gain",
    "kendall_tau",
    "empirical_bayes_rates",
    "levene_variance",
    "jarque_bera",
    "runs_test",
    "bollinger_bands",
    "rsi_indicator",
    "degree_assortativity",
    "expectation_audit",
    "semantic_outlier",
    "srm_check",
    "target_encode",
    "dp_noisy_counts",
    "rate_ztest_sweep",
    "multiple_testing",
    "harmonic_centrality",
    "rolling_slope",
    "melt_metrics",
    "forecast_accuracy",
    "cumulative_gains",
    "weighted_mean_ess",
    "readability",
    "bom_rollup",
    "prorate_order_lines",
    "topk_others",
    "conformal_interval",
    "qini_curve",
    "price_index",
    "xyz_classification",
    "ols2_trend",
    "partial_corr",
    "rmst_survival",
    "sentence_chunks",
    "pseudonymize_keys",
    "dp_noisy_sum",
    "time_decay_attribution",
    "mmr_rerank",
    "cohens_kappa",
    "classification_loss",
    "woe_iv",
    "mann_kendall",
    "page_hinkley",
    "nelson_aalen",
    "control_chart",
    "cramers_v",
    "cohens_d",
    "burstiness",
    "chisq_gof",
    "ece_calibration",
    "rbo_overlap",
    "croston_forecast",
    "rocchio_assign",
    "centroid_silhouette",
    "capture_recapture",
    "unseen_mass",
    "cooccurrence_lift",
    "heaps_law",
    "mcnemar",
    "fleiss_kappa",
    "durbin_watson",
    "trimmed_mean",
    "decision_stump",
    "msprt_ab",
    "odds_ratio",
    "covariate_balance",
    "tail_risk",
    "fixed_effects",
    "relative_risk",
    "behavior_entropy",
    "markov_next_accuracy",
    "local_peaks",
    "ratio_metric_ci",
    "markov_attribution",
    "fd_audit",
    "histogram2d",
    "quantile_treatment_effect",
    "profit_curve",
    "weighted_kappa",
    "abc_xyz_matrix",
    "winnow_overlap",
    "loso_source_value",
    "ab_power_plan",
    "holm_sweep",
    "cochran_q",
    "friedman",
    "cliffs_delta",
    "ewma_control_chart",
    "fisher_exact",
    "gumbel_return_levels",
    "quantile_order_ci",
    "dedup_savings",
    "lsh_threshold_sweep",
    "loso_mixture_weights",
    "dup_quality_crosstab",
    "bartlett_variance",
    "icc_reliability",
    "by_sweep",
    "erlang_c",
    "mh_odds_ratio",
    "cronbach_alpha",
    "wilcoxon_signed_rank",
    "cramer_von_mises",
    "jonckheere_terpstra",
    "cochran_armitage",
    "ordinal_association",
    "seasonal_mann_kendall",
    "neyman_allocation",
    "kupiec_pof",
    "brier_decomposition",
    "bradley_terry",
    "weibull_fit",
    "chao1_richness",
    "annotation_budget",
    "storey_qvalue",
    "moods_median",
    "page_trend",
    "g_test",
    "cohens_h",
    "training_shard_pipeline",
    "eval_safe_split_plan",
    "cdc_roundtrip",
    "source_health",
    "multimodal_roundtrip",
    "diverse_retrieval",
    "crawl_refresh_loop",
    "next_event_lead",
    "semi_join",
    "union_distinct",
    "latest_batch",
    "rolling_window_expand",
    "coalesce_fallback",
    "except_intersect",
    "cosine_topk_ann",
    "agg_collect",
    "minhash_jaccard_estimate",
    "dedup_keep_best",
    "simhash_near_pairs",
]

# The headline total sums only these 42 rows (the 41 rows of
# BENCH_r02.json plus percentiles_approx; BASELINE.md "Bench artifact
# contract").  It is an allowlist, so a newly added row is timed but
# can never join the headline and break comparability across records.
COMPARABLE_BASIS = frozenset([
    "anti_join",
    "asof_boundary_join",
    "bigram_freq",
    "contamination",
    "cosine_topk",
    "cosine_topk_ivf",
    "cosine_topk_lsh",
    "dedup_components",
    "exact_dedup",
    "filter_project",
    "fingerprint",
    "flagship_census_count",
    "hierarchical_fallback",
    "interval_containment",
    "join_3way",
    "json_extract",
    "language_id",
    "latest_snapshot",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_fast",
    "multimodal_meta",
    "nested_explode",
    "pack_sequences",
    "percentiles",
    "percentiles_approx",
    "pricing_summary",
    "quality_quantile_filter",
    "quality_score",
    "repetition_ratio",
    "rollup_agg",
    "running_sum",
    "scalar_functions",
    "sessionize",
    "simhash",
    "stable_sample",
    "stratified_sample",
    "tfidf_top_terms",
    "time_reanchor",
    "token_count",
    "top1_latest_order",
    "tumbling_window",
    "watermark_filter",
])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import (
        DEFAULT_CPUS,
        get_spark,
    )
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: touch the biggest table once (JVM + codegen + FS cache)
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import load_table

    load_table(spark, sf_dir, "lineitem").count()

    from qtime import timed_reps

    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    outputs: dict[str, list] = {}
    errors: dict[str, str] = {}
    for name in BENCH_QUERIES:
        fn = q.QUERIES.get(name) or q.AUX_QUERIES[name]
        try:
            t = timed_reps(spark, lambda: fn(spark, sf_dir), REPS)
        except Exception as e:  # one broken query must not zero the record
            errors[name] = str(e).split("\n")[0][:200]
            print(f"# {name}: FAILED {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(statistics.median(t.runs), 3)
        spread[name] = round(max(t.runs) - min(t.runs), 3)
        outputs[name] = [t.rows, t.xor_hash]
        print(
            f"# {name}: warm median {timings[name]}s "
            f"(spread {spread[name]}s, cold {t.cold:.2f}s, {t.rows} rows)",
            file=sys.stderr,
        )

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    # host load beside the totals: identical code measured 22.3 s on a
    # quiet host and 33.3 s at load average ~6 on one day, so totals
    # are compared only together with their load
    try:
        load1, load5, _ = os.getloadavg()
    except OSError:
        load1 = load5 = None
    # headline = the frozen 42-row comparable basis; value_full = every
    # timed row, a coverage figure
    total = round(
        sum(v for k, v in timings.items() if k in COMPARABLE_BASIS), 3
    )
    total_full = round(sum(timings.values()), 3)
    record = {
        "metric": "headline-suite steady-state wall seconds at sf",
        "value": total,
        "value_comparable": total,
        "value_full": total_full,
        "n_comparable": sum(1 for k in timings if k in COMPARABLE_BASIS),
        "n_timed": len(timings),
        "unit": "sec",
        "queries": timings,
        "reps": REPS,
        "stat": "median",
        "noise_spread_sec": spread,
        "outputs": outputs,
        "host_loadavg_1m": round(load1, 2) if load1 is not None else None,
        "host_loadavg_5m": round(load5, 2) if load5 is not None else None,
        "sf": sf,
        "cpus": int(DEFAULT_CPUS),
        "note": (
            "since r3: percentiles is histogram-exact (was built-in "
            "percentile), percentiles_approx added; tumbling_window/"
            "top1_latest_order/interval_containment/scalar_functions/"
            "pack_sequences absorbed their folded twins (reanchor cols, "
            "earliest direction, CASE-label form, na.drop cols, "
            "no-straddle packing) so they do strictly more work than "
            "their r2 baseline rows — see BASELINE.md mapping"
        ),
    }
    # dedup_components runs MinHash+LSH before the CC loop; subtracting
    # the separately-timed LSH query isolates CC itself so regressions
    # there aren't masked by shared upstream cost
    derived: dict[str, float] = {}
    if "dedup_components" in timings and "minhash_lsh_pairs" in timings:
        derived["dedup_components_cc_only"] = round(
            max(timings["dedup_components"] - timings["minhash_lsh_pairs"], 0.0),
            3,
        )
    # per-variant packing attribution: the fused driver row minus the
    # native-only stage isolates the applyInPandas no-straddle cost
    if "pack_sequences" in timings and "pack_sequences_native" in timings:
        derived["pack_sequences_nostraddle_only"] = round(
            max(timings["pack_sequences"] - timings["pack_sequences_native"], 0.0),
            3,
        )
    if derived:
        record["derived"] = derived
    if errors:
        record["errors"] = errors

    # Regenerate the AUX correctness artifact on every bench run, so
    # AUX_CORRECTNESS.json stays fresh without a separate hook.  Fresh
    # subprocess: the aux harness builds its own session, and its
    # stdout is captured so this script's JSON stdout contract holds.
    # Best-effort — a broken aux query shows up in the artifact, not
    # as a bench failure.  Skippable for quick local timing loops.
    if os.environ.get("SPARK_GRAFT_SKIP_AUX") != "1":
        import subprocess

        # nothing below uses the bench session — stop it before the
        # subprocess builds its own JVM so two full SparkContexts never
        # coexist (double memory footprint on constrained hosts)
        spark.stop()

        try:
            aux = subprocess.run(
                [sys.executable, os.path.join(
                    ROOT, "tools", "aux_correctness.py",
                ), os.environ.get("SPARK_GRAFT_AUX_SF_DIR", "/root/testdata/sf0.01")],
                capture_output=True, text=True, timeout=2400,
            )
            tail = (aux.stdout or "").strip().splitlines()
            record["aux_correctness"] = tail[-1] if tail else f"rc={aux.returncode}"
        except Exception as e:  # noqa: BLE001
            record["aux_correctness"] = f"failed to run: {e}"

    # A capture that keeps only the last ~2,000 chars of stdout cannot
    # parse the full record, so it is written to BENCH_SELF.json and
    # printed, followed by a LAST line small enough for any tail
    # capture.
    with open(os.path.join(ROOT, "BENCH_SELF.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(json.dumps(record))
    # The last line carries the driver-contract rows (the queries()
    # registry) plus the 42-row comparable basis: 56 names at ms
    # precision, ~1.7 KB.  Its entries are add-only; "full_record"
    # points at the full record.
    driver_rows = set(q.QUERIES)
    tail_queries: dict[str, object] = {
        k: v
        for k, v in timings.items()
        if k in driver_rows or k in COMPARABLE_BASIS
    }
    tail_queries["full_record"] = "BENCH_SELF.json"
    print(
        json.dumps(
            {
                "metric": record["metric"],
                "value": total,
                "value_comparable": total,
                "value_full": total_full,
                "unit": "sec",
                "sf": sf,
                "queries": tail_queries,
            }
        )
    )


if __name__ == "__main__":
    main()
