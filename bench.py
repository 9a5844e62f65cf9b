"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized through ``sum(xxhash64(every column))`` —
a count() alone would let Catalyst prune unreferenced projection
columns, timing map-only queries as little more than scan+count; the
hash aggregate forces every output expression to actually evaluate
while still returning a single row to the driver.  A warmup action
first amortizes JVM/codegen startup out of per-query numbers.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the flagship pipeline shape plus one representative of
# every operator family that matters at scale.  Quadratic all-pairs ops
# (ngram_jaccard, embedding_near_dup) are excluded — their scale path
# is LSH, which IS benchmarked (minhash_lsh_pairs, cosine_topk_lsh).
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
    # round-9 additions (excluded from the comparable total)
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
    # round-9 widening batches 4-5 (excluded from the comparable total)
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
    # round-10 widening
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
    # round-10 widening batch 2
    "theil_sen",
    "lorenz_curve",
    "containment_dedup",
    "negative_sampling",
    "rfm_segments_distributed",
    "sequence_gaps",
    "hll_distinct",
    "golden_record",
    # round-10 widening batch 3
    "bloom_semi_join",
    "max_drawdown",
    "salted_hot_agg",
    # round-10 widening batch 4
    "hll_audience_algebra",
    "quantile_normalize",
    "pca_top_component",
    # round-10 widening batch 5
    "join_size_estimate",
    "l_diversity",
    # round-10 widening batch 6
    "spearman_corr",
    "anova_f",
    "kruskal_wallis",
    "t_closeness",
    "vwap",
    # round-10 widening batch 7
    "mutual_information",
    "feature_info_gain",
    # round-10 widening batch 8
    "kendall_tau",
    "empirical_bayes_rates",
    # round-10 widening batch 9
    "levene_variance",
    "jarque_bera",
    "runs_test",
    "bollinger_bands",
    "rsi_indicator",
    "degree_assortativity",
    # round-10 widening batch 10
    "expectation_audit",
    "semantic_outlier",
    "srm_check",
    "target_encode",
    "dp_noisy_counts",
    # round-10 widening batch 11
    "rate_ztest_sweep",
    "multiple_testing",
    # round-10 widening batch 12
    "harmonic_centrality",
    "rolling_slope",
    "melt_metrics",
    # round-10 widening batch 13
    "forecast_accuracy",
    "cumulative_gains",
    "weighted_mean_ess",
    "readability",
    # round-10 widening batch 14
    "bom_rollup",
    "prorate_order_lines",
    "topk_others",
    # round-10 widening batch 15
    "conformal_interval",
    "qini_curve",
    # round-10 widening batch 16
    "price_index",
    "xyz_classification",
    # round-10 widening batch 17
    "ols2_trend",
    "partial_corr",
    "rmst_survival",
    # round-10 widening batch 18
    "sentence_chunks",
    "pseudonymize_keys",
    "dp_noisy_sum",
    # round-10 widening batch 19
    "time_decay_attribution",
    "mmr_rerank",
    # round-10 widening batch 20
    "cohens_kappa",
    "classification_loss",
    "woe_iv",
    "mann_kendall",
    # round-10 widening batch 21
    "page_hinkley",
    "nelson_aalen",
    "control_chart",
    "cramers_v",
    "cohens_d",
    # round-10 widening batch 22
    "burstiness",
    "chisq_gof",
    "ece_calibration",
    "rbo_overlap",
    # round-10 widening batch 23
    "croston_forecast",
    "rocchio_assign",
    "centroid_silhouette",
    # round-10 widening batch 24
    "capture_recapture",
    "unseen_mass",
    "cooccurrence_lift",
    "heaps_law",
    # round-10 widening batch 25
    "mcnemar",
    "fleiss_kappa",
    "durbin_watson",
    "trimmed_mean",
    # round-10 widening batch 26
    "decision_stump",
    "msprt_ab",
    "odds_ratio",
    "covariate_balance",
    # round-10 widening batch 27
    "tail_risk",
    "fixed_effects",
    "relative_risk",
    # round-10 widening batches 28-29
    "behavior_entropy",
    "markov_next_accuracy",
    "local_peaks",
    "ratio_metric_ci",
    # round-10 widening batch 30
    "markov_attribution",
    # round-10 widening batch 31
    "fd_audit",
    "histogram2d",
    "quantile_treatment_effect",
    # round-10 widening batch 32
    "profit_curve",
    "weighted_kappa",
    "abc_xyz_matrix",
    # round-10 widening batch 33
    "winnow_overlap",
    # round-10 widening batch 34
    "loso_source_value",
    # round-10 widening batch 35
    "ab_power_plan",
    "holm_sweep",
    # round-10 widening batch 36
    "cochran_q",
    "friedman",
    # round-10 widening batch 37
    "cliffs_delta",
    "ewma_control_chart",
    # round-11 widening batches 38-41
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
    # round-11 widening batch 42
    "erlang_c",
    "mh_odds_ratio",
    "cronbach_alpha",
    # round-11 widening batch 43
    "wilcoxon_signed_rank",
    "cramer_von_mises",
    # round-11 widening batch 44
    "jonckheere_terpstra",
    # round-11 widening batch 45
    "cochran_armitage",
    "ordinal_association",
    # round-11 widening batch 46
    "seasonal_mann_kendall",
    "neyman_allocation",
    # round-11 widening batch 47
    "kupiec_pof",
    "brier_decomposition",
    # round-11 widening batch 48
    "bradley_terry",
    # round-11 widening batch 49
    "weibull_fit",
    "chao1_richness",
    # round-11 widening batch 50
    "annotation_budget",
    "storey_qvalue",
    # round-11 widening batch 51
    "moods_median",
    "page_trend",
    # round-11 widening batch 52
    "g_test",
    "cohens_h",
    # round-12 composition exhibits
    "training_shard_pipeline",
    "eval_safe_split_plan",
    "cdc_roundtrip",
    "source_health",
    "multimodal_roundtrip",
    "diverse_retrieval",
    # round-13 composition exhibit: the crawl-refresh operational loop
    "crawl_refresh_loop",
    # round 14 (r13 verdict item 1): the driver-contract rows that were
    # never individually timed — added so the final one-line JSON (and
    # the driver's per-query/scaling comparison built from it) covers
    # every queries() entry it verifies.  Additions only; all excluded
    # from the frozen comparable basis by the allowlist construction.
    # ngram_jaccard / embedding_near_dup stay unbenched per the
    # standing quadratic-ops policy (their scale path IS benched via
    # the LSH rows).
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
    # bronze_ingest_replay is deliberately NOT benched: its CSV
    # fixture synthesis (driver-side test scaffolding) would dominate
    # the timing; the measured-path operators (CSV scan, anti-join,
    # versioned write) are benched via their own rows.  Its r13
    # streaming twin (streaming_bronze_ingest) is unbenched for the
    # same reason (same synthesized fixture) plus the streaming-row
    # policy: streaming_shard_feed is the one timed streaming row.
    # maintenance_cycle (r13) is likewise unbenched: its cost is the
    # scratch-table append/rewrite scaffolding, not a query plan.
    # rest_workload_roundtrip / mapping_refresh_gate /
    # alerting_roundtrip (r13): same policy — canned-transport +
    # scratch-append scaffolding dominates their wall-clock.
]

# The cross-round COMPARABLE basis (BASELINE.md "Bench artifact
# contract, round 6"): the r2-era 42 rows (41 r2 queries +
# percentiles_approx, added r3 and folded into the r3 calibration).
# Every OTHER timed row — attribution re-measures, r6+ additions, the
# round-10 widening batches — is timed-but-EXCLUDED from the headline
# by construction: this is an ALLOWLIST, so a newly added query can
# never silently join the headline and break comparability (the r10
# mistake: 50 session-2 rows slipped into an exclusion-list scheme
# and the headline read 84 s vs r9's 34 s on a 42-row basis of 33.4).
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
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.session import get_spark
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark import queries as q

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: touch the biggest table once (JVM + codegen + FS cache)
    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.sources.registry import load_table

    load_table(spark, sf_dir, "lineitem").count()

    # Steady-state timing: first execution pays one-time costs that are
    # noise at production scale (whole-stage-codegen compilation, Python
    # worker pool spin-up for Arrow UDFs); we warm each query once and
    # time the second execution, which measures the plan itself.
    from pyspark.sql import functions as F

    def materialize(df) -> int:
        """Force every output column to evaluate (xxhash64 over all
        columns defeats count()'s column pruning); one row returns."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor, not sum: ANSI mode makes a long sum overflow
            F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
        ).collect()[0]
        return row["n"]

    from azure_databricks_sharepoint_on_premise_to_cloud_etl_spark.scope import Scope

    # Median-of-REPS warm timing: round 4 showed untouched queries
    # swinging up to 2.1× between rounds with a single warm run — the
    # shared-session bench's noise floor was unknown.  Three warm reps
    # give a median that absorbs one bad run, and the recorded
    # per-query spread IS the noise floor a cross-round comparison
    # must clear before calling something a regression.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # Queries measured with multi-run warmup slopes or episodic slow
    # reps (probe: cosine_topk_lsh in a fresh session ran
    # 7.3/2.3/1.6/1.2/1.2/1.1/1.1 — steady state takes ~3 executions;
    # dedup_components swings ±0.7s with suite position).  Extra reps
    # let the median converge past the slope.
    volatile_reps = {
        "cosine_topk_lsh": max(reps, 5),
        "cosine_topk_ivf": max(reps, 5),
        "dedup_components": max(reps, 5),
        "multimodal_meta": max(reps, 5),
        # r7 flagged these three as episodic spikes (e.g.
        # source_overlap 4.03 s one round, 0.71 s the next, identical
        # code); 5 reps bound the median so the cross-round regression
        # rule can bind them instead of marking them unjudgeable
        "source_overlap": max(reps, 5),
        "model_quality_filter": max(reps, 5),
        "frequency_spectrum": max(reps, 5),
        # r9 verdict task 3: spreads rivalling their medians
        # (weighted_median 2.86 on 3.41, inverted_index 1.79 on 2.09,
        # tfidf_doc_similarity 2.07 on 3.52) made the regression rule
        # unjudgeable; 5 reps bound the median
        "weighted_median": max(reps, 5),
        "inverted_index": max(reps, 5),
        "tfidf_doc_similarity": max(reps, 5),
        # r11 verdict task 1: every row whose driver-run/committed-run
        # same-code ratio exceeded 1.3x that round (stable_sample 5.8x,
        # scalar_functions 4.7x, time_reanchor 3.2x, ...) — episodic
        # sub-second rows where one bad rep owned a 3-rep median
        "stable_sample": max(reps, 5),
        "scalar_functions": max(reps, 5),
        "time_reanchor": max(reps, 5),
        "containment_dedup": max(reps, 5),
        "token_count": max(reps, 5),
        "fk_integrity": max(reps, 5),
        "cms_heavy_hitters": max(reps, 5),
        "trailing_range_agg": max(reps, 5),
        "pack_sequences_native": max(reps, 5),
        # r12 verdict tasks 1-2: the seven residual same-code
        # driver-vs-committed movers beyond 1.25x+spread (medians
        # 0.4-3.1s, most above the old 1.5s floor so they ran 3 reps)
        # are pinned at 5; hybrid_retrieval gets 7 — it is the only
        # RECURRING unattributed mover (r11 1.50s -> r12 driver 2.51s,
        # code untouched) and the isolated A/B protocol wants the
        # extra reps to bound its in-suite median
        "hybrid_retrieval": max(reps, 7),
        "log_rank": max(reps, 5),
        "seasonal_anomaly": max(reps, 5),
        "fulfillment_latency": max(reps, 5),
        "mutual_topk": max(reps, 5),
        "lorenz_curve": max(reps, 5),
        "spatial_clusters": max(reps, 5),
        # r12 task 6: bradley_terry's 1.41x move rivalled its 0.40s
        # spread; pin while the isolated rep set adjudicates
        "bradley_terry": max(reps, 5),
        # r13 end-of-round re-capture: six document-scan-family rows
        # moved 1.6-3x together with byte-identical code between two
        # same-session runs (episodic co-tenant burst); pinned so a
        # burst needs to own 3 of 5 reps to move the median
        "minhash_lsh_pairs": max(reps, 5),
        "exact_dedup": max(reps, 5),
        "simhash": max(reps, 5),
        "seasonal_mann_kendall": max(reps, 5),
        "neyman_allocation": max(reps, 5),
        "feature_info_gain": max(reps, 5),
        # r13 verdict item 8: kcore's spread (2.37 s on a 2.98 s
        # median) rivalled its cost and the min-trigger below only
        # fires when a rep lands under the floor — pin it so its peel
        # loop is measurable
        "kcore": max(reps, 5),
    }
    # r11 verdict task 1 (systematic half), widened by r12 task 2: ANY
    # row whose fastest rep lands under 2.5s gets its reps floored at
    # 5 — episodic co-tenant stalls dominate a 3-rep median exactly
    # when the query itself is cheap, so cheap rows are the ones that
    # read as phantom regressions.  r12 showed a <=1.5x residue of
    # 0.4-3.1s-median rows above the old 1.5s trigger; 2.5s covers
    # all seven residual movers' honest cost.
    fast_row_floor_s = 2.5
    fast_row_reps = 5
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Prior-round committed medians (BENCH_SELF.json at the repo
    # root): the second widening trigger below compares against these,
    # closing the failure mode the min-trigger cannot see — ALL
    # initial reps of a cheap row stalling above the floor (r12
    # advice).  Best-effort: a missing/changed-format file just
    # disables the trigger.
    prior_medians: dict[str, float] = {}
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_SELF.json")
        ) as fh:
            prior_medians = {
                k: float(v)
                for k, v in json.load(fh).get("queries", {}).items()
                if isinstance(v, (int, float))
            }
    except Exception:
        pass
    for name in BENCH_QUERIES:
        # bench-only / folded variants (fast hash, solo LSH/IVF,
        # running_sum, time_reanchor, simhash) live in AUX_QUERIES
        fn = q.QUERIES.get(name) or q.AUX_QUERIES[name]
        try:
            # each run's checkpoints and persists are freed as its
            # scope exits, outside the timed region
            t0 = time.time()
            with Scope():
                materialize(fn(spark, sf_dir))
                cold = time.time() - t0
            runs: list[float] = []
            n = 0
            target = volatile_reps.get(name, reps)
            while len(runs) < target:
                t0 = time.time()
                with Scope():
                    n = materialize(fn(spark, sf_dir))
                    runs.append(time.time() - t0)
                # adaptive floor: once the row is known-cheap, widen
                # the rep budget so the median can absorb 2 bad reps
                # trigger on the MIN, not the median: a cheap row
                # that caught 2 episodic stalls in 3 reps has a slow
                # median but still shows at least one fast rep — the
                # exact case the widening exists for (r12 review)
                if len(runs) == target and target < fast_row_reps:
                    srt = sorted(runs)
                    med = srt[len(srt) // 2]
                    prior = prior_medians.get(name)
                    if min(runs) < fast_row_floor_s or (
                        # second trigger (r12 advice): even when ALL
                        # reps stalled above the floor, a median 3x
                        # past the prior committed round's same-code
                        # median is an episodic-stall signature, not a
                        # regression — widen so the median can recover
                        prior is not None
                        and prior > 0
                        and med > 3.0 * prior
                    ):
                        target = fast_row_reps
            runs.sort()
            timings[name] = round(runs[len(runs) // 2], 3)
            spread[name] = round(runs[-1] - runs[0], 3)
            print(
                f"# {name}: warm median {timings[name]}s "
                f"(spread {spread[name]}s, cold {cold:.2f}s, {n} rows)",
                file=sys.stderr,
            )
        except Exception as e:  # one broken query must not zero the record
            errors[name] = str(e).split("\n")[0][:200]
            print(f"# {name}: FAILED {errors[name]}", file=sys.stderr)
        # queries may cache intermediates (hierarchy facts); drop them
        # so storage doesn't accumulate across the suite
        spark.catalog.clearCache()

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    # co-tenant load context: identical code measured 22.3s on a quiet
    # host and 33.3s at loadavg ~6 in one day (r6) — a cross-round
    # total comparison without this number is meaningless
    try:
        load1, load5, _ = os.getloadavg()
    except OSError:
        load1 = load5 = None
    # headline = the frozen 42-row comparable basis; value_full = every
    # timed row (incl. attribution re-measures) for completeness
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
        "reps": reps,
        "stat": "median",
        "noise_spread_sec": spread,
        "host_loadavg_1m": round(load1, 2) if load1 is not None else None,
        "host_loadavg_5m": round(load5, 2) if load5 is not None else None,
        "sf": sf,
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

    # Regenerate the AUX correctness artifact every bench run (the
    # driver runs bench per round, so AUX_CORRECTNESS.json stays
    # fresh without a separate CI hook).  Fresh subprocess: the aux
    # harness builds its own session; its stdout goes to stderr so
    # this script's one-JSON-line stdout contract holds.  Best-effort
    # — a broken aux query shows up in the artifact, not as a bench
    # failure.  Skippable for quick local timing loops.
    if os.environ.get("SPARK_GRAFT_SKIP_AUX") != "1":
        import subprocess

        # nothing below uses the bench session — stop it before the
        # subprocess builds its own JVM so two full SparkContexts never
        # coexist (double memory footprint on constrained hosts)
        spark.stop()

        try:
            aux = subprocess.run(
                [sys.executable, os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "tools", "aux_correctness.py",
                ), os.environ.get("SPARK_GRAFT_AUX_SF_DIR", "/root/testdata/sf0.01")],
                capture_output=True, text=True, timeout=2400,
            )
            tail = (aux.stdout or "").strip().splitlines()
            record["aux_correctness"] = tail[-1] if tail else f"rc={aux.returncode}"
        except Exception as e:  # noqa: BLE001
            record["aux_correctness"] = f"failed to run: {e}"

    # The driver keeps only the last ~2,000 chars of stdout, which the
    # full record outgrew in round 5 (BENCH_r05.json: parsed null).
    # Persist the full record as a committed artifact, then print it
    # (for humans / generous captures) followed by a LAST line small
    # enough that any tail capture parses.
    self_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SELF.json"
    )
    with open(self_path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(json.dumps(record))
    # r13 verdict item 1: the driver's PERF comparison and scaling
    # block read per-query times from THIS line only (the full record
    # above outgrows its ~2KB stdout tail).  Emit the driver-contract
    # rows (queries() registry) plus the frozen 42-row comparable
    # basis — 56 distinct names at ms precision is ~1.7KB, inside the
    # tail.  The legacy "full_record" pointer stays (entries are
    # add-only per the bench contract).
    try:
        driver_rows = set(q.QUERIES.keys())
    except Exception:
        driver_rows = set()
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
