"""Headline benchmark: runs the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized (count + a cheap checksum collect) so the
timing covers scan -> shuffle -> result, not just plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from real___time_fraud_detection_using_apache_kafka_spark import plans
from real___time_fraud_detection_using_apache_kafka_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "q14_promo_revenue",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "fraud_patterns",
    "classification_metrics",
    "roc_auc",
    "pr_curve_threshold",
    "topk_orders_per_customer",
    "cube_status_priority",
    "asof_last_error_before_purchase",
    "user_sessions",
    "clicks_before_purchase",
    "rolling_user_velocity",
    "ngram_jaccard_neardup",
    "minhash_neardup",
    "embedding_knn",
    "embedding_cosine_neardup",
    "tfidf_top_terms",
    "doc_quality",
    "curate_documents",
    "doc_repetition",
    "corpus_top_tokens",
    "benchmark_contamination",
    "embedding_gated_curation",
    "purchase_funnel",
    "pii_scrub_stats",
    "pack_training_sequences",
    "unigram_logprob",
    # round-3 batch 2: analytics + data-quality families
    "month_spine_recursive",
    "daily_gapfill_forward",
    "scd2_user_state",
    "cohort_retention",
    "ks_drift_stat",
    "lift_gain_deciles",
    "dq_constraint_report",
    # round-3 batch 3: fraud-forensics family
    "rapid_repeat_purchases",
    "value_outliers_robust",
    "benford_first_digit",
    "user_rfm_segments",
    "session_conversion_paths",
    "corpus_segment_dedup",
    "dashboard_snapshot",
    # round-4 additions: graph / frontier / retrieval / robust stats
    "knn_graph",
    "part_copurchase_pagerank",
    "skyline_orders",
    "bm25_top_terms",
    "label_centroid_similarity",
    "orders_trimmed_stats",
    "quality_weighted_sample",
    "ab_test_zstat",
    "copurchase_lift",
    "user_growth_curve",
    # round-4 batch 2: graph census, sequential stats, sketches, intervals
    "copurchase_triangles",
    "copurchase_khop_reach",
    "copurchase_degree_stats",
    "ewma_user_value",
    "autocorr_daily_revenue",
    "cusum_changepoint",
    "kmv_distinct_users",
    "interval_union_coverage",
    "weighted_reservoir_sample",
    # round-4 batch 3: reshaping + fuzzy matching
    "fuzzy_vocab_correction",
    "user_event_pivot",
    "priority_metrics_unpivot",
    "revenue_time_rollup",
    "order_value_equidepth_hist",
    "source_lang_entropy",
    "daily_anomaly_zscore",
    "bigram_collocations_pmi",
    "source_vocab_overlap",
    "part_revenue_abc",
    "holt_revenue_forecast",
    "session_survival_km",
    "theil_sen_revenue_trend",
    # round-5 additions: stats/BI batch, link prediction, portable MinHash
    "minhash_signatures",
    "purchase_streaks",
    "spearman_corr_value_qty",
    "linreg_daily_revenue",
    "gini_customer_revenue",
    "mktsegment_hhi",
    "chi2_priority_status",
    "mad_outlier_orders",
    "wow_revenue_growth",
    "lead_lag_revenue_delta",
    "grouping_sets_revenue",
    "inter_purchase_gaps",
    "cume_dist_order_values",
    "adamic_adar_parts",
    "common_neighbors_parts",
    # round-5 batch 2: attribution + forecast backtest + seasonality
    "purchase_attribution",
    "holt_backtest_accuracy",
    "dow_seasonality",
    "price_elasticity_by_brand",
    "rolling_7d_active_users",
    "zipf_fit_tokens",
    "frequent_event_itemsets",
    # round-6 additions: ALS closed-form half-step, degree-capped
    # link-prediction tier
    "als_half_step_factors",
    "common_neighbors_capped",
    "hll_distinct_users",
    "cms_heavy_hitters",
    "bloom_semijoin_prune",
    "kalman_revenue_smooth",
    "hll_rollup_merge",
    # round-7 additions: item-side ALS half-step, HLL set algebra,
    # mergeable histogram quantiles, domain-drift audit, decay attribution
    "als_half_step_items",
    "hll_set_algebra",
    "grid_quantile_sketch",
    "categorical_drift_audit",
    "attribution_time_decay",
    # round-8 additions: segmentation cube, association rules, corpus
    # LM health, feature ranking, seasonal decomposition
    "rfm_segmentation",
    "market_basket_rules",
    "bigram_perplexity",
    "feature_info_gain",
    "seasonal_trend_decompose",
    # round-8 batch 2: hypothesis testing, burstiness, CV folds,
    # calibration decomposition, sessionized bounce analytics
    "welch_ttest_value",
    "user_burstiness",
    "stratified_kfold",
    "brier_decomposition",
    "session_bounce_stats",
    "minhash_est_error",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("bench")
    qs = plans.queries()
    # SPARK_GRAFT_BENCH_ALL=1: time EVERY catalog query (headline first,
    # then the rest in registry order) — the per-round regression
    # baseline for the ~half of the catalog the headline rotates out
    # (VERDICT r5 item 5).  The one-line-JSON contract is unchanged;
    # "metric" distinguishes the two modes.
    bench_all = os.environ.get("SPARK_GRAFT_BENCH_ALL", "0") == "1"
    names = (
        HEADLINE + [n for n in qs if n not in set(HEADLINE)]
        if bench_all
        else HEADLINE
    )
    # warm the JVM + parquet footers + OS page cache for every table the
    # headline set reads, so per-query numbers measure the query, not
    # first-touch costs (cold parquet read + codegen JIT otherwise lands
    # entirely on whichever query happens to touch a table first)
    try:
        qs["q1_pricing_summary"](spark, sf_dir).count()
        for t in ("documents", "embeddings", "events", "orders", "customer"):
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    except Exception as e:  # noqa: BLE001 — cache priming is best-effort
        print(f"# table warm-up failed: {e}", file=sys.stderr)
    # Steady-state methodology (SPARK_GRAFT_BENCH_WARMUP=0 disables): one
    # unmeasured pass over the headline set first, so the measured pass
    # times the query plan, not one-time whole-stage-codegen JIT — the
    # expression-heavy stages (shingling, metric folds) compile 2-4 s of
    # generated code on first execution, which is a per-process cost, not
    # a per-query one.  Data caches are still cleared per measured run.
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0":
        for name in names:
            if name in qs:
                spark.catalog.clearCache()
                try:
                    qs[name](spark, sf_dir).count()
                except Exception as e:  # noqa: BLE001 — warm-up must not kill the bench
                    print(f"# warmup {name} FAILED: {e}", file=sys.stderr)
    # SPARK_GRAFT_BENCH_REPEAT=N (default 3) reports the per-query median
    # of N cold runs.  This host shows transient multi-x noise windows
    # (shared-VM steal: the same near-dup query measured 1.7 s / 6.4 s /
    # 24.6 s across back-to-back runs); a single sample can quadruple the
    # recorded total, the median of three is stable to a few percent.
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3")))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        if name not in qs:
            continue
        samples = []
        try:
            for _ in range(repeat):
                # each query is measured cold: operators that persist()
                # reusable intermediates (near-dup shingles) must not donate
                # cache — or steal unified memory — from the next timing
                spark.catalog.clearCache()
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                n = df.count()
                samples.append(time.time() - t0)
        except Exception as e:  # noqa: BLE001 — one bad query must not zero the round
            errors[name] = str(e).split("\n", 1)[0][:200]
            print(f"# {name} FAILED: {errors[name]}", file=sys.stderr)
            continue
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        print(f"# {name}: {n} rows in {timings[name]}s", file=sys.stderr)
    total = round(sum(timings.values()), 3)
    # Fixed-work calibration: time a constant JVM-side aggregation that
    # touches no input data, so per-round totals measured on different
    # hosts can be normalized (host speed varies round to round; the
    # query mix does not).  Reported once, not added to the total.
    t0 = time.time()
    spark.range(0, 200_000_000, 1, 32).selectExpr(
        "sum(id * 3 % 7) as s"
    ).collect()
    calibration = round(time.time() - t0, 3)
    # Compact summary first, then the full per-query JSON as the LAST
    # stdout line, which is the line the harness parses.  The summary
    # still gives total + calibration + n if the ~6 KB full line is
    # lost to tail truncation.
    print(
        json.dumps(
            {
                "metric": (
                    "all_catalog_total_compact"
                    if bench_all
                    else "headline_total_compact"
                ),
                "value": total,
                "unit": "sec",
                "n": len(timings),
                "sf": float(sf) if sf else None,
                "calibration_sec": calibration,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "all_catalog_queries_total" if bench_all else "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf else None,
                "calibration_sec": calibration,
                **({"errors": errors} if errors else {}),
            }
        )
    )


if __name__ == "__main__":
    main()
