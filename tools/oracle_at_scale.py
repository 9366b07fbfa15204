#!/usr/bin/env python
"""Correctness at scale: run the DuckDB oracle gate against the 10x
synthetic fixture (tools/gen_scale10.py, ~8.6M rows total).

The driver's gate proves hash-equality at sf0.01; the scaling probe
proves WALL-TIME behaves to 1000x rows.  This closes the remaining gap —
the ANSWERS are also scale-independent: no overflow, no skew-guard
branch (e.g. the adaptive LSH bit resolution), no sampling shortcut
changes a result when the data grows 100x past the gate scale.

Picks cover every operator family whose plan CHANGES behavior with
scale (adaptive LSH bits, AQE skew handling, broadcast-vs-shuffle
switches) plus the newest round's operators.  The frozen-index
queries (IVF centroids, PQ codewords) are picked like any other: their
oracles read the 10x fixture's own artifacts through the gate's DuckDB
connection.
(approx_price_quantiles was excluded through r6 because the GK sketch
is honestly approximate past its accuracy param; round 7 replaced the
implementation with exact two-phase distributed selection, so it now
hash-matches at any scale and is back in the sweep.)

Findings to date (all fixed, each invisible at gate scale):
- pricing_summary sum_charge: decimal->double cast splits 1 ulp across
  engines once the unscaled sum passes 2^53 (fix: round the decimal
  before the cast);
- dsir_importance: near-zero negative averages round to -0.0 in DuckDB
  vs 0.0 in Spark and the stringified hash tells them apart (fix:
  + 0.0 canonicalization);
- user_activity_decay_scores (r8, caught pre-ship): rounding w*v
  DOUBLE products at 6dp tie-split ~10/86M rows across engines (fix:
  exact decimal x decimal products, no double rounding at all);
- corpus_zipf_fit (r8, caught pre-ship): scale-12 decimal regression
  moments crossed 2^53 unscaled at 10x and the decimal->double cast
  split 1 ulp (fix: round moments to 6dp decimals before the cast —
  the pricing_summary recipe).

Usage: python tools/oracle_at_scale.py [query ...]
Prints one JSON line per query and writes nothing else; commit the
output alongside the probe JSONLs.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreducer_spark.registry import all_queries  # noqa: E402
from mapreducer_spark.session import get_spark  # noqa: E402
from tests.oracle import assert_matches_oracle  # noqa: E402

SCALE10 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale10",
    "sf1",
)

DEFAULT_PICKS = [
    "word_count",
    "pricing_summary",
    "nation_revenue",
    "events_sliding_hourly",
    "contamination_ngrams",
    "neardup_jaccard_blocked",
    "dedup_minhash_lsh_md5",
    # neardup_clusters / corpus_after_neardup_dedup are excluded for
    # ORACLE cost, not Spark cost: DuckDB re-inlines the (minutes-long
    # at 10x) pair CTE into every recursive-closure step.  Their Spark
    # side is scale-probed in tools/probe_sweep2_r6.jsonl instead.
    "bloom_decontamination",
    "cdc_chunk_dedup",
    "incremental_neardup_pairs",
    # user_activity_similarity_blocked is excluded: its oracle is
    # rendered at the GATE's 4-bit LSH resolution while the Spark side adapts bits to the user count,
    # so at 10x the candidate sets (and recall) legitimately differ.
    "approx_price_quantiles",
    "customer_spend_distribution",
    "cms_heavy_hitters",
    "salted_user_event_counts",
    "rapid_event_pairs",
    "top_orders_per_customer",
    # round 8: substring-dedup family, LM ladder, compression gauges,
    # packing, and the iterative graph family (VERDICT r7 #3) — graph
    # oracles are recursive-CTE/pair-heavy on the DuckDB side (minutes
    # at 10x, Spark side seconds; see oracle_at_scale_r8.jsonl notes).
    "substring_dedup_spans",
    "corpus_after_substring_dedup",
    "incremental_substring_spans",
    "doc_bigram_perplexity",
    "doc_trigram_perplexity",
    "matryoshka_recall_at_k",
    "embedding_int8_recall_at_k",
    "sequence_packing_offsets",
    "copurchase_bfs_recursive",
    "part_copurchase_pagerank",
    # late round 8: the two queries whose first cuts the sweep CAUGHT
    # (rounding-tie, 2^53 cast) stay in the default set as regression
    # guards, plus the detectors added after the first r8 batch.
    "user_activity_decay_scores",
    "corpus_zipf_fit",
    "intra_doc_repeated_spans",
    "embedding_profile",
    "rolling_weekly_active_users",
    "doc_kneser_ney_bigram",
    "kmv_set_operations",
    "embedding_pca_power_iteration",
    # round 8 fourth session: PMI log-fold order, AUC integer rank-sum,
    # and the interpolation IEEE sequence each encode a determinism
    # recipe worth guarding at 10x.
    "pmi_collocations",
    "label_centroid_auc",
    "event_value_interpolation",
    "mutual_nn_pairs",
    "lang_source_mutual_information",
    "value_outliers_mad",
    # margin_nn_pairs' first cut tie-split a GATE row on a rounded
    # DOUBLE difference — the exact-decimal rewrite stays guarded here.
    "margin_nn_pairs",
    "retrieval_ndcg",
    "k_anonymity_profile",
    "cuped_experiment_analysis",
    "benford_first_digit",
    "market_basket_rules",
    "event_markov_transitions",
    "customer_spend_gini",
    "event_value_changepoint",
    "token_coverage_curve",
    "lorenz_curve_deciles",
    "experiment_srm_check",
    "selfjoin_size_estimate",
    "source_keyness_terms",
    "copurchase_kcore",
    "copurchase_link_prediction",
    "copurchase_assortativity",
    "daily_revenue_autocorrelation",
    "customer_rfm_segments",
    "customer_survival_curve",
    "cohort_ltv_curve",
    "returns_price_ks_test",
    "events_seasonal_anomaly",
    "blocklist_filter_rates",
    "abc_inventory_classes",
    "ship_delay_percentiles",
    "new_vs_returning_revenue",
    "user_activity_streaks",
    "context_length_tradeoff",
    "embedding_dim_profile",
    "conversion_delay_percentiles",
    "lineitem_correlation_matrix",
    "order_value_psi_drift",
    "source_js_divergence",
    "revenue_forecast_backtest",
    "copurchase_brand_modularity",
    "robust_price_quantity_trend",
    "priority_mix_chisq",
    "overlapping_chunk_plan",
    "l_diversity_profile",
    "boilerplate_prefix_clusters",
    "embedding_1nn_label_accuracy",
    "concurrent_orders_profile",
    "cross_source_neardup_matrix",
    "heaps_law_fit",
    "positional_token_entropy",
    "sample_bias_chisq",
    "embedding_kmeans_spherical",
    "corpus_entropy_rate",
    "user_lifecycle_states",
    "multitouch_attribution",
    "spend_frequency_rank_correlation",
    "bootstrap_revenue_ci",
    "price_anova_by_priority",
    "quantity_weighted_price_median",
    "classifier_calibration_bins",
    "session_top_paths",
    "abc_xyz_matrix",
    "join_size_estimate",
    "quality_score_lift_table",
    "event_count_overdispersion",
    "copurchase_rich_club",
    "doc_length_by_source_quantiles",
    "source_quality_league",
    "revenue_growth_decomposition",
    "customer_spend_band_migration",
    "perplexity_length_bias",
    "trimmed_mean_order_value",
    "duplicate_orders_audit",
    "price_ending_digit_bias",
    "in_session_conversion",
    "order_status_reconciliation",
    "top_customer_stability",
    "corpus_datasheet",
    "customer_order_regularity",
    "token_burstiness_topk",
    "minhash_estimator_error",
    "vocab_growth_curve",
    "quality_score_quantile_map",
    "event_type_user_overlap",
    "copurchase_degree_powerlaw",
    "basket_rule_wilson_ranking",
    "simpson_paradox_check",
    "retention_decay_fit",
    "join_fanout_profile",
    # r9: VERDICT r8 #4 — point the sweep at the driver blind spot.
    # Every never-driver-sampled name (per CORRECTNESS_r01..r08) now has
    # a default 10x row.
    "adaptive_threshold_script",
    "approx_distinct_error_report",
    "array_functions",
    "bpe_fertility_by_lang",
    "brand_collation_join",
    "corpus_mixture_quota",
    "corpus_weighted_interleave",
    "cross_source_ngram_overlap",
    "curation_pipeline_summary",
    "customer_distribution",
    "customer_reorder_intervals",
    "customer_revenue_concentration",
    "datetime_functions",
    "doc_charclass_profile",
    "embedding_centroid_per_label",
    "embedding_gram_matrix",
    "embedding_int8_error",
    "embedding_int8_quant_error",
    "embedding_matryoshka_fidelity",
    "embedding_neardup",
    "embedding_similarity_histogram",
    "event_burst_detection",
    "event_sessions",
    "event_value_band_join",
    "event_value_delta",
    "events_dow_seasonality",
    "excess_stock_suppliers_q20ish",
    "hard_negative_mining",
    "important_stock_q11ish",
    "join_key_skew_profile",
    "json_functions",
    "last_purchase_locf",
    "lateral_top_customers",
    "latest_event_per_user",
    "local_supplier_volume",
    "math_functions",
    "min_cost_supplier_q2ish",
    "monthly_gap_fill",
    "monthly_revenue_mom",
    "moving_avg_spend",
    "nation_market_share",
    "nth_order_gap",
    "open_orders_timeline",
    "perplexity_filter_calibration",
    "price_qty_regression",
    "price_quantiles",
    "priority_lateness_matrix",
    "promo_revenue_ratio",
    "quantity_decile_stats",
    "rank_dense_ntile",
    "returned_items_topn",
    "running_customer_spend",
    "scd2_event_type_history",
    "segment_modal_priority",
    "sequence_packing",
    "shipping_priority_topn",
    "similarity_topk",
    "source_token_entropy",
    "stratified_sample_orders",
    "string_functions",
    "supplier_concentration_hhi",
    "supplier_count_by_part_q16ish",
    "supplier_year_profit",
    "suppliers_above_avg_revenue",
    "top_supplier_revenue",
    "unpivot_order_metrics",
    "user_gap_distribution",
    "user_growth_accretion",
    "user_stickiness_dau_wau",
    "volume_shipping_pairs",
    "waiting_suppliers_q21ish",
    "weighted_sample_orders",
    "word_count_topk",
    "zorder_codes",
    "welch_price_ttest",
    "t_closeness_profile",
    "embedding_isotropy_profile",
    "lsh_candidate_cost_curve",
    "histogram_sketch_quantiles",
    "zorder_codes_3d",
    # the frozen-index family, checked against the 10x fixture's index
    "ann_index_ari_staleness",
    "ann_ivf_delta_assign",
    "ann_ivf_int8_recall",
    "ann_ivf_kmeans_recall",
    "ann_ivf_nprobe_sweep",
    "ann_ivf_rebalance_plan",
    "ann_ivf_topk",
    "ann_mmr_agreement",
    "ann_mmr_topk",
    "ann_pq_adc_recall_trained",
    "ivf_list_balance",
    "retrieval_pipeline_summary",
    "semdedup_clusters",
]


def main() -> None:
    if not os.path.isdir(SCALE10):
        raise SystemExit(
            f"{SCALE10} missing — run `python tools/gen_scale10.py` first"
        )
    picks = sys.argv[1:] or DEFAULT_PICKS
    spark = get_spark(
        app_name="oracle-at-scale",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_PROBE_MEM", "24g"
            )
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    for name in picks:
        t0 = time.perf_counter()
        try:
            assert_matches_oracle(spark, qs[name], SCALE10)
            status = "MATCH"
        except AssertionError as exc:
            status = f"MISMATCH: {str(exc)[:200]}"
        print(
            json.dumps(
                {
                    "query": name,
                    "sf": "10x-sf0.1",
                    "status": status,
                    "sec": round(time.perf_counter() - t0, 1),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
