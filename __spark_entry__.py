"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` returns every entry of the engine's one registry
(``mta_rtf_dbt_spark.registry``) in ``_PRIORITY`` order; each entry has a
matching DuckDB oracle in ``oracle_sql()`` unless the op is genuinely
non-SQL-expressible (those get the driver's weaker rows-only check and are
marked in their module docstrings). Both first import every registering
module (``registry.load_all()``), which also writes the MTA fixture parquet.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mta_rtf_dbt_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary at sf0.001 (SURVEY.md §7.3)."""
    from mta_rtf_dbt_spark.plans.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


# The driver oracle-checks the first ~50 entries per round; entries are
# emitted in explicit priority order so every oracle-backed entry earns a
# cumulative green driver row across rounds. Rotation policy (r3 verdict
# item 2): front-load (a) entries fixed or changed this round, (b) entries
# that have NEVER had a driver row, (c) rows-only entries (they get the
# weaker count check either way), then (d) green entries stalest first for
# periodic re-verification. The tail is entries green in the most recent
# window — they yield the window to staler cohorts.
_PRIORITY = [
    # ---- r11 rotation (r10 verdict item 4): lead with the FOUR entries
    #      whose plan or oracle changed in r11 (the near-dup identical-vector
    #      group contraction and the single-exchange triangle probe from the
    #      r11 graph rewrite — none has an external row for its current
    #      form), then the full r6-stale cohort (33 entries, five rounds
    #      old), topped up to 50 with the r7-cohort heads. After this window
    #      no entry's latest external green is older than r7. ----
    "embedding_near_dup",
    "graph_triangles",
    "graph_clustering_coeff",
    "dedup_minhash_lsh",
    # -- r6-stale cohort (latest external green: round 6) --
    "multimodal_image_meta",
    "sample_group_kfold",
    "dq_schema_contract",
    "text_bm25_topk",
    "incremental_join_maintenance",
    "j_null_safe_join",
    "f_array_hof_pack",
    "s6_cdc_diff",
    "lm_ccnet_buckets",
    "a_dp_noisy_counts",
    "a_k_anonymity_audit",
    "a_attribution_last_touch",
    "source_json_corrupt_records",
    "a_running_distinct_users",
    "j_asof_tolerance",
    "dq_join_fanout",
    "a_winsorize_census",
    "a_label_entropy",
    "geo_nearest_stop",
    "geo_geohash_stops",
    "a_ewma_smoothed",
    "a_market_basket_rules",
    "text_phrase_search",
    "a_concurrency_sweepline",
    "embedding_dim_stats",
    "layout_backfill_plan",
    "ann_hard_negatives",
    "lm_vocab_drift_kl",
    "text_url_domains",
    "a_event_transitions",
    "a_conversion_wilson",
    "a_benford_digits",
    "m_feed_gap_detection",
    # -- r7-cohort heads topping the window up to 50 --
    "q17_small_quantity_revenue",
    "j4_dim_double_alias_star",
    "j5_j7_using_cast_key",
    "j6_banded_range_join",
    "a3_any_value_det",
    "a5_argmin_argmax",
    "a9_percentiles",
    "w2_dedup_latest_per_user",
    "w3_lag_headway",
    "o1_topk_orders",
    "set_ops",
    "s7_inline_unnest",
    "f_string_hash_pack",
    # ---- position 50: the driver's check window ends here. Overflow:
    #      rows-only entries (weak check either way), the r7 remainder,
    #      then r8/r9/r10 cohorts stalest-first, relative order kept. ----
    "f_datetime_pack",
    "ann_ivf_cosine",
    "a_approx_sketches",
    "text_compression_ratio",
    "f_gtfs_clock_overflow",
    "j_semi_anti",
    "a_rollup",
    "a_grouping_sets",
    "a_pivot_status_by_priority",
    "a_unpivot_measures",
    "w4_rank_pack",
    "f_json_map_pack",
    "f_map_construct_explode",
    "m1_analog_actors_per_minute",
    "m2_analog_5min_buckets",
    "m4_analog_terminal_otp",
    "m5_analog_headways",
    "m6_analog_dwell",
    "m7_analog_run_time",
    "m8_analog_excess_delay",
    "m10_analog_added_share",
    "m12_analog_wait_assessment",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q14_promo_revenue",
    "q18_large_volume_customer",
    "q19_disjunctive_revenue",
    "q22_idle_customers",
    "m3_analog_service_delivered",
    "m11_analog_latency",
    "corpus_ngram_counts",
    "lm_unigram_scores",
    "text_winnow_fingerprints",
    "zorder_values_orders",
    "dedup_exact",
    "knn_brute_force_cosine",
    "ann_lsh_cosine",
    "embedding_label_centroids",
    "embedding_quantize_int8",
    "ann_int8_rerank",
    "text_analysis_pack",
    "text_decontaminate",
    "text_dup_spans",
    "text_repetition",
    "text_pii_scrub",
    "text_tfidf_top_terms",
    "pack_sequences",
    "chunk_documents",
    "tokenize_vocab_topk",
    "tokenize_encode_oov",
    "multimodal_features",
    "multimodal_frame_sample",
    "sample_train_test_split",
    "sample_stratified_events",
    "mix_source_quota",
    "mix_token_budget",
    "sample_weighted_topk",
    "stream_m1_actors_per_minute",
    "stream_first_observation_keys",
    "stream_sessionize",
    "sessionize_batch",
    "stream_static_enrich",
    "stream_stream_interval_join",
    "stream_stateful_running_totals",
    "stream_tws_user_profile",
    "ingest_flatten_roundtrip",
    "source_csv_json_roundtrip",
    "dq_report_testdata",
    "s6_merge_upsert",
    "mta_fact_trips_stops",
    "mta_fact_trips",
    "mta_fact_delays",
    "mta_fact_alerts",
    "a678_counts_rates",
    "m9_analog_completeness",
    "q7_volume_shipping",
    "q8_market_share",
    "q13_customer_distribution",
    "q15_top_supplier",
    "scd2_history_events",
    "incremental_agg_merge",
    "j_asof_latest_order",
    "a_heavy_hitters",
    "udtf_sentence_segments",
    "w6_value_functions",
    "text_line_dedup",
    "corpus_shard_plan",
    "shard_write_roundtrip",
    "j_salted_skew_join",
    "w_hopping_windows",
    "source_orc_roundtrip",
    "dedup_edit_distance",
    "m1_gapfill_spine",
    "stream_hopping_windows",
    "a_mode_top_actor",
    "o_limit_offset_page",
    "text_fingerprint_rolling",
    "multimodal_audio_energy",
    "dedup_ngram_jaccard",
    "corpus_curation_pipeline",
    "q1_pricing_summary",
    "p1_project_rename_filter",
    "p456_predicates_case",
    "j1_inner_join_agg",
    "j2_left_broadcast_dims",
    "j3_join_preagg_child",
    "mta_m1",
    "mta_m2",
    "mta_m3",
    "mta_m4",
    "mta_m5_headways",
    "mta_m6_dwell",
    "mta_m7",
    "mta_m8",
    "mta_m9",
    "mta_m10",
    "mta_m11",
    "mta_m12",
    "a_hll_portable",
    "a_cms_portable",
    "a_kmv_portable",
    "rag_chunk_retrieval",
    "dedup_simhash",
    "dedup_connected_components",
    "dedup_keep_list",
    "dedup_keep_best",
    "dedup_cluster_stats",
    "bpe_train_merges",
    "bpe_encode_stats",
    "a_array_agg_sorted",
    "a_salted_skew_agg",
    "a_histogram_values",
    "corpus_curation_funnel",
    "w5_range_interval_frame",
    "gdpr_erasure_audit",
    "incremental_agg_retract",
    "mta_fts_insert_overwrite",
    "stream_stream_left_join",
    "mta_fts_incremental",
    "mta_stream_fts",
    "q9_product_profit",
    "q21_sole_returner",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q12_priority_split",
    "q16_supplier_diversity",
    "q20_concentrated_supply",
    "s_tablesample_hash",
    "ann_lsh_filtered",
    "text_bloom_decontaminate",
    "stream_heavy_hitters",
    "a_kmv_setops",
    "a_hdr_quantiles",
    "a_event_funnel",
    "a_cohort_retention",
    "j_temporal_scd2_lookup",
    "graph_pagerank",
    "a_skew_report",
    "mta_dq_checks",
    "j_full_outer_reconcile",
    "mix_temperature_sample",
    "a_mad_outliers",
    "stream_agg_maintenance",
    "curriculum_shard_plan",
    "pack_boundaries",
    "a_histogram_equidepth",
    "m1_gapfill_interpolate",
    "layout_compaction_plan",
    "m_anomaly_rolling_zscore",
    "mix_epoch_upsample",
]


def _ordered(merged: dict) -> dict:
    out = {k: merged[k] for k in _PRIORITY if k in merged}
    out.update({k: v for k, v in merged.items() if k not in out})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry.load_all()
    return _ordered(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    registry.load_all()
    return _ordered(registry.ORACLE)
