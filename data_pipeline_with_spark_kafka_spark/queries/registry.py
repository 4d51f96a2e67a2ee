"""Named-query registry.

Each registered query is a (PySpark builder, optional DuckDB oracle SQL)
pair. The builder takes ``(spark, sf_dir)`` and returns a DataFrame; the
oracle is ANSI SQL over the same parquet tables. The driver's correctness
harness runs both at sf0.01 and compares row count + schema +
order-insensitive value hash, so:

- every computed column is aliased IDENTICALLY on both sides;
- floating-point aggregates are rounded on both sides (partial-agg order
  makes raw double sums non-deterministic at ~1e-12 relative — rounding
  makes the hash stable);
- integer sums are cast to BIGINT in the oracle (DuckDB widens to HUGEINT,
  Spark to LONG).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    builder: Builder
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()) -> Callable[[Builder], Builder]:
    """Decorator: add a named query (and its oracle SQL) to the registry."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, (fn.__doc__ or "").strip(), tuple(tags))
        return fn

    return deco


# Queries with a green row in an official correctness artifact
# (CORRECTNESS_r01..r04). Harnesses that sample a prefix of the registry
# (the round driver takes the first 50 in iteration order) should spend
# their budget on the queries that have never had an official row —
# including every NEWLY ADDED query, which always ranks ahead of the
# already-covered backlog so the newest (riskiest) code lands in the
# audited sample first. ``all_queries`` therefore iterates not-yet-covered
# queries first (stable registration order within each group). The whole
# registry is re-oracled every pytest run regardless
# (tests/test_queries_parity.py); this only rotates the official sample.
_COVERED_IN_OFFICIAL_ARTIFACTS = frozenset({
    "agg_approx_count_distinct", "agg_cube_flag_status", "agg_global_stats",
    "agg_group_count_distinct", "agg_hll_sketch_merge", "agg_percentiles",
    "agg_rollup_status_priority", "events_daily_active_users",
    "events_funnel_conversion", "events_retention_cohorts",
    "flagship_events_windowed_enrichment", "func_array_family",
    "func_cast_family", "func_conditional_family", "func_date_family",
    "func_explode_tokens", "func_json_family", "func_math_family",
    "func_string_family", "func_struct_map_family",
    "join_anti_customers_without_orders", "join_cross_small",
    "join_full_outer_keys", "join_inner_orders_customer",
    "join_left_customer_orders", "join_range_price_tier",
    "join_semi_customers_with_orders",
    # NOTE: llm_bpe_vocab was sampled in early rounds as rows-only; it
    # gained a full DuckDB oracle in round 7 (unrolled merge-chain) and is
    # deliberately left out of this set so the oracled version gets an
    # official row.
    "llm_contamination_overlap", "llm_curated_corpus", "llm_dedup_clusters",
    "llm_dedup_corpus_segments", "llm_dedup_embedding_cosine",
    # NOTE: llm_dedup_embedding_cosine_fast and llm_sim_topk_ivf were
    # sampled only in r01-r03 BEFORE they gained oracles (round 6) — their
    # only official rows are `err: no_oracle`. Demoted out of this set in
    # round 9 (per the round-8 verdict) so the sampler finally records a
    # hash-green official row for each.
    "llm_dedup_exact",
    # NOTE: llm_dedup_minhash_lsh and llm_dedup_simhash were sampled in
    # early rounds as rows-only; round 8 gave them full DuckDB oracles
    # (pure-SQL XXH64, queries/xxh64_sql.py) — left out of this set so the
    # oracled versions get official rows.
    "llm_dedup_ngram_jaccard",
    "llm_deterministic_shuffle", "llm_domain_mixture",
    "llm_multimodal_audio_features", "llm_multimodal_decode_features",
    "llm_multimodal_image_features", "llm_multimodal_metadata",
    "llm_perplexity_bigram", "llm_pii_redaction",
    "llm_quality_percentile_filter", "llm_quality_weighted_sample",
    "llm_repetition_metrics", "llm_seeded_sample", "llm_sequence_packing",
    "llm_shared_span_fraction", "llm_sim_topk_bruteforce",
    # NOTE: llm_sim_topk_lsh (rows-only in its early row) gained a full
    # oracle in round 8 (seeded planes embedded as literals) — left out
    # so the oracled version gets an official row.
    "llm_stratified_sample",
    "llm_text_fingerprint", "llm_text_langid", "llm_text_quality",
    "llm_text_stats", "llm_tfidf_keywords", "llm_train_val_test_split",
    "llm_vocab_stats", "nulls_semantics",
    # NOTE: llm_weighted_quality_mean (rows-only in its r01-04 row) gained
    # a full oracle in round 7 — left out so the oracled version gets an
    # official row.
    "window_lag_lead_orders", "window_rank_customers", "window_running_sum",
    "window_topk_per_group",
    # round 4 (CORRECTNESS_r04.json green rows):
    "orderby_limit_topk", "setop_union_all", "setop_intersect",
    "setop_except_all", "distinct_segment_nation", "dedup_keep_first_order",
    "pivot_status_by_priority", "subquery_scalar_above_avg",
    "subquery_having_active_customers", "join_range_bucketed",
    "setop_intersect_all", "setop_union_by_name_missing",
    "sql_grouping_sets", "sql_right_join", "sql_unpivot_metrics",
    "sql_lateral_posexplode", "window_range_frame_30d",
    "window_qualify_latest_order", "llm_token_count_regex",
    "llm_quality_gopher", "llm_top_bigrams", "tpch_q1_pricing_summary",
    "tpch_q2_min_cost_per_part", "tpch_q3_shipping_priority",
    "tpch_q4_priority_checking", "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping",
    "tpch_q8_market_share", "tpch_q9_product_profit",
    "tpch_q10_returned_items", "tpch_q11_important_stock",
    "tpch_q12_shipmode_priority", "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect", "tpch_q15_top_supplier",
    "tpch_q16_supplier_cnt", "tpch_q17_small_quantity",
    "tpch_q18_large_volume", "tpch_q19_discounted_revenue",
    "tpch_q20_potential_promotion", "tpch_q21_waiting_supplier",
    "tpch_q22_global_sales_opportunity", "agg_approx_percentile",
    "window_sliding_10m_5m", "window_session_30m", "llm_dedup_incremental",
    "llm_chunk_documents", "llm_length_histogram",
    # round 5 + round 6 (green rows in CORRECTNESS_r05.json /
    # CORRECTNESS_r06.json — refreshed per the round-6 verdict so the
    # driver's 50-query sample reaches the never-officially-covered
    # round-6 additions first):
    "affinity_part_pairs", "agg_boolean_family", "agg_corr_covar",
    "agg_min_by_max_by", "agg_string_concat_per_group",
    "cdc_apply_customer", "diag_column_profile", "diag_key_skew",
    "dq_orders_constraints", "drift_psi_labels",
    "emb_label_centroid_norms", "emb_pca_explained_variance",
    "emb_pca_project", "events_funnel_ordered_steps",
    "events_max_concurrency", "events_rolling_7d_active_users",
    "events_session_ids", "events_zscore_outliers",
    "graph_triangle_count", "ivm_join_maintenance",
    "ivm_rollup_maintenance", "join_asof_latest_view",
    "join_null_safe_equality", "linkage_fuzzy_part_names",
    "llm_bm25_topk", "llm_classifier_calibration",
    "llm_classifier_eval_auc", "llm_cluster_aware_split",
    "llm_dedup_containment", "llm_dedup_embedding_cosine_ivf",
    "llm_dedup_incremental_near", "llm_dsir_importance_topk",
    "llm_emb_random_projection", "llm_emb_sq8_error",
    "llm_fingerprint_winnowing", "llm_hard_negative_mining",
    "llm_hybrid_rrf", "llm_inverted_index", "llm_knn_join_exact",
    "llm_knn_join_ivf", "llm_mixture_temperature",
    "llm_mmr_diversified_topk", "llm_perplexity_trigram_backoff",
    "llm_quality_classifier", "llm_remove_repeated_spans",
    "llm_retrieval_label_precision", "llm_semdedup_prune",
    "llm_sim_topk_binary", "llm_sim_topk_ivf_pq", "llm_sim_topk_ivf_sq8",
    "llm_sim_topk_pq", "llm_sim_topk_sq8",
    "llm_top_p_selection", "llm_weighted_reservoir",
    "privacy_k_anonymity", "scd2_customer_batch", "scd2_temporal_join",
    "sql_filtered_aggregates", "sql_lateral_topk_per_key",
    "sql_recursive_month_spine", "stats_ab_test_ztest",
    "stats_gini_revenue", "stats_mad_outliers", "stats_winsorize_prices",
    "ts_gap_fill_interpolate", "window_distribution_funcs",
    "window_nth_value",
    # round 7 (green rows in CORRECTNESS_r07.json):
    "cdc_derive_changes", "events_anomaly_dow",
    "events_attribution_last_touch", "events_markov_transitions",
    "events_time_to_convert", "llm_bpe_encode", "llm_bpe_vocab",
    "llm_dedup_incremental_near_probe", "llm_stratified_sample_md5",
    "llm_token_entropy", "llm_top_pmi_bigrams",
    "llm_train_quality_classifier", "llm_weighted_quality_mean",
    "llm_zipf_fit", "privacy_erasure_cascade", "stats_quantile_discretize",
    "stats_rfm_segments", "text_heavy_hitters",
    # round 8 (green rows in CORRECTNESS_r08.json — the 13 round-8-new
    # queries; the other 37 sampled names were already-covered backlog):
    "agg_kmv_distinct", "agg_kmv_quantiles", "emb_kmeans_train",
    "events_attribution_last_touch_bucketed",
    "events_markov_transitions_bucketed", "llm_dedup_minhash_lsh",
    "llm_dedup_simhash", "llm_retrieval_ndcg_mrr",
    "llm_sim_topk_lsh", "llm_stratified_quota_sample",
    "llm_text_normalize_nfc", "media_ingest_audit", "stats_cohen_kappa",
    # round 9 (green rows in CORRECTNESS_r09.json — the 3 names that were
    # not yet in this set; the other 47 sampled names were backlog):
    "events_session_ids_bucketed", "llm_dedup_embedding_cosine_fast",
    "llm_sim_topk_ivf",
    # round 10 (green rows in CORRECTNESS_r10.json — the 4 round-10-new
    # queries; the other 46 sampled names were already-covered backlog):
    "events_attribution_last_touch_bucketed_hourly",
    "events_markov_transitions_bucketed_hourly", "events_session_ids_auto",
    "events_session_ids_bucketed_hourly",
})

# The full 50-name sample of the MOST RECENT official artifact
# (CORRECTNESS_r10.json). Within the already-covered backlog these are
# the most recently re-audited names, so they sort LAST: the next
# round's 50-query sample spends its budget on new queries plus the
# least-recently-audited backlog instead of re-auditing the same prefix
# (round-9 verdict task #4). Refresh this set each round from the new
# artifact.
_SAMPLED_IN_LATEST_ARTIFACT = frozenset({
    "events_attribution_last_touch_bucketed_hourly",
    "events_markov_transitions_bucketed_hourly", "events_session_ids_auto",
    "events_session_ids_bucketed_hourly", "llm_bm25_topk",
    "llm_chunk_documents", "llm_classifier_calibration",
    "llm_classifier_eval_auc", "llm_contamination_overlap",
    "llm_curated_corpus", "llm_dedup_corpus_segments",
    "llm_dedup_embedding_cosine_ivf", "llm_dedup_incremental",
    "llm_dedup_incremental_near", "llm_dedup_incremental_near_probe",
    "llm_deterministic_shuffle", "llm_domain_mixture",
    "llm_emb_random_projection", "llm_fingerprint_winnowing",
    "llm_hybrid_rrf", "llm_inverted_index", "llm_knn_join_exact",
    "llm_knn_join_ivf", "llm_length_histogram", "llm_multimodal_metadata",
    "llm_perplexity_trigram_backoff", "llm_pii_redaction",
    "llm_quality_classifier", "llm_quality_gopher",
    "llm_quality_percentile_filter", "llm_quality_weighted_sample",
    "llm_remove_repeated_spans", "llm_repetition_metrics",
    "llm_semdedup_prune", "llm_sequence_packing",
    "llm_shared_span_fraction", "llm_sim_topk_bruteforce",
    "llm_sim_topk_lsh", "llm_text_fingerprint",
    "llm_text_normalize_nfc", "llm_token_count_regex", "llm_token_entropy",
    "llm_top_bigrams", "llm_top_pmi_bigrams", "llm_train_quality_classifier",
    "llm_train_val_test_split", "llm_vocab_stats", "llm_zipf_fit",
    "text_heavy_hitters",
})


def all_queries() -> dict[str, Query]:
    # Import side-effect populates the registry.
    import data_pipeline_with_spark_kafka_spark.queries  # noqa: F401

    # Sample-order contract (the round driver takes the first 50):
    #   1. never-officially-covered ORACLED queries (every new query lands
    #      here, so the newest/riskiest code is audited first);
    #   2. already-covered oracled queries (stable rotation backlog),
    #      except those re-audited in the MOST RECENT artifact, which
    #      rotate to the back of the backlog (least-recently-audited
    #      first — round-9 verdict task #4);
    #   3. intrinsically rows-only queries (oracle is None) LAST — a driver
    #      slot spent on one can only ever report ``err: "no_oracle"`` on a
    #      healthy query (their correctness is pinned pair-for-pair against
    #      fully-oracled twins in pytest), so they never burn sample budget.
    # Stable registration order within each group.
    def rank(n: str) -> int:
        if _REGISTRY[n].oracle is None:
            return 3
        if n not in _COVERED_IN_OFFICIAL_ARTIFACTS:
            return 0
        return 2 if n in _SAMPLED_IN_LATEST_ARTIFACT else 1

    names = sorted(_REGISTRY, key=rank)
    return {n: _REGISTRY[n] for n in names}
