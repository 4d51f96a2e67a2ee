"""Plan-shape regression ledger: every registered query's INITIAL physical
plan (pre-AQE, deterministic for fixed testdata + session conf) must not
grow new Exchange (shuffle/broadcast-exchange) nodes relative to the
recorded budget. A count BELOW budget is fine (an optimization landed —
re-record); a count above fails: some change added a shuffle the plan
didn't need, exactly the class of regression that is invisible at
sf0.001 runtimes and expensive at 100 TB.

Budgets recorded round 4 (2026-08-13) at sf0.001; includes ReusedExchange
occurrences (substring count over the plan tree string), so the numbers
are an upper bound on *distinct* shuffles.
"""

from __future__ import annotations

import pytest

from data_pipeline_with_spark_kafka_spark.queries import all_queries

QUERIES = all_queries()

EXCHANGE_BUDGET = {
    "agg_approx_count_distinct": 1,
    "agg_approx_percentile": 1,
    # six running sums reduce map-side; one partial/final agg exchange.
    "agg_corr_covar": 1,
    # round-8 rewrite: ONE collect_set shuffle + expression-side pair
    # explode (co_occurrence_pairs) + pair agg; top-k is TakeOrdered.
    "affinity_part_pairs": 2,
    "agg_boolean_family": 1,
    "agg_cube_flag_status": 1,
    "agg_global_stats": 2,
    "agg_group_count_distinct": 2,
    "agg_hll_sketch_merge": 2,
    "agg_min_by_max_by": 1,
    "agg_percentiles": 1,
    "agg_rollup_status_priority": 1,
    # dim join (AQE broadcast) + distinct + the set-collect aggregate.
    "agg_string_concat_per_group": 3,
    # feed-compaction window + full-outer key join (exchange per side).
    "cdc_apply_customer": 3,
    # full-outer snapshot join (exchange per side) + the two union legs.
    "cdc_derive_changes": 4,
    "dedup_keep_first_order": 1,
    "distinct_segment_nation": 1,
    # one global-agg exchange pair for the whole column suite + the
    # anti-join's two sides (AQE broadcasts the dim at runtime).
    "dq_orders_constraints": 4,
    # two label aggs + their single-partition total windows (label-sized
    # relations, 10 rows) + the label join.
    "drift_psi_labels": 5,
    # (label,dim) agg -> label agg -> label join with the zero-shuffle
    # per-vector norm branch (AQE broadcasts the 10-row centroid side).
    "emb_label_centroid_norms": 5,
    "events_daily_active_users": 2,
    "events_funnel_conversion": 2,
    # chained per-user aggregates (signup -> click-after -> purchase-
    # after) + the two final left joins; everything hashes on user_id
    # and the final count is a 1-row global agg.
    "events_funnel_ordered_steps": 11,
    # one single-distinct aggregate pair per profiled column (the
    # multi-distinct single-pass form Expand-duplicates every row per
    # distinct column — slower despite fewer exchanges).
    "diag_column_profile": 4,
    # key counts + 1-row total broadcast + TakeOrdered single-partition.
    "diag_key_skew": 4,
    "events_max_concurrency": 2,
    # lag/flag/running-sum windows and the session agg all share the one
    # user_id partitioning.
    "events_session_ids": 1,
    # one user_id window shuffle carries the last touch; the rollup is a
    # touch-type-sized aggregate pair. No purchases-x-touches range join.
    "events_attribution_last_touch": 2,
    # lag window (user_id shuffle) + pair agg + the |types|^2-sized
    # normalization window's exchange.
    "events_markov_transitions": 3,
    # hot-user-safe twin (round 8; round-9 rewrite): one (user_id, day)
    # corpus exchange SHARED by both branches (the day-edges aggregate
    # consumes the window output — day-first = NULL within-day lag — so
    # AQE reuses the exchange at runtime; was 10 with a second corpus
    # scan) + user_id days window + union pair agg + normalization
    # window. Each exchange is day-splittable; the lifetime user
    # partition is not.
    "events_markov_transitions_bucketed": 5,
    # (user,day) carry window + daily max agg + 7-way probe join +
    # per-purchase regroup + touch-type rollup — all day-splittable.
    # Unlike the Markov/session twins, the daily branch's second events
    # READ is deliberate, not a reuse miss: it scans only 4 columns with
    # the touch filter pushed to parquet (carried's exchange hauls
    # `value` for the purchase rollup, which the daily aggregate never
    # needs), and its shuffle is map-side partial-aggregated to
    # |user x day| rows — cheaper at 100 TB than widening the shared
    # exchange or re-joining value by event_id.
    "events_attribution_last_touch_bucketed": 6,
    # hour-bucketed attribution twin (round 10): the pre-AQE plan carries
    # two (user, hour) corpus exchanges (carry branch + hourly-relation
    # branch), kept canonically identical by deriving the hourly
    # aggregate from the window output — AQE's stage cache reuses the
    # corpus exchange at runtime (ReusedExchange asserted in
    # test_plans.py). The rest are the hours/day relation windows and
    # the two probe joins, all bucket- or relation-sized.
    "events_attribution_last_touch_bucketed_hourly": 10,
    # hot-user-safe twin (round 9): the INITIAL plan shows two (user_id,
    # day) local-window corpus exchanges (main branch + day-edges
    # branch), but the null-safe adjustment join keeps both branches
    # canonically identical (no asymmetric pushed null-filters), so
    # AQE's stage cache REUSES the corpus exchange at runtime — the
    # final plan scans and shuffles events ONCE (ReusedExchange,
    # asserted in test_plans.py). Budget counts the pre-AQE plan: 2
    # corpus + active-days window + adjustment join + final agg = 5,
    # each day-splittable; the lifetime user partition is not.
    "events_session_ids_bucketed": 5,
    # hour-bucketed fallback twin (round 10): identical shape with d =
    # date_trunc('hour', ts) — same 5 bucket-splittable exchanges.
    "events_session_ids_bucketed_hourly": 5,
    # hour-bucketed Markov twin (round 10): same shape as the day twin.
    "events_markov_transitions_bucketed_hourly": 5,
    # skew-routed twin (round 10): the probe aggregate runs eagerly
    # inside the builder (a bounded .first() on a 2-value aggregate over
    # the sampled key column); the RETURNED plan is whichever twin the
    # measured share picks — on organic driver data the uniform corpus
    # routes to the lifetime window (1 exchange).
    "events_session_ids_auto": 1,
    # skew-routed Markov twin (round 11): same router contract — on the
    # uniform fixture the probe routes to the lifetime Markov plan (3).
    "events_markov_transitions_auto": 3,
    # pure per-row md5 filter — zero shuffles by construction.
    "llm_stratified_sample_md5": 0,
    # daily agg (the only corpus shuffle) + dow-stats agg pair + the
    # broadcast back to the calendar-sized relation.
    "events_anomaly_dow": 4,
    # per-customer RFM agg (the only fact shuffle) + the 1-row max-date /
    # cut-point broadcasts + the <=64-row segment rollup.
    "stats_rfm_segments": 9,
    # distinct (1) + bottom-k rank window per branch (WindowGroupLimit
    # partial top-k) + final group agg; the merged branch re-dedupes.
    "agg_kmv_distinct": 3,
    # bottom-k-by-hash sample = TakeOrdered (no global sort), 1-row agg.
    "agg_kmv_quantiles": 0,
    # one per-lang rank window, WindowGroupLimit-bounded by the literal
    # max quota before the variable per-lang trim.
    "llm_stratified_quota_sample": 1,
    # signup agg + the user-keyed purchase join + latency agg + the 1-row
    # percentile aggregate.
    "events_time_to_convert": 4,
    "events_retention_cohorts": 4,
    # (day,user) dedup (the only corpus shuffle) + x7 fan-out join to
    # the day spine + the distinct-count agg pair.
    "events_rolling_7d_active_users": 5,
    "events_zscore_outliers": 2,
    "flagship_events_windowed_enrichment": 2,
    "func_array_family": 0,
    "func_cast_family": 0,
    "func_conditional_family": 0,
    "func_date_family": 0,
    "func_explode_tokens": 1,
    # +1 round 13: small-scan fan-out Exchange on the events scan (per-row
    # JSON parse is map-heavy — A/B'd 0.87 -> 0.40 s; pass-through at scale).
    "func_json_family": 1,
    "func_math_family": 0,
    "func_string_family": 0,
    "func_struct_map_family": 0,
    # the persisted edge relation feeds five consumers (three triangle
    # arms, degrees, count); the static plan string repeats that subtree
    # per consumer, so this is far above the shuffles that run. Round-8
    # co_occurrence_pairs rewrite: 34 -> 20 (self-join pair derivation
    # replaced by one collect_set shuffle per repeated subtree).
    "graph_triangle_count": 20,
    # snapshot agg + delta agg merged by a key join; the two aggregates
    # share the ship_day partitioning with the join at runtime.
    "ivm_rollup_maintenance": 2,
    "join_anti_customers_without_orders": 1,
    # literal tier: the bloom build runs at construction (memoized), so
    # the query plan is just the AQE-elected dim broadcast + the final
    # month agg; the FACT side contributes no exchange before the join —
    # the prune is a codegen Filter on the scan.
    "join_bloom_pruned_urgent_revenue": 2,
    "join_asof_latest_view": 1,
    "join_cross_small": 2,
    "join_full_outer_keys": 2,
    "join_inner_orders_customer": 1,
    "join_null_safe_equality": 2,
    "join_left_customer_orders": 1,
    "join_range_bucketed": 2,
    "join_range_price_tier": 1,
    "join_semi_customers_with_orders": 1,
    # distinct-name + min-key aggs, block equi-join over the distinct
    # relations, best-match window, key/row join-backs (broadcast at
    # runtime; the heavy levenshtein runs on |distinct names| pairs).
    "linkage_fuzzy_part_names": 6,
    # word groupBy + occurrence/vocab join + doc_id reassembly agg.
    # postings shuffle (reused across the df-count and scoring branches)
    # + workload/df/stats side exchanges; the string count includes AQE's
    # initial+final plan duplication, like every entry here.
    "llm_bm25_topk": 24,
    # the BM25 branch's exchanges + the dense WindowGroupLimit + the
    # full-outer fusion join and final per-query window — everything after
    # the two top-k cuts moves <= 2*k*queries rows (round 6).
    "llm_hybrid_rrf": 20,  # r12: fan-out + BM25 workload-term pushdown
    "llm_bpe_encode": 5,  # r12: + small-scan fan-out exchange(s)
    "llm_bpe_vocab": 0,
    "llm_chunk_documents": 0,
    "llm_contamination_overlap": 7,  # r12: + small-scan fan-out exchange(s)
    "llm_curated_corpus": 2,
    # the CC loop materializes per-round via localCheckpoint during
    # construction, so the FINAL plan is leaf scans + the keeper join
    # (394 before the lineage cut collapsed the repeated subtrees).
    "llm_dedup_clusters": 4,
    "llm_dedup_corpus_segments": 7,  # r12: + small-scan fan-out exchange(s)
    "llm_dedup_embedding_cosine": 3,  # r12: + small-scan fan-out exchange(s)
    "llm_dedup_embedding_cosine_fast": 1,
    # groupBy(cell,task) shuffle + distinct; cell assignment itself is a
    # zero-Exchange literal-centroid map (tests/test_ivf_neardup.py).
    "llm_dedup_embedding_cosine_ivf": 3,  # r12: + small-scan fan-out exchange(s)
    "llm_dedup_exact": 1,
    # broadcast(8-row query set) + its GlobalLimit single-partition
    # exchange + one query_id window shuffle (WindowGroupLimit partial
    # top-k runs before it); IVF twin swaps the fan-out for a cell join.
    "llm_knn_join_exact": 5,  # r12: + small-scan fan-out exchange(s)
    "llm_knn_join_ivf": 5,  # r12: + small-scan fan-out exchange(s)
    "llm_dedup_incremental": 26,
    # Composes the exact tier (26) with the band-index near probe; the
    # static plan string repeats persisted subtrees (sigs, exact_novel),
    # so this is far above the ~8 distinct shuffles that actually run.
    "llm_dedup_incremental_near": 88,
    # the persisted-index deployment shape: corpus-side signature/index
    # construction is gone from the plan (reads parquet instead), leaving
    # batch signaturing + bloom + probe joins.
    "llm_dedup_incremental_near_probe": 57,
    "llm_dedup_minhash_lsh": 8,  # r12: + small-scan fan-out exchange(s)
    "llm_dedup_ngram_jaccard": 9,
    "llm_dedup_simhash": 1,  # r12: + small-scan fan-out exchange(s)
    "llm_deterministic_shuffle": 6,
    "llm_domain_mixture": 5,
    # scoring is a zero-shuffle expression fold against the 256-bucket
    # weight literal; global top-50 is TakeOrderedAndProject (round 6).
    # (The one-off stats pass collected at build time is its own tiny job.)
    "llm_dsir_importance_topk": 1,  # r12: + small-scan fan-out exchange(s)
    # one global-agg exchange pair folded into a single Exchange: the
    # per-row error fold is map-only (round 6).
    "llm_emb_sq8_error": 2,  # r12: + small-scan fan-out exchange(s)
    "llm_fingerprint_winnowing": 1,  # r12: + small-scan fan-out exchange(s)
    # postings build + term summary agg + the top-50 rank cap's single
    # partition.
    "llm_inverted_index": 7,  # r12: bounded postings-head (WindowGroupLimit branch + ReusedExchange reprint)
    "llm_length_histogram": 1,
    "llm_multimodal_audio_features": 1,
    "llm_multimodal_decode_features": 0,
    "llm_multimodal_image_features": 1,
    "llm_multimodal_metadata": 0,
    "llm_perplexity_bigram": 12,  # r12: + small-scan fan-out exchange(s)
    "llm_pii_redaction": 1,  # r12: + small-scan fan-out exchange(s)
    # vocab top-k agg + its single-partition limit + explicit broadcast
    # + the per-doc agg; the token stream itself never shuffles.
    "llm_quality_classifier": 4,
    "llm_quality_gopher": 1,  # r12: + small-scan fan-out exchange(s)
    "llm_quality_percentile_filter": 4,  # r12: + small-scan fan-out exchange(s)
    "llm_quality_weighted_sample": 0,
    "llm_remove_repeated_spans": 7,  # r12: + small-scan fan-out exchange(s)
    "llm_repetition_metrics": 9,
    "llm_seeded_sample": 0,
    "llm_sequence_packing": 1,
    "llm_shared_span_fraction": 7,  # r12: + small-scan fan-out exchange(s)
    "llm_sim_topk_bruteforce": 2,
    "llm_sim_topk_ivf": 8,  # r12: + small-scan fan-out exchange(s)
    "llm_sim_topk_lsh": 2,
    # ADC TakeOrdered pool cut + the 50-row exact rerank sort (round 6).
    "llm_sim_topk_sq8": 4,  # r12: + small-scan fan-out exchange(s)
    # Hamming TakeOrdered pool cut + the 100-row rerank sort (round 6).
    "llm_sim_topk_binary": 2,
    # knn WindowGroupLimit shuffle + the anchor/neighbor label joins and
    # the 16-group metric aggregate over k*anchors rows (round 6).
    "llm_retrieval_label_precision": 9,  # r12: + small-scan fan-out exchange(s)
    # same broadcast-anchor kNN shape + rank window; IDCG is a literal
    # when-chain (deriving it from perq doubled the whole kNN pipeline).
    "llm_retrieval_ndcg_mrr": 9,  # r12: + small-scan fan-out exchange(s)
    # map-only pandas-UDF projection, zero shuffle.
    "llm_text_normalize_nfc": 0,
    # gopher metrics agg + cheap-flag join + one 1-row confusion agg.
    "stats_cohen_kappa": 4,  # r12: + small-scan fan-out exchange(s)
    # term-count agg + TakeOrdered(200) cut + the 200-row rank window and
    # 1-row regression aggregate (round 6).
    "llm_zipf_fit": 3,
    # unigram + bigram count aggs, two vocab-sized term joins, the two
    # 1-row total broadcasts, TakeOrdered(20) + 20-row rank window (round 6).
    "llm_top_pmi_bigrams": 16,  # r12: + small-scan fan-out exchange(s)
    # literal-centroid cell assignment is zero-shuffle; probe join is a
    # 3-row broadcast; ADC pool cut + rerank as the flat SQ8 tier (round 6).
    "llm_sim_topk_ivf_sq8": 4,  # r12: + small-scan fan-out exchange(s)
    # trigram/bigram/unigram count aggs over the train half, the distinct
    # type relation + five count-space joins (gram-vocabulary sized), one
    # stream->type-score join, per-doc agg (round 6).
    "llm_perplexity_trigram_backoff": 16,
    # plan-time literal sign matrix: the whole projection is a per-row
    # expression tree — ZERO exchanges (round 6).
    "llm_emb_random_projection": 0,
    # the GD loop runs at build (memoized artifact); the emitted weight
    # relation is a local createDataFrame + one orderBy (round 6).
    "llm_train_quality_classifier": 1,
    # the Lloyd iterations run at build (memoized; each iteration is one
    # codegen argmin scan + one (cid,dim) aggregate — per-iteration
    # Exchanges live in those jobs, not the returned local relation).
    "emb_kmeans_train": 0,
    # classifier prob agg + gopher label exprs + score join, the 4dp
    # score-group agg, the bounded-group rank window, two 1-row final
    # aggs (round 6).
    "llm_classifier_eval_auc": 14,  # r12: fan-out + persisted scored relation
    # codebook-literal reconstruction is map-only; ADC pool cut + exact
    # rerank — the flat-SQ8 shape (round 6).
    "llm_sim_topk_pq": 4,  # r12: + small-scan fan-out exchange(s)
    # cell assignment + probe join are literal/broadcast; PQ ADC pool cut
    # + exact rerank (round 6).
    "llm_sim_topk_ivf_pq": 4,  # r12: + small-scan fan-out exchange(s)
    # classifier prob agg + gopher label exprs + score join, the 10-bin
    # group agg + 1-row total broadcast (round 6).
    "llm_classifier_calibration": 13,  # r12: fan-out + persisted scored relation (InMemoryRelation reprint)
    # three delta-join terms; AQE broadcasts the small delta sides, so
    # only the base-side scans exchange (round 6).
    "ivm_join_maintenance": 3,
    # constant-state percentile aggregate (2 exchanges to the 1-row cuts
    # relation) + the bucketed group-by (round 6).
    "stats_quantile_discretize": 3,
    # CC runs at build (localCheckpoint output); the split is a map-only
    # expression over the checkpointed cluster relation (round 6).
    "llm_cluster_aware_split": 0,
    # relevance-pool TakeOrdered cut + the single-group exchange feeding
    # the bounded applyInPandas greedy kernel (round 6).
    "llm_mmr_diversified_topk": 2,
    # domain-count agg + two single-partition windows over the 5-row
    # domain relation (label-sized, like drift_psi_labels); the corpus
    # side is one broadcast-join filter scan (round 6).
    "llm_mixture_temperature": 3,
    # 8-row anchor limit + the 8-group WindowGroupLimit shuffle; the
    # corpus side fans out against the broadcast anchors only (round 6).
    "llm_hard_negative_mining": 5,  # r12: + small-scan fan-out exchange(s)
    "llm_stratified_sample": 0,
    "llm_text_fingerprint": 0,
    "llm_text_langid": 1,  # r12: + small-scan fan-out exchange(s)
    "llm_text_quality": 0,
    "llm_text_stats": 0,
    "llm_tfidf_keywords": 7,
    # postings shuffle + the per-doc entropy aggregate.
    "llm_token_entropy": 4,
    "llm_token_count_regex": 0,
    "llm_top_bigrams": 1,
    # both windows share the one `source` hash partitioning.
    "llm_top_p_selection": 1,
    "llm_train_val_test_split": 0,
    "llm_vocab_stats": 2,
    # TakeOrderedAndProject: per-partition heaps + driver merge, no sort
    # exchange; 1 covers the limit's single-partition collect exchange.
    "llm_weighted_reservoir": 1,
    "llm_weighted_quality_mean": 1,
    # one partial/final agg exchange on ext + the output sort; the scan
    # is file STATUS only (path+length, content pruned) — round 8.
    "media_ingest_audit": 2,
    "nulls_semantics": 1,
    "orderby_limit_topk": 0,
    "pivot_status_by_priority": 2,
    "privacy_k_anonymity": 1,
    # 4 tombstone-probed fact scans -> four 1-row aggregates + the union
    # sort; no broadcast HINTS (sf-proportional stand-in list) — the
    # planner elects BroadcastHashJoin at test scale (asserted in
    # test_plans.py) and may demote to shuffle joins at 100 TB.
    "privacy_erasure_cascade": 9,
    # one full-outer key join (exchange per side); hist/keep/close/open
    # branches are projections of that single join, not re-joins.
    "scd2_customer_batch": 2,
    # the scd2 merge join + the orders equi-join with the interval
    # residual as a post-join filter (per-key version count is tiny).
    "scd2_temporal_join": 3,
    "setop_except_all": 1,
    "setop_intersect": 2,
    "setop_intersect_all": 1,
    "setop_union_all": 0,
    "setop_union_by_name_missing": 0,
    "sql_filtered_aggregates": 1,
    "sql_grouping_sets": 1,
    "sql_lateral_topk_per_key": 3,
    "sql_recursive_month_spine": 2,
    "sql_lateral_posexplode": 0,
    "sql_right_join": 1,
    "sql_unpivot_metrics": 0,
    # per-arm trial agg + the 1-row widen; z math runs on 2 rows.
    "stats_ab_test_ztest": 2,
    # per-customer revenue agg + the global rank over the aggregate
    # (customers-sized) feeding a 1-row reduction.
    "stats_gini_revenue": 2,
    # three percentile passes; every intermediate is groups-sized and
    # broadcast (med, mad, fences) — no fact-fact join.
    "stats_mad_outliers": 7,
    # group percentile agg + explicit broadcast of the 5-row bounds.
    "stats_winsorize_prices": 2,
    "subquery_having_active_customers": 1,
    "subquery_scalar_above_avg": 2,
    # hourly agg + bounds agg + spine join (persisted hourly on both
    # consumers) + the two interpolation windows share one partitioning.
    "ts_gap_fill_interpolate": 6,
    "tpch_q10_returned_items": 4,
    "tpch_q11_important_stock": 8,
    "tpch_q12_shipmode_priority": 2,
    "tpch_q13_customer_distribution": 3,
    "tpch_q14_promo_effect": 2,
    "tpch_q15_top_supplier": 5,
    "tpch_q16_supplier_cnt": 3,
    "tpch_q17_small_quantity": 3,
    "tpch_q18_large_volume": 5,
    "tpch_q19_discounted_revenue": 2,
    "tpch_q1_pricing_summary": 1,
    "tpch_q20_potential_promotion": 5,
    "tpch_q21_waiting_supplier": 5,
    "tpch_q22_global_sales_opportunity": 4,
    "tpch_q2_min_cost_per_part": 2,
    "tpch_q3_shipping_priority": 3,
    "tpch_q4_priority_checking": 2,
    "tpch_q5_local_supplier_volume": 6,
    "tpch_q6_forecast_revenue": 1,
    "tpch_q7_volume_shipping": 6,
    "tpch_q8_market_share": 7,
    "tpch_q9_product_profit": 5,
    # sketch groupBy (printed twice: the persisted summary's InMemoryRelation
    # subtree appears under both the total and candidate branches), the two
    # broadcast exchanges, and the candidate-only recount groupBy (round 6).
    "text_heavy_hitters": 6,
    # prefix index (freq join + window) + one-sided candidate join +
    # the two verification joins on doc ids (round 6).
    "llm_dedup_containment": 6,
    # single-cell assignment is zero-shuffle (literal centroids); the
    # pair kernel's groupBy + the keep anti-join's two sides (round 6).
    "llm_semdedup_prune": 5,  # r12: + small-scan fan-out exchange(s)
    # literal component weights: pure per-row expression tree (round 6).
    "emb_pca_project": 1,  # r12: + small-scan fan-out exchange(s)
    # 8-group score aggregate, the 64-row dims aggregate pair, and the two
    # broadcast scalar relations (round 6).
    "emb_pca_explained_variance": 6,
    "window_distribution_funcs": 1,
    "window_lag_lead_orders": 1,
    "window_nth_value": 1,
    "window_qualify_latest_order": 1,
    "window_range_frame_30d": 1,
    "window_rank_customers": 1,
    "window_running_sum": 1,
    "window_session_30m": 1,
    "window_sliding_10m_5m": 1,
    "window_topk_per_group": 1,
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_exchange_count_within_budget(spark, sf_dir, name):
    assert name in EXCHANGE_BUDGET, (
        f"new query {name} has no exchange budget — record one "
        f"(plan.count('Exchange') at sf0.001) in EXCHANGE_BUDGET"
    )
    # Cached relations from earlier tests get substituted into matching
    # plan subtrees (Spark's cache manager works on logical-plan equality),
    # which would make the recorded counts order-dependent.
    spark.catalog.clearCache()
    plan = QUERIES[name].builder(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    got = plan.count("Exchange")
    assert got <= EXCHANGE_BUDGET[name], (
        f"{name}: {got} Exchange nodes vs budget {EXCHANGE_BUDGET[name]} — "
        f"a change added a shuffle this plan didn't have. If the extra "
        f"exchange is intentional (new semantics), update the budget with "
        f"a justification; otherwise fix the plan.\n{plan}"
    )
