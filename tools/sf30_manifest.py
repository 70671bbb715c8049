"""sf30-wide manifest: every catalog row is either IN the wide sf30
cross-engine sweep or EXPLICITLY excluded with a written reason — no
silent curation.

``tools/sweep.py sf30`` runs ``WIDE`` and embeds ``EXCLUDED`` in its
artifact; ``tests/test_sweep.py`` asserts that WIDE | EXCLUDED covers
the catalog exactly and disjointly, so a new catalog row cannot land
anywhere without a conscious decision here. Each exclusion reason is
one named ``Exclusion`` listing the rows it covers:

- wide sibling: the plan shape runs at sf30 via a named WIDE sibling;
- scale-gated: acceptance invariants (``tools/invariants.py``) declare
  the row, where the DuckDB oracle is infeasible at this scale;
- sketch: hash-seeded signatures are not invariant under the sf30
  generator's vocabulary renaming (recall contract gated instead);
- panel / acceptance: deliberately sf-invariant work;
- generator-bound: synthetic-media encode dominates the row at sf30.
"""

from __future__ import annotations

from typing import NamedTuple


class Exclusion(NamedTuple):
    reason: str
    rows: tuple[str, ...]


# rows the wide sf30 sweep runs (cross-engine vs DuckDB)
WIDE = {
    "asof_join_purchase_signup", "corr_quantity_price_by_flag",
    "cube_lineitem_flags", "dataset_split_counts", "date_functions_orders",
    "dedup_exact", "embedding_cosine_topk", "embedding_ivf_persisted_topk",
    "embedding_ivf_topk", "embedding_ivfpq_persisted_topk",
    "embedding_ivfpq_topk", "embedding_pq_topk",
    "funnel_signup_view_purchase", "grouping_sets_orders",
    "label_noise_knn_disagreement", "matryoshka_prefix_recall",
    "media_gif_dhash_pairs", "media_image_dhash_pairs",
    "media_jpeg_dhash_pairs", "media_jpeg_requant_recall",
    "merge_upsert_orders", "mmr_diversified_topk",
    "ntile_customer_value_quartiles", "q13_order_count_distribution",
    "q18_large_order_customers", "q1_pricing_summary",
    "q3_top_revenue_orders", "q5_region_revenue", "q9_profit_by_nation_year",
    "rollup_orders", "semi_join_customers_with_orders", "sessionize_events",
    "streaming_dedup_parity", "streaming_interval_join_views_purchases",
    "streaming_psi_monitor_batch", "streaming_stateful_user_totals",
    "streaming_static_enrich_nation_totals", "streaming_wordcount_parity",
    "triangles_planted_acceptance", "window_running_user_spend",
    "window_topk_orders_per_cust", "wordcount",
}

_SF1_GREEN = (
    "the full catalog is cross-engine green at sf1, and duplicating the "
    "family at sf30 doubles sweep cost without new coverage"
)


def _sibling(siblings: str, tail: str = _SF1_GREEN) -> str:
    return f"plan shape represented at sf30 by wide sibling {siblings}; {tail}"


TEXT_SCAN = Exclusion(
    _sibling(
        "wordcount + dedup_exact (the same documents scan -> tokenize/scalar "
        "map -> groupBy shuffle shape)"
    ),
    (
        "approx_topk_words_acceptance", "bigram_counts",
        "bigram_logprob_scores", "bm25_topk_docs", "bpe_learn_merges",
        "chi2_lang_source", "chunk_documents_sliding", "cms_word_counts",
        "corpus_prep_pipeline", "dsir_importance_weights",
        "keyword_and_search", "language_id", "length_filtered_documents",
        "pack_documents_to_sequences", "padding_waste_by_bucket",
        "pii_redaction_audit", "pmi_collocations", "profile_documents",
        "quality_filter_funnel", "quality_score", "readability_scores",
        "repetition_filter_stats", "repetition_stats",
        "sequence_packing_stats", "stratified_sample_by_lang", "text_stats",
        "tfidf_top_terms", "token_count_bpe", "token_entropy_docs",
        "token_stopword_overlap", "topk_words_per_doc",
        "unigram_logprob_scores", "vocab_coverage_topn",
        "vocab_shift_js_divergence", "wordcount_no_stopwords_topk",
        "wordcount_topk", "zipf_slope_vocabulary",
    ),
)
EVENTS_SCAN = Exclusion(
    _sibling(
        "sessionize_events + funnel_signup_view_purchase (events scan -> "
        "session/window shuffle)"
    ),
    (
        "attribution_last_touch_revenue", "bitmap_distinct_users_weekly",
        "degree_distribution_session_graph", "event_transition_matrix",
        "event_trigram_paths", "heavy_hitter_users",
        "hll_partial_union_daily_users", "hopping_window_event_value",
        "interpurchase_time_stats", "json_extract_event_stats",
        "key_skew_event_users", "monthly_revenue_growth",
        "new_vs_returning_users_daily", "pagerank_event_transitions",
        "pattern_purchase_no_error_between", "retention_cohorts_weekly",
        "rfm_user_segments", "seasonal_traffic_zscore",
        "session_conversion_rate", "session_window_batch_counts",
        "sliding_distinct_users_3d", "time_to_convert_stats",
        "triangles_session_overlap_users", "weekly_churn_users",
    ),
)
ORDERS_SCAN_AGG = Exclusion(
    _sibling(
        "q1_pricing_summary + orders family (single-pass scan-agg / "
        "scalar-function surface over orders/lineitem)"
    ),
    (
        "benford_first_digit_prices", "brand_revenue",
        "classifier_eval_metrics", "dq_expectations_orders",
        "filtered_agg_orders", "histogram_totalprice",
        "interval_arithmetic_orders", "mad_outlier_orders",
        "order_fulfillment_lag_stats", "orders_by_month",
        "pareto_price_buckets", "quantiles_disc_order_price",
        "revenue_share_within_region", "rich_idle_customers_by_nation",
        "selection_quantiles_order_price", "string_functions_part",
        "variant_props_stats", "welch_ttest_price_by_status",
        "winsorized_price_stats",
    ),
)
GROUPING = Exclusion(
    _sibling("rollup_orders + cube_lineitem_flags + grouping_sets_orders"),
    (
        "collect_sorted_sources_by_lang", "distinct_parts_per_flag",
        "grouping_id_rollup_orders", "grouping_sets_distinct_users",
        "listagg_nations_per_region", "map_functions_order_status",
        "minmax_by_priority", "modal_event_type_per_user",
        "pivot_orders_status_by_priority", "pivot_status_priority_matrix",
        "rollup_share_of_parent", "setop_nationkeys_except_all",
        "setop_nationkeys_intersect_all", "setop_nations_except",
        "setop_nations_intersect", "union_customer_supplier_nations",
        "unpivot_orders_status", "unpivot_part_measures",
    ),
)
TPCH = Exclusion(
    _sibling(
        "the wide TPC-H set (q1/q3/q5/q9/q13/q18: scan-agg, join-topk, "
        "multi-join, rollup, outer-join distribution, having)"
    ),
    (
        "q10_returned_revenue_topk", "q11_top_value_parts",
        "q12_priority_by_quantity_band", "q14_promo_revenue_ratio",
        "q15_top_revenue_supplier", "q16_supplier_counts_excluding_flagged",
        "q17_small_quantity_revenue", "q19_disjunctive_predicates",
        "q20_dominant_part_suppliers", "q21_sole_qualifying_supplier",
        "q22_idle_rich_customers", "q2_min_acctbal_supplier_per_part",
        "q4_priority_orders_with_returns", "q6_discount_revenue",
        "q7_nation_pair_revenue", "q8_market_share",
    ),
)
_EMBEDDING_SIBLINGS = (
    "the six wide embedding rows (brute/IVF/PQ/IVFPQ incl. both "
    "persisted-index probes)"
)
EMBEDDINGS = Exclusion(
    _sibling(_EMBEDDING_SIBLINGS),
    (
        "array_stats_embeddings", "bucketed_auc_embeddings",
        "embedding_filtered_topk", "embedding_lsh_topk",
        "embedding_quantized_topk", "gram_matrix_embeddings",
        "hard_negatives_topk", "hybrid_rrf_retrieval",
        "kmeans_cluster_profile", "label_noise_knn_ivf",
        "mmr_diversified_topk_ivf", "negative_sampling_pairs",
        "semantic_dedup_clusters", "semantic_dedup_clusters_fixedk",
        "xty_embeddings_label",
    ),
)
RERANK = Exclusion(
    _sibling(
        _EMBEDDING_SIBLINGS,
        "the second-stage scorer is O(10 candidates) by construction — "
        "sf-invariant work on top of the already-gated first stage; "
        "cross-engine green at sf0.01+",
    ),
    ("hybrid_rrf_reranked_topk",),
)
WINDOWS = Exclusion(
    _sibling(
        "window_running_user_spend + window_topk_orders_per_cust + "
        "ntile_customer_value_quartiles"
    ),
    (
        "ewma_user_value", "first_last_orders_per_month",
        "forward_fill_last_purchase", "lag_delta_user_values",
        "lateral_top2_orders_per_customer", "latest_event_per_user",
        "longest_activity_streak", "range_frame_hourly_spend",
        "rank_family_part_prices", "resample_user_value_hourly",
        "rolling_zscore_events", "time_decayed_user_value",
        "time_weighted_avg_user_value", "user_value_trend",
        "window_rank_family_prices",
    ),
)
JOINS = Exclusion(
    _sibling(
        "semi_join_customers_with_orders + asof_join_purchase_signup + "
        "merge_upsert_orders"
    ),
    (
        "anti_join_customers_without_recent_orders",
        "asof_forward_next_purchase", "basket_part_pairs_lift",
        "exists_heavy_lineitem_orders", "fk_integrity_audit",
        "left_join_order_item_counts", "overlapping_sessions_pairs",
        "pointintime_join_ship_priority", "range_join_quantity_bands",
        "scd2_customer_priority", "snapshot_diff_orders",
    ),
)
SAMPLING = Exclusion(
    "deterministic key-hash sampling/split/weighting map shape (no shuffle "
    "beyond broadcast weights); its contracts are fraction/leakage "
    "acceptance gates, sf-invariant; cross-engine green at sf1",
    (
        "contribution_cap_per_source", "deterministic_sample_documents",
        "group_split_leakage_audit", "kfold_assignment_counts",
        "pps_sample_documents", "quality_stratified_corpus_sample",
        "shuffled_shard_head", "source_mix_weights",
        "temperature_source_weights", "token_budget_sample_per_source",
    ),
)
MEDIA_META = Exclusion(
    "synthetic-media metadata row: the decode-meta path is per-image "
    "constant work already exercised at sf30 by the wide dhash rows over "
    "the same generators; cross-engine green at sf1",
    (
        "media_audio_stats", "media_frame_sample", "media_gif_dims",
        "media_image_dims", "media_jpeg_dims", "media_mp4_dims",
    ),
)
WAV_FINGERPRINT = Exclusion(
    "per-doc WAV synthesis dominates at sf30; same map-only-fingerprint + "
    "exact-groupBy shape as the wide image rows; green at sf1",
    ("media_audio_fingerprint_pairs",),
)
WAV_IVF = Exclusion(
    "per-doc WAV synthesis dominates at sf30 (generator-bound, like "
    "media_audio_fingerprint_pairs); the IVF lifecycle it reuses is gated "
    "at sf30 by the wide embedding rows over the same "
    "functions/similarity.py operators",
    ("media_audio_ivf_topk",),
)
MP4_CLIPS = Exclusion(
    "three JPEG encodes+decodes per doc make generation ~3x the wide JPEG "
    "row for an already-gated plan shape; the per-sample codec is gated "
    "by the wide JPEG rows and the ISO BMFF container layer is per-clip "
    "constant work (r11)",
    ("media_mp4_clip_dhash_pairs",),
)
PNG_CLIPS = Exclusion(
    "four PNG frame encodes+decodes per doc; same clip-fingerprint plan "
    "shape as media_mp4_clip_dhash_pairs, generator-bound at sf30; green "
    "at sf1",
    ("media_video_clip_dhash_pairs",),
)
DRIFT_PANEL = Exclusion(
    "drift/test statistic over a bounded daily/bucket panel (scan-agg "
    "shape, constant output); cross-engine green at sf1",
    (
        "cusum_daily_value_shift", "ks_price_drift", "psi_price_drift",
        "quantile_merge_daily_value",
    ),
)
UDF_SURFACE = Exclusion(
    "vectorized-UDF/connector surface gate (Arrow plumbing), not a scale "
    "shape; cross-engine green at sf1",
    (
        "pydatasource_corpus_stats", "udaf_zscore_by_label",
        "udf_vector_norms", "udtf_sentence_stats",
    ),
)
APPROX_SKETCH = Exclusion(
    "approximate-sketch acceptance row (error-bound contract, sf-invariant "
    "acceptance); cross-engine green at sf1",
    ("approx_distinct_users", "approx_value_percentiles"),
)
RECALL_PANEL = Exclusion(
    "panel-scoped by design (deterministic bounded slice, constant work at "
    "every sf) — sf30 adds no scale information; cross-engine green in the "
    "sf1 full-catalog sweep",
    ("semantic_dedup_recall_audit",),
)
SCALE_GATED = Exclusion(
    "gated at scale by the acceptance invariants that declare this row in "
    "tools/invariants.py (the DuckDB pair/cascade oracle is infeasible at "
    "sf30); cross-engine green at sf1",
    (
        "dedup_jaccard_prefix_filter", "near_dedup_keepset",
        "near_dedup_keepset_lsh",
    ),
)
DEDUP_SF1 = Exclusion(
    "the DuckDB pair/cascade oracle is infeasible at sf30 and no scale "
    "invariant gates this row; cross-engine green at sf1",
    (
        "boilerplate_shingle_ratio", "decontaminate_ngram_overlap",
        "dedup_bloom_incremental", "dedup_containment",
        "dedup_embedding_cosine", "dedup_incremental_batch",
        "dedup_survivors", "dedup_survivors_best_quality",
        "dedup_threshold_sensitivity", "fuzzy_match_part_names",
        "kcore_near_dup_docs", "near_dup_cross_source_matrix",
        "ngram_memorization_scan", "scrub_digits_fingerprint",
    ),
)
DEDUP_SF3 = Exclusion(
    "the DuckDB pair/cascade oracle is infeasible at sf30 and no scale "
    "invariant gates this row; cross-engine green at sf1 and sf3",
    ("dedup_incremental_minhash",),
)
SKETCH_PAIRS = Exclusion(
    "hash-seeded sketch signatures are not invariant under the sf30 "
    "generator's vocabulary renaming; the recall-vs-exact contract of "
    "dedup_minhash_lsh / dedup_simhash is gated at sf10 "
    "(minhash_lsh_recall_at_sf10, simhash_recall_at_sf10)",
    (
        "dedup_minhash_lsh", "dedup_minhash_lsh_pairs", "dedup_simhash",
        "dedup_simhash_pairs",
    ),
)
CAPPED_CC = Exclusion(
    "connected components over the capped ngram pair set (see "
    "dedup_ngram_jaccard); the CC operator is gated over the prefix-SSJoin "
    "pair set at sf10/sf30 instead",
    ("dedup_clusters",),
)
NGRAM_CAP = Exclusion(
    "the df cap (1000) genuinely BINDS at sf10+ (verbatim-kept shingles "
    "reach df~2500) — the cap doing its scale job, not a bug; the lossless "
    "prefix SSJoin family is the acceptance vehicle at sf10/sf30 "
    "(tools/invariants.py)",
    ("dedup_ngram_jaccard",),
)
LEVENSHTEIN = Exclusion(
    "Levenshtein is not invariant under the sf30 generator's word "
    "renaming; cross-engine-verified at sf3 where DuckDB is affordable",
    ("dedup_edit_distance_pairs",),
)
SUBSTRING_SPANS = Exclusion(
    "an L-token window of all-verbatim words duplicates ACROSS sf30 copies "
    "by construction, so span counts are legitimately superlinear in "
    "copies; cross-engine-verified at sf3",
    ("substring_dedup_spans",),
)

EXCLUSIONS = (
    TEXT_SCAN, EVENTS_SCAN, ORDERS_SCAN_AGG, GROUPING, TPCH, EMBEDDINGS,
    RERANK, WINDOWS, JOINS, SAMPLING, MEDIA_META, WAV_FINGERPRINT, WAV_IVF,
    MP4_CLIPS, PNG_CLIPS, DRIFT_PANEL, UDF_SURFACE, APPROX_SKETCH,
    RECALL_PANEL, SCALE_GATED, DEDUP_SF1, DEDUP_SF3, SKETCH_PAIRS, CAPPED_CC,
    NGRAM_CAP, LEVENSHTEIN, SUBSTRING_SPANS,
)

# every other catalog row, with the reason it is not in WIDE
EXCLUDED: dict[str, str] = {
    row: ex.reason for ex in EXCLUSIONS for row in ex.rows
}
