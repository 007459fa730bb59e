"""The registry keys of the ``queries`` workload, pinned.

``RELATIONAL_KEYS`` and ``OPERATOR_KEYS`` split the 175 registry keys by
module, each key exactly once: tpch, core, entity, streaming_ops, corpus
and multimodal_ops on one side; text, vector, affinity and analytics on
the other. A run of the whole registry takes minutes on four cores, more
than one benchmark run may spend, so the ``queries`` workload times a
pinned panel drawn from both sides (``FAMILIES``); the seed shuffles the
panel's order.
"""

from __future__ import annotations

RELATIONAL_KEYS = """
    tpch_q1 tpch_q2 tpch_q3 tpch_q4 tpch_q5 tpch_q6 tpch_q7 tpch_q8 tpch_q9
    tpch_q10 tpch_q11 tpch_q13 tpch_q15 tpch_q16 tpch_q12 tpch_q14 tpch_q17
    tpch_q18 tpch_q19 tpch_q20 tpch_q21 tpch_q22 grouping_sets scan_parquet
    limit sort_limit count_star count_by_flag groupby_avg exists_any_agg
    dedup_first topk_per_group cube_rollup explode_variants explode_details
    join_price_broadcast join_cost_left derived_cost_coalesce
    semi_anti_membership fk_orphans_antijoin multi_join_star
    upsert_latest_wins delete_insert_antijoin upsert_merge distinct_agg
    percentile_agg kmv_distinct_sketch hll_distinct_sketch
    kmv_join_cardinality hll_merge_audit quantile_sketch salted_join_skew
    union_except window_running_sum window_lag_rank window_range_rolling
    date_window stream_tumbling_window pivot_wide unpivot_long
    histogram_fixed equi_depth_histogram sql_interface filter_project_client
    filter_project_product filter_project_document filter_project_detail
    dq_flags string_cleanup regex_rut regex_email casts timestamp_from_unix
    coalesce_defaults arith_derived stream_sliding_window
    stream_interval_join stream_session_window stream_dedup json_extract
    asof_join range_join sessionize_events sessionize_sharded
    session_path_trigrams stream_rolling_distinct chunk_sequences
    pack_sequences span_dedup pii_redact domain_mixture
    domain_mixture_sample bpe_pair_merge intra_doc_dedup
    pps_systematic_sample weighted_sample_aes multimodal_decode_stub
    multimodal_feature_extract multimodal_frame_sample
    multimodal_resize_stub
""".split()

OPERATOR_KEYS = """
    token_count quality_score lang_id doc_fingerprint dedup_exact
    ngram_jaccard_dedup dedup_minhash_lsh dedup_simhash simhash_near_dup
    quality_gopher stratified_sample tf_vectorize dup_clusters
    dup_clusters_star minhash_incremental tfidf_weights gopher_filter
    decontaminate_ngram unigram_logprob corpus_keep_list pmi_collocations
    bigram_logprob ann_topk_bruteforce ann_lsh_bucketed ann_ivf
    ann_ivf_trained embedding_cosine_dedup embedding_dup_clusters
    cosine_dedup_recall ann_recall feature_scale power_iteration_pc
    item_cooccurrence pagerank_copurchase snapshot_diff bm25_topk
    triangle_count node_jaccard_linkpred entity_resolution_blocked
    khop_reach ndcg_eval scd2_history event_funnel retention_cohorts
    bloom_prefilter_join scd2_asof_lookup cm_sketch_topk zorder_layout_audit
    scd2_incremental dq_profile pareto_frontier_2d resample_ffill
    incremental_agg_merge rolling_distinct_users event_transition_matrix
    attribution_last_touch dq_anomaly_mad group_quantiles_exact bom_rollup
    scd2_time_weighted interval_concurrency cdc_apply table_checksum_blocks
    group_linear_fit key_skew_audit join_strategy_advisor group_corr
    funnel_time_bounded trimmed_mean ab_test_summary rolling_median_daily
    srm_check cusum_changepoint dow_seasonal_residual lag_features
""".split()

#: the keys the ``queries`` workload times, by family; the traced run
#: reports each family's share of the work
FAMILIES = {
    # single-plan DataFrame/SQL keys: Catalyst, scans, joins and shuffles
    # do the work; the control for operator-layer changes
    "q-relational": """
    tpch_q1 tpch_q3 tpch_q5 tpch_q6 tpch_q10 tpch_q13 tpch_q18 tpch_q19
    multi_join_star groupby_avg topk_per_group window_range_rolling
    join_price_broadcast explode_variants filter_project_detail
    stream_session_window sessionize_events json_extract asof_join
    """.split(),
    # eager localCheckpoint builds, many jobs per key, Arrow/Python
    # workers: prefix sums, connected components, n-gram dedup, ANN and a
    # text kernel
    "q-operators": """
    group_quantiles_exact dup_clusters ngram_jaccard_dedup ann_ivf quality_gopher
    """.split(),
}
PANEL = FAMILIES["q-relational"] + FAMILIES["q-operators"]
