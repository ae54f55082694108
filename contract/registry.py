"""The driver queries, declared once each, in certification order.

One ``QuerySpec`` per query: its name, its builder ``(spark, sf_dir) ->
DataFrame``, the DuckDB SQL its output must hash-match (``None`` for a
rows-only query, whose builder docstring says why), and its bench lane.
The driver's correctness gate certifies the first 50 entries, so the
head of ``REGISTRY`` is the certification window: oracle rows ordered
oldest-last-certified first by ``tools/gen_window.py``, which checks
the order in-tree (``--check --round N``). ``__spark_entry__.queries()``
and ``oracle_sql()``, ``bench.py``'s lanes and the plan and
certification tools all derive from this one list.

Lanes: ``"headline"`` queries make up the bench's ``value`` total (the
set is frozen so the total stays comparable with the first baseline);
``"extended"`` queries are timed under ``queries_extended``; ``None``
queries are certified but not timed. A state or streaming row's time
covers its whole certified lifecycle by design: every fold, replay,
compaction, stream start-up and restart boundary, then the read.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from contract import analytics as an
from contract import featurize as fz
from contract import llm, ml
from contract import streaming as st


class QuerySpec(NamedTuple):
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    lane: str | None          # "headline", "extended" or None


REGISTRY = (
    # the signatures= fast-path fold must commit byte-identical state
    # to the self-deriving fold (deterministic build + semi-join row
    # pinning), so its match relation shares the same from-scratch twin
    QuerySpec("dedup_signature_state_fold", st.q_dedup_signature_state_fold, llm.DEDUP_INCREMENTAL_PORTABLE_SQL, "extended"),
    QuerySpec("semantic_dedup", llm.q_semantic_dedup, llm.SEMANTIC_DEDUP_SQL, None),
    QuerySpec("quantize_embeddings", llm.q_quantize_embeddings, llm.QUANTIZE_EMBEDDINGS_SQL, None),
    QuerySpec("covariance_matrix", an.q_covariance_matrix, an.COVARIANCE_MATRIX_SQL, None),
    # an incremental refresh must equal the one-shot rollup bit-for-bit
    QuerySpec("rollup_incremental", an.q_rollup_incremental, an.HYPERTABLE_ROLLUP_SQL, None),
    QuerySpec("outlier_robust", an.q_outlier_robust, an.OUTLIER_ROBUST_SQL, None),
    QuerySpec("stream_anomaly", st.q_stream_anomaly, st.STREAM_ANOMALY_SQL, None),
    QuerySpec("calibration_bins", an.q_calibration_bins, an.CALIBRATION_BINS_SQL, None),
    QuerySpec("drift_psi", an.q_drift_psi, an.DRIFT_PSI_SQL, None),
    QuerySpec("scd2_orders", an.q_scd2_orders, an.SCD2_ORDERS_SQL, "extended"),
    QuerySpec("text_normalize", llm.q_text_normalize, llm.TEXT_NORMALIZE_SQL, "extended"),
    # the LSM key-table state must yield the SAME kept set as deduping
    # against raw history — the kept set depends only on the key set,
    # which first-seen-wins merging preserves exactly
    QuerySpec("dedup_incremental_state", st.q_dedup_incremental_state, llm.DEDUP_INCREMENTAL_SQL, "extended"),
    QuerySpec("text_repetition", llm.q_text_repetition, llm.TEXT_REPETITION_SQL, None),
    QuerySpec("pii_redact", llm.q_pii_redact, llm.PII_REDACT_SQL, None),
    QuerySpec("decontaminate", llm.q_decontaminate, llm.DECONTAMINATE_SQL, None),
    QuerySpec("bm25_search", llm.q_bm25_search, llm.BM25_SEARCH_SQL, None),
    QuerySpec("seq_pack_offset", llm.q_seq_pack_offset, llm.SEQ_PACK_OFFSET_SQL, None),
    QuerySpec("seq_pack_nextfit", llm.q_seq_pack_nextfit, llm.SEQ_PACK_NEXTFIT_SQL, None),
    QuerySpec("mixture_sample", llm.q_mixture_sample, llm.MIXTURE_SAMPLE_SQL, None),
    QuerySpec("cluster_balanced", llm.q_cluster_balanced, llm.CLUSTER_BALANCED_SQL, None),
    QuerySpec("lm_perplexity", llm.q_lm_perplexity, llm.LM_PERPLEXITY_SQL, None),
    QuerySpec("doc_chunks", llm.q_doc_chunks, llm.DOC_CHUNKS_SQL, None),
    QuerySpec("related_docs", an.q_related_docs, an.RELATED_DOCS_SQL, None),
    QuerySpec("stream_stream_join", st.q_stream_stream_join, st.STREAM_STREAM_JOIN_SQL, None),
    QuerySpec("f5_outlier_removal", fz.q_f5_outlier_removal, fz.F5_OUTLIER_REMOVAL_SQL, None),
    QuerySpec("e10_quantile_bucket", fz.q_e10_quantile_bucket, fz.E10_QUANTILE_BUCKET_SQL, None),
    QuerySpec("p1_left_pad", fz.q_p1_left_pad, fz.P1_LEFT_PAD_SQL, None),
    QuerySpec("e10_quantile_approx", fz.q_e10_quantile_approx, fz.E10_QUANTILE_APPROX_SQL, None),
    QuerySpec("sketch_distinct_rollup", an.q_sketch_distinct_rollup, an.SKETCH_DISTINCT_ROLLUP_SQL, None),
    # headline: the auto-sized LSH plan a user runs; it does
    # emb_near_dup's job ~17x faster at sf1
    QuerySpec("emb_near_dup_auto", llm.q_emb_near_dup_auto, llm.EMB_NEAR_DUP_AUTO_SQL, "headline"),
    # the versioned-state foreachBatch sink must reach the SAME final
    # state as the in-engine streaming aggregation — identical invariant
    QuerySpec("stream_gram_census_state", st.q_stream_gram_census_state, st.STREAM_GRAM_CENSUS_SQL, "extended"),
    # ...and so must the LSM delta layout's bounded read-side merge
    QuerySpec("stream_gram_census_delta", st.q_stream_gram_census_delta, st.STREAM_GRAM_CENSUS_SQL, "extended"),
    QuerySpec("dedup_incremental_portable", llm.q_dedup_incremental_portable, llm.DEDUP_INCREMENTAL_PORTABLE_SQL, "extended"),
    QuerySpec("segment_kmeans_fixed", ml.q_segment_kmeans_fixed, ml.SEGMENT_KMEANS_FIXED_SQL, "extended"),
    QuerySpec("quality_train_classifier", llm.q_quality_train_classifier, llm.QUALITY_TRAIN_CLASSIFIER_SQL, "extended"),
    # a write/read round trip through any format must return the
    # table unchanged
    QuerySpec("source_jsonl_roundtrip", an.q_source_jsonl_roundtrip, fz.S1_PARQUET_ROUNDTRIP_SQL, None),
    QuerySpec("sorted_neighborhood", an.q_sorted_neighborhood, an.SORTED_NEIGHBORHOOD_SQL, "extended"),
    QuerySpec("attribution_last_touch", an.q_attribution_last_touch, an.ATTRIBUTION_LAST_TOUCH_SQL, "extended"),
    QuerySpec("pagerank_docs", an.q_pagerank_docs, an.PAGERANK_DOCS_SQL, "extended"),
    QuerySpec("triangle_docs", an.q_triangle_docs, an.TRIANGLE_DOCS_SQL, "extended"),
    QuerySpec("lpa_docs", an.q_lpa_docs, an.LPA_DOCS_SQL, "extended"),
    QuerySpec("expectations_events", an.q_expectations_events, an.EXPECTATIONS_EVENTS_SQL, "extended"),
    QuerySpec("resample_daily", an.q_resample_daily, an.RESAMPLE_DAILY_SQL, "extended"),
    QuerySpec("skew_report", an.q_skew_report, an.SKEW_REPORT_SQL, "extended"),
    QuerySpec("shards_roundtrip", an.q_shards_roundtrip, an.SHARDS_ROUNDTRIP_SQL, "extended"),
    QuerySpec("stream_topk", st.q_stream_topk, st.STREAM_TOPK_SQL, "extended"),
    QuerySpec("stream_dedup_history", st.q_stream_dedup_history, st.STREAM_DEDUP_HISTORY_SQL, "extended"),
    QuerySpec("histogram_values", an.q_histogram_values, an.HISTOGRAM_VALUES_SQL, "extended"),
    QuerySpec("topk_per_group", an.q_topk_per_group, an.TOPK_PER_GROUP_SQL, "extended"),
    QuerySpec("attribution_multitouch", an.q_attribution_multitouch, an.ATTRIBUTION_MULTITOUCH_SQL, "extended"),
    QuerySpec("clean_paragraph_dedup", llm.q_clean_paragraph_dedup, llm.CLEAN_PARAGRAPH_DEDUP_SQL, "extended"),
    QuerySpec("clean_boilerplate", llm.q_clean_boilerplate, llm.CLEAN_BOILERPLATE_SQL, "extended"),
    QuerySpec("quality_hashed_bow", llm.q_quality_hashed_bow, llm.QUALITY_HASHED_BOW_SQL, "extended"),
    QuerySpec("token_budget_select", llm.q_token_budget_select, llm.TOKEN_BUDGET_SELECT_SQL, "extended"),
    QuerySpec("merge_upsert_orders", an.q_merge_upsert, an.MERGE_UPSERT_ORDERS_SQL, "extended"),
    QuerySpec("hybrid_search_rrf", llm.q_hybrid_search_rrf, llm.HYBRID_SEARCH_RRF_SQL, "extended"),
    QuerySpec("dedup_keep_best", llm.q_dedup_keep_best, llm.DEDUP_KEEP_BEST_SQL, None),
    QuerySpec("stream_sessions", st.q_stream_sessions, st.STREAM_SESSIONS_SQL, "extended"),
    QuerySpec("heavy_hitters", an.q_heavy_hitters, an.HEAVY_HITTERS_SQL, "extended"),
    # timed so the capped hot-block default keeps its sf1 fix provable
    QuerySpec("fuzzy_join_parts", an.q_fuzzy_join, an.FUZZY_JOIN_PARTS_SQL, "extended"),
    QuerySpec("zorder_layout", an.q_zorder_layout, an.ZORDER_LAYOUT_SQL, "extended"),
    QuerySpec("weighted_sample", an.q_weighted_sample, an.WEIGHTED_SAMPLE_SQL, "extended"),
    QuerySpec("cv_folds", an.q_cv_folds, an.CV_FOLDS_SQL, None),
    # a write/read round trip through any format must return the
    # table unchanged
    QuerySpec("source_csv_roundtrip", an.q_source_csv_roundtrip, fz.S1_PARQUET_ROUNDTRIP_SQL, None),
    QuerySpec("llm_curate_v2", llm.q_llm_curate_v2, llm.LLM_CURATE_V2_SQL, "extended"),
    QuerySpec("diff_snapshots", an.q_diff_snapshots, an.DIFF_SNAPSHOTS_SQL, "extended"),
    QuerySpec("profile_table", an.q_profile_table, an.PROFILE_TABLE_SQL, "extended"),
    QuerySpec("rolling_features", an.q_rolling_features, an.ROLLING_FEATURES_SQL, "extended"),
    QuerySpec("quantile_rollup", an.q_quantile_rollup, an.QUANTILE_ROLLUP_SQL, "extended"),
    QuerySpec("normalize_by_group", an.q_normalize_by_group, an.NORMALIZE_BY_GROUP_SQL, "extended"),
    QuerySpec("dedup_incremental", llm.q_dedup_incremental, llm.DEDUP_INCREMENTAL_SQL, "extended"),
    QuerySpec("transition_matrix", an.q_transition_matrix, an.TRANSITION_MATRIX_SQL, "extended"),
    QuerySpec("simsearch_topk_lsh", llm.q_simsearch_topk_lsh, llm.SIMSEARCH_TOPK_LSH_SQL, "headline"),
    QuerySpec("pipeline_events", fz.q_pipeline_events, fz.PIPELINE_EVENTS_SQL, "headline"),
    QuerySpec("pipeline_lineitem", fz.q_pipeline_lineitem, fz.PIPELINE_LINEITEM_SQL, "headline"),
    QuerySpec("pipeline_orders_profile", fz.q_pipeline_orders_profile, fz.PIPELINE_ORDERS_PROFILE_SQL, "headline"),
    # the array layout must featurize exactly as the pivot layout does
    QuerySpec("pipeline_events_array", fz.q_pipeline_events_array, fz.PIPELINE_EVENTS_SQL, "headline"),
    QuerySpec("stream_windowed_stats", st.q_stream_windowed_stats, st.STREAM_WINDOWED_STATS_SQL, "headline"),
    QuerySpec("stream_last3_state", st.q_stream_last3_state, st.STREAM_LAST3_STATE_SQL, "headline"),
    QuerySpec("stream_dedup", st.q_stream_dedup, st.STREAM_DEDUP_SQL, None),
    QuerySpec("simsearch_topk", llm.q_simsearch_topk, llm.SIMSEARCH_TOPK_SQL, "headline"),
    QuerySpec("stream_static_join", st.q_stream_static_join, st.STREAM_STATIC_JOIN_SQL, None),
    QuerySpec("range_join_campaigns", an.q_range_join, an.RANGE_JOIN_CAMPAIGNS_SQL, None),
    QuerySpec("interval_overlap", an.q_interval_overlap, an.INTERVAL_OVERLAP_SQL, "extended"),
    QuerySpec("ewma_events", an.q_ewma_events, an.EWMA_EVENTS_SQL, "extended"),
    QuerySpec("cm_frequency_rollup", an.q_cm_frequency_rollup, an.CM_FREQUENCY_ROLLUP_SQL, "extended"),
    QuerySpec("cohort_retention", an.q_cohort_retention, an.COHORT_RETENTION_SQL, "extended"),
    QuerySpec("rfm_scores", an.q_rfm_scores, an.RFM_SCORES_SQL, "extended"),
    QuerySpec("hypertable_rollup", an.q_hypertable_rollup, an.HYPERTABLE_ROLLUP_SQL, None),
    QuerySpec("funnel_conversion", an.q_funnel, an.FUNNEL_CONVERSION_SQL, None),
    QuerySpec("bloom_semi_join", an.q_bloom_semi, an.BLOOM_SEMI_JOIN_SQL, None),
    QuerySpec("asof_join_forward", an.q_asof_join_forward, an.ASOF_JOIN_FORWARD_SQL, None),
    QuerySpec("segment_dec", ml.q_segment_dec, ml.SEGMENT_DEC_SQL, None),
    QuerySpec("j2_semi_prune", fz.q_j2_semi_prune, fz.J2_SEMI_PRUNE_SQL, None),
    QuerySpec("p7_array_pack", fz.q_p7_array_pack, fz.P7_ARRAY_PACK_SQL, None),
    QuerySpec("s1_parquet_roundtrip", fz.q_s1_parquet_roundtrip, fz.S1_PARQUET_ROUNDTRIP_SQL, None),
    QuerySpec("score_linear", ml.q_score_linear, ml.SCORE_LINEAR_SQL, "headline"),
    QuerySpec("metrics_confusion", ml.q_metrics_confusion, ml.METRICS_CONFUSION_SQL, None),
    QuerySpec("metrics_roc_auc", ml.q_metrics_roc_auc, ml.METRICS_ROC_AUC_SQL, "headline"),
    QuerySpec("metrics_roc_auc_binned", ml.q_metrics_roc_auc_binned, ml.METRICS_ROC_AUC_BINNED_SQL, None),
    QuerySpec("explain_linear_ablation", ml.q_explain_linear_ablation, ml.EXPLAIN_LINEAR_ABLATION_SQL, None),
    QuerySpec("x3_trainset_labeled", fz.q_x3_trainset_labeled, fz.X3_TRAINSET_LABELED_SQL, None),
    QuerySpec("pipeline_events_percutoff", fz.q_pipeline_events_percutoff, fz.PIPELINE_EVENTS_PERCUTOFF_SQL, None),
    QuerySpec("pipeline_orders_composite", fz.q_pipeline_orders_composite, fz.PIPELINE_ORDERS_COMPOSITE_SQL, None),
    QuerySpec("stratified_sample_exact", llm.q_stratified_sample_exact, llm.STRATIFIED_SAMPLE_EXACT_SQL, None),
    QuerySpec("stratified_sample_hash", llm.q_stratified_sample_hash, llm.STRATIFIED_SAMPLE_HASH_SQL, None),
    QuerySpec("downsample_cap", llm.q_downsample_cap, llm.DOWNSAMPLE_CAP_SQL, None),
    QuerySpec("a1_cardinality", fz.q_a1_cardinality, fz.A1_CARDINALITY_SQL, None),
    QuerySpec("a2_topk_cat_freq", fz.q_a2_topk_cat_freq, fz.A2_TOPK_CAT_FREQ_SQL, None),
    QuerySpec("a3_summary_stats", fz.q_a3_summary_stats, fz.A3_SUMMARY_STATS_SQL, None),
    QuerySpec("a4_max_date", fz.q_a4_max_date, fz.A4_MAX_DATE_SQL, None),
    QuerySpec("a5_events_per_entity", fz.q_a5_events_per_entity, fz.A5_EVENTS_PER_ENTITY_SQL, None),
    QuerySpec("a6_seq_len_percentile", fz.q_a6_seq_len_percentile, fz.A6_SEQ_LEN_PERCENTILE_SQL, None),
    QuerySpec("a7_lookback_period", fz.q_a7_lookback_period, fz.A7_LOOKBACK_PERIOD_SQL, None),
    QuerySpec("a8_collect_distinct", fz.q_a8_collect_distinct, fz.A8_COLLECT_DISTINCT_SQL, None),
    QuerySpec("a9_label_multihot", fz.q_a9_label_multihot, fz.A9_LABEL_MULTIHOT_SQL, "headline"),
    QuerySpec("a10_segment_profile", fz.q_a10_segment_profile, fz.A10_SEGMENT_PROFILE_SQL, None),
    QuerySpec("a11_nunique_lineitem", fz.q_a11_nunique_lineitem, fz.A11_NUNIQUE_LINEITEM_SQL, None),
    QuerySpec("a12_rollup", fz.q_a12_rollup, fz.A12_ROLLUP_SQL, None),
    QuerySpec("a13_cube", fz.q_a13_cube, fz.A13_CUBE_SQL, None),
    QuerySpec("w5_sessionize", fz.q_w5_sessionize, fz.W5_SESSIONIZE_SQL, "headline"),
    QuerySpec("w6_rolling_window", fz.q_w6_rolling_window, fz.W6_ROLLING_WINDOW_SQL, None),
    QuerySpec("w7_lead_dense_rank", fz.q_w7_lead_dense_rank, fz.W7_LEAD_DENSE_RANK_SQL, None),
    QuerySpec("asof_join", fz.q_asof_join, fz.ASOF_JOIN_SQL, "headline"),
    QuerySpec("x6_set_ops", fz.q_x6_set_ops, fz.X6_SET_OPS_SQL, None),
    QuerySpec("json_extract", fz.q_json_extract, fz.JSON_EXTRACT_SQL, None),
    QuerySpec("p3_pivot_lineitem", fz.q_p3_pivot_lineitem, fz.P3_PIVOT_LINEITEM_SQL, None),
    QuerySpec("p6_petastorm_rename", fz.q_p6_petastorm_rename, fz.P6_PETASTORM_RENAME_SQL, None),
    QuerySpec("e1_fit_apply_split", fz.q_e1_fit_apply_split, fz.E1_FIT_APPLY_SPLIT_SQL, None),
    QuerySpec("e5_fit_apply_split", fz.q_e5_fit_apply_split, fz.E5_FIT_APPLY_SPLIT_SQL, None),
    QuerySpec("e5_normalize_standard", fz.q_e5_normalize_standard, fz.E5_NORMALIZE_STANDARD_SQL, None),
    QuerySpec("llm_curate", llm.q_llm_curate, llm.LLM_CURATE_SQL, "headline"),
    QuerySpec("llm_curate_report", llm.q_llm_curate_report, llm.LLM_CURATE_REPORT_SQL, None),
    QuerySpec("e2_encode_collect", fz.q_e2_encode_collect, fz.E2_ENCODE_COLLECT_SQL, None),
    QuerySpec("e3_decode_roundtrip", fz.q_e3_decode_roundtrip, fz.E3_DECODE_ROUNDTRIP_SQL, None),
    QuerySpec("f6_null_drop", fz.q_f6_null_drop, fz.F6_NULL_DROP_SQL, None),
    QuerySpec("e6_denormalize_roundtrip", fz.q_e6_denormalize_roundtrip, fz.E6_DENORMALIZE_ROUNDTRIP_SQL, None),
    QuerySpec("e7_date_interval", fz.q_e7_date_interval, fz.E7_DATE_INTERVAL_SQL, None),
    QuerySpec("dsir_select", llm.q_dsir_select, llm.DSIR_SELECT_SQL, None),
    QuerySpec("winnow_pairs", llm.q_winnow_pairs, llm.WINNOW_PAIRS_SQL, None),
    QuerySpec("duplicated_spans", llm.q_duplicated_spans, llm.DUPLICATED_SPANS_SQL, None),
    QuerySpec("contamination_fraction", llm.q_contamination_fraction, llm.CONTAMINATION_FRACTION_SQL, None),
    QuerySpec("trim_duplicated_spans", llm.q_trim_duplicated_spans, llm.TRIM_DUPLICATED_SPANS_SQL, None),
    QuerySpec("span_shared_grams", llm.q_span_shared_grams, llm.SPAN_SHARED_GRAMS_SQL, "extended"),
    QuerySpec("span_census_incremental", llm.q_span_census_incremental, llm.SPAN_CENSUS_INCREMENTAL_SQL, "extended"),
    QuerySpec("span_trim_incremental", llm.q_span_trim_incremental, llm.SPAN_TRIM_INCREMENTAL_SQL, "extended"),
    # extended, not headline: the plan is pinned to sf0.01 constants only
    # so its hyperplanes reproduce in DuckDB; at sf1 it alone was 64% of
    # the headline total
    QuerySpec("emb_near_dup", llm.q_emb_near_dup, llm.EMB_NEAR_DUP_SQL, "extended"),
    QuerySpec("dedup_exact", llm.q_dedup_exact, llm.DEDUP_EXACT_SQL, "headline"),
    QuerySpec("dedup_components", llm.q_dedup_components, llm.DEDUP_COMPONENTS_SQL, None),
    QuerySpec("dedup_ngram_jaccard", llm.q_dedup_ngram_jaccard, llm.DEDUP_NGRAM_JACCARD_SQL, None),
    QuerySpec("text_token_counts", llm.q_text_token_counts, llm.TEXT_TOKEN_COUNTS_SQL, "headline"),
    QuerySpec("text_quality", llm.q_text_quality, llm.TEXT_QUALITY_SQL, "headline"),
    QuerySpec("text_langid", llm.q_text_langid, llm.TEXT_LANGID_SQL, "headline"),
    QuerySpec("text_fingerprint", llm.q_text_fingerprint, llm.TEXT_FINGERPRINT_SQL, None),
    QuerySpec("multimodal_binary_meta", llm.q_multimodal_binary_meta, llm.MULTIMODAL_BINARY_META_SQL, None),
    QuerySpec("multimodal_features", llm.q_multimodal_features, llm.MULTIMODAL_FEATURES_SQL, "headline"),
    QuerySpec("multimodal_frames", llm.q_multimodal_frames, llm.MULTIMODAL_FRAMES_SQL, None),
    QuerySpec("w1_rank", fz.q_w1_rank, fz.W1_RANK_SQL, "headline"),
    QuerySpec("w2_intervals", fz.q_w2_intervals, fz.W2_INTERVALS_SQL, None),
    QuerySpec("f1_history_window", fz.q_f1_history_window, fz.F1_HISTORY_WINDOW_SQL, "headline"),
    QuerySpec("f2_last_n", fz.q_f2_last_n, fz.F2_LAST_N_SQL, None),
    QuerySpec("f4_profile_dedup", fz.q_f4_profile_dedup, fz.F4_PROFILE_DEDUP_SQL, None),
    QuerySpec("e1_encode_capped", fz.q_e1_encode_capped, fz.E1_ENCODE_CAPPED_SQL, "headline"),
    QuerySpec("e5_normalize_minmax", fz.q_e5_normalize_minmax, fz.E5_NORMALIZE_MINMAX_SQL, "headline"),
    QuerySpec("e8_date_fill_pivoted", fz.q_e8_date_fill_pivoted, fz.E8_DATE_FILL_PIVOTED_SQL, "headline"),
    QuerySpec("e9_fill_nans_pivoted", fz.q_e9_fill_nans_pivoted, fz.E9_FILL_NANS_PIVOTED_SQL, None),
    QuerySpec("p3_pivot_last5", fz.q_p3_pivot_last5, fz.P3_PIVOT_LAST5_SQL, "headline"),
    QuerySpec("x3_sliding_union", fz.q_x3_sliding_union, fz.X3_SLIDING_UNION_SQL, "headline"),
    QuerySpec("x5_sample", fz.q_x5_sample, None, None),
    QuerySpec("x1_three_way_split", fz.q_x1_three_way_split, None, None),
    QuerySpec("score_lstm", ml.q_score_lstm, None, "headline"),
    QuerySpec("score_transformer", ml.q_score_transformer, None, None),
    QuerySpec("score_lstm_attention", ml.q_score_lstm_attention, None, None),
    QuerySpec("e11_oversample", ml.q_e11_oversample, None, None),
    QuerySpec("e12_time_shuffle", ml.q_e12_time_shuffle, None, None),
    QuerySpec("segment_kmeans", ml.q_segment_kmeans, None, "headline"),
    QuerySpec("segment_dec_fit", ml.q_segment_dec_fit, None, "extended"),
    QuerySpec("segment_dec_joint", ml.q_segment_dec_joint, None, None),
    QuerySpec("segment_dec_chain", ml.q_segment_dec_chain, None, None),
    QuerySpec("train_linear_ae", ml.q_train_linear_ae, None, "headline"),
    QuerySpec("train_linear_ae_ddp", ml.q_train_linear_ae_ddp, None, None),
    QuerySpec("train_ae", ml.q_train_ae, None, None),
    QuerySpec("train_lstm_ae", ml.q_train_lstm_ae, None, None),
    QuerySpec("train_transformer_ae", ml.q_train_transformer_ae, None, None),
    QuerySpec("train_unified_ae", ml.q_train_unified_ae, None, None),
    QuerySpec("train_ae_ddp", ml.q_train_ae_ddp, None, "extended"),
    QuerySpec("train_transformer_ae_ddp", ml.q_train_transformer_ae_ddp, None, None),
    QuerySpec("train_ae_sgd", ml.q_train_ae_sgd, None, None),
    QuerySpec("train_lstm_ae_sgd", ml.q_train_lstm_ae_sgd, None, None),
    QuerySpec("explain_grad_attribution", ml.q_explain_grad_attribution, None, None),
    QuerySpec("simsearch_topk_ivf", llm.q_simsearch_topk_ivf, None, None),
    QuerySpec("dedup_minhash_lsh", llm.q_dedup_minhash_lsh, None, "headline"),
    QuerySpec("dedup_simhash", llm.q_dedup_simhash, None, "headline"),
    QuerySpec("bpe_tokenize", llm.q_bpe_tokenize, None, "extended"),
    QuerySpec("simsearch_topk_pq", llm.q_simsearch_topk_pq, None, "extended"),
    QuerySpec("stream_gram_census", st.q_stream_gram_census, st.STREAM_GRAM_CENSUS_SQL, "extended"),
    # the gram-table-fed DSIR must select the identical set with the
    # identical weights as the raw-text path — its oracle IS dsir_select's
    QuerySpec("dsir_shared_grams", llm.q_dsir_shared_grams, llm.DSIR_SELECT_SQL, "extended"),
    QuerySpec("dedup_minhash_portable", llm.q_dedup_minhash_portable, llm.DEDUP_MINHASH_PORTABLE_SQL, "extended"),
    # the LSM signature-table state must yield the SAME match relation
    # as deduping against raw history — matches depend only on the
    # signature set, which the exactly-once fold (replay skipped,
    # compaction a disjoint-id union) preserves exactly
    QuerySpec("dedup_signature_state", st.q_dedup_signature_state, llm.DEDUP_INCREMENTAL_PORTABLE_SQL, "extended"),
    QuerySpec("stream_dedup_corpus", st.q_stream_dedup_corpus, st.STREAM_DEDUP_CORPUS_SQL, "extended"),
    # the NEAR-mode sink at threshold=1.0 keeps the same invariant:
    # exact re-crawl copies carry identical signatures (candidacy
    # certain, Jaccard exactly 1.0), distinct texts never reach 1.0
    # (max pairwise ~0.99, measured at both SFs), so the kept-key
    # multiset is the distinct content keys however batches carved
    QuerySpec("stream_dedup_corpus_near", st.q_stream_dedup_corpus_near, st.STREAM_DEDUP_CORPUS_SQL, "extended"),
    # the committed corpus must be unchanged by WHEN compaction folded
    # old k{b} dirs into a merge — the supersede rule preserves the
    # kept-doc multiset exactly
    QuerySpec("stream_dedup_corpus_compact", st.q_stream_dedup_corpus_compact, st.STREAM_DEDUP_CORPUS_SQL, "extended"),
    QuerySpec("dedup_simhash_portable", llm.q_dedup_simhash_portable, llm.DEDUP_SIMHASH_PORTABLE_SQL, "extended"),
    QuerySpec("simsearch_pq_fixed", llm.q_simsearch_pq_fixed, llm.SIMSEARCH_PQ_FIXED_SQL, "extended"),
    QuerySpec("simsearch_ivf_fixed", llm.q_simsearch_ivf_fixed, llm.SIMSEARCH_IVF_FIXED_SQL, "extended"),
    QuerySpec("bpe_tokenize_fixed", llm.q_bpe_tokenize_fixed, llm.BPE_TOKENIZE_FIXED_SQL, "extended"),
    # the versioned IVF ingest index must yield the SAME search as
    # the one-shot pinned-centroid index — ingest pins the same
    # nearest_centroid election and the exactly-once fold (replay
    # skipped, compaction a disjoint-id union) preserves the id set
    QuerySpec("simsearch_ivf_state", st.q_simsearch_ivf_state, llm.SIMSEARCH_IVF_FIXED_SQL, "extended"),
    # ...and so must the Structured-Streaming ingest composition
    # (checkpointed micro-batches across a restart boundary)
    QuerySpec("stream_ann_index", st.q_stream_ann_index, llm.SIMSEARCH_IVF_FIXED_SQL, "extended"),
    # decontamination depends only on the benchmark gram-hash SET,
    # which the exactly-once census fold preserves (replay skipped,
    # compaction an associative re-sum) — same twin as the one-shot
    QuerySpec("decontaminate_state", st.q_decontaminate_state, llm.DECONTAMINATE_SQL, "extended"),
    QuerySpec("simsearch_ivf_deleted", st.q_simsearch_ivf_deleted, st.SIMSEARCH_IVF_DELETED_SQL, "extended"),
    QuerySpec("simsearch_pq_state", st.q_simsearch_pq_state, st.SIMSEARCH_PQ_STATE_SQL, "extended"),
)
