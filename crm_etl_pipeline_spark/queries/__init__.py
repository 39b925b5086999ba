"""Query modules — importing this package fills registry.REGISTRY."""

from crm_etl_pipeline_spark.queries import (  # noqa: F401
    aggregates,
    bucketing_q,
    catalog_q,
    crm_q,
    decode_q,
    embeddings_q,
    events_q,
    gateway_q,
    joins,
    layout_q,
    llmops,
    multimodal_q,
    relational,
    scd_q,
    sketch_filters_q,
    sources_q,
    stats_q,
    streaming_q,
    transforms,
    windows,
)

# Queries the driver's bounded correctness prefix should check FIRST.
# registry.load_all puts these at the front; the rest follow in module
# order. Keep this list <= 50 (test_driver_priority_window enforces the
# fit). The rule: every query whose code changed since its last driver
# check comes first, then the unchanged queries whose last check in
# CORRECTNESS_r*.json is oldest.
DRIVER_PRIORITY: list[str] = [
    # --- changed since the round-16 check ---
    # retrieval: the shared BM25 scorer and RRF fuser
    "bm25_topk_search",
    "hybrid_rank_fusion",
    "rerank_fused_topk",
    "chunk_bm25_retrieval",
    "chunk_hybrid_retrieval",
    # tokenizer: the gated BPE word stream and its gate predicate
    "bpe_merge_training",
    "bpe_encode",
    "pack_bpe_sequences",
    "bpe_subword_vocab",
    "bigram_lm_quality_filter",
    # near-dedup: the shared shingle-set table
    "ngram_jaccard_verify",
    "prefix_filter_setsim_join",
    # exact dedup: the shared content-hash column
    "exact_dedup_documents",
    "curation_pipeline",
    "streaming_incremental_dedup",
    # streaming: the shared DLQ/retry-queue failure router
    "streaming_scd2_state",
    "streaming_dlq",
    "streaming_requeue",
    "streaming_dlq_replay",
    # --- oldest unchanged rows (last driver check r12) ---
    "point_lookup",
    "kmv_distinct_sketch",
    "approx_value_percentiles",
    "grouping_sets_region_segment",
    "bucketed_join_colocated",
    "catalog_recursive_paths",
    "ab_test_conversion",
    "session_window_builtin",
    "variant_props_shred",
    "credential_rotation_schedule",
    "zorder_range_scan",
    "partition_evolution_regrain",
    "doc_quality_score",
    "doc_fingerprint",
    "train_split_stratified",
    "contamination_ngram_overlap",
    "vocab_top_tokens",
    "doc_repetition_ratio",
    "tfidf_top_terms",
    "filtered_scan",
    "topk_orders_by_revenue",
    "exists_returned_lineitems",
    "correlated_min_cost_supplier",
    "disjunctive_filter_scan",
    "csv_source_roundtrip",
    "dq_audit_orders",
    "global_rank_two_phase",
    "streaming_tumbling_counts",
    "streaming_stateful_sessions",
    "safe_numeric_cast",
    "system_column_enrichment",
]
