"""Query registry.

Every implemented operator from SURVEY.md §2 (and the beyond-reference
LLM-pipeline operators) is demonstrated by at least one named query
over the benchmark tables. Each entry pairs:

* a Spark callable ``(spark, sf_dir) -> DataFrame``
* an equivalent DuckDB oracle SQL string (or ``None`` for ops that
  are genuinely not SQL-expressible — those get a rows-only check).

Column names are aliased identically on both sides; float outputs are
rounded identically on both sides so order-insensitive value hashing
is stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (spark_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None):
    """Decorator: add a query + its DuckDB oracle to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# The external verifier samples the FIRST 50 registry entries in order,
# so ordering is part of the driver contract: queries that have never
# been driver-verified must come first.  ``_PRIORITY`` pins those names
# to the head of the dict (in list order); everything else follows in
# registration order.  Keep every name that still lacks a green
# CORRECTNESS row — plus any newly added query — inside the first 50.
#
# ``python tools/rotate_registry.py --write`` regenerates the list from
# tests/driver_verdicts.json (each name's latest driver round and
# verdict): reds, then never-verified names, then greens ordered by
# OLDEST last driver row (stalest-first re-verification). The list
# below was written in round 6, when the head slots were that round's
# new queries and every earlier query was already green.
_PRIORITY: list[str] = [
    "pdf_jpx_structured_extract",
    "doc_text_extract",
    "multimodal_flac_decode",
    "multimodal_tiff_jpeg_planar_decode",
    "multimodal_flac_spectral",
    "m3_struct_tuple_union",
    "m8_partitioned_upsert",
    "sample_stratified_lang",
    "pack_context_windows",
    "chunk_documents_windowed",
    "pii_scrub_sentinels",
    "train_order_shuffle",
    "contamination_ngram_overlap",
    "domain_mixture_weighted",
    "length_bucket_batching",
    "x12b_blocked_fuzzy_match",
    "r6_jan_only_products",
    "skew_salted_agg",
    "q4_exists_semi_join",
    "pdf_image_extract",
    "multimodal_mp4_fragmented_keyframes",
    "multimodal_tiff_compressed_decode",
    "multimodal_mp3_layer3_spectrum",
    "q10_returned_revenue",
    "rollup_order_profile",
    "range_balance_band",
    "profile_orders",
    "percentiles_by_flag",
    "x11b_service_geocode",
    "s4_sheet_probe_xls",
    "url_normalize_dedup",
    "ngram_repeat_scrub",
    "winsorize_quality",
    "doc_topic_cluster",
    "cross_lingual_ratio",
    "anchor_text_agg",
    "robots_policy_filter",
    "session_dedup_window",
    "t_session_window_native",
    "pagerank_link_graph",
    "jl_projection_16d",
    "kmv_distinct_users",
    "span_dedup_crossdoc",
    "priority_sample_weights",
    "zorder_cluster_stats",
    "kmv_shard_overlap",
    "funnel_stage_conversion",
    "cohort_weekly_retention",
    "event_transition_matrix",
    "mad_outlier_flags",
    "decayed_user_value",
    "cube_event_value",
    "moving_avg_user_value",
    "q6_forecast_revenue",
    "leakage_safe_splits",
    "cms_token_frequency",
    "hist_quantile_by_type",
    "token_budget_select",
    "bm25_topk_retrieval",
    "q7_nation_volume",
    "q8_market_share",
    "q9_product_profit",
    "multimodal_gif_real_decode",
    "label_propagation_communities",
    "q15_top_supplier",
    "q17_small_quantity",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q22_idle_customers",
    "pdf_encrypted_image_extract",
    "pdf_g4_image_extract",
    "multimodal_mp3_shortblock_spectrum",
    "multimodal_mp3_stereo_spectrum",
    "multimodal_webm_keyframes",
    "bloom_prefilter_revenue",
    "dsir_target_select",
    "semantic_dedup_planted",
    "psi_value_drift",
    "perplexity_bucket_mix",
    "quality_classifier_linear",
    "geo_radius_pairs",
    "entity_resolution_golden",
    "grouping_sets_events",
    "unpivot_daily_counts",
    "incremental_rollup_fold",
    "interval_coverage_users",
    "minhash_incremental_newbatch",
    "bitext_margin_mine",
    "rag_retrieve_chunks",
    "cdc_chunk_dedup_shifted",
    "pit_scd2_segment_at_order",
    "hll_distinct_users",
    "heavy_hitters_users",
    "q2_min_cost_supplier",
    "q11_important_value",
    "q12_priority_lateness",
    "q16_supplier_count",
    "q20_excess_supply",
    "q21_waiting_supplier",
    "snapshot_diff_documents",
    "quota_cap_per_source",
    "daily_refresh_e2e",
    "tokenize_customer_names",
    "k_anonymity_customer",
    "event_path_trigrams",
    "skew_profile_events",
    "multimodal_wav_real_decode",
    "multimodal_pgm_real_decode",
    "data_expectations_orders",
    "window_suite_orders",
    "negative_samples_contrastive",
    "q14_promo_share",
    "q13_order_distribution",
    "calendar_gap_days",
    "sliding_rate_per_user",
    "attribution_first_last",
    "containment_join_retrieval",
    "market_basket_pairs",
    "skew_salted_join_revenue",
    "multimodal_mp3_lsf_spectrum",
    "docx_text_extract",
    "pdf_jbig2_image_extract",
    "odt_text_extract",
    "pdf_jbig2_text_extract",
    "pdf_jbig2_halftone_extract",
    "epub_text_extract",
    "rtf_text_extract",
    "pdf_jbig2_refine_extract",
    "multimodal_mp3_lsf_intensity_spectrum",
    "pdf_bpc_image_extract",
    "ab_test_conversion",
    "wow_revenue_growth",
    "nullsafe_join_segments",
    "triangle_count_links",
    "reachability_3hops",
    "vhist_quantiles_by_type",
    "hll_rolling_7d_users",
    "dataset_card_metrics",
    "tfidf_cosine_neardup",
    "sql_api_nation_revenue",
    "classifier_decile_profile",
    "interval_intersect_click_error",
    "ann_ivf_multiquery_planted",
    "semantic_dedup_lsh_planted",
    "biosample_sheet_e2e",
    "multimodal_jpeg_real_decode",
    "multimodal_png_real_decode",
    "bpe_train_merges",
    "bpe_encode_token_count",
    "multimodal_wav_spectral",
    "warc_ingest_extract",
    "trajectory_hausdorff_pairs",
    "image_phash_dedup",
    "fingerprint_hamming_neardup",
    "a1_segment_summary",
    "a2_flag_share",
    "f4_urgent_customers",
    "j6_customers_without_orders",
    "j7_lang_family_lookup",
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_regional_revenue",
    "r1_adjacent_pairs",
    "w2_top_order_per_customer",
    "x12_fuzzy_best_match",
    "x7_part_labels",
    "m2_insert_only_then_delete",
    "m7_scd2_segment_migration",
    "k1_s5_tsv_roundtrip",
    "pptx_text_extract",
    "html_text_extract",
    "multimodal_mp3_layer2_subband_decode",
    "pdf_jpx_image_extract",
    "pdf_jbig2_refagg_extract",
    "s4_sheet_probe_tsv",
    "s4_sheet_probe_xlsx",
    "multimodal_mp3_metadata",
    "multimodal_png_subbyte_decode",
    "pdf15_text_extract",
    "jsonl_roundtrip_ingest",
    "jsonl_corrupt_records",
    "orc_roundtrip_scan",
    "unicode_nfc_normalize",
    "mojibake_repair_stats",
    "sra_sheet_e2e",
    "multimodal_jpeg_progressive_decode",
    "image_phash_neardup_dedup",
    "multimodal_png16_decode",
    "pii_redaction_stats",
    "multimodal_gif_frame_sample",
    "pdf_text_extract",
    "wds_shard_ingest",
    "audio_fingerprint_dedup",
    "multimodal_curation_e2e",
    "audio_clip_match",
    "multimodal_mp4_metadata",
    "s3_t2_discovery_merge",
    "t1_ledger_ingest",
    "m5_update_where_in",
    "k6_text_report_roundtrip",
    "t3_stream_merge_availablenow",
    "repetition_filter_gopher",
    "bigram_lm_score",
    "tfidf_top_terms",
    "curation_pipeline_e2e",
    "j1_linkage_fileset",
    "a3_depth_model",
    "j5_array_membership_join",
    "j8_coalescing_dim_join",
    "j9_summary_assembly",
    "f5_file_count_audit",
    "x9_geo_loc_merge",
    "x10_coordinate_masking",
    "x_cleaning_pipeline",
    "x11_reverse_geocode",
    "f2_regex_filter",
    "r2_filename_pivot",
    "r3_struct_flatten",
    "r1_legacy_prefix_pairs",
    "pdf_jpx97_image_extract",
    "multimodal_mp3_layer2_stereo_decode",
    "pdf_jbig2_agg_extract",
    "multimodal_tiff_tiled_decode",
    "odp_text_extract",
    "ods_cell_extract",
    "pdf_jbig2_hmmr_halftone_extract",
    "p1_taxon_projection",
    "t_hourly_rollup",
    "t_user_sessions",
    "t_daily_share",
    "asof_last_click",
    "t_multigrain_rollup",
    "dedup_exact_canonical",
    "quality_model_filter",
    "multimodal_mp4_keyframes",
    "image_exif_orientation",
    "multimodal_mp3_vbr_profile",
    "audio_id3_metadata",
    "pdf_encrypted_extract",
    "bpe_roundtrip_identity",
    "line_dedup_firstwins",
    "embedding_quantize_audit",
    "compaction_plan_files",
    "triangle_count_linkgraph",
    "bfs_seed_distance",
    "video_keyframe_thumbnails",
    "multimodal_mp3_subband_decode",
    "multimodal_bmp_decode",
    "multimodal_tiff_decode",
    "m9_compact_identity",
    "image_orientation_dedup",
    "text_quality_stats",
    "lang_id_heuristic",
    "knn_top10_cosine",
    "token_counts",
    "fingerprint_rolling_hash",
    "minhash_neardup_planted",
    "neardup_cluster_canonical",
    "simhash_dup_planted",
    "ann_lsh_planted",
    "ann_ivf_planted",
    "ann_lsh_vs_exact",
    "ann_ivf_vs_exact",
    "ngram_jaccard_neardup",
    "embedding_cosine_neardup",
    "multimodal_features",
    "multimodal_frame_sample",
    "m1_upsert",
    "m3_array_union_pull",
]


def _ordered() -> dict[str, tuple[QueryFn, str | None]]:
    head = {n: _REGISTRY[n] for n in _PRIORITY if n in _REGISTRY}
    tail = {n: v for n, v in _REGISTRY.items() if n not in head}
    return {**head, **tail}


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {k: v[0] for k, v in _ordered().items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {k: v[1] for k, v in _ordered().items() if v[1] is not None}


_LOADED = False


def _load_all() -> None:
    """Import all query modules (registration side effect)."""
    global _LOADED
    if _LOADED:
        return
    from ccgp_data_wrangling_spark.queries import (  # noqa: F401
        bpe_queries,
        connector_queries,
        corpus_quality,
        curation_e2e,
        domain,
        events,
        llm_ops,
        llm_scale,
        merge_queries,
        pipeline_ops,
        relational,
        sketches,
        tpch_extra,
        versioning,
        web_curation,
    )

    _LOADED = True
