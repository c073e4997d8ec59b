"""Query plans for the driver's correctness/bench harness.

Importing this package populates REGISTRY with every declared query
(name -> (spark_fn, oracle_sql | None)).
"""

from nutch_spark.plans.driver_queries import REGISTRY

from nutch_spark.plans import coverage_queries  # noqa: E402,F401  (registers a10/d2/d4/d5/d8/f2)
from nutch_spark.plans import datapipe_queries  # noqa: E402,F401  (registers dp_*)
from nutch_spark.plans import graph_queries  # noqa: E402,F401  (registers g/j/w/st_*)
from nutch_spark.plans import scalar_queries  # noqa: E402,F401  (registers f1/d7_*)

# Certification-window rotation: the driver samples the FIRST ~50 registry
# queries each round; ordering here decides whose driver-green row refreshes
# so every query gets a driver-green row that postdates the code it
# certifies. Round-17 ordering (optimization round 2): queries whose ENGINE
# CODE was restructured this round lead — the Lloyd-codebook
# literal->broadcast rewrite (dp_pq_*/dp_ivf_*/dp_semantic_dedup, with
# dp_cosine_topk since the recall oracles compose its SQL twin), the
# linkrank loop-invariant hoist (g3_linkrank, j4_score_update shares the
# module), the reverted fan sites (d6_mime_adaptive, a10_anchor_dedup,
# dp_exact_dedup), the a1_quantiles frequency-weighted percentile, and the
# p2_chm_extract memo-key fix; then the STALEST tail (everything r16's
# window did not certify, in its prior order); the r16-certified block
# (freshest rows) moves to the back. Ahead of that order now: every
# near-dup query whose hot-bucket guard and bucket self-join moved into
# datapipe/skew.py (hot_keys/bucket_pairs), and the skew-join queries
# that share its census. Ahead of those: every query whose keep-the-best-
# rows window now runs through topk.top_k_per_group (kNN, RRF, KMV,
# stratified sample, langid, linkrank, the merges, robots, updatedb).
_CERTIFY_FIRST = [
    "dp_cosine_topk", "g5_linkdumper", "w5_topk_contribs", "w1_generate_topk",
    "dp_lsh_topk", "dp_lsh_recall", "dp_ivf_topk", "dp_ivf_recall",
    "dp_int8_topk", "dp_int8_recall", "dp_pq_topk", "dp_pq_recall",
    "dp_hybrid_rrf", "dp_kmv_distinct", "a3_kmv_hosts", "dp_stratified_n",
    "dp_langid", "g3_linkrank", "j10_crawldb_merge", "j9_segment_merge",
    "j9_merge_rule", "j9_dir_merge", "w6_latest_wins", "p4_robots_policy",
    "d6_mime_adaptive", "j2_forced_refetch", "j2_gone_schedule",
    "dp_minhash_lsh", "dp_minhash_flood", "dp_minhash_recall",
    "dp_minhash_clusters", "dp_ngram_jaccard", "dp_dup_components",
    "dp_dup_components_star", "dp_cluster_retention", "dp_cluster_canonical",
    "dp_text_embed_neardup", "mm_dhash_neardup", "mm_dhash_flood",
    "mm_dhash_clusters", "mm_audio_neardup", "mm_video_neardup",
    "mm_video_clusters", "dp_skew_salted_join", "dp_skew_left_join",
    "dp_winnowing_containment",
    "dp_semantic_dedup", "g_cocitation",
    "j4_score_update",
    "a10_anchor_dedup", "dp_exact_dedup", "a1_quantiles",
    "p2_chm_extract", "dp_bpe_apply", "dp_bpe_train",
    "f2_filter_chain", "dp_simhash", "dp_token_stats",
    "dp_quality", "dp_langid_stopword",
    "dp_dataset_card", "dp_mix_weighted", "dp_mix_temperature",
    "mm_ogg_identity", "mm_audio_fingerprint", "mm_audio_features",
    "mm_mpeg_fingerprint", "dp_gopher_repetition", "dp_paragraph_dedup",
    "dp_pii_scrub", "dp_decontaminate", "mm_binary_metadata",
    "mm_image_dimensions", "dp_cross_corpus_dedup", "dp_c4_clean",
    "dp_split", "p2_ical_extract", "dp_script_detect",
    "p2_7z_extract", "dp_url_blocklist", "dp_substring_spans",
    "dp_substring_keepone", "dp_shard_balance", "dp_gopher_quality",
    "dp_dsir_weights", "a9_node_rollup", "w3_top_nodes",
    "d1_grouped_dedup", "j6_hostdb_agg",
    "st_tumbling_window", "d7_text_profile_sig",
    "mm_tiff_dimensions", "p2_odt_extract", "p2_epub_extract",
    "dp_chunking", "p2_pdf_extract",
    "p2_html_parse", "p2_feed_entries",
    "s10_sitemap_parse", "s1_seed_parse", "a2_global_topn",
    "w4_dedup_rank", "a1_stats_by_flag",
    "mm_mp3_sideinfo", "st_stream_join", "dp_bloom_frontier",
    "dp_quantile_sketch", "dp_unicode_nfc", "dp_token_budget",
    "dp_quality_bins",
    "a1_stats_sketch",
    "dp_text_embed", "dp_embedding_near_dup",
    "dp_vocab_coverage", "dp_seq_packing",
    "dp_bm25_topk",
    "dp_pipeline_clean", "s3_csv_roundtrip",
    "s4_jsonl_roundtrip", "p2_eml_extract",
    "p2_midi_extract", "mm_mkv_info", "mm_exif_meta",
    "mm_embedded_dhash",
    "mm_webp_dhash", "mm_image_dhash",
    "mm_video_frame_dhash", "mm_frame_samples", "mm_audio_tags",
    "dp_boilerplate_lines", "a3_group_numeric", "a3_value_counts",
    "a4_group_count", "a5_completion", "a6_json_props",
    "j1_inject_merge", "j2_state_machine",
    "j7_broadcast_join", "g1_invert_capped",
    "a7_degrees", "f4_filter_surface", "f5_jexl_expr",
    "f8_hash_sample", "d3_opic_share",
    "d6_adaptive_schedule", "u1_union_distinct", "d4_depth_propagation",
    "d8_orphan_mark", "d2_cleaning_targets", "d5_similarity_score",
    "f1_url_normalize", "f1_scoped_normalize", "f1_url_parts",
    "w1_host_limit", "mm_mp4_info",
    "p2_font_extract", "p2_wpd_extract", "p2_psd_extract",
    "mm_heif_dhash", "j3_index_fields", "j3_multiway_join",
    "dp_winnowing", "st_hostdb_state", "p2_iwork_extract",
    "p2_cab_extract", "p2_doc_extract", "pf_regex_fields",
    "pf_nb_classify", "st_session_windows", "j_geoip_range",
    "dp_fix_mojibake",
    "dp_kmv_overlap", "dp_countmin_freq", "dp_token_spectrum",
    "p1_politeness", "p1_fetch_binary_pipeline",
    "p2_metatags",
    "p2_js_outlinks", "dp_substring_removal", "dp_lm_perplexity",
    "dp_bpe_pair_counts",
]


def _rotate_registry() -> None:
    ordered = {n: REGISTRY[n] for n in _CERTIFY_FIRST if n in REGISTRY}
    ordered.update((n, v) for n, v in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_rotate_registry()

__all__ = ["REGISTRY"]
