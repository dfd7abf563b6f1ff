"""CATALOG registry (split tail of the catalog monolith)."""

from __future__ import annotations
from collections.abc import Callable
from dataclasses import dataclass
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..functions.urls import canonicalize_col, host_col
from ..operators import dedup, multimodal, similarity
from ..operators.labeling import label_row
from ..operators.comment_tree import reply_forest
from ..operators.ordering import assign_seq_scalable
from ..operators.robots import apply_robots
from ..operators.scheduler import admit
from ..operators.seen import anti_join_seen
from ..operators.stats import (
    attach_notes_with_misses,
    count_histogram,
    note_type_col,
    orphan_metrics,
)
from ..operators.textstats import (
    fingerprint_cols,
    lang_id_col,
    quality_score_cols,
    token_count_cols,
)
from ..plans.crawl import seeds_to_frontier
from . import _shared as _mod__shared
from . import core as _mod_core
from . import crawl as _mod_crawl
from . import web as _mod_web
from . import warc as _mod_warc
from . import graph as _mod_graph
from . import text as _mod_text
from . import dedup as _mod_dedup
from . import ann as _mod_ann
from . import events as _mod_events

# rebind every family module's top-level names so the CATALOG
# literal below resolves exactly as it did in the monolith
for _m in (_mod__shared, _mod_core, _mod_crawl, _mod_web, _mod_warc, _mod_graph, _mod_text, _mod_dedup, _mod_ann, _mod_events):
    globals().update({_k: getattr(_m, _k) for _k in dir(_m)
                      if not _k.startswith('__')})



CATALOG: dict[str, QueryDef] = {
    "dedup_incremental": QueryDef(q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "crawl_seen_filter_cuckoo": QueryDef(q_crawl_seen_filter_cuckoo, SQL_CRAWL_SEEN_FILTER),
    "crawl_seen_filter_bloom": QueryDef(q_crawl_seen_filter_bloom, SQL_CRAWL_SEEN_FILTER),
    "dedup_simhash": QueryDef(q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_ngram_jaccard": QueryDef(q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_embedding_cosine": QueryDef(q_dedup_embedding_cosine, SQL_DEDUP_EMBEDDING_COSINE),
    "dedup_components": QueryDef(q_dedup_components, SQL_DEDUP_COMPONENTS),
    "dedup_cluster_stats": QueryDef(q_dedup_cluster_stats, SQL_DEDUP_CLUSTER_STATS),
    "ann_brute_topk": QueryDef(q_ann_brute_topk, SQL_ANN_BRUTE_TOPK),
    "ann_ivf_topk": QueryDef(q_ann_ivf_topk, SQL_ANN_IVF_TOPK),
    "ann_lsh_signature": QueryDef(q_ann_lsh_signature, SQL_ANN_LSH_SIGNATURE),
    "ann_lsh_topk": QueryDef(q_ann_lsh_topk, SQL_ANN_LSH_TOPK),
    "dedup_paragraph": QueryDef(q_dedup_paragraph, SQL_DEDUP_PARAGRAPH),
    "text_bigram_fluency": QueryDef(q_text_bigram_fluency, SQL_TEXT_BIGRAM_FLUENCY),
    "crawl_bandwidth_admit": QueryDef(q_crawl_bandwidth_admit, SQL_CRAWL_BANDWIDTH_ADMIT),
    "crawl_trap_detect": QueryDef(q_crawl_trap_detect, SQL_CRAWL_TRAP_DETECT),
    "mime_sniff": QueryDef(q_mime_sniff, SQL_MIME_SNIFF),
    "text_pii_scrub": QueryDef(q_text_pii_scrub, _sql_text_pii_scrub()),
    "warc_cdx_index": QueryDef(q_warc_cdx_index, SQL_WARC_CDX_INDEX),
    "text_boilerplate_strip": QueryDef(
        q_text_boilerplate_strip, SQL_TEXT_BOILERPLATE_STRIP
    ),
    "url_cardinality_hll": QueryDef(q_url_cardinality_hll, _sql_url_cardinality_hll()),
    "host_heavy_hitters_cm": QueryDef(
        q_host_heavy_hitters_cm, _sql_host_heavy_hitters_cm()
    ),
    "dedup_substring": QueryDef(q_dedup_substring, _sql_dedup_substring()),
    "vocab_induct_topk": QueryDef(q_vocab_induct_topk, SQL_VOCAB_INDUCT_TOPK),
    "crawl_dust_rules": QueryDef(q_crawl_dust_rules, SQL_CRAWL_DUST_RULES),
    "crawl_adaptive_delay": QueryDef(q_crawl_adaptive_delay, SQL_CRAWL_ADAPTIVE_DELAY),
    "crawl_quota_allocate": QueryDef(q_crawl_quota_allocate, SQL_CRAWL_QUOTA_ALLOCATE),
    "warc_revisit_dedup": QueryDef(q_warc_revisit_dedup, SQL_WARC_REVISIT_DEDUP),
    "url_blocklist_filter": QueryDef(q_url_blocklist_filter, SQL_URL_BLOCKLIST_FILTER),
    "text_word_diversity": QueryDef(q_text_word_diversity, SQL_TEXT_WORD_DIVERSITY),
    "robots_sitemap_urls": QueryDef(q_robots_sitemap_urls, SQL_ROBOTS_SITEMAP_URLS),
    "dedup_minhash_error_profile": QueryDef(
        q_dedup_minhash_error_profile, _sql_minhash_error_profile()
    ),
    "crawl_rate_timeseries": QueryDef(q_crawl_rate_timeseries, SQL_CRAWL_RATE_TIMESERIES),
    "robots_parse": QueryDef(q_robots_parse, SQL_ROBOTS_PARSE),
    "sitemap_extract": QueryDef(q_sitemap_extract, SQL_SITEMAP_EXTRACT),
    "crawl_redirect_resolve": QueryDef(
        q_crawl_redirect_resolve, SQL_CRAWL_REDIRECT_RESOLVE
    ),
    "crawl_fetch_seq": QueryDef(q_crawl_fetch_seq, SQL_CRAWL_FETCH_SEQ),
    "crawl_round": QueryDef(q_crawl_round, SQL_CRAWL_ROUND),
    "graph_hits_rank": QueryDef(q_graph_hits_rank, _sql_graph_hits_rank()),
    "crawl_hostload_binpack": QueryDef(
        q_crawl_hostload_binpack, SQL_CRAWL_HOSTLOAD_BINPACK
    ),
    "crawl_conditional_get": QueryDef(
        q_crawl_conditional_get, SQL_CRAWL_CONDITIONAL_GET
    ),
    "graph_degree_stats": QueryDef(q_graph_degree_stats, SQL_GRAPH_DEGREE_STATS),
    "crawl_recrawl_due": QueryDef(q_crawl_recrawl_due, SQL_CRAWL_RECRAWL_DUE),
    "frontier_link_rank": QueryDef(q_frontier_link_rank, _sql_frontier_link_rank()),
    "comment_histogram": QueryDef(q_comment_histogram, SQL_COMMENT_HISTOGRAM),
    "median_by_group": QueryDef(q_median_by_group, SQL_MEDIAN_BY_GROUP),
    "revision_latest": QueryDef(q_revision_latest, SQL_REVISION_LATEST),
    "reply_forest": QueryDef(q_reply_forest, SQL_REPLY_FOREST),
    "forum_ascii_render": QueryDef(q_forum_ascii_render, SQL_FORUM_ASCII_RENDER),
    "orphan_note_metrics": QueryDef(q_orphan_note_metrics, SQL_ORPHAN_NOTE_METRICS),
    "venue_listing": QueryDef(q_venue_listing, SQL_VENUE_LISTING),
    "flatten_authors_pivot": QueryDef(q_flatten_authors_pivot, SQL_FLATTEN_AUTHORS_PIVOT),
    "props_extract": QueryDef(q_props_extract, SQL_PROPS_EXTRACT),
    "merge_invitations": QueryDef(q_merge_invitations, SQL_MERGE_INVITATIONS),
    "venue_id_assign": QueryDef(q_venue_id_assign, SQL_VENUE_ID_ASSIGN),
    "global_totals": QueryDef(q_global_totals, SQL_GLOBAL_TOTALS),
    "type_share": QueryDef(q_type_share, SQL_TYPE_SHARE),
    "top_orders_per_customer": QueryDef(q_top_orders_per_customer, SQL_TOP_ORDERS_PER_CUSTOMER),
    "sessionization": QueryDef(q_sessionization, SQL_SESSIONIZATION),
    "lang_id": QueryDef(q_lang_id, SQL_LANG_ID),
    "text_quality": QueryDef(q_text_quality, SQL_TEXT_QUALITY),
    "token_count": QueryDef(q_token_count, SQL_TOKEN_COUNT),
    "text_repetition": QueryDef(q_text_repetition, SQL_TEXT_REPETITION),
    "host_quality_rollup": QueryDef(q_host_quality_rollup, SQL_HOST_QUALITY_ROLLUP),
    "doc_fingerprint": QueryDef(q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "mm_decode_meta": QueryDef(q_mm_decode_meta, SQL_MM_DECODE_META),
    "mm_frame_sample": QueryDef(q_mm_frame_sample, SQL_MM_FRAME_SAMPLE),
    "dedup_exact": QueryDef(q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_lsh": QueryDef(q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
    "crawl_canonicalize": QueryDef(q_crawl_canonicalize, SQL_CRAWL_CANONICALIZE),
    "crawl_seed_dedup": QueryDef(q_crawl_seed_dedup, SQL_CRAWL_SEED_DEDUP),
    "crawl_seen_filter": QueryDef(q_crawl_seen_filter, SQL_CRAWL_SEEN_FILTER),
    "crawl_robots_filter": QueryDef(q_crawl_robots_filter, SQL_CRAWL_ROBOTS_FILTER),
    "warc_export": QueryDef(q_warc_export, SQL_WARC_EXPORT),
    "anchor_text_rollup": QueryDef(q_anchor_text_rollup, SQL_ANCHOR_TEXT_ROLLUP),
    "crawl_politeness_admit": QueryDef(q_crawl_politeness_admit, SQL_CRAWL_POLITENESS_ADMIT),
    "crawl_politeness_admit_salted": QueryDef(
        q_crawl_politeness_admit_salted, SQL_CRAWL_POLITENESS_ADMIT
    ),
    "crawl_fetch_join": QueryDef(q_crawl_fetch_join, SQL_CRAWL_FETCH_JOIN),
    "crawl_frontier_merge": QueryDef(q_crawl_frontier_merge, SQL_CRAWL_FRONTIER_MERGE),
    "crawl_host_rollup": QueryDef(q_crawl_host_rollup, SQL_CRAWL_HOST_ROLLUP),
    "note_type_classify": QueryDef(q_note_type_classify, SQL_NOTE_TYPE_CLASSIFY),
    "label_cascade": QueryDef(q_label_cascade, SQL_LABEL_CASCADE),
    "venue_year_rollup": QueryDef(q_venue_year_rollup, SQL_VENUE_YEAR_ROLLUP),
    "label_share_pivot": QueryDef(q_label_share_pivot, SQL_LABEL_SHARE_PIVOT),
    "graph_reciprocity": QueryDef(q_graph_reciprocity, _sql_graph_reciprocity()),
    "crawl_latency_quantiles": QueryDef(
        q_crawl_latency_quantiles, _sql_crawl_latency_quantiles()
    ),
    "crawl_host_skew_gini": QueryDef(
        q_crawl_host_skew_gini, _sql_crawl_host_skew_gini()
    ),
    "sitemap_index_extract": QueryDef(
        q_sitemap_index_extract, SQL_SITEMAP_INDEX_EXTRACT
    ),
    "embedding_qa": QueryDef(q_embedding_qa, SQL_EMBEDDING_QA),
    "crawl_retry_backoff": QueryDef(
        q_crawl_retry_backoff, _sql_crawl_retry_backoff()
    ),
    "lang_id_confusion": QueryDef(
        q_lang_id_confusion, _sql_lang_id_confusion()
    ),
    "domain_budget_rollup": QueryDef(
        q_domain_budget_rollup, _sql_domain_budget_rollup()
    ),
    "html_link_extract": QueryDef(q_html_link_extract, SQL_HTML_LINK_EXTRACT),
    "dedup_semantic": QueryDef(q_dedup_semantic, SQL_DEDUP_SEMANTIC),
    "graph_bfs_depth": QueryDef(q_graph_bfs_depth, _sql_graph_bfs_depth()),
    "graph_triangle_count": QueryDef(
        q_graph_triangle_count, _sql_graph_triangle_count()
    ),
    "crawl_priority_admit_global": QueryDef(
        q_crawl_priority_admit, _sql_crawl_priority_admit()
    ),
    "crawl_shard_assign": QueryDef(q_crawl_shard_assign, _sql_crawl_shard_assign()),
    "html_meta_extract": QueryDef(q_html_meta_extract, SQL_HTML_META_EXTRACT),
    "crawl_token_bucket": QueryDef(q_crawl_token_bucket, _sql_crawl_token_bucket()),
    "crawl_politeness_schedule": QueryDef(
        q_crawl_politeness_schedule, _sql_crawl_politeness_schedule()
    ),
    "embedding_quantize_qa": QueryDef(
        q_embedding_quantize_qa, _sql_embedding_quantize_qa()
    ),
    "robots_wildcard_filter": QueryDef(
        q_robots_wildcard_filter, _sql_robots_wildcard_filter()
    ),
    "crawl_subnet_budget": QueryDef(
        q_crawl_subnet_budget, _sql_crawl_subnet_budget()
    ),
    "text_sentence_stats": QueryDef(
        q_text_sentence_stats, SQL_TEXT_SENTENCE_STATS
    ),
    "graph_label_propagation": QueryDef(
        q_graph_label_propagation, _sql_graph_label_propagation()
    ),
    "crawl_mirror_detect": QueryDef(
        q_crawl_mirror_detect, _sql_crawl_mirror_detect()
    ),
    "mm_audio_chunks": QueryDef(q_mm_audio_chunks, SQL_MM_AUDIO_CHUNKS),
    "frontier_seed_rank": QueryDef(
        q_frontier_seed_rank, _sql_frontier_seed_rank()
    ),
    "graph_kcore": QueryDef(q_graph_kcore, _sql_graph_kcore()),
    "graph_assortativity": QueryDef(
        q_graph_assortativity, _sql_graph_assortativity()
    ),
    "text_readability": QueryDef(q_text_readability, SQL_TEXT_READABILITY),
    "embedding_centroid_drift": QueryDef(
        q_embedding_centroid_drift, _sql_embedding_centroid_drift()
    ),
    "graph_clustering_coeff": QueryDef(
        q_graph_clustering_coeff, _sql_graph_clustering_coeff()
    ),
    "embedding_dim_stats": QueryDef(
        q_embedding_dim_stats, _sql_embedding_dim_stats()
    ),
    "text_unicode_profile": QueryDef(
        q_text_unicode_profile, SQL_TEXT_UNICODE_PROFILE
    ),
    "host_graph_collapse": QueryDef(
        q_host_graph_collapse, SQL_HOST_GRAPH_COLLAPSE
    ),
    "text_ngram_novelty": QueryDef(q_text_ngram_novelty, SQL_TEXT_NGRAM_NOVELTY),
    "mm_image_tiles": QueryDef(q_mm_image_tiles, SQL_MM_IMAGE_TILES),
    "crawl_circuit_breaker": QueryDef(
        q_crawl_circuit_breaker, _sql_crawl_circuit_breaker()
    ),
    "ann_recall_eval": QueryDef(q_ann_recall_eval, SQL_ANN_RECALL_EVAL),
    "warc_gap_audit": QueryDef(q_warc_gap_audit, SQL_WARC_GAP_AUDIT),
    "host_lang_mix": QueryDef(q_host_lang_mix, SQL_HOST_LANG_MIX),
    "embedding_pca_power": QueryDef(
        q_embedding_pca_power, _sql_embedding_pca_power()
    ),
    "dedup_keeper_quality": QueryDef(
        q_dedup_keeper_quality, SQL_DEDUP_KEEPER_QUALITY
    ),
    "lang_script_audit": QueryDef(q_lang_script_audit, SQL_LANG_SCRIPT_AUDIT),
    "crawl_frontier_age": QueryDef(q_crawl_frontier_age, SQL_CRAWL_FRONTIER_AGE),
    "graph_modularity": QueryDef(q_graph_modularity, _sql_graph_modularity()),
    "crawl_fairness_index": QueryDef(
        q_crawl_fairness_index, _sql_crawl_fairness_index()
    ),
    "url_query_param_stats": QueryDef(
        q_url_query_param_stats, _sql_url_query_param_stats()
    ),
    "text_code_detect": QueryDef(q_text_code_detect, _sql_text_code_detect()),
    "html_canonical_cluster": QueryDef(
        q_html_canonical_cluster, SQL_HTML_CANONICAL_CLUSTER
    ),
    "ann_ivf_cell_balance": QueryDef(
        q_ann_ivf_cell_balance, SQL_ANN_IVF_CELL_BALANCE
    ),
    "mm_phash_dedup": QueryDef(q_mm_phash_dedup, _sql_mm_phash_dedup()),
    "crawl_dns_prefetch_plan": QueryDef(
        q_crawl_dns_prefetch_plan, SQL_CRAWL_DNS_PREFETCH_PLAN
    ),
    "embedding_cluster_purity": QueryDef(
        q_embedding_cluster_purity, SQL_EMBEDDING_CLUSTER_PURITY
    ),
    "event_funnel": QueryDef(q_event_funnel, _sql_event_funnel()),
    "event_cohort_retention": QueryDef(
        q_event_cohort_retention, _sql_event_cohort_retention()
    ),
    "embedding_outlier_topk": QueryDef(
        q_embedding_outlier_topk, _sql_embedding_outlier_topk()
    ),
    "graph_cocitation": QueryDef(q_graph_cocitation, _sql_graph_cocitation()),
    "crawl_keepalive_plan": QueryDef(
        q_crawl_keepalive_plan, SQL_CRAWL_KEEPALIVE_PLAN
    ),
    "text_langmix_paragraphs": QueryDef(
        q_text_langmix_paragraphs, _sql_text_langmix_paragraphs()
    ),
    "text_host_boilerplate": QueryDef(
        q_text_host_boilerplate, _sql_text_host_boilerplate()
    ),
    "event_transition_matrix": QueryDef(
        q_event_transition_matrix, _sql_event_transition_matrix()
    ),
    "graph_two_hop_reach": QueryDef(
        q_graph_two_hop_reach, _sql_graph_two_hop_reach()
    ),
    "embedding_diversity": QueryDef(
        q_embedding_diversity, _sql_embedding_diversity()
    ),
    "crawl_content_length_anomaly": QueryDef(
        q_crawl_content_length_anomaly, _sql_crawl_content_length_anomaly()
    ),
    "crawl_sitemap_coverage": QueryDef(
        q_crawl_sitemap_coverage, SQL_CRAWL_SITEMAP_COVERAGE
    ),
    "event_daily_anomaly": QueryDef(
        q_event_daily_anomaly, _sql_event_daily_anomaly()
    ),
    "ann_index_shard_plan": QueryDef(
        q_ann_index_shard_plan, _sql_ann_index_shard_plan()
    ),
    "crawl_drain_estimate": QueryDef(
        q_crawl_drain_estimate, SQL_CRAWL_DRAIN_ESTIMATE
    ),
    "event_bot_detect": QueryDef(
        q_event_bot_detect, _sql_event_bot_detect()
    ),
    "mm_scene_cut_plan": QueryDef(
        q_mm_scene_cut_plan, _sql_mm_scene_cut_plan()
    ),
    "warc_replay_locality": QueryDef(
        q_warc_replay_locality, SQL_WARC_REPLAY_LOCALITY
    ),
    "url_dga_suspect": QueryDef(q_url_dga_suspect, SQL_URL_DGA_SUSPECT),
    "link_spam_score": QueryDef(q_link_spam_score, SQL_LINK_SPAM_SCORE),
    "event_churn_detect": QueryDef(
        q_event_churn_detect, SQL_EVENT_CHURN_DETECT
    ),
    "event_gap_histogram": QueryDef(
        q_event_gap_histogram, _sql_event_gap_histogram()
    ),
    "event_attribution": QueryDef(
        q_event_attribution, _sql_event_attribution()
    ),
    "url_path_depth_stats": QueryDef(
        q_url_path_depth_stats, SQL_URL_PATH_DEPTH_STATS
    ),
    "embedding_pq_encode": QueryDef(
        q_embedding_pq_encode, _sql_embedding_pq_encode()
    ),
    "crawl_change_rate": QueryDef(q_crawl_change_rate, SQL_CRAWL_CHANGE_RATE),
    "url_session_param_detect": QueryDef(
        q_url_session_param_detect, SQL_URL_SESSION_PARAM_DETECT
    ),
    "event_type_affinity": QueryDef(
        q_event_type_affinity, SQL_EVENT_TYPE_AFFINITY
    ),
    "event_rfm_segments": QueryDef(
        q_event_rfm_segments, SQL_EVENT_RFM_SEGMENTS
    ),
    "event_session_path_topk": QueryDef(
        q_event_session_path_topk, SQL_EVENT_SESSION_PATH_TOPK
    ),
    "embedding_hamming_topk": QueryDef(
        q_embedding_hamming_topk, _sql_embedding_hamming_topk()
    ),
    "ann_pq_adc_topk": QueryDef(q_ann_pq_adc_topk, _sql_ann_pq_adc_topk()),
    "event_stickiness": QueryDef(q_event_stickiness, SQL_EVENT_STICKINESS),
    "event_concurrency_peak": QueryDef(
        q_event_concurrency_peak, SQL_EVENT_CONCURRENCY_PEAK
    ),
    "vocab_bpe_merge_topk": QueryDef(
        q_vocab_bpe_merge_topk, SQL_VOCAB_BPE_MERGE_TOPK
    ),
    "warc_compaction_plan": QueryDef(
        q_warc_compaction_plan, SQL_WARC_COMPACTION_PLAN
    ),
    "crawl_aging_admit": QueryDef(q_crawl_aging_admit, SQL_CRAWL_AGING_ADMIT),
    "event_dwell_time": QueryDef(q_event_dwell_time, SQL_EVENT_DWELL_TIME),
    "event_hourly_seasonality": QueryDef(
        q_event_hourly_seasonality, SQL_EVENT_HOURLY_SEASONALITY
    ),
    "event_ab_test": QueryDef(q_event_ab_test, SQL_EVENT_AB_TEST),
    "url_template_mine": QueryDef(q_url_template_mine, SQL_URL_TEMPLATE_MINE),
    "crawl_host_makespan": QueryDef(
        q_crawl_host_makespan, SQL_CRAWL_HOST_MAKESPAN
    ),
    "crawl_frontier_partition_plan": QueryDef(
        q_crawl_frontier_partition_plan, _sql_crawl_frontier_partition_plan()
    ),
    "crawl_politeness_violation_audit": QueryDef(
        q_crawl_politeness_violation_audit,
        SQL_CRAWL_POLITENESS_VIOLATION_AUDIT,
    ),
    "event_session_duration_histogram": QueryDef(
        q_event_session_duration_histogram,
        SQL_EVENT_SESSION_DURATION_HISTOGRAM,
    ),
    "event_new_vs_returning": QueryDef(
        q_event_new_vs_returning, SQL_EVENT_NEW_VS_RETURNING
    ),
    "link_host_concentration": QueryDef(
        q_link_host_concentration, SQL_LINK_HOST_CONCENTRATION
    ),
    "mm_modality_mix_card": QueryDef(
        q_mm_modality_mix_card, SQL_MM_MODALITY_MIX_CARD
    ),
    "text_length_percentiles": QueryDef(
        q_text_length_percentiles, SQL_TEXT_LENGTH_PERCENTILES
    ),
    "crawl_warmup_schedule": QueryDef(
        q_crawl_warmup_schedule, SQL_CRAWL_WARMUP_SCHEDULE
    ),
    "event_value_percentiles": QueryDef(
        q_event_value_percentiles, SQL_EVENT_VALUE_PERCENTILES
    ),
    "host_url_cardinality_hll": QueryDef(
        q_host_url_cardinality_hll, _sql_host_url_cardinality_hll()
    ),
    "text_source_signature_terms": QueryDef(
        q_text_source_signature_terms, SQL_TEXT_SOURCE_SIGNATURE_TERMS
    ),
    "crawl_discovery_channel_audit": QueryDef(
        q_crawl_discovery_channel_audit, SQL_CRAWL_DISCOVERY_CHANNEL_AUDIT
    ),
    "url_idn_punycode_audit": QueryDef(
        q_url_idn_punycode_audit, SQL_URL_IDN_PUNYCODE_AUDIT
    ),
    "robots_rules_diff": QueryDef(q_robots_rules_diff, SQL_ROBOTS_RULES_DIFF),
    "dedup_threshold_sensitivity": QueryDef(
        q_dedup_threshold_sensitivity, SQL_DEDUP_THRESHOLD_SENSITIVITY
    ),
    "host_cdn_detect": QueryDef(q_host_cdn_detect, SQL_HOST_CDN_DETECT),
    "graph_degree_histogram": QueryDef(
        q_graph_degree_histogram, SQL_GRAPH_DEGREE_HISTOGRAM
    ),
    "event_heavy_user_share": QueryDef(
        q_event_heavy_user_share, SQL_EVENT_HEAVY_USER_SHARE
    ),
    "text_vocab_growth": QueryDef(
        q_text_vocab_growth, _sql_text_vocab_growth()
    ),
    "event_burstiness": QueryDef(q_event_burstiness, SQL_EVENT_BURSTINESS),
    "url_soft404_detect": QueryDef(
        q_url_soft404_detect, SQL_URL_SOFT404_DETECT
    ),
    "event_cohort_value": QueryDef(
        q_event_cohort_value, SQL_EVENT_COHORT_VALUE
    ),
    "robots_adoption_stats": QueryDef(
        q_robots_adoption_stats, _sql_robots_adoption_stats()
    ),
    "event_resurrection_detect": QueryDef(
        q_event_resurrection_detect, SQL_EVENT_RESURRECTION_DETECT
    ),
    "event_dau_forecast_backtest": QueryDef(
        q_event_dau_forecast_backtest, SQL_EVENT_DAU_FORECAST_BACKTEST
    ),
    "graph_sink_source_nodes": QueryDef(
        q_graph_sink_source_nodes, SQL_GRAPH_SINK_SOURCE_NODES
    ),
    "warc_dedup_savings": QueryDef(
        q_warc_dedup_savings, SQL_WARC_DEDUP_SAVINGS
    ),
    "crawl_error_rate_by_host": QueryDef(
        q_crawl_error_rate_by_host, SQL_CRAWL_ERROR_RATE_BY_HOST
    ),
    "event_ab_test_zscore": QueryDef(
        q_event_ab_test_zscore, _sql_event_ab_test_zscore()
    ),
    "event_activity_streaks": QueryDef(
        q_event_activity_streaks, SQL_EVENT_ACTIVITY_STREAKS
    ),
    "event_conversion_lag_histogram": QueryDef(
        q_event_conversion_lag_histogram, SQL_EVENT_CONVERSION_LAG_HISTOGRAM
    ),
    "crawl_refetch_load_forecast": QueryDef(
        q_crawl_refetch_load_forecast, _sql_crawl_refetch_load_forecast()
    ),
    "mm_frame_budget_plan": QueryDef(
        q_mm_frame_budget_plan, SQL_MM_FRAME_BUDGET_PLAN
    ),
    "text_numeric_density": QueryDef(
        q_text_numeric_density, SQL_TEXT_NUMERIC_DENSITY
    ),
    "dedup_shingle_df_profile": QueryDef(
        q_dedup_shingle_df_profile, SQL_DEDUP_SHINGLE_DF_PROFILE
    ),
    "event_value_pareto": QueryDef(
        q_event_value_pareto, SQL_EVENT_VALUE_PARETO
    ),
    "event_weekday_profile": QueryDef(
        q_event_weekday_profile, SQL_EVENT_WEEKDAY_PROFILE
    ),
    "url_extension_stats": QueryDef(
        q_url_extension_stats, SQL_URL_EXTENSION_STATS
    ),
    "event_touch_journey": QueryDef(
        q_event_touch_journey, _sql_event_touch_journey()
    ),
    "crawl_freshness_sla": QueryDef(
        q_crawl_freshness_sla, _sql_crawl_freshness_sla()
    ),
    "crawl_hedged_fetch_plan": QueryDef(
        q_crawl_hedged_fetch_plan, _sql_crawl_hedged_fetch_plan()
    ),
    "url_hygiene_audit": QueryDef(
        q_url_hygiene_audit, SQL_URL_HYGIENE_AUDIT
    ),
    "text_paragraph_length_profile": QueryDef(
        q_text_paragraph_length_profile, _sql_text_paragraph_length_profile()
    ),
    "event_type_share_drift": QueryDef(
        q_event_type_share_drift, SQL_EVENT_TYPE_SHARE_DRIFT
    ),
    "graph_distance_histogram": QueryDef(
        q_graph_distance_histogram, _sql_graph_distance_histogram()
    ),
    "event_user_type_diversity": QueryDef(
        q_event_user_type_diversity, SQL_EVENT_USER_TYPE_DIVERSITY
    ),
    "event_value_vs_activity_corr": QueryDef(
        q_event_value_vs_activity_corr, SQL_EVENT_VALUE_VS_ACTIVITY_CORR
    ),
    "url_pagination_detect": QueryDef(
        q_url_pagination_detect, SQL_URL_PAGINATION_DETECT
    ),
    "host_crawl_value_score": QueryDef(
        q_host_crawl_value_score, _sql_host_crawl_value_score()
    ),
    "crawl_salt_plan": QueryDef(
        q_crawl_salt_plan, SQL_CRAWL_SALT_PLAN
    ),
    "embedding_quantization_sweep": QueryDef(
        q_embedding_quantization_sweep, SQL_EMBEDDING_QUANTIZATION_SWEEP
    ),
    "crawl_robots_fetch_schedule": QueryDef(
        q_crawl_robots_fetch_schedule, SQL_CRAWL_ROBOTS_FETCH_SCHEDULE
    ),
    "warc_range_coalesce": QueryDef(
        q_warc_range_coalesce, _sql_warc_range_coalesce()
    ),
    "dedup_winnowing": QueryDef(
        q_dedup_winnowing, SQL_DEDUP_WINNOWING
    ),
    "host_fetch_parallelism_plan": QueryDef(
        q_host_fetch_parallelism_plan, _sql_host_fetch_parallelism_plan()
    ),
    "event_type_stationary_mix": QueryDef(
        q_event_type_stationary_mix, _sql_event_type_stationary_mix()
    ),
    "text_phrase_mine": QueryDef(
        q_text_phrase_mine, SQL_TEXT_PHRASE_MINE
    ),
    "event_bounce_rate": QueryDef(
        q_event_bounce_rate, SQL_EVENT_BOUNCE_RATE
    ),
    "crawl_bandwidth_fair_share": QueryDef(
        q_crawl_bandwidth_fair_share, _sql_crawl_bandwidth_fair_share()
    ),
    "host_topk_churn": QueryDef(
        q_host_topk_churn, SQL_HOST_TOPK_CHURN
    ),
    "text_mojibake_detect": QueryDef(
        q_text_mojibake_detect, SQL_TEXT_MOJIBAKE_DETECT
    ),
    "url_redirect_hop_histogram": QueryDef(
        q_url_redirect_hop_histogram, _sql_url_redirect_hop_histogram()
    ),
    "dedup_cdc_chunks": QueryDef(
        q_dedup_cdc_chunks, SQL_DEDUP_CDC_CHUNKS
    ),
    "url_param_order_normalize": QueryDef(
        q_url_param_order_normalize, SQL_URL_PARAM_ORDER_NORMALIZE
    ),
    "crawl_channel_budget_split": QueryDef(
        q_crawl_channel_budget_split, _sql_crawl_channel_budget_split()
    ),
    "crawl_host_outage_detect": QueryDef(
        q_crawl_host_outage_detect, SQL_CRAWL_HOST_OUTAGE_DETECT
    ),
    "host_pareto_frontier": QueryDef(
        q_host_pareto_frontier, _sql_host_pareto_frontier()
    ),
    "host_https_adoption": QueryDef(
        q_host_https_adoption, SQL_HOST_HTTPS_ADOPTION
    ),
    "event_asof_fee_join": QueryDef(
        q_event_asof_fee_join, SQL_EVENT_ASOF_FEE_JOIN
    ),
    "event_maintenance_window_impact": QueryDef(
        q_event_maintenance_window_impact, SQL_EVENT_MAINTENANCE_WINDOW_IMPACT
    ),
    "event_hypertable_rollup": QueryDef(
        q_event_hypertable_rollup, SQL_EVENT_HYPERTABLE_ROLLUP
    ),
    "url_kmv_set_sketch": QueryDef(
        q_url_kmv_set_sketch, SQL_URL_KMV_SET_SKETCH
    ),
    "crawl_latency_mad_outliers": QueryDef(
        q_crawl_latency_mad_outliers, SQL_CRAWL_LATENCY_MAD_OUTLIERS
    ),
    "event_ab_srm_check": QueryDef(
        q_event_ab_srm_check, SQL_EVENT_AB_SRM_CHECK
    ),
    "graph_diameter_estimate": QueryDef(
        q_graph_diameter_estimate, SQL_GRAPH_DIAMETER_ESTIMATE
    ),
    "embedding_matryoshka_energy": QueryDef(
        q_embedding_matryoshka_energy, SQL_EMBEDDING_MATRYOSHKA_ENERGY
    ),
    "event_value_winsorized_mean": QueryDef(
        q_event_value_winsorized_mean, SQL_EVENT_VALUE_WINSORIZED_MEAN
    ),
    "checkpoint_compaction_tiering": QueryDef(
        q_checkpoint_compaction_tiering, SQL_CHECKPOINT_COMPACTION_TIERING
    ),
    "crawl_hub_page_detect": QueryDef(
        q_crawl_hub_page_detect, SQL_CRAWL_HUB_PAGE_DETECT
    ),
    "graph_scc_core_estimate": QueryDef(
        q_graph_scc_core_estimate, SQL_GRAPH_SCC_CORE_ESTIMATE
    ),
    "text_simhash_drift": QueryDef(
        q_text_simhash_drift, _sql_text_simhash_drift()
    ),
    "event_novelty_rate": QueryDef(
        q_event_novelty_rate, SQL_EVENT_NOVELTY_RATE
    ),
    "event_velocity_burst_detect": QueryDef(
        q_event_velocity_burst_detect, SQL_EVENT_VELOCITY_BURST_DETECT
    ),
    "crawl_autoscale_plan": QueryDef(
        q_crawl_autoscale_plan, SQL_CRAWL_AUTOSCALE_PLAN
    ),
    "mm_extract_route_plan": QueryDef(
        q_mm_extract_route_plan, _sql_mm_extract_route_plan()
    ),
    "embedding_label_anova": QueryDef(
        q_embedding_label_anova, SQL_EMBEDDING_LABEL_ANOVA
    ),
    "crawl_queue_wait_estimate": QueryDef(
        q_crawl_queue_wait_estimate, _sql_crawl_queue_wait_estimate()
    ),
    "warc_nearest_snapshot_select": QueryDef(
        q_warc_nearest_snapshot_select, SQL_WARC_NEAREST_SNAPSHOT_SELECT
    ),
    "event_seasonal_anomaly": QueryDef(
        q_event_seasonal_anomaly, SQL_EVENT_SEASONAL_ANOMALY
    ),
    "url_case_sensitivity_probe": QueryDef(
        q_url_case_sensitivity_probe, SQL_URL_CASE_SENSITIVITY_PROBE
    ),
    "event_paired_ttest": QueryDef(
        q_event_paired_ttest, SQL_EVENT_PAIRED_TTEST
    ),
    "url_hreflang_cluster_audit": QueryDef(
        q_url_hreflang_cluster_audit, _sql_url_hreflang_cluster_audit()
    ),
    "crawl_singleflight_coalesce": QueryDef(
        q_crawl_singleflight_coalesce, SQL_CRAWL_SINGLEFLIGHT_COALESCE
    ),
    "crawl_latency_trend_slope": QueryDef(
        q_crawl_latency_trend_slope, SQL_CRAWL_LATENCY_TREND_SLOPE
    ),
    "graph_in_out_degree_corr": QueryDef(
        q_graph_in_out_degree_corr, SQL_GRAPH_IN_OUT_DEGREE_CORR
    ),
    "event_depth_vs_conversion": QueryDef(
        q_event_depth_vs_conversion, SQL_EVENT_DEPTH_VS_CONVERSION
    ),
    "event_wau_overlap_jaccard": QueryDef(
        q_event_wau_overlap_jaccard, SQL_EVENT_WAU_OVERLAP_JACCARD
    ),
    "graph_community_cut_ratio": QueryDef(
        q_graph_community_cut_ratio, _sql_graph_community_cut_ratio()
    ),
    "event_error_cascade_windows": QueryDef(
        q_event_error_cascade_windows, SQL_EVENT_ERROR_CASCADE_WINDOWS
    ),
    "url_typosquat_detect": QueryDef(
        q_url_typosquat_detect, SQL_URL_TYPOSQUAT_DETECT
    ),
    "event_deadline_conversion": QueryDef(
        q_event_deadline_conversion, SQL_EVENT_DEADLINE_CONVERSION
    ),
    "crawl_egress_billing": QueryDef(
        q_crawl_egress_billing, SQL_CRAWL_EGRESS_BILLING
    ),
    "warc_corruption_resync": QueryDef(
        q_warc_corruption_resync, SQL_WARC_CORRUPTION_RESYNC
    ),
    "event_deadline_sweep": QueryDef(
        q_event_deadline_sweep, SQL_EVENT_DEADLINE_SWEEP
    ),
    "crawl_delay_sweep_makespan": QueryDef(
        q_crawl_delay_sweep_makespan, SQL_CRAWL_DELAY_SWEEP_MAKESPAN
    ),
    "crawl_frontier_memory_estimate": QueryDef(
        q_crawl_frontier_memory_estimate, SQL_CRAWL_FRONTIER_MEMORY_ESTIMATE
    ),
    "event_weekend_value_premium": QueryDef(
        q_event_weekend_value_premium, SQL_EVENT_WEEKEND_VALUE_PREMIUM
    ),
    "event_ab_cuped_adjust": QueryDef(
        q_event_ab_cuped_adjust, SQL_EVENT_AB_CUPED_ADJUST
    ),
    "crawl_status_class_mix": QueryDef(
        q_crawl_status_class_mix, SQL_CRAWL_STATUS_CLASS_MIX
    ),
    "event_local_peak_detect": QueryDef(
        q_event_local_peak_detect, SQL_EVENT_LOCAL_PEAK_DETECT
    ),
    "graph_seed_harmonic_reach": QueryDef(
        q_graph_seed_harmonic_reach, _sql_graph_seed_harmonic_reach()
    ),
    "event_ltv_age_curve": QueryDef(
        q_event_ltv_age_curve, SQL_EVENT_LTV_AGE_CURVE
    ),
    "crawl_adaptive_timeout_plan": QueryDef(
        q_crawl_adaptive_timeout_plan, _sql_crawl_adaptive_timeout_plan()
    ),
    "event_session_type_pairs": QueryDef(
        q_event_session_type_pairs, SQL_EVENT_SESSION_TYPE_PAIRS
    ),
    "event_power_user_migration": QueryDef(
        q_event_power_user_migration, _sql_event_power_user_migration()
    ),
    "event_srm_daily_trend": QueryDef(
        q_event_srm_daily_trend, SQL_EVENT_SRM_DAILY_TREND
    ),
    "dedup_granularity_card": QueryDef(
        q_dedup_granularity_card, _sql_dedup_granularity_card()
    ),
    "event_ab_duration_estimate": QueryDef(
        q_event_ab_duration_estimate, SQL_EVENT_AB_DURATION_ESTIMATE
    ),
    "crawl_host_discovery_curve": QueryDef(
        q_crawl_host_discovery_curve, SQL_CRAWL_HOST_DISCOVERY_CURVE
    ),
    "graph_knn_degree_curve": QueryDef(
        q_graph_knn_degree_curve, SQL_GRAPH_KNN_DEGREE_CURVE
    ),
    "url_homograph_detect": QueryDef(
        q_url_homograph_detect, SQL_URL_HOMOGRAPH_DETECT
    ),
    "event_early_value_ltv_corr": QueryDef(
        q_event_early_value_ltv_corr, SQL_EVENT_EARLY_VALUE_LTV_CORR
    ),
    "event_rolling_revenue_7d": QueryDef(
        q_event_rolling_revenue_7d, SQL_EVENT_ROLLING_REVENUE_7D
    ),
    "crawl_error_budget_burn": QueryDef(
        q_crawl_error_budget_burn, _sql_crawl_error_budget_burn()
    ),
    "crawl_redirect_cycle_census": QueryDef(
        q_crawl_redirect_cycle_census, _sql_crawl_redirect_cycle_census()
    ),
    "text_hapax_share": QueryDef(
        q_text_hapax_share, SQL_TEXT_HAPAX_SHARE
    ),
    "crawl_cache_ttl_sweep": QueryDef(
        q_crawl_cache_ttl_sweep, SQL_CRAWL_CACHE_TTL_SWEEP
    ),
    "crawl_amdahl_speedup_model": QueryDef(
        q_crawl_amdahl_speedup_model, SQL_CRAWL_AMDAHL_SPEEDUP_MODEL
    ),
    "crawl_fairness_trend": QueryDef(
        q_crawl_fairness_trend, SQL_CRAWL_FAIRNESS_TREND
    ),
    "event_hourly_autocorr_24": QueryDef(
        q_event_hourly_autocorr_24, SQL_EVENT_HOURLY_AUTOCORR_24
    ),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.sql for name, q in CATALOG.items() if q.sql is not None}
