"""Central query registry — the engine's analytics surface.

``QUERIES`` maps name -> (spark, sf_dir) -> DataFrame; ``ORACLES``
maps the same names to ANSI-SQL DuckDB twins. The five queries
without a twin are numpy-hash or approximate fast paths; each has an
oracle-green exact sibling and an agreement or recall test, and
tests/test_cli.py pins that set. The order of ``QUERIES`` carries no
meaning.
``__spark_entry__.py`` re-exports these to the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import analytic as _an
from .operators import asof as _asof
from .operators import graph as _gph
from .operators import bpe as _bpe
from .operators import bpe_encode as _bpx
from .operators import crossmodal as _cm
from .operators import curation as _cu
from .operators import curation_ext as _cx
from .operators import dedup as _dd
from .operators import events as _ev
from .operators import grep as _gr
from .operators import importance as _imp
from .operators import inverted_index as _ii
from .operators import lm_quality as _lm
from .operators import log_analyzer as _la
from .operators import multimodal as _mm
from .operators import ngram as _ng
from .operators import pipeline as _pl
from .operators import pq as _pq
from .operators import relational as _rel
from .operators import relational_ext as _rx
from .operators import semdedup as _sd
from .operators import substring_dedup as _ss
from .operators import similarity as _sim
from .operators import sketch as _sk
from .operators import text_analysis as _ta
from .operators import winnow as _wn
from .operators import wordcount as _wc

QueryFn = Callable[[SparkSession, str], DataFrame]


def reset_memos() -> None:
    """Drop every build-once session memo: BPE merge tables
    (``bpe._MERGES_CACHE``), BPE symbol maps (``bpe._SYMS_CACHE``),
    word-id maps (``bpe_encode._WORD_IDS_CACHE``), PQ codebooks
    (``pq._CODEBOOK_CACHE``), winnow fingerprint frames
    (``winnow._FP_CACHE``) and LM read-path frames
    (``lm_quality._READ_FRAMES_CACHE``).

    The memos are keyed by (applicationId, sf_dir, params) and their
    localCheckpoint blocks deliberately survive
    ``spark.catalog.clearCache()`` — correct for production reuse, but
    a timing harness that re-runs queries must call this between
    timed runs or the second pass of every memo-backed query measures
    memo lookup, not the query (round-7 advisor finding). Cached
    DataFrames are unpersisted so the executor blocks are actually
    released, not just unreferenced."""
    from .operators import bpe as _bpe_m
    from .operators import bpe_encode as _bpx_m
    from .operators import lm_quality as _lm_m
    from .operators import pq as _pq_m
    from .operators import winnow as _wn_m

    for cache in (
        _bpe_m._MERGES_CACHE,
        _bpe_m._SYMS_CACHE,
        _bpx_m._WORD_IDS_CACHE,
        _pq_m._CODEBOOK_CACHE,
        _wn_m._FP_CACHE,
        # r12 (r11 advisor): the LM read path returns lazy plans over
        # persisted frames it cannot unpersist itself — the frames
        # enroll per call and release here with the other memos
        _lm_m._READ_FRAMES_CACHE,
    ):
        for value in cache.values():
            if isinstance(value, DataFrame):
                try:
                    value.unpersist()
                except Exception:
                    pass
        cache.clear()


QUERIES: dict[str, QueryFn] = {
    "media_video_frame_overlap": _mm.media_video_frame_overlap,
    "media_video_frame_decontaminate": _mm.media_video_frame_decontaminate,
    "media_video_frame_decontaminate_stored": (
        _mm.media_video_frame_decontaminate_stored
    ),
    "media_video_clean_funnel": _pl.media_video_clean_funnel,
    "decontaminate_audit": _pl.decontaminate_audit,
    "media_clean_funnel": _pl.media_clean_funnel,
    "media_image_dedup": _mm.media_image_dedup,
    "media_audio_dedup": _mm.media_audio_dedup,
    "contamination_check": _cu.contamination_check,
    "bloom_pruned_join": _sk.bloom_pruned_join,
    "lm_bigram_score": _lm.lm_bigram_score,
    "quantile_daily_merge": _sk.quantile_daily_merge,
    "trade_kcore": _gph.trade_kcore,
    "trade_pagerank": _gph.trade_pagerank,
    "pq_search_appended": _pq.pq_search_appended,
    "dedup_incremental": _wn.dedup_incremental,
    "events_drift_chisq": _ev.events_drift_chisq,
    "bpe_encode_ids_stored": _bpx.bpe_encode_ids_stored,
    "pq_search_stored": _pq.pq_search_stored,
    "decontaminate_stored": _wn.decontaminate_stored,
    "dataset_publish_manifest": _cx.dataset_publish_manifest,
    "similarity_filtered_topk": _sim.similarity_filtered_topk,
    "dedup_exact": _dd.dedup_exact,
    "dedup_ngram_jaccard": _dd.ngram_jaccard_pairs,
    "dedup_minhash_portable": _dd.dedup_minhash_portable,
    "pricing_summary": _rel.pricing_summary,
    "top_revenue_orders": _rel.top_revenue_orders,
    "nation_revenue": _rel.nation_revenue,
    "region_acctbal": _rel.region_acctbal,
    "promo_revenue": _rel.promo_revenue,
    "small_quantity_revenue": _rel.small_quantity_revenue,
    "order_priority": _rel.order_priority,
    "top_supplier": _rel.top_supplier,
    "returns_rollup": _rel.returns_rollup,
    "cross_nation_volume": _rel.cross_nation_volume,
    "market_share": _rel.market_share,
    "disjunctive_revenue": _rel.disjunctive_revenue,
    "large_orders": _rel.large_orders,
    "idle_customer_balance": _rel.idle_customer_balance,
    "nation_profit": _rel.nation_profit,
    "returned_customer_revenue": _rel.returned_customer_revenue,
    "important_part_types": _rel.important_part_types,
    "supplier_counts_by_brand": _rel.supplier_counts_by_brand,
    "customer_order_counts": _an.customer_order_counts,
    "customers_without_orders": _an.customers_without_orders,
    "repeat_customers": _an.repeat_customers,
    "top_orders_per_customer": _an.top_orders_per_customer,
    "monthly_revenue_running": _an.monthly_revenue_running,
    "wordcount": _wc.wordcount,
    "grep_count": _gr.grep_count,
    "dedup_minhash": _dd.dedup_minhash_pairs,
    "bucketed_join_revenue": _rel.bucketed_join_revenue,
    "media_png_decode": _mm.media_png_decode,
    "token_counts": _ta.token_counts,
    "stratified_sample": _pl.stratified_sample,
    "tfidf_topk": _ta.tfidf_topk,
    "repetition_signals": _cu.repetition_signals,
    "pii_scrub": _cu.pii_scrub,
    "media_stats": _mm.media_stats,
    "hll_registers": _sk.hll_registers,
    "events_above_type_avg": _ev.events_above_type_avg,
    "bloom_membership": _sk.bloom_membership,
    "media_decode_features": _mm.media_decode_features,
    "media_frame_sample": _mm.media_frame_sample,
    "forecast_revenue": _rx.forecast_revenue,
    "min_cost_supplier": _rx.min_cost_supplier,
    "priority_lines": _rx.priority_lines,
    "excess_shipments": _rx.excess_shipments,
    "waiting_suppliers": _rx.waiting_suppliers,
    "dedup_substring_spans": _ss.dedup_substring_spans,
    "importance_sample": _imp.importance_sample,
    "events_multi_rollup": _ev.events_multi_rollup,
    "similarity_doc_quality_topk": _cm.similarity_doc_quality_topk,
    "decontaminate_bloom_prefilter": _cu.decontaminate_bloom_prefilter,
    "dedup_containment": _dd.containment_pairs,
    "contamination_stored": _cu.contamination_stored,
    "lm_interp_score": _lm.lm_interp_score,
    "lm_score_stored": _lm.lm_score_stored,
    "lm_model_retract": _lm.lm_model_retract,
    "winnow_fingerprints_chunked": _wn.winnow_fingerprints_chunked,
    "decontaminate_neardup": _wn.decontaminate_neardup,
    "events_value_mad_outliers": _cx.events_value_mad_outliers,
    "bpe_encode_ids": _bpx.bpe_encode_ids,
    "pack_token_ids": _bpx.pack_token_ids,
    "events_burst_runs": _ev.events_burst_runs,
    "dedup_clusters": _dd.dedup_clusters,
    "hll_type_overlap": _sk.hll_type_overlap,
    "cms_daily_merge": _sk.cms_daily_merge,
    "trade_triangles": _gph.trade_triangles,
    "cms_sketch": _sk.cms_sketch,
    "hll_estimate": _sk.hll_estimate,
    "embedding_neardup_portable": _sim.embedding_neardup_portable,
    "events_gapfill": _ev.events_gapfill,
    "events_props_stats": _ev.events_props_stats,
    "funnel_conversion": _ev.funnel_conversion,
    "similarity_topk": _sim.similarity_topk,
    "media_video_neardup": _mm.media_video_neardup,
    "media_video_dedup": _mm.media_video_dedup,
    "media_video_decontaminate": _mm.media_video_decontaminate,
    "media_video_decontaminate_stored": _mm.media_video_decontaminate_stored,
    "inverted_index": _ii.inverted_index,
    "doc_chunks": _ta.doc_chunks,
    "pack_sequences": _ta.pack_sequences,
    "mixture_weights": _pl.mixture_weights,
    "bpe_train_merges": _bpe.bpe_train_merges,
    "media_audio_snippet_overlap": _mm.media_audio_snippet_overlap,
    "media_audio_snippet_decontaminate": _mm.media_audio_snippet_decontaminate,
    "media_audio_snippet_decontaminate_stored": (
        _mm.media_audio_snippet_decontaminate_stored
    ),
    "media_image_tile_overlap": _mm.media_image_tile_overlap,
    "media_image_tile_decontaminate": _mm.media_image_tile_decontaminate,
    "media_image_tile_decontaminate_stored": (
        _mm.media_image_tile_decontaminate_stored
    ),
    "dedup_keep_best": _dd.dedup_keep_best,
    "token_len_histogram": _ta.token_len_histogram,
    "token_budget_select": _cx.token_budget_select,
    "embedding_decontaminate": _sim.embedding_decontaminate,
    "media_audio_neardup": _mm.media_audio_neardup,
    "winnow_index_retract": _wn.winnow_index_retract,
    "trade_labelprop": _gph.trade_labelprop,
    "media_audio_features": _mm.media_audio_features,
    "dataset_split": _cx.dataset_split,
    "source_profile": _cx.source_profile,
    "revenue_cube": _rx.revenue_cube,
    "bpe_encode_stats": _bpx.bpe_encode_stats,
    "events_moving_stats": _ev.events_moving_stats,
    "events_daily_pivot": _ev.events_daily_pivot,
    "hll_daily_users": _sk.hll_daily_users,
    "user_retention": _ev.user_retention,
    "events_value_deciles": _ev.events_value_deciles,
    "word_typo_pairs": _cx.word_typo_pairs,
    "events_winsorized_stats": _ev.events_winsorized_stats,
    "dataset_build_audit": _cx.dataset_build_audit,
    "similarity_pq_rerank_topk": _pq.similarity_pq_rerank_topk,
    "chunk_boilerplate": _ta.chunk_boilerplate,
    "similarity_ann_portable": _sim.similarity_ann_portable,
    "similarity_ivf_topk": _sim.similarity_ivf_topk,
    "similarity_pq_topk": _pq.similarity_pq_topk,
    "events_value_outliers": _cx.events_value_outliers,
    "similarity_ivf_kmeans_topk": _sim.similarity_ivf_kmeans_topk,
    "winnow_fingerprints": _wn.winnow_fingerprints,
    "winnow_neardup": _wn.winnow_neardup,
    "media_real_decode": _mm.media_real_decode,
    "corpus_clean_funnel": _pl.corpus_clean_funnel,
    "semantic_dedup": _sd.semantic_dedup,
    "wordcount_topk": _wc.wordcount_topk,
    "grep_total": _gr.grep_total,
    "log_analyzer": _la.log_analyzer,
    "bigrams": _ng.bigrams,
    "bigrams_topk": _ng.bigrams_topk,
    "trigrams": _ng.trigrams,
    "events_tumbling": _ev.events_tumbling,
    "events_sliding": _ev.events_sliding,
    "user_sessions": _ev.user_sessions,
    "dedup_substring_cut": _ss.dedup_substring_cut,
    "dedup_substring_cut_stored": _ss.dedup_substring_cut_stored,
    "event_type_hourly_topk": _ev.event_type_hourly_topk,
    "purchase_click_attribution": _asof.purchase_click_attribution,
    "error_click_correlation": _asof.error_click_correlation,
    "cms_estimate": _sk.cms_estimate,
    "pricing_percentiles": _sk.pricing_percentiles,
    "doc_token_stats": _ta.doc_token_stats,
    "corpus_token_stats": _ta.corpus_token_stats,
    "lang_id": _ta.lang_id,
    "quality_score": _ta.quality_score,
    "simhash_fingerprints": _ta.simhash_fingerprints,
    "simhash_neardup": _ta.simhash_neardup,
    "media_audio_decontaminate": _mm.media_audio_decontaminate,
    "media_audio_decontaminate_stored": _mm.media_audio_decontaminate_stored,
    "media_avi_decode": _mm.media_avi_decode,
    "media_decontaminate": _mm.media_decontaminate,
    "media_decontaminate_stored": _mm.media_decontaminate_stored,
    "events_winsorized_stats_fast": _ev.events_winsorized_stats_fast,
    "media_resize": _mm.media_resize,
    "media_image_neardup": _mm.media_image_neardup,
    "semantic_dedup_fast": _sd.semantic_dedup_fast,
    "similarity_ann_topk": _sim.similarity_ann_topk,
    "embedding_neardup": _sim.embedding_neardup,
}


ORACLES: dict[str, str] = {
    "wordcount": _wc.WORDCOUNT_ORACLE,
    "wordcount_topk": _wc.WORDCOUNT_TOPK_ORACLE,
    "grep_count": _gr.GREP_COUNT_ORACLE,
    "grep_total": _gr.GREP_TOTAL_ORACLE,
    "inverted_index": _ii.INVERTED_INDEX_ORACLE,
    "log_analyzer": _la.LOG_ANALYZER_ORACLE,
    "bigrams": _ng.BIGRAMS_ORACLE,
    "bigrams_topk": _ng.BIGRAMS_TOPK_ORACLE,
    "trigrams": _ng.TRIGRAMS_ORACLE,
    "dedup_exact": _dd.DEDUP_EXACT_ORACLE,
    "dedup_ngram_jaccard": _dd.NGRAM_JACCARD_ORACLE,
    "dedup_minhash_portable": _dd.DEDUP_MINHASH_PORTABLE_ORACLE,
    "dedup_clusters": _dd.DEDUP_CLUSTERS_ORACLE,
    "pricing_summary": _rel.PRICING_SUMMARY_ORACLE,
    "top_revenue_orders": _rel.TOP_REVENUE_ORACLE,
    "nation_revenue": _rel.NATION_REVENUE_ORACLE,
    "order_priority": _rel.ORDER_PRIORITY_ORACLE,
    "region_acctbal": _rel.REGION_ACCTBAL_ORACLE,
    "promo_revenue": _rel.PROMO_REVENUE_ORACLE,
    "small_quantity_revenue": _rel.SMALL_QUANTITY_REVENUE_ORACLE,
    "top_supplier": _rel.TOP_SUPPLIER_ORACLE,
    "returns_rollup": _rel.RETURNS_ROLLUP_ORACLE,
    "cross_nation_volume": _rel.CROSS_NATION_VOLUME_ORACLE,
    "market_share": _rel.MARKET_SHARE_ORACLE,
    "disjunctive_revenue": _rel.DISJUNCTIVE_REVENUE_ORACLE,
    "large_orders": _rel.LARGE_ORDERS_ORACLE,
    "idle_customer_balance": _rel.IDLE_CUSTOMER_BALANCE_ORACLE,
    "nation_profit": _rel.NATION_PROFIT_ORACLE,
    "returned_customer_revenue": _rel.RETURNED_CUSTOMER_REVENUE_ORACLE,
    "important_part_types": _rel.IMPORTANT_PART_TYPES_ORACLE,
    "supplier_counts_by_brand": _rel.SUPPLIER_COUNTS_BY_BRAND_ORACLE,
    "forecast_revenue": _rx.FORECAST_REVENUE_ORACLE,
    "min_cost_supplier": _rx.MIN_COST_SUPPLIER_ORACLE,
    "priority_lines": _rx.PRIORITY_LINES_ORACLE,
    "excess_shipments": _rx.EXCESS_SHIPMENTS_ORACLE,
    "waiting_suppliers": _rx.WAITING_SUPPLIERS_ORACLE,
    "semantic_dedup": _sd.SEMANTIC_DEDUP_ORACLE,
    "dedup_substring_spans": _ss.DEDUP_SUBSTRING_SPANS_ORACLE,
    "dedup_substring_cut": _ss.DEDUP_SUBSTRING_CUT_ORACLE,
    "dedup_substring_cut_stored": _ss.DEDUP_SUBSTRING_CUT_STORED_ORACLE,
    "similarity_pq_topk": _pq.SIMILARITY_PQ_TOPK_ORACLE,
    "importance_sample": _imp.IMPORTANCE_SAMPLE_ORACLE,
    "events_multi_rollup": _ev.EVENTS_MULTI_ROLLUP_ORACLE,
    "similarity_doc_quality_topk": _cm.SIMILARITY_DOC_QUALITY_TOPK_ORACLE,
    "bpe_train_merges": _bpe.BPE_TRAIN_MERGES_ORACLE,
    "lm_bigram_score": _lm.LM_BIGRAM_SCORE_ORACLE,
    "dedup_keep_best": _dd.DEDUP_KEEP_BEST_ORACLE,
    "token_len_histogram": _ta.TOKEN_LEN_HISTOGRAM_ORACLE,
    "media_resize": _mm.MEDIA_RESIZE_ORACLE,
    "customer_order_counts": _an.CUSTOMER_ORDER_COUNTS_ORACLE,
    "customers_without_orders": _an.CUSTOMERS_WITHOUT_ORDERS_ORACLE,
    "repeat_customers": _an.REPEAT_CUSTOMERS_ORACLE,
    "top_orders_per_customer": _an.TOP_ORDERS_PER_CUSTOMER_ORACLE,
    "monthly_revenue_running": _an.MONTHLY_REVENUE_RUNNING_ORACLE,
    "similarity_topk": _sim.SIMILARITY_TOPK_ORACLE,
    "similarity_filtered_topk": _sim.SIMILARITY_FILTERED_TOPK_ORACLE,
    "similarity_ann_portable": _sim.SIMILARITY_ANN_PORTABLE_ORACLE,
    "similarity_ivf_topk": _sim.SIMILARITY_IVF_TOPK_ORACLE,
    "similarity_ivf_kmeans_topk": _sim.SIMILARITY_IVF_KMEANS_TOPK_ORACLE,
    "embedding_neardup_portable": _sim.EMBEDDING_NEARDUP_PORTABLE_ORACLE,
    "events_tumbling": _ev.EVENTS_TUMBLING_ORACLE,
    "events_gapfill": _ev.EVENTS_GAPFILL_ORACLE,
    "funnel_conversion": _ev.FUNNEL_CONVERSION_ORACLE,
    "events_sliding": _ev.EVENTS_SLIDING_ORACLE,
    "user_sessions": _ev.USER_SESSIONS_ORACLE,
    "event_type_hourly_topk": _ev.EVENT_TYPE_HOURLY_TOPK_ORACLE,
    "events_props_stats": _ev.EVENTS_PROPS_STATS_ORACLE,
    "events_above_type_avg": _ev.EVENTS_ABOVE_TYPE_AVG_ORACLE,
    "purchase_click_attribution": _asof.PURCHASE_CLICK_ATTRIBUTION_ORACLE,
    "error_click_correlation": _asof.ERROR_CLICK_CORRELATION_ORACLE,
    "pricing_percentiles": _sk.PRICING_PERCENTILES_ORACLE,
    "cms_sketch": _sk.CMS_SKETCH_ORACLE,
    "cms_estimate": _sk.CMS_ESTIMATE_ORACLE,
    "hll_registers": _sk.HLL_REGISTERS_ORACLE,
    "hll_estimate": _sk.HLL_ESTIMATE_ORACLE,
    "bloom_membership": _sk.BLOOM_MEMBERSHIP_ORACLE,
    "doc_token_stats": _ta.DOC_TOKEN_STATS_ORACLE,
    "corpus_token_stats": _ta.CORPUS_TOKEN_STATS_ORACLE,
    "lang_id": _ta.LANG_ID_ORACLE,
    "quality_score": _ta.QUALITY_SCORE_ORACLE,
    "simhash_fingerprints": _ta.SIMHASH_ORACLE,
    "simhash_neardup": _ta.SIMHASH_NEARDUP_ORACLE,
    "winnow_fingerprints": _wn.WINNOW_FINGERPRINTS_ORACLE,
    "winnow_fingerprints_chunked": _wn.WINNOW_FINGERPRINTS_CHUNKED_ORACLE,
    "winnow_neardup": _wn.WINNOW_NEARDUP_ORACLE,
    "decontaminate_neardup": _wn.DECONTAMINATE_NEARDUP_ORACLE,
    "token_counts": _ta.TOKEN_COUNTS_ORACLE,
    "doc_chunks": _ta.DOC_CHUNKS_ORACLE,
    "pack_sequences": _ta.PACK_SEQUENCES_ORACLE,
    "corpus_clean_funnel": _pl.CORPUS_CLEAN_FUNNEL_ORACLE,
    "token_budget_select": _cx.TOKEN_BUDGET_SELECT_ORACLE,
    "bpe_encode_stats": _bpx.BPE_ENCODE_STATS_ORACLE,
    "bpe_encode_ids": _bpx.BPE_ENCODE_IDS_ORACLE,
    "pack_token_ids": _bpx.PACK_TOKEN_IDS_ORACLE,
    "bpe_encode_ids_stored": _bpx.BPE_ENCODE_IDS_STORED_ORACLE,
    "pq_search_stored": _pq.PQ_SEARCH_STORED_ORACLE,
    "decontaminate_stored": _wn.DECONTAMINATE_STORED_ORACLE,
    "media_avi_decode": _mm.MEDIA_AVI_DECODE_ORACLE,
    "dedup_incremental": _wn.DEDUP_INCREMENTAL_ORACLE,
    "hll_type_overlap": _sk.HLL_TYPE_OVERLAP_ORACLE,
    "cms_daily_merge": _sk.CMS_DAILY_MERGE_ORACLE,
    "events_drift_chisq": _ev.EVENTS_DRIFT_CHISQ_ORACLE,
    "dataset_publish_manifest": _cx.DATASET_PUBLISH_MANIFEST_ORACLE,
    "bloom_pruned_join": _sk.BLOOM_PRUNED_JOIN_ORACLE,
    "bucketed_join_revenue": _rel.BUCKETED_JOIN_REVENUE_ORACLE,
    "trade_triangles": _gph.TRADE_TRIANGLES_ORACLE,
    "media_image_neardup": _mm.MEDIA_IMAGE_NEARDUP_ORACLE,
    "media_image_dedup": _mm.MEDIA_IMAGE_DEDUP_ORACLE,
    "quantile_daily_merge": _sk.QUANTILE_DAILY_MERGE_ORACLE,
    "trade_kcore": _gph.TRADE_KCORE_ORACLE,
    "trade_pagerank": _gph.TRADE_PAGERANK_ORACLE,
    "lm_score_stored": _lm.LM_SCORE_STORED_ORACLE,
    "winnow_index_retract": _wn.WINNOW_INDEX_RETRACT_ORACLE,
    "lm_model_retract": _lm.LM_MODEL_RETRACT_ORACLE,
    "trade_labelprop": _gph.TRADE_LABELPROP_ORACLE,
    "media_audio_features": _mm.MEDIA_AUDIO_FEATURES_ORACLE,
    "media_audio_neardup": _mm.MEDIA_AUDIO_NEARDUP_ORACLE,
    "media_audio_dedup": _mm.MEDIA_AUDIO_DEDUP_ORACLE,
    "pq_search_appended": _pq.PQ_SEARCH_APPENDED_ORACLE,
    "events_moving_stats": _ev.EVENTS_MOVING_STATS_ORACLE,
    "events_daily_pivot": _ev.EVENTS_DAILY_PIVOT_ORACLE,
    "hll_daily_users": _sk.HLL_DAILY_USERS_ORACLE,
    "user_retention": _ev.USER_RETENTION_ORACLE,
    "events_value_deciles": _ev.EVENTS_VALUE_DECILES_ORACLE,
    "word_typo_pairs": _cx.WORD_TYPO_PAIRS_ORACLE,
    "events_winsorized_stats": _ev.EVENTS_WINSORIZED_STATS_ORACLE,
    "events_burst_runs": _ev.EVENTS_BURST_RUNS_ORACLE,
    "dataset_build_audit": _cx.DATASET_BUILD_AUDIT_ORACLE,
    "similarity_pq_rerank_topk": _pq.SIMILARITY_PQ_RERANK_TOPK_ORACLE,
    "chunk_boilerplate": _ta.CHUNK_BOILERPLATE_ORACLE,
    "lm_interp_score": _lm.LM_INTERP_SCORE_ORACLE,
    "events_value_outliers": _cx.EVENTS_VALUE_OUTLIERS_ORACLE,
    "events_value_mad_outliers": _cx.EVENTS_VALUE_MAD_OUTLIERS_ORACLE,
    "dataset_split": _cx.DATASET_SPLIT_ORACLE,
    "source_profile": _cx.SOURCE_PROFILE_ORACLE,
    "revenue_cube": _rx.REVENUE_CUBE_ORACLE,
    "stratified_sample": _pl.STRATIFIED_SAMPLE_ORACLE,
    "mixture_weights": _pl.MIXTURE_WEIGHTS_ORACLE,
    "tfidf_topk": _ta.TFIDF_TOPK_ORACLE,
    "contamination_check": _cu.CONTAMINATION_ORACLE,
    # r18 registrations — the curation trio (bloom
    # prefilter + stored cycle share the exact tier's
    # oracle; containment has its own):
    "decontaminate_bloom_prefilter": _cu.DECONTAMINATE_BLOOM_PREFILTER_ORACLE,
    "dedup_containment": _dd.CONTAINMENT_ORACLE,
    "contamination_stored": _cu.CONTAMINATION_STORED_ORACLE,
    "repetition_signals": _cu.REPETITION_SIGNALS_ORACLE,
    "pii_scrub": _cu.PII_SCRUB_ORACLE,
    "media_stats": _mm.MEDIA_STATS_ORACLE,
    "media_decode_features": _mm.MEDIA_DECODE_FEATURES_ORACLE,
    "media_frame_sample": _mm.MEDIA_FRAME_SAMPLE_ORACLE,
    "media_real_decode": _mm.MEDIA_REAL_DECODE_ORACLE,
    "media_png_decode": _mm.MEDIA_PNG_DECODE_ORACLE,
    "media_clean_funnel": _pl.MEDIA_CLEAN_FUNNEL_ORACLE,
    "decontaminate_audit": _pl.DECONTAMINATE_AUDIT_ORACLE,
    "media_decontaminate": _mm.MEDIA_DECONTAMINATE_ORACLE,
    "media_decontaminate_stored": _mm.MEDIA_DECONTAMINATE_ORACLE,
    "embedding_decontaminate": _sim.EMBEDDING_DECONTAMINATE_ORACLE,
    "media_audio_decontaminate": _mm.MEDIA_AUDIO_DECONTAMINATE_ORACLE,
    "media_audio_decontaminate_stored": _mm.MEDIA_AUDIO_DECONTAMINATE_ORACLE,
    "media_video_neardup": _mm.MEDIA_VIDEO_NEARDUP_ORACLE,
    "media_video_dedup": _mm.MEDIA_VIDEO_DEDUP_ORACLE,
    "media_video_decontaminate": _mm.MEDIA_VIDEO_DECONTAMINATE_ORACLE,
    "media_video_decontaminate_stored": _mm.MEDIA_VIDEO_DECONTAMINATE_ORACLE,
    "media_video_frame_overlap": _mm.MEDIA_VIDEO_FRAME_OVERLAP_ORACLE,
    "media_video_frame_decontaminate": (
        _mm.MEDIA_VIDEO_FRAME_DECONTAMINATE_ORACLE
    ),
    "media_video_frame_decontaminate_stored": (
        _mm.MEDIA_VIDEO_FRAME_DECONTAMINATE_ORACLE
    ),
    "media_video_clean_funnel": _pl.MEDIA_VIDEO_CLEAN_FUNNEL_ORACLE,
    "media_audio_snippet_overlap": _mm.MEDIA_AUDIO_SNIPPET_OVERLAP_ORACLE,
    "media_audio_snippet_decontaminate": (
        _mm.MEDIA_AUDIO_SNIPPET_DECONTAMINATE_ORACLE
    ),
    "media_audio_snippet_decontaminate_stored": (
        _mm.MEDIA_AUDIO_SNIPPET_DECONTAMINATE_ORACLE
    ),
    "media_image_tile_overlap": _mm.MEDIA_IMAGE_TILE_OVERLAP_ORACLE,
    "media_image_tile_decontaminate": (
        _mm.MEDIA_IMAGE_TILE_DECONTAMINATE_ORACLE
    ),
    "media_image_tile_decontaminate_stored": (
        _mm.MEDIA_IMAGE_TILE_DECONTAMINATE_ORACLE
    ),
}
