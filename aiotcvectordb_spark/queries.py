"""Driver-facing query registry: Spark implementation + DuckDB oracle SQL.

Every entry corresponds to an operator from SURVEY.md §2 (or a
north-star LLM-pipeline extension). Each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame whose columns/aliases match
the oracle SQL exactly; the driver hash-compares them at sf0.01.

The query implementations live in the ``qfam/`` family modules (core /
vector / textdedup / relational / extracts / tpch / curation /
analytics_media). This module is the one registry façade: it
star-imports their public names, every ``q_*`` callable and ``ORACLE_*``
SQL string among them, so ``queries.<name>`` resolves for each registry
entry, and builds the QUERIES/ORACLES dicts (``tools/rotate_registry.py``
rewrites the QUERIES block). Private helpers are not re-exported: import
them from the module that defines them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from aiotcvectordb_spark.qfam.core import *  # noqa: F401,F403
from aiotcvectordb_spark.qfam.vector import *  # noqa: F401,F403
from aiotcvectordb_spark.qfam.textdedup import *  # noqa: F401,F403
from aiotcvectordb_spark.qfam.relational import *  # noqa: F401,F403
from aiotcvectordb_spark.qfam.extracts import *  # noqa: F401,F403
from aiotcvectordb_spark.qfam.tpch import *  # noqa: F401,F403
from aiotcvectordb_spark.qfam.curation import *  # noqa: F401,F403
from aiotcvectordb_spark.qfam.analytics_media import *  # noqa: F401,F403
from aiotcvectordb_spark.qfam.core import _INCR_SPLIT
from aiotcvectordb_spark.qfam.curation import _CURATE_CLEAN_SQL, _CURATE_H60, _V2_GATE_FLAGS
from aiotcvectordb_spark.qfam.textdedup import (
    _SEMDEDUP_PAIR_COS,
    _SEMDEDUP_TAU,
    _semdedup_cents_sql,
)

# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

# Ordering contract: the driver walks this dict in insertion order and
# has a finite per-round budget (round 1 checked exactly the first 50
# entries). Oracled queries WITHOUT a round-1 CORRECTNESS row come
# first, then the round-1-verified ones (fastest first so the most
# entries fit any time budget), then the rows-only approximate ops.
# registered in ORACLES as of r9 (deferred from r8 for rotation slack)
ORACLE_INCREMENTAL_SEMANTIC_DEDUP = f"""
WITH {_semdedup_cents_sql()},
scored AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, c.cell,
         round(COALESCE(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
           / NULLIF(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(c.cvec, c.cvec)), 0), 0.0),
           {ROUND_DIGITS}) AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, emb, cell, ccos FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) = 1
),
batch AS (SELECT * FROM assigned WHERE vec_id >= {_INCR_SPLIT}),
standing AS (SELECT * FROM assigned WHERE vec_id < {_INCR_SPLIT}),
dominated AS (
  SELECT DISTINCT b.vec_id
  FROM standing a JOIN batch b ON a.cell = b.cell
  WHERE {_SEMDEDUP_PAIR_COS} >= {_SEMDEDUP_TAU}
  UNION
  SELECT DISTINCT b.vec_id
  FROM batch a JOIN batch b ON a.cell = b.cell
   AND (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
  WHERE {_SEMDEDUP_PAIR_COS} >= {_SEMDEDUP_TAU}
)
SELECT s.vec_id, s.cell, s.ccos,
       (d.vec_id IS NOT NULL) AS semantic_dup
FROM batch s LEFT JOIN dominated d USING (vec_id)
"""

# assembled here (module bottom): it nests ORACLE_GOPHER_QUALITY_FILTER /
# ORACLE_C4_QUALITY_FILTER / ORACLE_SEMANTIC_DEDUP, which are defined after
# the curation section the query itself lives in
ORACLE_CURATE_CORPUS_V2 = f"""
WITH gop AS (SELECT * FROM ({ORACLE_GOPHER_QUALITY_FILTER})),
c4 AS (SELECT doc_id, ok_no_lorem, ok_no_brace FROM ({ORACLE_C4_QUALITY_FILTER})),
gate AS (
  SELECT g.doc_id FROM gop g JOIN c4 USING (doc_id)
  WHERE {" AND ".join(_V2_GATE_FLAGS)}
),
clean AS (
  SELECT doc_id, {_CURATE_CLEAN_SQL} AS clean_text FROM documents
),
cg AS (SELECT c.doc_id, c.clean_text FROM clean c JOIN gate USING (doc_id)),
exact AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           doc_id = min(doc_id) OVER (
             PARTITION BY {_CURATE_H60.format(s="clean_text")}) AS k
    FROM cg
  ) WHERE k
),
sem AS (
  SELECT vec_id AS doc_id FROM ({ORACLE_SEMANTIC_DEDUP})
  WHERE NOT semantic_dup
),
final AS (SELECT e.doc_id FROM exact e JOIN sem USING (doc_id)),
sp AS (
  SELECT doc_id,
         CASE WHEN {_CURATE_H60.format(s="CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
              WHEN {_CURATE_H60.format(s="CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM final
)
SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs FROM documents
UNION ALL
SELECT 1, 'rule_gate', count(*) FROM gate
UNION ALL
SELECT 2, 'exact_keeper', count(*) FROM exact
UNION ALL
SELECT 3, 'semantic_keeper', count(*) FROM final
UNION ALL
SELECT 4, 'final_' || split, count(*) FROM sp GROUP BY split
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # Ordering policy (the driver checks the first ~50 oracled entries
    # per round, in order): (1) queries rewritten since their last
    # driver row OR with no row yet come FIRST; (2) then ascending
    # latest-green-row round (stalest first). tools/check_driver_rows.py
    # enforces this ordering plus the post-driver age cap by simulating
    # the driver consuming the front batch; tools/rotate_registry.py
    # regenerates this block. Re-rotation is the round's CLOSING commit.
    # --- forced for r13: rewritten since last row / no row yet ---
    "audio_mp3_meta": q_audio_mp3_meta,  # rewritten r13
    "jpeg_progressive_probe": q_jpeg_progressive_probe,  # rewritten r13
    "curate_corpus_v2": q_curate_corpus_v2,  # rewritten r13
    "incremental_semantic_dedup": q_incremental_semantic_dedup,  # rewritten r13
    "semantic_dedup": q_semantic_dedup,  # rewritten r13
    # --- r9 rows (age 4) (must be in the next batch) ---
    "search_by_text": q_search_by_text,
    "gopher_quality_filter": q_gopher_quality_filter,
    "incremental_line_dedup": q_incremental_line_dedup,
    "decontaminate_fraction": q_decontaminate_fraction,
    "ann_bq_cosine": q_ann_bq_cosine,
    "mmr_rerank": q_mmr_rerank,
    "line_dedup": q_line_dedup,
    "semi_anti_join": q_semi_anti_join,
    "rollup_agg": q_rollup_agg,
    "lang_id": q_lang_id,
    "interval_join": q_interval_join,
    "join_pruned_dims": q_join_pruned_dims,
    "event_window_agg": q_event_window_agg,
    "sliding_window_agg": q_sliding_window_agg,
    "dedup_exact": q_dedup_exact,
    "upsert_merge": q_upsert_merge,
    "search_flat_ip": q_search_flat_ip,
    "asof_join": q_asof_join,
    "fulltext_bm25_cjk": q_fulltext_bm25_cjk,
    "fulltext_bm25": q_fulltext_bm25,
    "sparse_encode": q_sparse_encode,
    "lang_id_cjk": q_lang_id_cjk,
    "doc_repetition": q_doc_repetition,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_candidates": q_minhash_lsh_candidates,
    "dedup_components": q_dedup_components,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "simhash_fingerprint": q_simhash_fingerprint,
    "simhash_near_dup": q_simhash_near_dup,
    "chunk_expand": q_chunk_expand,
    "benchmark_decontaminate": q_benchmark_decontaminate,
    "pack_sequences": q_pack_sequences,
    "curate_corpus": q_curate_corpus,
    "incremental_dedup": q_incremental_dedup,
    # --- r10 rows (age 3) (must be in the next batch) ---
    "incremental_decontaminate_fraction": q_incremental_decontaminate_fraction,
    "dataset_mix_temp": q_dataset_mix_temp,
    "dataset_mix": q_dataset_mix,
    "doc_fingerprint": q_doc_fingerprint,
    "text_quality": q_text_quality,
    "perplexity_filter": q_perplexity_filter,
    "dsir_weights": q_dsir_weights,
    "zscore_outliers": q_zscore_outliers,
    "search_radius": q_search_radius,
    "search_flat_cosine": q_search_flat_cosine,
    "search_udtf_topk": q_search_udtf_topk,
    "search_flat_cosine_local_topk": q_search_flat_cosine_local_topk,
    "ann_ivf_fullprobe": q_ann_ivf_fullprobe,
    "knn_join": q_knn_join,
    "search_by_id": q_search_by_id,
    "hybrid_weighted": q_hybrid_weighted,
    "hybrid_rrf": q_hybrid_rrf,
    "embedding_near_dup": q_embedding_near_dup,
    "corr_stats": q_corr_stats,
    "search_flat_l2": q_search_flat_l2,
    "sessionize": q_sessionize,
    "multimodal_meta": q_multimodal_meta,
    "grouping_sets_agg": q_grouping_sets_agg,
    "pivot_wide": q_pivot_wide,
    "unpivot_long": q_unpivot_long,
    "pricing_summary": q_pricing_summary,
    "top_revenue_orders": q_top_revenue_orders,
    "correlated_subquery": q_correlated_subquery,
    "clean_text": q_clean_text,
    "dataset_split": q_dataset_split,
    "nation_volume_shipping": q_nation_volume_shipping,
    "national_market_share": q_national_market_share,
    "order_priority_check": q_order_priority_check,
    "customer_distribution": q_customer_distribution,
    "promo_revenue": q_promo_revenue,
    "returned_item_revenue": q_returned_item_revenue,
    "local_supplier_volume": q_local_supplier_volume,
    "forecast_revenue_change": q_forecast_revenue_change,
    "small_quantity_revenue": q_small_quantity_revenue,
    # --- r11 rows (age 2) ---
    "bpe_token_count_frozen": q_bpe_token_count_frozen,
    "weighted_sample_hash": q_weighted_sample_hash,
    "winnow_fingerprint": q_winnow_fingerprint,
    "token_entropy": q_token_entropy,
    "quality_classifier_frozen": q_quality_classifier_frozen,
    "embedding_pca_fixed": q_embedding_pca_fixed,
    "ann_pq_cosine_fixed": q_ann_pq_cosine_fixed,
    "ann_lsh_l2_fixed": q_ann_lsh_l2_fixed,
    "pack_sequences_nosplit": q_pack_sequences_nosplit,
    "c4_quality_filter": q_c4_quality_filter,
    "ann_pq_fullrescore": q_ann_pq_fullrescore,
    "unigram_logprob": q_unigram_logprob,
    "lang_top_terms": q_lang_top_terms,
    "bigram_logprob": q_bigram_logprob,
    "large_volume_customers": q_large_volume_customers,
    "time_gap_fill": q_time_gap_fill,
    "window_range_frame": q_window_range_frame,
    "percentile_disc": q_percentile_disc,
    "funnel_steps": q_funnel_steps,
    "retention_cohorts": q_retention_cohorts,
    "sessionize_udtf": q_sessionize_udtf,
    "search_binary_hamming": q_search_binary_hamming,
    "pii_scrub": q_pii_scrub,
    "training_shards": q_training_shards,
    "ewma_smooth": q_ewma_smooth,
    "source_quota": q_source_quota,
    "profile_table": q_profile_table,
    "group_topk_salted": q_group_topk_salted,
    "label_centroids": q_label_centroids,
    "attribution_last_touch": q_attribution_last_touch,
    "embedding_outliers": q_embedding_outliers,
    "rolling_active_users": q_rolling_active_users,
    "equidepth_histogram": q_equidepth_histogram,
    "update_conditional": q_update_conditional,
    "query_projection": q_query_projection,
    "token_count": q_token_count,
    "cube_agg": q_cube_agg,
    "price_histogram": q_price_histogram,
    "query_by_ids": q_query_by_ids,
    # --- r12 rows (age 1) ---
    "jpeg_meta": q_jpeg_meta,
    "audio_adpcm_meta": q_audio_adpcm_meta,
    "video_mjpeg_meta": q_video_mjpeg_meta,
    "video_mjpeg_frames": q_video_mjpeg_frames,
    "gif_frames": q_gif_frames,
    "jpeg_probe": q_jpeg_probe,
    "docx_extract": q_docx_extract,
    "rtf_extract": q_rtf_extract,
    "xlsx_extract": q_xlsx_extract,
    "xls_extract": q_xls_extract,
    "pptx_extract": q_pptx_extract,
    "pdf_extract": q_pdf_extract,
    "doc_extract": q_doc_extract,
    "ppt_extract": q_ppt_extract,
    "epub_extract": q_epub_extract,
    "multimodal_features": q_multimodal_features,
    "image_probe": q_image_probe,
    "audio_probe": q_audio_probe,
    "video_frames": q_video_frames,
    "substring_dedup": q_substring_dedup,
    "incremental_substring_dedup": q_incremental_substring_dedup,
    "ann_ivf_cosine_fixed": q_ann_ivf_cosine_fixed,
    "substring_dedup_cjk": q_substring_dedup_cjk,
    "substring_dedup_cjk_hashed": q_substring_dedup_cjk_hashed,
    "incremental_substring_dedup_cjk": q_incremental_substring_dedup_cjk,
    "substring_dedup_hashed_portable": q_substring_dedup_hashed_portable,
    "ann_sq8_cosine": q_ann_sq8_cosine,
    "ttl_filter": q_ttl_filter,
    "json_extract": q_json_extract,
    "group_topk": q_group_topk,
    "agg_groupby_stats": q_agg_groupby_stats,
    "window_running": q_window_running,
    "window_funcs": q_window_funcs,
    "scalar_funcs": q_scalar_funcs,
    "set_ops": q_set_ops,
    "count_filter": q_count_filter,
    "delete_filter_limit": q_delete_filter_limit,
    "percentiles": q_percentiles,
    "query_filter_sort_paginate": q_query_filter_sort_paginate,
    "gram_novelty": q_gram_novelty,
    "incremental_gram_novelty": q_incremental_gram_novelty,
    "stratified_sample_hash": q_stratified_sample_hash,
    "search_grouped": q_search_grouped,
    "fulltext_phrase": q_fulltext_phrase,
    "fulltext_phrase_cjk": q_fulltext_phrase_cjk,
    # --- non-oracled entries (rows-only driver check; order free) ---
    "curate_corpus_v2_auto": q_curate_corpus_v2_auto,
    "semantic_dedup_auto": q_semantic_dedup_auto,
    "quality_classifier": q_quality_classifier,
    "stratified_sample": q_stratified_sample,
    "heavy_hitters": q_heavy_hitters,
    "ann_lsh_l2": q_ann_lsh_l2,
    "audio_adpcm_probe": q_audio_adpcm_probe,
    "audio_mp3_probe": q_audio_mp3_probe,
    "approx_sketches": q_approx_sketches,
    "ann_ivf_cosine": q_ann_ivf_cosine,
    "ann_pq_cosine": q_ann_pq_cosine,
    "embedding_near_dup_ivf": q_embedding_near_dup_ivf,
    "embedding_near_dup_auto": q_embedding_near_dup_auto,
    "embedding_pca": q_embedding_pca,
    "bpe_token_count": q_bpe_token_count,
    "substring_dedup_hashed": q_substring_dedup_hashed,
}

ORACLES: dict[str, str] = {
    "search_flat_cosine": ORACLE_SEARCH_FLAT_COSINE,
    # the bounded-shuffle scale path must be hash-identical to the
    # declarative path, so it shares the oracle verbatim
    "search_flat_cosine_local_topk": ORACLE_SEARCH_FLAT_COSINE,
    # exact-limit proofs of the approximate-index machinery: IVF at
    # nprobe=nlist and PQ at rescore_k=|corpus| must equal flat exact
    # kNN bit-for-bit, so they share the oracle verbatim too
    "ann_ivf_fullprobe": ORACLE_SEARCH_FLAT_COSINE,
    "ann_pq_fullrescore": ORACLE_SEARCH_FLAT_COSINE,
    "jpeg_probe": ORACLE_JPEG_PROBE,
    # progressive encode is coefficient-exact vs baseline, so the
    # progressive decoder shares the oracle verbatim (an exact-limit
    # proof in the jpeg_probe style)
    "jpeg_progressive_probe": ORACLE_JPEG_PROBE,
    # r11 metadata routes: header-parse-only twins of the codec
    # heavies — encode->header-walk witnesses under the driver hash
    "audio_mp3_meta": ORACLE_AUDIO_MP3_META,
    "jpeg_meta": ORACLE_JPEG_META,
    "audio_adpcm_meta": ORACLE_AUDIO_ADPCM_META,
    "video_mjpeg_meta": ORACLE_VIDEO_MJPEG_META,
    "video_mjpeg_frames": ORACLE_VIDEO_MJPEG_FRAMES,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "pack_sequences_nosplit": ORACLE_PACK_SEQUENCES_NOSPLIT,
    "image_probe": ORACLE_IMAGE_PROBE,
    "sessionize_udtf": ORACLE_SESSIONIZE,
    "search_binary_hamming": ORACLE_SEARCH_BINARY_HAMMING,
    # r9: BQ promoted — the one quantized index whose every stage is
    # closed-form (sign bits, integral Hamming, exact rescore), so the
    # full oversample-and-rescore plan is DuckDB-expressible
    "ann_bq_cosine": ORACLE_ANN_BQ_COSINE,
    # r9: SQ8 promoted next to BQ — min/max grid, quantize/dequantize,
    # rounded approximate rank, 5x oversample, exact rescore are all
    # closed-form, so the int8 quantizer joins the sign-bit one under
    # the driver hash (PQ/IVF stay recall-tested: iteratively trained)
    "ann_sq8_cosine": ORACLE_ANN_SQ8_COSINE,
    "ann_ivf_cosine_fixed": ORACLE_ANN_IVF_COSINE_FIXED,  # new r10
    "substring_dedup_hashed_portable": ORACLE_SUBSTRING_DEDUP_HASHED_PORTABLE,  # new r10
    # r9: MMR promoted — the greedy diversified rerank replayed as a
    # DuckDB recursive CTE over explicit (selected-set, running
    # max-sim) state; all ten greedy steps per query under the hash
    "mmr_rerank": ORACLE_MMR_RERANK,
    # r9: per-doc first-seen gram fraction — the corpus-order novelty
    # profile next to the dedup family (same gram kernel)
    "gram_novelty": ORACLE_GRAM_NOVELTY,
    "incremental_gram_novelty": ORACLE_INCREMENTAL_GRAM_NOVELTY,
    # r9: the deterministic (portable-hash) stratified sampler — full
    # membership under the hash, next to the seeded rows-only one
    "stratified_sample_hash": ORACLE_STRATIFIED_SAMPLE_HASH,
    # r9: grouped (diversify-by-label) search — struct-min per group
    "search_grouped": ORACLE_SEARCH_GROUPED,
    # r9: exact-phrase adjacency search, map-only token-window fold
    "fulltext_phrase": ORACLE_FULLTEXT_PHRASE,
    "fulltext_phrase_cjk": ORACLE_FULLTEXT_PHRASE_CJK,
    "pii_scrub": ORACLE_PII_SCRUB,
    "benchmark_decontaminate": ORACLE_BENCHMARK_DECONTAMINATE,
    "decontaminate_fraction": ORACLE_DECONTAMINATE_FRACTION,  # new r9
    "incremental_decontaminate_fraction": ORACLE_INCREMENTAL_DECONTAMINATE_FRACTION,  # new r10
    "unigram_logprob": ORACLE_UNIGRAM_LOGPROB,
    "perplexity_filter": ORACLE_PERPLEXITY_FILTER,
    "dsir_weights": ORACLE_DSIR_WEIGHTS,
    "gopher_quality_filter": ORACLE_GOPHER_QUALITY_FILTER,
    "c4_quality_filter": ORACLE_C4_QUALITY_FILTER,
    "bigram_logprob": ORACLE_BIGRAM_LOGPROB,
    "training_shards": ORACLE_TRAINING_SHARDS,
    "ewma_smooth": ORACLE_EWMA_SMOOTH,
    "source_quota": ORACLE_SOURCE_QUOTA,
    "incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
    "profile_table": ORACLE_PROFILE_TABLE,
    "equidepth_histogram": ORACLE_EQUIDEPTH_HISTOGRAM,
    "lang_top_terms": ORACLE_LANG_TOP_TERMS,
    # the skew-safe two-phase top-k must be hash-identical to the plain
    # window, so it shares the oracle verbatim
    "group_topk_salted": ORACLE_GROUP_TOPK,
    "label_centroids": ORACLE_LABEL_CENTROIDS,
    "attribution_last_touch": ORACLE_ATTRIBUTION_LAST_TOUCH,
    "audio_probe": ORACLE_AUDIO_PROBE,
    "video_frames": ORACLE_VIDEO_FRAMES,
    "embedding_outliers": ORACLE_EMBEDDING_OUTLIERS,
    "rolling_active_users": ORACLE_ROLLING_ACTIVE_USERS,
    "search_flat_l2": ORACLE_SEARCH_FLAT_L2,
    "search_flat_ip": ORACLE_SEARCH_FLAT_IP,
    "search_radius": ORACLE_SEARCH_RADIUS,
    "search_by_id": ORACLE_SEARCH_BY_ID,
    "search_udtf_topk": ORACLE_SEARCH_UDTF_TOPK,
    "knn_join": ORACLE_KNN_JOIN,
    "query_filter_sort_paginate": ORACLE_QUERY_FILTER_SORT_PAGINATE,
    "query_by_ids": ORACLE_QUERY_BY_IDS,
    "count_filter": ORACLE_COUNT_FILTER,
    "query_projection": ORACLE_QUERY_PROJECTION,
    "ttl_filter": ORACLE_TTL_FILTER,
    "json_extract": ORACLE_JSON_EXTRACT,
    "upsert_merge": ORACLE_UPSERT_MERGE,
    "update_conditional": ORACLE_UPDATE_CONDITIONAL,
    "delete_filter_limit": ORACLE_DELETE_FILTER_LIMIT,
    "fulltext_bm25": ORACLE_FULLTEXT_BM25,
    "fulltext_bm25_cjk": ORACLE_FULLTEXT_BM25_CJK,
    "multimodal_features": ORACLE_MULTIMODAL_FEATURES,
    "pdf_extract": ORACLE_PDF_EXTRACT,
    "doc_extract": ORACLE_DOC_EXTRACT,
    "ppt_extract": ORACLE_PPT_EXTRACT,
    "xls_extract": ORACLE_XLS_EXTRACT,
    "docx_extract": ORACLE_DOCX_EXTRACT,
    "pptx_extract": ORACLE_PPTX_EXTRACT,
    "xlsx_extract": ORACLE_XLSX_EXTRACT,
    "rtf_extract": ORACLE_RTF_EXTRACT,
    "epub_extract": ORACLE_EPUB_EXTRACT,
    "gif_frames": ORACLE_GIF_FRAMES,
    "lang_id_cjk": ORACLE_LANG_ID_CJK,
    "hybrid_rrf": ORACLE_HYBRID_RRF,
    "sparse_encode": ORACLE_SPARSE_ENCODE,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "text_quality": ORACLE_TEXT_QUALITY,
    "doc_repetition": ORACLE_DOC_REPETITION,
    "lang_id": ORACLE_LANG_ID,
    "minhash_signatures": ORACLE_MINHASH_SIGNATURES,
    "minhash_lsh_candidates": ORACLE_MINHASH_LSH_CANDIDATES,
    "dedup_components": ORACLE_DEDUP_COMPONENTS,
    "ngram_jaccard_pairs": ORACLE_NGRAM_JACCARD_PAIRS,
    "embedding_near_dup": ORACLE_EMBEDDING_NEAR_DUP,
    "semantic_dedup": ORACLE_SEMANTIC_DEDUP,
    "group_topk": ORACLE_GROUP_TOPK,
    "agg_groupby_stats": ORACLE_AGG_GROUPBY_STATS,
    "simhash_fingerprint": ORACLE_SIMHASH_FINGERPRINT,
    "simhash_near_dup": ORACLE_SIMHASH_NEAR_DUP,
    "token_count": ORACLE_TOKEN_COUNT,
    "hybrid_weighted": ORACLE_HYBRID_WEIGHTED,
    "chunk_expand": ORACLE_CHUNK_EXPAND,
    "join_pruned_dims": ORACLE_JOIN_PRUNED_DIMS,
    "window_running": ORACLE_WINDOW_RUNNING,
    "rollup_agg": ORACLE_ROLLUP_AGG,
    "window_funcs": ORACLE_WINDOW_FUNCS,
    "scalar_funcs": ORACLE_SCALAR_FUNCS,
    "cube_agg": ORACLE_CUBE_AGG,
    "percentiles": ORACLE_PERCENTILES,
    "semi_anti_join": ORACLE_SEMI_ANTI_JOIN,
    "set_ops": ORACLE_SET_OPS,
    "event_window_agg": ORACLE_EVENT_WINDOW_AGG,
    "sliding_window_agg": ORACLE_SLIDING_WINDOW_AGG,
    "price_histogram": ORACLE_PRICE_HISTOGRAM,
    "asof_join": ORACLE_ASOF_JOIN,
    "interval_join": ORACLE_INTERVAL_JOIN,
    "sessionize": ORACLE_SESSIONIZE,
    "multimodal_meta": ORACLE_MULTIMODAL_META,
    "grouping_sets_agg": ORACLE_GROUPING_SETS_AGG,
    "pivot_wide": ORACLE_PIVOT_WIDE,
    "unpivot_long": ORACLE_UNPIVOT_LONG,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "top_revenue_orders": ORACLE_TOP_REVENUE_ORDERS,
    "correlated_subquery": ORACLE_CORRELATED_SUBQUERY,
    "clean_text": ORACLE_CLEAN_TEXT,
    "line_dedup": ORACLE_LINE_DEDUP,
    "incremental_line_dedup": ORACLE_INCREMENTAL_LINE_DEDUP,  # new r9
    "substring_dedup_cjk": ORACLE_SUBSTRING_DEDUP_CJK,
    # r11: the hashed CJK lane's portable-keyed witness — DuckDB runs
    # the reduced-key dataflow end-to-end (hash-pair dup aggregate,
    # keyed coverage join) that the xxhash64 production lane ships
    "substring_dedup_cjk_hashed": ORACLE_SUBSTRING_DEDUP_CJK_HASHED,
    "substring_dedup": ORACLE_SUBSTRING_DEDUP,
    "incremental_substring_dedup": ORACLE_INCREMENTAL_SUBSTRING_DEDUP,
    "dataset_mix": ORACLE_DATASET_MIX,
    "dataset_mix_temp": ORACLE_DATASET_MIX_TEMP,
    "incremental_substring_dedup_cjk": ORACLE_INCREMENTAL_SUBSTRING_DEDUP_CJK,
    "dataset_split": ORACLE_DATASET_SPLIT,
    # stratified_sample: intentionally no oracle (engine RNG; property test)
    # embedding_near_dup_ivf: intentionally no oracle (iterative KMeans;
    # recall vs the exact operator asserted in pytest)
    "curate_corpus": ORACLE_CURATE_CORPUS,
    # r9: the two r8-deferred registrations land (the r8 batch had no
    # slot slack against the 45 age-capped rows; this round's front
    # batch carries them as forced entries)
    "curate_corpus_v2": ORACLE_CURATE_CORPUS_V2,
    "incremental_semantic_dedup": ORACLE_INCREMENTAL_SEMANTIC_DEDUP,
    "nation_volume_shipping": ORACLE_NATION_VOLUME_SHIPPING,
    "national_market_share": ORACLE_NATIONAL_MARKET_SHARE,
    "order_priority_check": ORACLE_ORDER_PRIORITY_CHECK,
    "customer_distribution": ORACLE_CUSTOMER_DISTRIBUTION,
    "promo_revenue": ORACLE_PROMO_REVENUE,
    "returned_item_revenue": ORACLE_RETURNED_ITEM_REVENUE,
    "local_supplier_volume": ORACLE_LOCAL_SUPPLIER_VOLUME,
    "forecast_revenue_change": ORACLE_FORECAST_REVENUE_CHANGE,
    "small_quantity_revenue": ORACLE_SMALL_QUANTITY_REVENUE,
    "large_volume_customers": ORACLE_LARGE_VOLUME_CUSTOMERS,
    "time_gap_fill": ORACLE_TIME_GAP_FILL,
    "window_range_frame": ORACLE_WINDOW_RANGE_FRAME,
    "zscore_outliers": ORACLE_ZSCORE_OUTLIERS,
    "corr_stats": ORACLE_CORR_STATS,
    # heavy_hitters: intentionally no oracle (sketch boundary ties are
    # engine-specific; exactness asserted in pytest)
    "percentile_disc": ORACLE_PERCENTILE_DISC,
    "funnel_steps": ORACLE_FUNNEL_STEPS,
    "retention_cohorts": ORACLE_RETENTION_COHORTS,
    "search_by_text": ORACLE_SEARCH_BY_TEXT,  # oracled r8 (was rows-only)
    # r11: frozen-weights classifier scoring — the last big rows-only
    # curation operator's dataflow gains a hash witness (the trained
    # lane stays rows-only: training has no SQL oracle)
    "quality_classifier_frozen": ORACLE_QUALITY_CLASSIFIER_FROZEN,
    # r11: frozen-basis PCA projection — the map-only matmul dataflow
    # under the driver hash (the trained-basis lane stays rows-only)
    "embedding_pca_fixed": ORACLE_EMBEDDING_PCA_FIXED,
    # r11: frozen-codebook PQ — the last quantized family's partial
    # path (encode -> ADC -> oversample -> rescore) under the hash
    "ann_pq_cosine_fixed": ORACLE_ANN_PQ_COSINE_FIXED,
    # r11: frozen-plane LSH — the bucket-prune OR-amplification under
    # the hash; completes the per-index-family witness set
    "ann_lsh_l2_fixed": ORACLE_ANN_LSH_L2_FIXED,
    # r11: the four r10-staged promotions land. Their oracles were
    # written in r10 and pytest-pinned bit-equal to the Spark side at
    # BOTH sf0.001 and sf0.01 (tests/test_staged_oracles.py,
    # tests/test_bpe.py), so registration is the planned zero-risk
    # one-liner; crossing 152 oracled lifts the rotation cap to
    # ceil(152/50) = 4.
    "bpe_token_count_frozen": ORACLE_BPE_TOKEN_COUNT_FROZEN,
    "weighted_sample_hash": ORACLE_WEIGHTED_SAMPLE_HASH,
    "winnow_fingerprint": ORACLE_WINNOW_FINGERPRINT,
    "token_entropy": ORACLE_TOKEN_ENTROPY,
    # multimodal_features / ann_ivf_cosine / ann_lsh_l2:
    # intentionally no oracle (rows-only checks)
}
