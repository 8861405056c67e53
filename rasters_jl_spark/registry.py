"""Query registry: name → (spark callable, DuckDB oracle SQL).

The single place the driver contract (`__spark_entry__.py`) pulls from.
Each entry maps one operator from SURVEY.md §2 (or a north-rule /
training-pipeline addition) to a Spark query and its oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from rasters_jl_spark import queries_core as C
from rasters_jl_spark import queries_extra as X
from rasters_jl_spark import queries_text as T

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (query_fn, oracle_sql or None)
#
# _DEFS holds every query; its order does not matter. The driver records
# correctness for exactly the FIRST 50 entries of REGISTRY each round, so
# REGISTRY is built below from _DRIVER_WINDOW, the one window list
# (changed-first, then new, then the stalest driver records), followed by
# everything else. tools/check_oracle.py (same compare) covers ALL entries
# each round regardless of position; the round's full local log is
# committed as tools/oracle_full_r{N}.txt.
_DEFS: dict[str, tuple[QueryFn, str | None]] = {
    # every query, in no particular order (the driver order is REGISTRY)
    "ann_ivfpq_topk": (T.q_ann_ivfpq_topk, T.SQL_ann_ivfpq_topk),
    "ann_ivfpq_rerank": (T.q_ann_ivfpq_rerank, T.SQL_ann_ivfpq_rerank),
    "decontaminate": (T.q_decontaminate, T.SQL_decontaminate),
    "multimodal_audio": (X.q_multimodal_audio, X.SQL_multimodal_audio),
    "multimodal_resize": (X.q_multimodal_resize, X.SQL_multimodal_resize),
    "dataset_split": (T.q_dataset_split, T.SQL_dataset_split),
    "warp_hook": (X.q_warp_hook, X.SQL_warp_hook),
    "stream_decontaminate": (X.q_stream_decontaminate, X.SQL_stream_decontaminate),
    "dedup_canonical": (T.q_dedup_canonical, T.SQL_dedup_canonical),
    "gopher_quality": (T.q_gopher_quality, T.SQL_gopher_quality),
    "pii_redact": (T.q_pii_redact, T.SQL_pii_redact),
    "url_dedup": (T.q_url_dedup, T.SQL_url_dedup),
    "tfidf_topk": (T.q_tfidf_topk, T.SQL_tfidf_topk),
    "domain_stats": (T.q_domain_stats, T.SQL_domain_stats),
    "dedup_paragraphs": (T.q_dedup_paragraphs, T.SQL_dedup_paragraphs),
    "dedup_spans": (T.q_dedup_spans, T.SQL_dedup_spans),
    "dedup_spans_strip": (T.q_dedup_spans_strip, T.SQL_dedup_spans_strip),
    "pack_sequences": (T.q_pack_sequences, T.SQL_pack_sequences),
    "mixture_sample": (T.q_mixture_sample, T.SQL_mixture_sample),
    "mixture_upsample": (T.q_mixture_upsample, T.SQL_mixture_upsample),
    "bpe_train": (T.q_bpe_train, T.SQL_bpe_train),
    "bpe_train_local": (T.q_bpe_train_local, T.SQL_bpe_train_local),
    "bpe_train_batched": (T.q_bpe_train_batched, T.SQL_bpe_train_batched),
    "bpe_tokenize": (T.q_bpe_tokenize, T.SQL_bpe_tokenize),
    "vocab_tokenize": (T.q_vocab_tokenize, T.SQL_vocab_tokenize),
    "stream_curate": (T.q_stream_curate, T.SQL_stream_curate),
    "session_stats": (T.q_session_stats, T.SQL_session_stats),
    "blocklist_word": (T.q_blocklist_word, T.SQL_blocklist_word),
    "blocklist_substring": (T.q_blocklist_substring, T.SQL_blocklist_substring),
    "unigram_logloss": (T.q_unigram_logloss, T.SQL_unigram_logloss),
    "sample_weighted": (T.q_sample_weighted, T.SQL_sample_weighted),
    "sample_replace": (X.q_sample_replace, X.SQL_sample_replace),
    "multimodal_frames": (X.q_multimodal_frames, X.SQL_multimodal_frames),
    "extract_many": (X.q_extract_many, X.SQL_extract_many),
    "zonal_northup": (X.q_zonal_northup, X.SQL_zonal_northup),
    "stream_zonal_stats": (X.q_stream_zonal_stats, X.SQL_stream_zonal_stats),
    "cellarea_planar": (C.q_cellarea_planar, C.SQL_cellarea_planar),
    "cellarea_quad": (C.q_cellarea_quad, C.SQL_cellarea_quad),
    "boilerplate_strip": (T.q_boilerplate_strip, T.SQL_boilerplate_strip),
    "warp_mercator": (X.q_warp_mercator, X.SQL_warp_mercator),
    "warp_sinusoidal": (X.q_warp_sinusoidal, X.SQL_warp_sinusoidal),
    "explicit_extract": (X.q_explicit_extract, X.SQL_explicit_extract),
    "explicit_cellarea": (X.q_explicit_cellarea, X.SQL_explicit_cellarea),
    "focal_median": (C.q_focal_median, C.SQL_focal_median),
    "focal_weighted": (C.q_focal_weighted, C.SQL_focal_weighted),
    "warp_agg": (X.q_warp_agg, X.SQL_warp_agg),
    "warp_utm": (X.q_warp_utm, X.SQL_warp_utm),
    "warp_utm_agg": (X.q_warp_utm_agg, X.SQL_warp_utm_agg),
    "series_rolling": (X.q_series_rolling, X.SQL_series_rolling),
    "series_anomaly": (X.q_series_anomaly, X.SQL_series_anomaly),
    "ann_pq_topk": (T.q_ann_pq_topk, T.SQL_ann_pq_topk),
    "aggregate_truncated": (C.q_aggregate_truncated, C.SQL_aggregate_truncated),
    "rasterize_lines": (X.q_rasterize_lines, X.SQL_rasterize_lines),
    "multimodal_features": (X.q_multimodal_features, X.SQL_multimodal_features),
    "extract_polygons": (C.q_extract_polygons, C.SQL_extract_polygons),
    "extract_nested": (X.q_extract_nested, X.SQL_extract_nested),
    "aggregate_locus": (X.q_aggregate_locus, X.SQL_aggregate_locus),
    "ann_lsh_topk": (T.q_ann_lsh_topk, T.SQL_ann_lsh_topk),
    "zonal_pages": (C.q_zonal_pages, C.SQL_zonal_pages),
    "zonal_pages_salted": (C.q_zonal_pages_salted, C.SQL_zonal_pages_salted),
    "spatial_join_pip": (C.q_spatial_join_pip, C.SQL_spatial_join_pip),
    "knn": (C.q_knn, C.SQL_knn),
    "zonal_many": (X.q_zonal_many, X.SQL_zonal_many),
    "rasterize_many": (X.q_rasterize_many, X.SQL_rasterize_many),
    "dedup_exact": (T.q_dedup_exact, T.SQL_dedup_exact),
    "asof_near": (T.q_asof_near, T.SQL_asof_near),
    "mask_raster_invert": (C.q_mask_raster_invert, C.SQL_mask_raster_invert),
    "mask_geom": (C.q_mask_geom, C.SQL_mask_geom),
    "boolmask": (C.q_boolmask, C.SQL_boolmask),
    "zonal_extent": (C.q_zonal_extent, C.SQL_zonal_extent),
    "dedup_simhash": (T.q_dedup_simhash, T.SQL_dedup_simhash),
    "rasterize_points": (C.q_rasterize_points, C.SQL_rasterize_points),
    "ngram_jaccard": (T.q_ngram_jaccard, T.SQL_ngram_jaccard),
    "aggregate_mean": (C.q_aggregate_mean, C.SQL_aggregate_mean),
    "classify": (C.q_classify, C.SQL_classify),
    "replace_missing": (C.q_replace_missing, C.SQL_replace_missing),
    "aggregate_sum_noskip": (C.q_aggregate_sum_noskip, C.SQL_aggregate_sum_noskip),
    "aggregate_med": (C.q_aggregate_med, C.SQL_aggregate_med),
    "aggregate_mode": (C.q_aggregate_mode, C.SQL_aggregate_mode),
    "disaggregate": (C.q_disaggregate, C.SQL_disaggregate),
    "mosaic_first": (C.q_mosaic_first, C.SQL_mosaic_first),
    "mosaic_mean": (C.q_mosaic_mean, C.SQL_mosaic_mean),
    "coverage": (C.q_coverage, C.SQL_coverage),
    "coverage_union": (C.q_coverage_union, C.SQL_coverage_union),
    "cellarea": (C.q_cellarea, C.SQL_cellarea),
    "extract": (C.q_extract, C.SQL_extract),
    "extract_name_atol": (C.q_extract_name_atol, C.SQL_extract_name_atol),
    "extract_id": (C.q_extract_id, C.SQL_extract_id),
    "resample_near": (C.q_resample_near, C.SQL_resample_near),
    "resample_bilinear": (C.q_resample_bilinear, C.SQL_resample_bilinear),
    "resample_agg": (C.q_resample_agg, C.SQL_resample_agg),
    "focal_mean": (C.q_focal_mean, C.SQL_focal_mean),
    "boolmask_touches": (X.q_boolmask_touches, X.SQL_boolmask_touches),
    "boolmask_inside": (X.q_boolmask_inside, X.SQL_boolmask_inside),
    "geotag": (C.q_geotag, C.SQL_geotag),
    "cell_count": (C.q_cell_count, C.SQL_cell_count),
    "tile_stats": (C.q_tile_stats, C.SQL_tile_stats),
    "text_identity": (T.q_text_identity, T.SQL_text_identity),
    "crop": (C.q_crop, C.SQL_crop),
    "extend": (C.q_extend, C.SQL_extend),
    "trim": (C.q_trim, C.SQL_trim),
    "token_count": (T.q_token_count, T.SQL_token_count),
    "quality": (T.q_quality, T.SQL_quality),
    "lang_id": (T.q_lang_id, T.SQL_lang_id),
    "langid_fasttext": (T.q_langid_fasttext, T.SQL_langid_fasttext),
    "fingerprint": (T.q_fingerprint, T.SQL_fingerprint),
    "ann_brute": (T.q_ann_brute, T.SQL_ann_brute),
    "ann_lsh_buckets": (T.q_ann_lsh_buckets, T.SQL_ann_lsh_buckets),
    "ann_ivf_topk": (T.q_ann_ivf_topk, T.SQL_ann_ivf_topk),
    "missingmask": (X.q_missingmask, X.SQL_missingmask),
    "points": (X.q_points, X.SQL_points),
    "mosaic_last": (X.q_mosaic_last, X.SQL_mosaic_last),
    "fractional_resample": (X.q_fractional_resample, X.SQL_fractional_resample),
    "create": (X.q_create, X.SQL_create),
    "extract_lines": (X.q_extract_lines, X.SQL_extract_lines),
    "dedup_embedding": (X.q_dedup_embedding, X.SQL_dedup_embedding),
    "series_daily": (X.q_series_daily, X.SQL_series_daily),
    "coverage_polygon": (X.q_coverage_polygon, X.SQL_coverage_polygon),
    "coverage_polygon_union": (X.q_coverage_polygon_union, X.SQL_coverage_polygon_union),
    "resample_cubic": (C.q_resample_cubic, C.SQL_resample_cubic),
    "resample_cubicspline": (C.q_resample_cubicspline, C.SQL_resample_cubicspline),
    "classify_bounds": (X.q_classify_bounds, X.SQL_classify_bounds),
    "resample_lanczos": (C.q_resample_lanczos, C.SQL_resample_lanczos),
    "resample_rms": (C.q_resample_rms, C.SQL_resample_rms),
    "rasterize_prod": (X.q_rasterize_prod, X.SQL_rasterize_prod),
    "rasterize_any": (X.q_rasterize_any, X.SQL_rasterize_any),
    "rasterize_all": (X.q_rasterize_all, X.SQL_rasterize_all),
    "rasterize_multilayer": (X.q_rasterize_multilayer, X.SQL_rasterize_multilayer),
    "mosaic_stack": (X.q_mosaic_stack, X.SQL_mosaic_stack),
    "replace_missing_stack": (X.q_replace_missing_stack, X.SQL_replace_missing_stack),
    "boolmask_holed": (X.q_boolmask_holed, X.SQL_boolmask_holed),
    "boolmask_multipoly": (X.q_boolmask_multipoly, X.SQL_boolmask_multipoly),
    "boilerplate_frac": (T.q_boilerplate_frac, T.SQL_boilerplate_frac),
    "stream_dedup_pairs": (X.q_stream_dedup_pairs, X.SQL_stream_dedup_pairs),
    "source_stats": (T.q_source_stats, T.SQL_source_stats),
    "boilerplate_ngrams": (T.q_boilerplate_ngrams, T.SQL_boilerplate_ngrams),
    "dedup_minhash": (T.q_dedup_minhash, T.SQL_dedup_minhash),
    "dedup_components": (T.q_dedup_components, T.SQL_dedup_components),
    "simhash_pairs": (T.q_simhash_pairs, T.SQL_simhash_pairs),
    "simhash_wide_pairs": (T.q_simhash_wide_pairs, T.SQL_simhash_wide_pairs),
    "mask_raster": (C.q_mask_raster, C.SQL_mask_raster),
    "rasterize_polygons": (C.q_rasterize_polygons, C.SQL_rasterize_polygons),
    "zonal_stack": (C.q_zonal_stack, C.SQL_zonal_stack),
    "dup_ngrams": (T.q_dup_ngrams, T.SQL_dup_ngrams),
    "bigram_logloss": (T.q_bigram_logloss, T.SQL_bigram_logloss),
    "multimodal_png": (X.q_multimodal_png, X.SQL_multimodal_png),
    "ann_opq_topk": (T.q_ann_opq_topk, T.SQL_ann_opq_topk),
    "trigram_logloss": (T.q_trigram_logloss, T.SQL_trigram_logloss),
    "multimodal_jpeg": (X.q_multimodal_jpeg, X.SQL_multimodal_jpeg),
    "multimodal_jpeg_color": (X.q_multimodal_jpeg_color, X.SQL_multimodal_jpeg_color),
    "multimodal_jpeg_420": (X.q_multimodal_jpeg_420, X.SQL_multimodal_jpeg_420),
    "multimodal_jpeg_prog": (X.q_multimodal_jpeg_prog, X.SQL_multimodal_jpeg_prog),
    "c4_clean": (T.q_c4_clean, T.SQL_c4_clean),
    "ppl_buckets": (T.q_ppl_buckets, T.SQL_ppl_buckets),
    "url_blocklist": (T.q_url_blocklist, T.SQL_url_blocklist),
    "unigram_lm_train": (T.q_unigram_lm_train, T.SQL_unigram_lm_train),
    "unigram_tokenize": (T.q_unigram_tokenize, T.SQL_unigram_tokenize),
    "warc_ingest": (X.q_warc_ingest, X.SQL_warc_ingest),
    "bloom_decon": (T.q_bloom_decon, T.SQL_bloom_decon),
    "scaled_read": (X.q_scaled_read, X.SQL_scaled_read),
    "warc_reshard": (X.q_warc_reshard, X.SQL_warc_reshard),
    "coverage_exact": (X.q_coverage_exact, X.SQL_coverage_exact),
    "series_files": (X.q_series_files, X.SQL_series_files),
    "stream_bloom": (T.q_stream_bloom, T.SQL_stream_bloom),
    "stream_ppl": (T.q_stream_ppl, T.SQL_stream_ppl),
    "html_extract": (T.q_html_extract, T.SQL_html_extract),
    "zonal_coverage": (X.q_zonal_coverage, X.SQL_zonal_coverage),
    "sessionize": (X.q_sessionize, X.SQL_sessionize),
    "stream_sessions": (X.q_stream_sessions, X.SQL_stream_sessions),
    "pagerank_hosts": (T.q_pagerank_hosts, T.SQL_pagerank_hosts),
    "pii_cards": (T.q_pii_cards, T.SQL_pii_cards),
    "robots_filter": (T.q_robots_filter, T.SQL_robots_filter),
    "multimodal_gif": (X.q_multimodal_gif, X.SQL_multimodal_gif),
    "zonal_median": (X.q_zonal_median, X.SQL_zonal_median),
    "crawl_revisits": (T.q_crawl_revisits, T.SQL_crawl_revisits),
    "multimodal_gif_frames": (X.q_multimodal_gif_frames, X.SQL_multimodal_gif_frames),
}


# The driver window: the first 50 REGISTRY entries, recorded each round.
# (a) the queries whose pins changed: every in-call pin is one
#     localCheckpoint() (extract_id's ordered_id, pack_sequences, the
#     bpe, ann and unigram trainers) and knn's query side is read once,
#     by its phase-1 pin; (b) the touches/inside readers of seg_rect_sql,
#     whose second-endpoint term is gone; (c) the readers of the geotag
#     and web-grid texts (pages_geo, PAGES_CTE, with_geotag;
#     stream_zonal_stats); (d) the other raster_cover_hit readers and (e)
#     the grid, kernel and clipped-area queries whose oracles' GridSpec
#     literals became exact DOUBLEs. Left out for room: warp_mercator,
#     warp_sinusoidal, warp_agg, warp_utm, warp_utm_agg, resample_near,
#     resample_bilinear, resample_agg, resample_rms, extract and
#     extract_name_atol (GridSpec literals), and what the rounds before
#     left out (zonal_extent, coverage, coverage_union, cellarea_quad,
#     cellarea, crop, points, the session.local_df readers, the
#     read_documents consumers, extract_lines, rasterize_lines,
#     explicit_cellarea, aggregate_*, mosaic_* and explicit_extract).
_DRIVER_WINDOW = [
    # (a)
    "knn", "extract_id", "pack_sequences", "bpe_train", "bpe_train_batched", "bpe_tokenize",
    "ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk", "ann_ivfpq_rerank", "ann_opq_topk",
    "unigram_lm_train", "unigram_tokenize",
    # (b)
    "boolmask_touches", "boolmask_inside", "zonal_coverage",
    # (c)
    "geotag", "cell_count", "tile_stats", "text_identity",
    "zonal_pages", "spatial_join_pip", "zonal_pages_salted",
    "rasterize_points", "rasterize_any", "rasterize_all", "stream_zonal_stats",
    # (d)
    "mask_geom", "boolmask", "boolmask_multipoly", "boolmask_holed", "missingmask",
    "extract_polygons", "extract_many", "extract_nested",
    "rasterize_polygons", "rasterize_many", "rasterize_multilayer", "rasterize_prod",
    "zonal_stack", "zonal_many", "zonal_northup", "zonal_median",
    "coverage_polygon", "coverage_polygon_union",
    # (e)
    "resample_cubic", "resample_cubicspline", "resample_lanczos", "coverage_exact", "warp_hook",
]

REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    k: _DEFS[k] for k in (*_DRIVER_WINDOW, *(k for k in _DEFS if k not in _DRIVER_WINDOW))
}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
