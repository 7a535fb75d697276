"""PySpark-native sports-odds analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of ``davislaroque/Sports-Data-Integration-and-Forecasting-Pipeline``
(reference surveyed in ``SURVEY.md``): nested odds-JSON ingestion, tidy
flattening, odds normalization + de-vigging, best-price / arbitrage scans,
EV / Kelly enrichment, rolling player features, ML forecasting, and
backtesting — all as lazy DataFrame programs optimized by Catalyst,
plus large-scale data-pipeline extras (dedup, similarity search, text
analysis) the reference does not have.

Public API mirrors the reference's exported surface
(reference ``src/__init__.py:1-27``) with Spark signatures: operators are
pure ``DataFrame -> DataFrame`` functions; scalar math is exposed as
``Column -> Column`` expressions under :mod:`.functions`.
"""

from .operators.flatten import (
    flatten_odds_to_df,
    props_to_dataframe,
)
from .operators.odds import (
    odds_to_probs,
    clean_odds,
    standardize_odds,
    add_true_probabilities,
)
from .operators.markets import (
    find_best_odds,
    detect_arbitrage,
    detect_discrepancies,
    build_summary,
    best_odds_report,
)
from .operators.ev import enrich_dataframe
from .operators.features import build_features
from .operators.evaluation import backtest, evaluate_accuracy
from .operators.dedup import (
    connected_components,
    exact_dup_groups,
    shingle_jaccard_pairs,
    minhash_signatures,
    minhash_lsh_pairs,
    simhash16,
    simhash60,
    simhash_pairs,
)
from .operators.similarity import (
    cosine_topk,
    ann_lsh_topk,
    ivf_ann_topk,
    cosine_dup_pairs,
    semantic_dedup_pairs,
    semantic_dedup_keep,
)
from .operators.textstats import (
    token_stats,
    text_quality,
    language_id,
    doc_fingerprint,
)
from .operators.multimodal import (
    payload_stats,
    decode_image_features,
    resize_images,
    sample_frames,
    audio_duration,
    cdc_chunks,
    cdc_dedup_stats,
)
from .operators.skew import (
    salted_sum_count,
    salted_join,
    write_bucketed,
)
from .operators.asof import asof_join
from .operators.sampling import (
    hash_sample,
    stratified_hash_sample,
    train_holdout_split,
)
from .operators.frequency import (
    countmin_estimate,
    countmin_sketch,
    heavy_hitters,
    misra_gries,
)
from .operators.rangejoin import interval_overlap_join
from .operators.textstats import (
    bpe_apply_ranks,
    bpe_encode_stats,
    bpe_fertility_stats,
    bpe_merge_rounds,
    distinct_ngram_stats,
    inverted_index,
    quality_linear_filter,
    repetition_stats,
    unigram_perplexity,
)
from .operators.bloom import bloom_build, bloom_might_contain, bloom_prune
from .operators.chunking import chunk_documents, pack_counted_spans
from .operators.decontam import benchmark_contamination
from .operators.contamination import (
    kmv_merge,
    kmv_pairwise_overlap,
    kmv_registers,
)
from .operators.dedup import (
    clip_substring_spans,
    duplicate_substring_spans,
    incremental_duplicate_spans,
    shingle_rows,
    sorted_neighborhood_candidates,
    substring_gram_counts,
    soft_dedup_weights,
    incremental_winnow_matches,
    lsh_recall_audit,
    winnow_fingerprints,
    winnow_match_pairs,
    winnow_state,
)
from .operators.merge import merge_into
from .operators.parallelism import (
    global_ntile,
    global_row_number,
    global_running_sum,
    pareto_frontier_2d,
    pareto_frontier_kd,
)
from .operators.similarity import ivf_centroid_refresh
from .operators.incremental import merge_rollups, rollup_partial
from .operators.layout import layout_scan_stats, zorder_key_expr
from .operators.paths import path_funnel, user_event_paths
from .operators.quantize import (
    ivfpq_index_codes,
    ivfpq_topk,
    ivfpq_topk_precoded,
    pq_adc_topk,
    pq_encode,
    quantization_report,
    quantize_embeddings,
    quantized_cosine_topk,
)
from .operators.retrieval import (
    bm25_by_example,
    hybrid_rrf_topk,
    mmr_rerank_topk,
    rrf_fuse,
)
from .operators.profile import profile_table
from .operators.redact import redact_pii
from .operators.scd import scd2_intervals
from .operators.sampling import (
    kfold_assign,
    mixture_sample,
    temperature_mixture_weights,
)
from .sources.odds_api import fetch_player_props, fetch_odds
from .app import (
    load_data,
    app_summary,
    arbitrage_view,
    run_app_pipeline,
    load_sample_games,
    observed_pipeline,
    render_dashboard_text,
    streamlit_app,
    ipywidgets_dashboard,
    render_prediction_explorer_text,
    streamlit_prediction_explorer,
)
from .sinks import (
    save_snapshot,
    update_canonical_table,
    compact_canonical,
    read_canonical,
    merge_canonical,
    current_version,
)

__all__ = [
    # analysis
    "detect_arbitrage",
    "detect_discrepancies",
    "find_best_odds",
    "build_summary",
    "best_odds_report",
    # app one-call pipelines
    "load_data",
    "app_summary",
    "arbitrage_view",
    "run_app_pipeline",
    "load_sample_games",
    "observed_pipeline",
    "render_dashboard_text",
    "streamlit_app",
    "ipywidgets_dashboard",
    "render_prediction_explorer_text",
    "streamlit_prediction_explorer",
    # ingestion
    "fetch_odds",
    "fetch_player_props",
    "props_to_dataframe",
    "save_snapshot",
    "update_canonical_table",
    "compact_canonical",
    "read_canonical",
    "merge_canonical",
    "current_version",
    # processing
    "clean_odds",
    "flatten_odds_to_df",
    "odds_to_probs",
    "standardize_odds",
    "add_true_probabilities",
    # enrichment / forecast / evaluation
    "enrich_dataframe",
    "build_features",
    "backtest",
    "evaluate_accuracy",
    # corpus dedup
    "connected_components",
    "exact_dup_groups",
    "shingle_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash16",
    "simhash60",
    "simhash_pairs",
    "sorted_neighborhood_candidates",
    "duplicate_substring_spans",
    "clip_substring_spans",
    "substring_gram_counts",
    "incremental_duplicate_spans",
    "winnow_fingerprints",
    "winnow_state",
    "incremental_winnow_matches",
    "lsh_recall_audit",
    "winnow_match_pairs",
    "shingle_rows",
    # contamination audit (KMV/theta sketches)
    "kmv_registers",
    "kmv_pairwise_overlap",
    "kmv_merge",
    # similarity search
    "cosine_topk",
    "ann_lsh_topk",
    "ivf_ann_topk",
    "cosine_dup_pairs",
    "semantic_dedup_pairs",
    "semantic_dedup_keep",
    # text analysis
    "token_stats",
    "text_quality",
    "language_id",
    "doc_fingerprint",
    # time-series / sampling / frequency
    "asof_join",
    "hash_sample",
    "stratified_hash_sample",
    "train_holdout_split",
    "heavy_hitters",
    "interval_overlap_join",
    "unigram_perplexity",
    "bpe_merge_rounds",
    "bpe_encode_stats",
    "bpe_apply_ranks",
    "bpe_fertility_stats",
    "distinct_ngram_stats",
    "quality_linear_filter",
    "soft_dedup_weights",
    # corpus curation
    "benchmark_contamination",
    "redact_pii",
    "chunk_documents",
    "pack_counted_spans",
    "mixture_sample",
    "temperature_mixture_weights",
    "kfold_assign",
    "repetition_stats",
    "inverted_index",
    # sketches / frequency
    "countmin_sketch",
    "countmin_estimate",
    "misra_gries",
    # quantization / ANN
    "quantize_embeddings",
    "quantization_report",
    "quantized_cosine_topk",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_topk",
    "ivfpq_index_codes",
    "ivfpq_topk_precoded",
    # hybrid retrieval
    "rrf_fuse",
    "bm25_by_example",
    "hybrid_rrf_topk",
    "mmr_rerank_topk",
    # event paths
    "user_event_paths",
    "path_funnel",
    # incremental / layout / join infra
    "rollup_partial",
    "merge_rollups",
    "zorder_key_expr",
    "layout_scan_stats",
    "bloom_build",
    "bloom_might_contain",
    "bloom_prune",
    "cdc_chunks",
    "cdc_dedup_stats",
    "profile_table",
    "scd2_intervals",
    "merge_into",
    "ivf_centroid_refresh",
    "pareto_frontier_2d",
    "pareto_frontier_kd",
    "global_row_number",
    "global_ntile",
    "global_running_sum",
    # scale hygiene
    "salted_sum_count",
    "salted_join",
    "write_bucketed",
    # multimodal
    "payload_stats",
    "decode_image_features",
    "resize_images",
    "sample_frames",
    "audio_duration",
]
