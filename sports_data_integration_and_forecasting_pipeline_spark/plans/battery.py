"""Facade for the correctness battery (SURVEY §5.2 tier-2).

The battery itself lives in per-family section modules (r14 split —
VERDICT r13 task 3); importing them here, in original registration
order, populates :data:`battery_core.QUERIES` exactly as the former
monolith did (same 253 names, same order, byte-identical oracle SQL —
proved by tools/check_battery_identity.py). This module keeps the
historical import surface: every top-level name of every section is
re-exported, so ``from ...plans.battery import _t, QUERIES, cube_pricing``
all keep working, and the window curation stays here, next to the
window it controls.
"""

from __future__ import annotations

from . import (
    battery_core,
    battery_markets,
    battery_text_dedup,
    battery_embeddings,
    battery_multimodal_streaming,
    battery_events_warehouse,
    battery_mixture_storage,
    battery_tpch_graph,
    battery_stats_audits,
    battery_trends_drift,
    battery_bpe_packing,
    battery_pointintime_skyline,
    battery_substring_winnow,
    battery_curation_recent,
)

_SECTION_MODULES = (
    battery_core,
    battery_markets,
    battery_text_dedup,
    battery_embeddings,
    battery_multimodal_streaming,
    battery_events_warehouse,
    battery_mixture_storage,
    battery_tpch_graph,
    battery_stats_audits,
    battery_trends_drift,
    battery_bpe_packing,
    battery_pointintime_skyline,
    battery_substring_winnow,
    battery_curation_recent,
)

# Re-export the full historical surface (tests and tools import
# private helpers and entry callables directly from this module).
for _m in _SECTION_MODULES:
    for _k, _v in vars(_m).items():
        if not _k.startswith("__"):
            globals().setdefault(_k, _v)
del _m, _k, _v

QUERIES = battery_core.QUERIES
query_map = battery_core.query_map
oracle_sql_map = battery_core.oracle_sql_map

# Window curation. An external correctness gate checks only the
# first 50 registered entries, so registry order decides which 50 get
# that extra signal. Every entry, windowed or not, is still checked
# against its DuckDB oracle by tests/test_battery_oracle.py. Entries named
# here move to the front in this order; the rest keep registration order.
_WINDOW_PRIORITY = [
    "flagship_market_report",
    "forecast_random_forest",
    "misra_gries_heavy_hitters",
    "tfidf_top_terms",
    "kmv_distinct_sketch",
    "curation_pipeline",
    "streaming_incremental_rollup",
    "streaming_session_windows",
    "streaming_line_moves",
    "text_fingerprint",
    "dedup_simhash",
    "embed_ann_lsh",
    "value_percentiles",
    "dedup_simhash_pairs",
    "q6_promo_revenue",
    "misra_gries_verified",
    "salted_agg_parity",
    "curation_pipeline_v2",
    "countmin_frequency",
    "repetition_quality",
    "chunk_documents_overlap",
    "path_funnel_regex",
    "embed_ivf_ann",
    "streaming_stream_join",
    "text_language_id",
    "dedup_exact",
    "embed_cosine_dup_pairs",
    "multimodal_payload_stats",
    "pagerank_customer_supplier",
    "dedup_incremental_minhash",
    "asof_join_marks",
    "decontaminate_benchmark",
    "pii_redaction",
    "bloom_join_prune",
    "embed_cosine_topk",
    "multimodal_image_features",
    "streaming_replay_rollup",
    "streaming_late_data_drop",
    "scd2_user_state_intervals",
    "pivot_event_cents",
    "range_join_concurrent_sessions",
    "zorder_layout_pruning",
    "q8_nation_market_share",
    "cusum_changepoint",
    "copurchase_lift_pairs",
    "kaplan_meier_conversion",
    "q5_local_supplier_revenue",
    "bucketed_join_colocated",
    "canonical_schema_evolution",
    "hll_group_registers",
]


def _curate_order() -> None:
    prio = [n for n in _WINDOW_PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(_WINDOW_PRIORITY)]
    ordered = {n: QUERIES[n] for n in [*prio, *rest]}
    QUERIES.clear()
    QUERIES.update(ordered)


_curate_order()
