"""Driver-window order of the query registry.

The driver's correctness harness checks only the first ``DRIVER_WINDOW``
entries of ``__spark_entry__.queries()``.  Rather than a fixed front/tail
split (whose tail would never regain a driver row), the entry module returns
the registry in the order :func:`driver_order` computes from the recorded
driver-check history: the flagship first, then queries whose implementation
or oracle changed after their last row, then queries that have never had a
driver row, then everything else stalest-first.  Stalest-first bounds every
query's driver-row age at the tightest achievable revisit cycle,
``ceil(len(REGISTRY) / DRIVER_WINDOW)`` rounds (pinned by
``tests/test_registry_order.py``, which derives the bound from the registry
size).

This is driver bookkeeping, not library code: ``fs2_data_spark.queries``
keeps ``REGISTRY`` in definition order and importing it does no I/O.
``__spark_entry__`` loads this file by path and applies the order once per
process.  Last steps of every round:

1. append the round's checked names (the first ``DRIVER_WINDOW`` of its
   ``queries()``, per its CORRECTNESS file) to ``DRIVER_HISTORY`` and bump
   ``CURRENT_ROUND``;
2. ``python3 tools/fingerprint_registry.py --write`` to snapshot the
   fingerprints the next round's drift is measured against.
"""

from __future__ import annotations

import importlib.util
import json
from collections.abc import Iterable
from pathlib import Path

TOOLS_DIR = Path(__file__).resolve().parent
SNAPSHOT = TOOLS_DIR / "registry_fingerprints.json"
FINGERPRINT_TOOL = TOOLS_DIR / "fingerprint_registry.py"

FLAGSHIP = "pit_fused_events"
DRIVER_WINDOW = 50

CURRENT_ROUND = 7

# Which registry entries each round's driver harness actually checked
# (the first 50 of that round's ordering; source: CORRECTNESS_r0N.json).
DRIVER_HISTORY: dict[int, list[str]] = {
    1: ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q4_order_priority", "top_customers_per_segment",
        "part_type_stats", "orders_by_status_priority", "w_lag_lead", "w_rolling",
        "w_rank", "locf_backfill", "sessionize_events", "session_stats",
        "asof_join_events", "asof_join_events_pandas", "asof_join_events_strict",
        "tokenize_docs", "tok_slice_docs", "tok_index_docs", "tok_stats_docs",
        "tok_fingerprint_docs", "tok_positions", "text_quality", "lang_guess",
        "doc_fingerprint", "dedup_exact", "minhash_signatures",
        "minhash_band_buckets", "simhash_docs", "jaccard_pairs", "ann_cosine_topk",
        "emb_label_stats", "pivot_status_by_priority", "rollup_order_totals",
        "cube_lineitem_counts", "intersect_repeat_customers",
        "anti_join_customers_no_orders", "semi_join_recent_suppliers",
        "distinct_stats_by_segment", "min_cost_supplier_per_part", "date_features",
        "string_features_parts", "math_features", "json_props_extract",
        "percentiles_by_type", "w_time_range_rolling", "session_window_native",
        "tok_bigram_shingles", "xml_roundtrip"],
    2: ["q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q4_order_priority", "top_customers_per_segment",
        "part_type_stats", "orders_by_status_priority", "w_lag_lead", "w_rolling",
        "w_rank", "locf_backfill", "sessionize_events", "session_stats",
        "asof_join_events", "asof_join_events_pandas", "asof_join_events_strict",
        "tokenize_docs", "tok_slice_docs", "tok_index_docs", "tok_stats_docs",
        "tok_fingerprint_docs", "tok_features_arrow_docs", "tok_positions",
        "text_quality", "lang_guess", "doc_fingerprint", "dedup_exact",
        "minhash_signatures", "minhash_band_buckets", "simhash_docs",
        "jaccard_pairs", "ann_cosine_topk", "ann_lsh_topk", "emb_near_dups",
        "multimodal_decode_smoke", "ann_ivf_topk", "emb_label_stats",
        "pivot_status_by_priority", "rollup_order_totals", "cube_lineitem_counts",
        "intersect_repeat_customers", "anti_join_customers_no_orders",
        "semi_join_recent_suppliers", "distinct_stats_by_segment",
        "min_cost_supplier_per_part", "date_features", "string_features_parts",
        "math_features", "json_props_extract"],
    3: ["pit_fused_events", "pit_fused_events_segmented",
        "salted_agg_supplier_volume", "jsonpath_descendant_docs",
        "jq_construct_docs", "xpath_attr_filter", "selector_mandatory_docs",
        "json_merge_patch_docs", "json_transform_docs", "xml_dom_docs",
        "xml_render_docs", "xml_roundtrip", "cbor_transcode_roundtrip",
        "percentiles_by_type", "w_time_range_rolling", "session_window_native",
        "tok_bigram_shingles", "streaming_session_smoke",
        "streaming_running_features_smoke", "wrap_object_docs",
        "msgpack_typed_decode", "json_tokenize_raw_docs", "xml_events_full_docs",
        "xml_raw_events_docs", "charset_roundtrip_docs", "tok_features_arrow_docs",
        "text_quality", "lang_guess", "doc_fingerprint", "dedup_exact",
        "minhash_signatures", "minhash_band_buckets", "simhash_docs",
        "jaccard_pairs", "ann_cosine_topk", "ann_lsh_topk", "emb_near_dups",
        "multimodal_decode_smoke", "ann_ivf_topk", "emb_label_stats",
        "pivot_status_by_priority", "rollup_order_totals", "cube_lineitem_counts",
        "intersect_repeat_customers", "anti_join_customers_no_orders",
        "semi_join_recent_suppliers", "distinct_stats_by_segment",
        "min_cost_supplier_per_part", "json_props_extract", "q1_pricing_summary"],
    4: ["pit_fused_events", "xpath_fast_texts",
        "csv_roundtrip_docs", "csv_decode_cells",
        "dup_token_spans", "tok_repetition_docs",
        "decontaminate_docs", "w_ewma_events",
        "json_pretty_docs", "xml_pretty_docs",
        "asof_join_events", "asof_join_events_pandas",
        "asof_join_events_strict", "streaming_session_smoke",
        "streaming_running_features_smoke", "cbor_transcode_roundtrip",
        "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q4_order_priority",
        "top_customers_per_segment", "part_type_stats",
        "orders_by_status_priority", "w_lag_lead",
        "w_rolling", "w_rank",
        "locf_backfill", "sessionize_events",
        "session_stats", "tokenize_docs",
        "tok_slice_docs", "tok_index_docs",
        "tok_stats_docs", "tok_fingerprint_docs",
        "tok_positions", "date_features",
        "string_features_parts", "math_features",
        "q1_pricing_summary", "tok_features_arrow_docs",
        "text_quality", "lang_guess",
        "doc_fingerprint", "dedup_exact",
        "minhash_signatures", "minhash_band_buckets",
        "simhash_docs", "jaccard_pairs",
        "ann_cosine_topk", "ann_lsh_topk"],
    5: ["pit_fused_events",
        "segment_dedup_docs",
        "emb_near_dups",
        "asof_join_events",
        "asof_join_events_pandas",
        "asof_join_events_strict",
        "ann_cosine_topk",
        "ann_lsh_topk",
        "streaming_running_features_smoke",
        "asof_join_events_forward",
        "asof_join_events_nearest",
        "asof_multi_events",
        "gapfill_locf_events",
        "gapfill_interp_events",
        "twa_events",
        "tok_entropy_docs",
        "bloom_prune_docs",
        "ohlc_events",
        "robust_scale_events",
        "equidepth_bins_events",
        "pit_robust_z_events",
        "seasonal_baseline_events",
        "interarrival_events",
        "psi_drift_events",
        "cusum_events",
        "kl_source_docs",
        "edit_pairs_docs",
        "skipgram_pairs_docs",
        "k_anonymity_events",
        "session_transitions_events",
        "trend_slope_events",
        "mi_features_events",
        "future_labels_events",
        "session_cooccurrence_events",
        "calibration_events",
        "ks_drift_events",
        "funnel_events",
        "cohort_retention_events",
        "kaplan_meier_events",
        "cramers_v_events",
        "conformal_events",
        "auc_events",
        "gini_sources_docs",
        "benford_docs",
        "pps_sample_docs",
        "qnorm_docs",
        "rrf_events",
        "posting_lists_docs",
        "grid_corr_events",
        "attribution_events"],
    6: ["pit_fused_events",
        "segment_dedup_docs",
        "emb_near_dups",
        "asof_join_events",
        "asof_join_events_pandas",
        "asof_join_events_strict",
        "ann_cosine_topk",
        "ann_lsh_topk",
        "streaming_running_features_smoke",
        "asof_join_events_forward",
        "asof_join_events_nearest",
        "asof_multi_events",
        "gapfill_locf_events",
        "gapfill_interp_events",
        "twa_events",
        "tok_entropy_docs",
        "bloom_prune_docs",
        "ohlc_events",
        "robust_scale_events",
        "equidepth_bins_events",
        "pit_robust_z_events",
        "seasonal_baseline_events",
        "interarrival_events",
        "psi_drift_events",
        "cusum_events",
        "kl_source_docs",
        "edit_pairs_docs",
        "skipgram_pairs_docs",
        "k_anonymity_events",
        "session_transitions_events",
        "trend_slope_events",
        "mi_features_events",
        "future_labels_events",
        "session_cooccurrence_events",
        "calibration_events",
        "ks_drift_events",
        "funnel_events",
        "cohort_retention_events",
        "kaplan_meier_events",
        "cramers_v_events",
        "conformal_events",
        "auc_events",
        "gini_sources_docs",
        "benford_docs",
        "pps_sample_docs",
        "qnorm_docs",
        "rrf_events",
        "posting_lists_docs",
        "grid_corr_events",
        "attribution_events"],
}


# Queries that need a fresh driver row this round although the fingerprint
# window cannot see their change: the snapshot only witnesses changes since
# the previous round's end.  ann_ivf_topk and multimodal_decode_smoke both
# have r3 ``no_oracle`` errs as their latest rows and were reworked in r5
# (canonical IVF build ffad90c; stdlib media tier ceab600) — the r5 rotation
# missed them (VERDICT r05 what's-missing #2).
MANUAL_FRONT = frozenset({
    "ann_ivf_topk", "multimodal_decode_smoke",
    # driver-red in r5 (hash): re-prove after this round's fixes even where
    # the fingerprint window cannot see the r5-era change
    "streaming_running_features_smoke", "interarrival_events",
    # r6: quantile_bucket_map was rewritten (global_cumsum) but is reached
    # via an intra-module call the function-level fingerprint cannot see
    # (quantile_buckets -> quantile_bucket_map)
    "curriculum_buckets_docs",
    # changed in r6 after its r4 driver row and not in the r6 window; the
    # snapshot of the r6 driver tree no longer sees that change
    "streaming_session_smoke",
})


def _computed_force_front() -> list[str]:
    """Queries whose oracle SQL, query function, or referenced operator
    functions changed since the last round's end — computed from
    fingerprint drift against ``SNAPSHOT`` (the snapshot of the driver's
    round-start tree), per VERDICT r05 #4: the hand-curated list missed
    oracle-changed rows two rounds running.

    A missing snapshot or fingerprint tool means no computed rows; any
    other failure propagates to the caller."""
    try:
        old = json.loads(SNAPSHOT.read_text())
        # path-based load: must work regardless of the caller's cwd /
        # sys.path (the driver imports __spark_entry__ from anywhere)
        spec = importlib.util.spec_from_file_location(
            "fs2ds_fingerprint_registry", FINGERPRINT_TOOL)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    except OSError:
        return []
    return [n for n, fp in mod.current_fingerprints().items()
            if old.get(n) != fp]


def force_front() -> list[str]:
    """Queries changed after their last driver row: they need a fresh row
    this round regardless of staleness."""
    return sorted(set(_computed_force_front()) | MANUAL_FRONT)


def driver_last_row(names: Iterable[str]) -> dict[str, int]:
    """Round of the most recent driver CORRECTNESS row per query
    (0 = never)."""
    last = dict.fromkeys(names, 0)
    for rnd, checked in DRIVER_HISTORY.items():
        for n in checked:
            if n in last:
                last[n] = max(last[n], rnd)
    return last


def driver_order(names: Iterable[str]) -> list[str]:
    """``names`` (in registry definition order) in driver-window order;
    ties keep definition order (``sorted`` is stable)."""
    names = list(names)
    last = driver_last_row(names)
    forced = set(force_front())

    def key(n: str):
        if n == FLAGSHIP:
            tier = 0
        elif n in forced:
            tier = 1          # changed after last row (incl. known-red rows:
            #                   re-validating a past driver failure outranks
            #                   first-validation of new, mirror-green queries)
        elif last[n] == 0:
            tier = 2          # never driver-checked
        else:
            tier = 3          # stalest-first
        return (tier, last[n])

    return sorted(names, key=key)
