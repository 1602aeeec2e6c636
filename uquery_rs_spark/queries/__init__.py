"""Oracle-checked query corpus.

Each module registers queries into :mod:`registry`. Importing this package
loads them all; ``__spark_entry__`` then exports the registry to the driver.
"""

from __future__ import annotations

from .registry import REGISTRY, Query, gateway_sql, load_tables, register, register_sql  # noqa: F401


# Round-13 verification window (harnesses sample REGISTRY[:50]).
# Rotation rule (standing since r7): the b40 family singles + the
# rebuilt b40_liststats key LEAD (r12 verdict #1 — the only red driver
# row; the splits isolate which statistics family a residual failure
# belongs to), then every battery whose oracle was converted in the
# r13 version-skew sweep (NOTES 38 — the driver's newer binary must
# re-confirm each converted oracle), the re-planned q21, the two
# wave-14 batteries, then the OLDEST-signal entries (last driver check
# r8, alphabetical) to keep the every-entry-windowed invariant.
_ROUND13_NEW: tuple[str, ...] = (
    "dialect_gap_b40s_moments",
    "dialect_gap_b40s_shape",
    "dialect_gap_b40s_mad",
    "dialect_gap_b40s_misc",
    "dialect_gap_b40_liststats",  # the r12 red key, oracle rebuilt portable
    "dialect_gap_battery7",       # sweep: skew/kurt -> explicit moments
    "dialect_gap_battery11",      # sweep: gamma/lgamma -> closed forms
    "dialect_gap_battery12",      # sweep: mad/entropy -> order stats
    "dialect_gap_battery32",      # sweep: FILTER/DISTINCT mad + entropy
    "dialect_gap_battery34",      # sweep: windowed DISTINCT mad
    "dialect_gap_b38_winpct",     # sweep: self-join window percentiles
    "dialect_gap_battery2",       # sweep: decimal quantile_cont/disc
    "stats_aggregates_prices",    # sweep: decimal median
    "percentile_battery",         # sweep: WITHIN GROUP percentiles
    "approx_percentile_prices",   # sweep: global quantile_cont
    "q21_suppliers_kept_waiting", # plan rewrite: minmax agg vs EXISTS pair
    "dialect_gap_b46_strftime_dash",   # wave-14: %- codes, 1900 default
    "dialect_gap_b47_list_composites", # wave-14: grade_up NULLS LAST etc.
    "events_qsummary_sliding_quantiles",  # r13 operator: mergeable quantile summaries
    "dialect_gap_b48_slice_vector",  # wave-15: stepped slice, histogram, >=1.1 vector metrics
    "dialect_gap_b49_interval_escape",  # wave-16: mixed intervals, LIKE escapes, regexp_split_to_table
    "recursive_cte_union_reachability",  # wave-17: semi-naive UNION-distinct recursion
)

_ROUND13_R8 = (
    "ann_ivf_persistent",
    "cohort_retention_daily",
    "columns_regex_battery",
    "corpus_leakage_safe_split",
    "corpus_quality_sample",
    "corpus_shuffle_order",
    "corpus_stratified_mix",
    "daily_user_activity",
    "datetime_edge_battery",
    "dedup_semantic",
    "dedup_simhash",
    "dialect_gap_battery29",
    "dialect_gap_battery30",
    "dialect_gap_battery31",
    "dialect_gap_battery33",
    "distinct_on_latest_order",
    "escape_literal_battery",
    "events_anomaly_zscore",
    "except_all_priorities",
    "from_first_syntax",
    "funnel_view_click_purchase",
    "ignore_nulls_window_battery",
    "int_div_price_buckets",
    "intersect_all_priorities",
    "json_extract_props",
    "len_slice_map_edge_battery",
    "macros_battery",
    "map_literal_ordered_agg",
    "multimodal_audio_stats",
    "multimodal_decode_stats",
    "multimodal_features",
    "multimodal_frame_sample",
)


def _round13_window() -> list[str]:
    return (list(_ROUND13_NEW) + list(_ROUND13_R8))[:50]


def load_all() -> None:
    """Import every query module so its ``@register`` calls run.

    Import order controls registry order, which external harnesses may use
    to window their correctness sampling.  After importing, the registry is
    reordered so the round-13 window occupies the front — see
    :data:`_ROUND13_NEW` for the rationale.  Rotate the window each round so
    every entry eventually gets hard-signal verification.
    """
    from . import llm_q  # noqa: F401
    from . import events_q  # noqa: F401
    from . import streaming_q  # noqa: F401
    from . import functions_q  # noqa: F401
    from . import dialect_q  # noqa: F401
    from . import relational  # noqa: F401
    from . import tpch_q  # noqa: F401

    window = _round13_window()
    ordered = [n for n in window if n in REGISTRY]
    ordered += [n for n in REGISTRY if n not in window]
    snapshot = dict(REGISTRY)
    REGISTRY.clear()
    for _name in ordered:
        REGISTRY[_name] = snapshot[_name]
