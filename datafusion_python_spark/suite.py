"""Unified query registry: name → (spark_fn, oracle_sql | None).

``spark_fn(spark, sf_dir) -> DataFrame``; ``oracle_sql`` is ANSI SQL that
DuckDB evaluates over the same parquet tables for the driver's
correctness gate. Entries with ``None`` oracle are non-SQL-expressible
(approx sketches, hash-function-specific ops) and get rows-only checks.

Ordering matters: the driver records correctness rows for (at most) the
first 50 entries, so the registry is ordered to put the queries that
most need an on-record gate first — the pipeline (dedup / similarity /
text) operators, gates added this round, and previously-unwindowed fn_*
/ setop_* queries — then the TPC-H suite, then queries that already have
a recorded driver pass from round 1. Every query not in the window is
still verified by ``tools/selfcheck.py`` (same DuckDB comparison).
"""

from __future__ import annotations

from .suite_analytics import ANALYTICS_QUERIES
from .suite_pipeline import PIPELINE_QUERIES
from .suite_streaming import STREAMING_QUERIES
from .suite_tpch import TPCH_QUERIES
from .suite_udf import UDF_QUERIES

_MERGED: dict[str, tuple] = {}
_MERGED.update(TPCH_QUERIES)
_MERGED.update(ANALYTICS_QUERIES)
_MERGED.update(PIPELINE_QUERIES)  # beyond-parity pipeline ops
_MERGED.update(UDF_QUERIES)  # UDF/UDAF gate queries
_MERGED.update(STREAMING_QUERIES)  # Structured Streaming (memory-sink replay)

# Names to place at the front of the registry (driver windows the
# first 50). Unlisted names follow in their module order;
# `tools/staleness.py` recomputes this ordering from the
# CORRECTNESS_r*.json history.
_PRIORITY = [
    # Round-12 rotation (tools/staleness.py ordering): the 23 queries
    # whose newest driver row is r9 first (VERDICT r11 ask #6: after
    # this window nothing anywhere is older than r10), then the oldest
    # r10 rows to fill the 50-row window. Everything after the window
    # holds a green r10/r11 row and stays covered by tools/selfcheck.py.
    # newest driver row: r09
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "evt_salted_agg",
    "evt_salted_join",
    "sql_unparse_roundtrip",
    "substrait_consume",
    "evt_gapfill",
    "evt_pagerank",
    # newest driver row: r10
    "evt_session_window",
    "evt_date_bin",
    "fn_bits_epoch",
    "pipe_neardup_lsh_verify",
    "pipe_simhash",
    "pipe_cosine_topk",
    "pipe_ann_lsh",
    "pipe_ann_ivf",
    "pipe_cosine_neardup",
    "pipe_emb_centroid",
    "pipe_text_tokens",
    "pipe_text_quality",
    "pipe_langid",
    "pipe_fingerprint",
    "pipe_dedup_cluster",
    "pipe_sample_hash",
    "pipe_domain_cap",
    "pipe_token_pack",
    "pipe_repetition",
    "pipe_minhash_cluster",
    "udaf_geomean",
    "stream_restart_resume",
    "stream_static_enrich",
    "tpch_q2",
    "evt_funnel",
    "evt_retention",
    "evt_asof_attribution",
    "evt_range_join",
    "agg_approx",
    "win_frames",
    "win_groups_frame",
    "win_rank_value",
    "agg_regr",
    "join_outer_cross",
    "fn_conditional",
    "fn_array_ops",
    "evt_topk_per_user",
    "evt_running_gaps",
    "evt_sessionize",
    "evt_distinct_on",
    "evt_pivot",
    "evt_hourly",
    "evt_json",
    "agg_grouping_multi",
    "agg_stats",
    "agg_distinct_filter",
    "agg_percentiles",
    "agg_string_agg",
    "agg_string_agg_desc",
    "fn_like_escape",
    # newest driver row: r11
    "sql_recursive_cte",
    "agg_weighted_pct",
    "fn_time",
    "setop_union_multi",
    "setop_intersect",
    "setop_except",
    "fn_strings",
    "fn_datetime",
    "fn_math_case",
    "pipe_image_roundtrip",
    "pipe_pii_redact",
    "pipe_substring_dup",
    "pipe_hll_rollup",
    "pipe_zorder_layout",
    "pipe_dedup_incremental",
    "pipe_perplexity",
    "stream_hourly_counts",
    "stream_dedup_distinct",
    "stream_session_stats",
    "stream_stateful_totals",
    "stream_interval_join",
    "stream_outer_join",
    "stream_full_outer_join",
    "pipe_curation_e2e",
    "pipe_fuzzy_match",
    "pipe_tfidf",
    "pipe_bm25",
    "pipe_chunk",
    "pipe_shuffle_order",
    "pipe_rand_proj",
    "pipe_quality_score",
    "pipe_emb_quant",
    "pipe_decontaminate",
    "pipe_sample_stratified",
    "pipe_mixture_sample",
    "pipe_dedup_exact",
    "pipe_jaccard_pairs",
    "pipe_minhash_lsh",
    "pipe_semantic_dedup",
    "pipe_simhash_arrow",
    "pipe_topk_arrow",
    "pipe_ann_ivf_arrow",
    "pipe_semdedup_arrow",
    "pipe_neardup_arrow",
    "stream_late_drop",
    "stream_windowed_hll",
    "tpch_q1",
    "tpch_q11",
    "tpch_q3",
    "tpch_q4",
]

ALL_QUERIES: dict[str, tuple] = {}
for _name in _PRIORITY:
    if _name in _MERGED:
        ALL_QUERIES[_name] = _MERGED[_name]
for _name, _entry in _MERGED.items():
    if _name not in ALL_QUERIES:
        ALL_QUERIES[_name] = _entry


def queries():
    return {name: fn for name, (fn, _sql) in ALL_QUERIES.items()}


def oracles():
    return {name: sql for name, (_fn, sql) in ALL_QUERIES.items() if sql is not None}
