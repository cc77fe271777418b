"""Operator registry.

Each submodule defines two module-level dicts:
  QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]
  ORACLE : dict[str, str]   # DuckDB-equivalent ANSI SQL (subset of QUERIES keys)

This package aggregates them for __spark_entry__.py. Keys are the
SURVEY.md §2 inventory names.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


# The external correctness gate over `__spark_entry__.queries()`
# oracle-checks only its FIRST 50 entries, so registration order is
# the verification window. Policy: the window is every op whose
# implementing code changed since that gate last checked it, changed
# code FIRST (`CHANGED_OPS`), then the stalest greens, exactly 50 in
# all. Every op stays registered; tools/driver_sim.py checks all of
# them against their oracles, the window included.
CHANGED_OPS = [
    # the rep-store family ops (dedup_store.py, streaming/rep_admission.py;
    # their table layer moved to operators/tables.py)
    "dedup_store_retraction", "embedding_store_retraction",
    "dedup_store_admission", "embedding_store_admission",
    "dedup_store_rep_admission", "embedding_store_rep_admission",
    "streaming_rep_admission", "streaming_embedding_rep_admission",
    # ann_store.py's IVF ops: the lists and codes are bucketed tables
    # (operators/tables.py), built, appended and read through it
    "ann_ivf_store_search", "ann_ivf_filtered_search",
    "ann_ivfpq_store_search", "streaming_ivf_insert",
    "ann_ivf_refresh_recall", "ann_ivfpq_refresh_recall",
    "ann_ivfpq_rerank_topk",
    # streaming/queries.py's foreachBatch drains and the oracle it
    # now shares with the batch trace source
    "streaming_store_admission", "streaming_rollup_ingest",
    "streaming_upsert_ingest", "streaming_hll_rollup",
    "streaming_trace_ingest",
    # sinkcheck.py's MergeTree roundtrip: its optimize compacts through
    # operators/tables.py's partition rewrite
    "mergetree_sink_roundtrip",
]

_FRONT_WINDOW = CHANGED_OPS + [
    # trace_ops.py
    "user_retention_cohorts", "events_range_join",
    "topk_events_by_value", "churned_users", "events_unpivot_measures",
    "error_run_lengths",
    # sketches.py
    "hll_distinct_users", "cms_heavy_hitters", "value_histogram",
    "minute_anomaly_zscore", "value_quantile_hist",
    # sequence.py
    "funnel_conversion", "user_path_transitions", "events_pivot_usertype",
    "events_sliding_windows",
    # tpch.py
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4",
    # multimodal.py
    "multimodal_metadata", "multimodal_chunk",
    "multimodal_feature_extract", "multimodal_frame_sample",
    "multimodal_gif_frames", "multimodal_decode",
    "multimodal_decode_jpeg", "multimodal_audio_decode",
    # training.py
    "sequence_packing", "embedding_int8_quantize",
]


def _collect() -> tuple[dict, dict]:
    from . import ann_store, bpe, curation, dedup, dedup_store, lm, multimodal, spans, sequence, similarity, sinkcheck, sketches, textops, tpch, trace_ops, training
    from ..sources import trace_json
    from ..streaming import queries as streaming_queries
    from ..streaming import rep_admission as streaming_rep

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracle: dict[str, str] = {}
    for mod in (
        trace_ops,
        tpch,
        dedup,
        dedup_store,
        spans,
        similarity,
        ann_store,
        textops,
        bpe,
        lm,
        multimodal,
        streaming_queries,
        streaming_rep,
        trace_json,
        sketches,
        sequence,
        curation,
        training,
        sinkcheck,
    ):
        for k, v in mod.QUERIES.items():
            if k in queries:
                raise ValueError(f"duplicate query key {k!r}")
            queries[k] = v
        oracle.update(mod.ORACLE)
    unknown = set(oracle) - set(queries)
    if unknown:
        raise ValueError(f"oracle keys without queries: {unknown}")
    ordered: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for k in _FRONT_WINDOW:
        ordered[k] = queries.pop(k)  # KeyError = window drifted from registry
    ordered.update(queries)
    return ordered, oracle


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect()[0]


def all_oracle_sql() -> dict[str, str]:
    return _collect()[1]
