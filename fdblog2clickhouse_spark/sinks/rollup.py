"""Incremental rollup sink — SummingMergeTree semantics (SURVEY §2.8).

ClickHouse users put a SummingMergeTree materialized view behind the
trace table so per-bucket aggregates stay cheap (the reference's
README promises exactly this rollup-style consumption of the ingested
events — reference README.md:139-141). Spark-native equivalent: a
parquet rollup table maintained per micro-batch by FOLDING the new
batch's events into the stored aggregate and replacing the
(groups-sized) state table.

Scale shape: the stored rollup is O(groups), not O(events). A merge
lifts each event to a one-event row of the rollup's shape and sums
those rows together with the stored ones in one aggregation
(sinks/state.py): one Spark job in one task for a micro-batch of one
or two scan partitions, and a parallel map-side pre-aggregation to
one row per touched group (one more job) for a larger one, so the
sink's cost stays the batch's rows plus the groups-sized state at
any stream volume. All measures are exact BIGINT
sums/counts (order- and batch-boundary-independent by commutativity),
so ANY batch slicing of the input yields the identical rollup — the
unit tests assert 1-batch ≡ 2-batch ≡ N-batch. SUM is not idempotent,
so a replayed batch would double-count; the merge and its batch-id
watermark live in sinks/state.py, which skips replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .state import foreach_batch, merge_state, read_state

# rollup grain: (yyyymm, severity, type) — the reference's partition
# law crossed with the severity/type analysis axes.
_KEYS = ["yyyymm", "severity", "type"]


def _lift(df: DataFrame) -> DataFrame:
    """One event as one rollup row (n_events 1). Input: normalized
    trace rows (time, severity, type, value_c)."""
    return df.select(
        (F.year("time") * 100 + F.month("time")).cast("int").alias("yyyymm"),
        "severity",
        "type",
        F.lit(1).cast("long").alias("n_events"),
        "value_c",
    )


def _sum_measures(df: DataFrame) -> DataFrame:
    """Sum-of-sums — the SummingMergeTree background merge, done
    eagerly. Exact integer measures make it associative: state never
    depends on batch boundaries."""
    return df.groupBy(*_KEYS).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("value_c").alias("value_c"),
    )


def batch_rollup(df: DataFrame) -> DataFrame:
    """One micro-batch's rollup at the rollup grain."""
    return _sum_measures(_lift(df))


def merge_rollup(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Fold one batch into the stored rollup."""
    merge_state(spark, path, batch, _sum_measures, lift=_lift)


def foreach_batch_rollup(path: str):
    """foreachBatch hook: attach the rollup maintenance to any
    streaming ingest (`.writeStream.foreachBatch(...)`), exactly once
    per batch id."""
    return foreach_batch(path, _sum_measures, lift=_lift)


read_rollup = read_state
