"""Incremental rollup sink — SummingMergeTree semantics (SURVEY §2.8).

ClickHouse users put a SummingMergeTree materialized view behind the
trace table so per-bucket aggregates stay cheap (the reference's
README promises exactly this rollup-style consumption of the ingested
events — reference README.md:139-141). Spark-native equivalent: a
parquet rollup table maintained per micro-batch by MERGING the new
batch's partial aggregate with the stored aggregate and replacing
the (groups-sized) state table.

Scale shape: each batch aggregates map-side to one row per touched
group before anything is read or shuffled; the stored rollup is
O(groups), not O(events), so the merge join is a groups-sized
aggregate regardless of stream volume. All measures are exact BIGINT
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
_MEASURES = {"n_events": "long", "value_c": "long"}


def batch_rollup(df: DataFrame) -> DataFrame:
    """Partial aggregate of one micro-batch at the rollup grain.
    Input: normalized trace rows (time, severity, type, value_c)."""
    return (
        df.withColumn(
            "yyyymm", (F.year("time") * 100 + F.month("time")).cast("int")
        )
        .groupBy(*_KEYS)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_c").alias("value_c"),
        )
    )


def _sum_measures(df: DataFrame) -> DataFrame:
    """Sum-of-sums — the SummingMergeTree background merge, done
    eagerly. Exact integer measures make it associative: state never
    depends on batch boundaries."""
    return df.groupBy(*_KEYS).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("value_c").alias("value_c"),
    )


def merge_rollup(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Merge one batch's partial aggregate into the stored rollup."""
    merge_state(spark, path, batch_rollup(batch), _sum_measures)


def foreach_batch_rollup(path: str):
    """foreachBatch hook: attach the rollup maintenance to any
    streaming ingest (`.writeStream.foreachBatch(...)`), exactly once
    per batch id."""
    return foreach_batch(path, batch_rollup, _sum_measures)


read_rollup = read_state
