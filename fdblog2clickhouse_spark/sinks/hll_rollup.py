"""Mergeable-sketch rollup sink — AggregatingMergeTree semantics.

ClickHouse's AggregatingMergeTree stores partial aggregate STATES
(`uniqState(...)`) and merges them at read time (`uniqMerge`) — the
only way a materialized view can maintain a distinct count
incrementally, since raw counts don't add. This is the Spark-native
equivalent for the HLL distinct-user rollup over the trace stream
(reference README.md:139-141 promises rollup-style consumption;
uniq() is ClickHouse's stock distinct aggregate).

State = one row per (event_type, register): the max leading-zero
rank seen. The merge operator is per-register MAX — commutative,
associative, and IDEMPOTENT, so unlike the SummingMergeTree rollup
(sinks/rollup.py) the state survives at-least-once redelivery of a
whole batch unchanged: replays are absorbed, not double-counted.
Register math is shared with operators/sketches.py so the streamed
state's estimate is bit-identical to the batch HLL query (and to the
DuckDB oracle).

Scale shape: state is O(types × 64 registers) regardless of stream
volume. A micro-batch of one or two scan partitions folds its
per-event register rows with the stored registers in one task (one
Spark job, no exchange); a larger one reduces map-side, in parallel,
to ≤ that many rows before the merge (sinks/state.py), so a merge's
cost does not grow with stream volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h32
from ..operators.sketches import (
    _HLL_M,
    _HLL_NUM,
    _HLL_P,
    _HLL_RHO_MAX,
    _HLL_SCALE,
)
from .state import foreach_batch, merge_state, read_state

_KEYS = ["event_type", "bucket"]


def _lift(df: DataFrame) -> DataFrame:
    """One event as one register row: (event_type, bucket, rho of
    the user hash). Input needs (event_type, user_id)."""
    hashed = df.select(
        "event_type", h32(F.col("user_id").cast("string")).alias("h")
    )
    return (
        hashed.select(
            "event_type",
            (F.col("h") % _HLL_M).alias("bucket"),
            F.shiftright("h", _HLL_P).alias("rem"),
        )
        .select(
            "event_type",
            "bucket",
            F.when(F.col("rem") == 0, F.lit(_HLL_RHO_MAX))
            .otherwise(F.lit(_HLL_RHO_MAX) - F.length(F.bin("rem")))
            .alias("m"),
        )
    )


def _max_registers(df: DataFrame) -> DataFrame:
    """Per-register MAX — the uniqMerge step, done eagerly."""
    return df.groupBy(*_KEYS).agg(F.max("m").alias("m"))


def batch_registers(df: DataFrame) -> DataFrame:
    """One micro-batch's HLL register state: per (event_type,
    bucket) max rho over the batch's user hashes."""
    return _max_registers(_lift(df))


def merge_hll(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Fold a batch into the stored registers. Idempotent:
    re-merging an already-absorbed batch is a no-op."""
    merge_state(spark, path, batch, _max_registers, lift=_lift)


def foreach_batch_hll(path: str):
    return foreach_batch(path, _max_registers, lift=_lift)


def read_estimate(spark: SparkSession, path: str) -> DataFrame:
    """uniqMerge + finalize: fold the stored registers into the
    distinct-count estimate (identical expression to the batch HLL
    query in operators/sketches.py)."""
    regs = read_state(spark, path)
    per_type = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("present"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_MAX} - m)")
        ).alias("s_present"),
    )
    return per_type.select(
        "event_type",
        (F.lit(_HLL_M) - F.col("present")).alias("zero_registers"),
        F.round(
            F.expr(
                f"({_HLL_NUM}) / CAST(s_present + ({_HLL_M} - present) * {_HLL_SCALE} AS DOUBLE)"
            ),
            3,
        ).alias("hll_est"),
    )
