"""Mergeable quantile-histogram sink — the third AggregatingMergeTree
family member (SURVEY §2.8).

ClickHouse materialized views maintain `quantileState(...)` the same
way they maintain `uniqState` — partial sketch states merged at read
time. This sink is the Spark-native fixed-bin-histogram version for
the per-type value quantiles (the batch analog is
`value_quantile_hist`, operators/sketches.py): state is one row per
(event_type, bin) with a count, the merge operator is per-bin SUM —
commutative and associative, so ANY batch slicing of the stream
yields the identical state (NOT idempotent, like the Summing rollup
and unlike HLL's MAX: the batch-id watermark of sinks/state.py makes
a replayed batch a no-op).

Scale shape: the stored state is bounded by the value domain
(O(types × bins)), independent of stream volume, so a merge folds the
batch's one-count bin rows and the stored bins in one aggregation in
one task: one Spark job, no exchange, for a micro-batch of one or two
scan partitions; a larger batch reduces map-side, in parallel, to
O(types × bins) rows first (sinks/state.py). The family is now
complete: counts (sinks/rollup.py, SUM), distincts
(sinks/hll_rollup.py, idempotent MAX), quantiles (here, SUM of bin
counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sketches import _QH_QS, _QH_WIDTH
from .state import foreach_batch, merge_state, read_state

_KEYS = ["event_type", "b"]


def _lift(df: DataFrame) -> DataFrame:
    """One value as a one-count bin row. Bin math imported from
    operators/sketches.py so the streamed state can never drift from
    the batch sketch. Input needs (event_type, value)."""
    return df.select(
        "event_type",
        F.floor(F.col("value") / _QH_WIDTH).cast("long").alias("b"),
        F.lit(1).cast("long").alias("c"),
    )


def _sum_bins(df: DataFrame) -> DataFrame:
    """Per-bin SUM — the quantileMerge background step, done
    eagerly."""
    return df.groupBy(*_KEYS).agg(F.sum("c").alias("c"))


def batch_bins(df: DataFrame) -> DataFrame:
    """One micro-batch's histogram state."""
    return _sum_bins(_lift(df))


def merge_hist(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Fold a batch's values into the stored bins."""
    merge_state(spark, path, batch, _sum_bins, lift=_lift)


def foreach_batch_hist(path: str):
    return foreach_batch(path, _sum_bins, lift=_lift)


def read_quantiles(spark: SparkSession, path: str) -> DataFrame:
    """quantileMerge + finalize: p50/p90/p99 per type from the
    stored bins. The interpolation expression mirrors
    operators/sketches.py::value_quantile_hist's finalize verbatim
    (constants shared by import), so the streamed estimate is
    bit-identical to the batch sketch — and to the DuckDB oracle."""
    bins = read_state(spark, path)
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("event_type")
    cum = bins.select(
        "event_type",
        "b",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_tot).alias("tot"),
    )
    qs = F.explode(F.array(*[F.lit(q) for q in _QH_QS])).alias("q")
    hit = cum.select("*", qs).where(
        F.col("cum") >= F.col("q") * F.col("tot").cast("double")
    )
    w_first = Window.partitionBy("event_type", "q").orderBy("b")
    est = F.expr(
        f"round(b * {_QH_WIDTH} + {_QH_WIDTH} * "
        "((q * CAST(tot AS DOUBLE)) - CAST(cum - c AS DOUBLE)) / CAST(c AS DOUBLE), 4)"
    )
    return (
        hit.withColumn("rn", F.row_number().over(w_first))
        .where(F.col("rn") == 1)
        .select("event_type", "q", est.alias("est_quantile"))
    )
