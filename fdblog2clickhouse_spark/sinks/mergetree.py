"""MergeTree-style parquet sink (SURVEY §2.8).

The Spark-native equivalent of the reference's target table layout
(trace-converter.py:46-54): PARTITION BY toYYYYMM(time) becomes
parquet partition directories; ORDER BY (time) becomes
sortWithinPartitions, giving min/max-stat row-group pruning on time
predicates — the same scan-skipping MergeTree's primary key buys.

At cluster scale: repartitioning on the partition column before the
write keeps one writer per month partition (no small-file explosion
across 1000 executors); sortWithinPartitions costs no extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage
from ..operators.tables import compact_partitions


def write_mergetree(
    df: DataFrame,
    path: str,
    *,
    time_col: str = "time",
    mode: str = "append",
) -> None:
    # an append into a partition a crashed optimize left aside would
    # turn the aside into a "completed swap remnant": heal first
    storage.heal_table_fold(path)
    out = df.withColumn(
        "yyyymm", (F.year(time_col) * 100 + F.month(time_col)).cast("int")
    )
    (
        out.repartition("yyyymm")
        .sortWithinPartitions(time_col)
        .write.mode(mode)
        .partitionBy("yyyymm")
        .parquet(path)
    )


def read_mergetree(spark: SparkSession, path: str) -> DataFrame:
    # complete or roll back a crashed optimize before planning the scan
    storage.heal_table_fold(path)
    return spark.read.parquet(path)


def optimize_mergetree(
    spark: SparkSession,
    path: str,
    *,
    time_col: str = "time",
) -> dict:
    """The `OPTIMIZE TABLE ... FINAL` analog: compact each yyyymm
    partition's accumulated small files (one per append micro-batch —
    the parquet equivalent of unmerged MergeTree parts) into one file
    sorted by `time_col`.

    Mirrors ClickHouse's background merge (reference
    trace-converter.py:46-54's MergeTree engine merges parts off the
    insert path). Streaming `foreachBatch` appends one file per
    partition per batch, so a day of minutely batches is ~1440 tiny
    files per partition — at 100 TB that's scan-open overhead and
    NameNode/listing pressure; compaction restores one file per
    partition and re-sorts rows so min/max row-group pruning on
    `time_col` is tight again (appends interleave time ranges,
    widening every row group's stats).

    It is the store tables' compaction (`tables.compact_partitions`):
    every multi-file month is rewritten by one Spark write into one staging
    dir BESIDE the table (invisible to readers), which then holds
    every dirty month at once, and published by one journaled
    partition swap, so a reader sees each month either old or
    compacted — never both, never neither — and a crash at any point
    is healed by the next `read_mergetree`. Single-file months stay
    byte-identical and rows pass unchanged. SINGLE MAINTAINER:
    appends must not run concurrently with an optimize. Returns
    {partition: files_before} of the compacted months."""
    storage.heal_table_fold(path)
    counts = compact_partitions(spark, path, time_col, dedup=False)
    return {part: n for part, n in counts.items() if n > 1}
