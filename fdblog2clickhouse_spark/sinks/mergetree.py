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
    target_files_per_partition: int = 1,
) -> dict:
    """The `OPTIMIZE TABLE ... FINAL` analog: compact each yyyymm
    partition's accumulated small files (one per append micro-batch —
    the parquet equivalent of unmerged MergeTree parts) into
    `target_files_per_partition` sorted files.

    Mirrors ClickHouse's background merge (reference
    trace-converter.py:46-54's MergeTree engine merges parts off the
    insert path). Streaming `foreachBatch` appends one file per
    partition per batch, so a day of minutely batches is ~1440 tiny
    files per partition — at 100 TB that's scan-open overhead and
    NameNode/listing pressure; compaction restores one-ish file per
    partition and re-sorts rows so min/max row-group pruning on
    `time_col` is tight again (appends interleave time ranges,
    widening every row group's stats).

    Each compacted partition is written to a staging dir BESIDE the
    table (invisible to readers) and published on its own through
    `storage.publish_partitions`, so a reader sees each partition
    either old or compacted — never both, never neither — and a
    crash at any point is healed by the next `read_mergetree`.
    Compaction leaves a partition's rows unchanged, so partitions
    need no common publish: the extra disk is one partition, and a
    failure keeps the partitions already compacted. Untouched
    partitions stay byte-invariant. SINGLE MAINTAINER: appends must
    not run concurrently with an optimize. Returns
    {partition: files_before} for observability."""
    import glob
    import os

    storage.heal_table_fold(path)
    stats: dict[str, int] = {}
    for part_dir in sorted(glob.glob(os.path.join(path, "yyyymm=*"))):
        part = os.path.basename(part_dir)
        files = glob.glob(os.path.join(part_dir, "*.parquet"))
        if len(files) <= target_files_per_partition:
            continue
        staging = storage.stage_partitions(path)
        (
            spark.read.parquet(part_dir)
            .repartition(target_files_per_partition)
            .sortWithinPartitions(time_col)
            .write.parquet(os.path.join(staging, part))
        )
        storage.publish_partitions(path, staging, [part])
        stats[part] = len(files)
    return stats
