"""Latest-wins upsert sink — ReplacingMergeTree semantics (SURVEY §2.8).

The reference's pipeline is effectively CDC: rotated log batches land
in a ClickHouse MergeTree table (reference trace-converter.py:46-54
DDL; entrypoint.sh:18-29 delivery loop) and consumers read the
latest state per key (the ReplacingMergeTree pattern; batch analog
is `events_dedup_latest` in operators/trace_ops.py). This sink maintains
that latest-state table incrementally: each micro-batch is merged
with the stored state and only the max-version row per key survives.

Resolution is a TOTAL order — (version, tiebreak) — so merge order
cannot matter: applying batches in ANY order, with ANY slicing,
yields the same state (tested). That is what makes the sink safe
under reordered/re-delivered rotations at 100 TB. Unlike the rollup,
histogram and HLL states, this state is O(keys), not bounded by a
value domain, so it cannot fold in one task: a merge is one window
over the stored rows ∪ the batch's rows, partitioned by key hash —
2 Spark jobs, the shuffle's map stage and the write (sinks/state.py).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .state import foreach_batch, merge_state, read_state


def latest_per_key(
    df: DataFrame, keys: list[str], version: str, tiebreak: str
) -> DataFrame:
    """Max-(version, tiebreak) row per key — the ReplacingMergeTree
    background merge, done eagerly and deterministically."""
    w = Window.partitionBy(*keys).orderBy(F.desc(version), F.desc(tiebreak))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_upsert(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    *,
    keys: list[str],
    version: str,
    tiebreak: str,
) -> None:
    """Merge one batch into the stored latest-state table."""
    latest = partial(latest_per_key, keys=keys, version=version, tiebreak=tiebreak)
    merge_state(spark, path, batch, latest)


def foreach_batch_upsert(path: str, *, keys: list[str], version: str, tiebreak: str):
    """foreachBatch hook: attach latest-state maintenance to a
    streaming ingest."""
    latest = partial(latest_per_key, keys=keys, version=version, tiebreak=tiebreak)
    return foreach_batch(path, latest)


read_upsert = read_state
