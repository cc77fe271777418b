"""Exactly-once merge of a micro-batch into a persisted state table —
the one commit behind the rollup, histogram, HLL and upsert sinks
(SURVEY §2.8).

Each sink keeps a small state table (O(groups), never O(events)) and
folds one batch's partial state into it: read the state, union the
partial, re-aggregate with the sink's own `combine`, and replace the
table through `storage.commit` — so at every instant the table or its
'.old' aside is complete, and every reader heals before it reads.

Exactly-once under `foreachBatch` replay follows *Structured
Streaming* (SIGMOD 2018): a replayable source plus a sink that is
idempotent per batch id. The committed dir carries `_batches.json`,
{query id: last applied batch id}, written into the staging dir
before the publish, so the watermark and the state it describes
commit together. A batch whose id is at or below its query's recorded
id is skipped. A restart from the same checkpoint keeps its query id;
a fresh checkpoint gets a new one and starts its own watermark; a
direct `merge_*` call carries no batch id and always merges.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .. import storage

_MARKS = "_batches.json"  # leading '_': parquet listing skips it
_QUERY_ID = "sql.streaming.queryId"  # set by Spark inside foreachBatch


def _applied(path: str) -> dict:
    try:
        with open(os.path.join(path, _MARKS)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def merge_state(
    spark: SparkSession,
    path: str,
    partial: DataFrame,
    combine,
    batch: tuple[str, int] | None = None,
) -> None:
    """Merge `partial` into the state table at `path`; `combine`
    re-aggregates the union of the stored state and `partial`.
    `batch=(query_id, batch_id)` records the batch in the same commit
    and makes a replay of it a no-op. Driver-side file I/O only: the
    watermark adds no Spark job."""
    storage.heal_swap(path)
    marks = _applied(path)
    if batch is not None:
        query_id, batch_id = batch
        if batch_id <= marks.get(query_id, -1):
            return
        marks[query_id] = batch_id
    if os.path.isdir(path):
        partial = combine(spark.read.parquet(path).unionByName(partial))

    def write(staging: str) -> None:
        partial.write.parquet(staging)
        storage.write_json(os.path.join(staging, _MARKS), marks)

    storage.commit(path, write)


def foreach_batch(path: str, partial, combine):
    """foreachBatch hook: merge `partial(batch_df)` into the state at
    `path` exactly once per (streaming query, batch id)."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        query_id = spark.sparkContext.getLocalProperty(_QUERY_ID)
        merge_state(
            spark,
            path,
            partial(batch_df),
            combine,
            None if query_id is None else (query_id, batch_id),
        )

    return _fn


def read_state(spark: SparkSession, path: str) -> DataFrame:
    storage.heal_swap(path)
    return spark.read.parquet(path)
