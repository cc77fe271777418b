"""Exactly-once fold of a micro-batch into a persisted state table —
the one commit behind the rollup, histogram, HLL and upsert sinks
(SURVEY §2.8).

Each sink keeps a state table and folds a batch's rows into it: a
merge is `combine(state ∪ rows)`, one aggregation, and replaces the
table through `storage.commit`, so at every instant the table or its
'.old' aside is complete, and every reader heals before it reads. The
state is read under `combine(rows).schema`, which costs analysis
only, no schema-inference job. The commit records the fold's column
names and types, and a batch that folds to other columns raises
before the write instead of dropping or NULL-filling a stored column.

Jobs per merge. The rollup, histogram and HLL states are aggregates
bounded by the value domain; each passes a `lift` that turns the
batch into one state row per event. A micro-batch of at most
ONE_TASK_PARTITIONS scan partitions folds with the state in one task
(`coalesce(1)` under the aggregate): no exchange, 1 Spark job, the
collect. A larger batch is first aggregated in parallel to
groups-sized rows, then folded with the state in one task: 2 jobs,
the shuffle's map stage and the collect. The partition count comes
from planning the batch: no job for a file scan or a foreachBatch
batch, but a direct merge of a batch whose own plan shuffles runs
that shuffle's map stage once more under adaptive execution. Spark
cuts a file scan into splits of at least 4 MB, and into about one
split per core once the input is larger, so on three or more cores
the one-task fold sees at most about 8 MB of input (or one
unsplittable .gz file), and on any box it gives up at most the
parallelism of two tasks. The upsert
state is O(keys), not bounded, and its rows are the batch's own: its
merge is one window over state ∪ rows, partitioned by key, 2 jobs at
any batch size.

Where the state bytes go. A bounded state is a few hundred rows (213
for the benchmark's trace rollup), whatever the stream's volume, so
it travels through the driver: `pyarrow.parquet.read_table` reads the
committed state, `spark.createDataFrame` hands it to the fold, the
fold's result comes back with `toArrow()` (the job above), and `pyarrow.parquet.write_table` writes it into the
staging dir beside `_batches.json`. That skips, per trigger, a Spark
parquet scan of the state and a file-commit job with its task
attempt dirs and `_SUCCESS` marker: on local[4] (a busy 4-core
host), the benchmark's traced median rollup merge went from
0.77-1.08 s to 0.28-0.29 s of wall time. The reader takes any parquet files in the dir and skips
names that start with '_' or '.', so a state written by Spark's own
writer (`part-*` files, `_SUCCESS`, `.crc` checksums) folds the same.
The upsert state grows with its keys and stays on Spark's reader and
writer.

Exactly-once under `foreachBatch` replay follows *Structured
Streaming* (SIGMOD 2018): a replayable source plus a sink that is
idempotent per batch id. The committed dir carries `_batches.json`:
the fold's columns and {query id: last applied batch id}, written
into the staging dir before the publish, so the watermark and the
state it describes commit together. A batch whose id is at or below
its query's recorded id is skipped. A restart from the same
checkpoint keeps its query id; a fresh checkpoint gets a new one and
starts its own watermark; a direct `merge_*` call carries no batch id
and always merges. The watermark is driver-side file I/O and adds no
Spark job.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .. import storage

_MARKS = "_batches.json"  # leading '_': parquet listing skips it
_QUERY_ID = "sql.streaming.queryId"  # set by Spark inside foreachBatch
_STATE_FILE = "state.parquet"  # a bounded state's one file

# A bounded state folds a micro-batch of at most this many partitions
# in one task; a larger one is pre-aggregated in parallel first.
ONE_TASK_PARTITIONS = 2


def _columns(df: DataFrame) -> list[list[str]]:
    return [[f.name, f.dataType.simpleString()] for f in df.schema]


def _meta(path: str) -> tuple[dict, list | None]:
    """The state's {query id: batch id} watermark and its recorded
    columns, after healing an interrupted swap; None columns for a
    state written before they were recorded."""
    storage.heal_swap(path)
    try:
        with open(os.path.join(path, _MARKS)) as f:
            meta = json.load(f)
    except FileNotFoundError:
        return {}, None
    if "batches" in meta:
        return meta["batches"], meta["columns"]
    return meta, None


def merge_state(
    spark: SparkSession,
    path: str,
    batch_df: DataFrame,
    combine,
    batch: tuple[str, int] | None = None,
    *,
    lift=None,
) -> None:
    """Fold `batch_df` into the state table at `path`:
    `combine(state ∪ rows)`. An aggregate state bounded by the value
    domain passes `lift`, which turns the batch into one row per
    event: rows = `lift(batch_df)`, and a batch of at most
    ONE_TASK_PARTITIONS partitions folds in one task, with the state
    read and written on the driver through Arrow (module docstring).
    Without `lift` the rows are `batch_df` itself.
    `batch=(query_id, batch_id)` records the batch in the same commit
    and makes a replay of it a no-op. Raises ValueError, before the
    write, when the stored columns differ from the fold's."""
    marks, stored = _meta(path)
    if batch is not None:
        query_id, batch_id = batch
        if batch_id <= marks.get(query_id, -1):
            return
        marks[query_id] = batch_id
    rows = batch_df
    if lift is not None:
        # counted before the lift: the bare batch plans in a third of the time
        one_task = batch_df.rdd.getNumPartitions() <= ONE_TASK_PARTITIONS
        rows = lift(batch_df)
        if not one_task:
            rows = combine(rows)
    fold = combine(rows)
    columns = _columns(fold)
    if os.path.isdir(path):
        if stored is None:
            stored = _columns(spark.read.parquet(path))
        if stored != columns:
            raise ValueError(
                f"state at {path} has columns {stored}, the batch folds to {columns}"
            )
        if lift is None:
            state = spark.read.schema(fold.schema).parquet(path)
        else:
            state = spark.createDataFrame(pq.read_table(path), schema=fold.schema)
        rows = state.unionByName(rows)
    if lift is None:
        write_rows = combine(rows).write.parquet
    else:
        table = combine(rows.coalesce(1)).toArrow()

        def write_rows(staging: str) -> None:
            os.makedirs(staging)
            pq.write_table(table, os.path.join(staging, _STATE_FILE))

    def write(staging: str) -> None:
        write_rows(staging)
        storage.write_json(
            os.path.join(staging, _MARKS), {"columns": columns, "batches": marks}
        )

    storage.commit(path, write)


def foreach_batch(path: str, combine, *, lift=None):
    """foreachBatch hook: fold each batch into the state at `path`
    (`merge_state`) exactly once per (streaming query, batch id)."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        query_id = spark.sparkContext.getLocalProperty(_QUERY_ID)
        merge_state(
            spark,
            path,
            batch_df,
            combine,
            None if query_id is None else (query_id, batch_id),
            lift=lift,
        )

    return _fn


def applied_batch(path: str, query_id: str) -> int:
    """The last batch of streaming query `query_id` folded at `path`, or -1."""
    return _meta(path)[0].get(query_id, -1)


def read_state(spark: SparkSession, path: str) -> DataFrame:
    storage.heal_swap(path)
    return spark.read.parquet(path)
