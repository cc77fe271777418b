"""Structured-Streaming trace ingestion (SURVEY §2.7).

The reference's ingestion loop is `inotifywait -e close_write` on a
log dir, one batch per rotated JSON file, POSTed to the sink, with
optional delete-on-success (entrypoint.sh:17-29,
trace-converter.py:109-130). Spark-native, that whole loop is a file
stream source:

  inotify watch            → readStream.json(log_dir)
  one rotated file = batch → maxFilesPerTrigger / AvailableNow
  --delete-logs            → option("cleanSource", "delete"), plus
                             delete_last_batch at the end
  POST JSONEachRow         → foreachBatch(ClickHouseHttpSink)
  materialized-view rollup → the same foreachBatch (insert_and_rollup)

Schema is declared up front (the reference's `columns` table,
trace-converter.py:85-93); normalization trims to it and coerces
Time, exactly like the reference's pandas slice + astype.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# The reference's trace column set (trace-converter.py:85-93). FDB
# quotes every value ("Severity": "10", "Time": "1706659207.545855"),
# so Severity and Time are read as text (a JSON number's text too)
# and converted in normalize_trace.
TRACE_SCHEMA = StructType(
    [
        StructField("Severity", StringType()),
        StructField("Machine", StringType()),
        StructField("LogGroup", StringType()),
        StructField("Time", StringType()),  # epoch seconds, fractional
        StructField("Type", StringType()),
        StructField("ID", StringType()),
    ]
)


def read_trace_stream(
    spark: SparkSession,
    log_dir: str,
    *,
    delete_logs: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over rotated JSON trace logs."""
    reader = spark.readStream.schema(TRACE_SCHEMA)
    if delete_logs:
        reader = reader.option("cleanSource", "delete")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(log_dir)


def _last_commit(checkpoint_dir: str) -> int | None:
    """The last batch id in the local checkpoint's commit log."""
    commits = os.path.join(checkpoint_dir, "commits")
    ids = [int(n) for n in os.listdir(commits) if n.isdigit()] if os.path.isdir(commits) else []
    return max(ids, default=None)


def delete_last_batch(spark: SparkSession, checkpoint_dir: str) -> None:
    """Delete the input files of the last micro-batch committed under
    the local `checkpoint_dir`. cleanSource=delete removes a batch's
    files only while the next batch is planned, so the batch a stream
    ends on keeps them. Call this once the query has ended without
    error; the batch comes from the commit log, so an uncommitted
    batch is never touched."""
    last = _last_commit(checkpoint_dir)
    if last is None:
        return
    # the file source's log: a version line, then one JSON entry per
    # file; every 10th batch is written as `<id>.compact`, which holds
    # the entries of all earlier batches too
    log = os.path.join(checkpoint_dir, "sources", "0", str(last))
    if not os.path.exists(log):
        log += ".compact"
    with open(log) as f:
        entries = [json.loads(line) for line in f.read().splitlines()[1:]]
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    for e in entries:
        if e["batchId"] == last:
            # the path is a URI string, resolved as cleanSource does
            path = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(e["path"]))
            path.getFileSystem(conf).delete(path, False)


# Spark's file stream source reads a micro-batch wrongly when one of
# its file names holds a character Hadoop's glob syntax gives a
# meaning: the per-batch read runs with globbing off and then expands
# each glob-looking path to every path of the batch, so each other
# file of the batch is read twice (4 files gave 7 rows, Spark 4.1.2).
GLOB_CHARS = frozenset("{}[]*?\\")


def glob_name_guard(log_dir: str, hook):
    """The foreachBatch `hook`, behind a check that fails the
    micro-batch with a ValueError naming the file while the local
    directory `log_dir` holds a file the stream would misread (a name
    with one of GLOB_CHARS)."""

    def _fn(df: DataFrame, batch_id: int) -> None:
        if os.path.isdir(log_dir):
            bad = sorted(e.path for e in os.scandir(log_dir) if GLOB_CHARS.intersection(e.name))
            if bad:
                raise ValueError(f"{bad[0]}: a glob character in a trace file name; rename the file")
        hook(df, batch_id)

    return _fn


def insert_and_rollup(insert, rollup):
    """foreachBatch hook feeding both sinks of a log dir from one
    batch: `insert` (ClickHouseHttpSink.foreach_batch) on `overlap`'s
    kept worker thread, `rollup` (foreach_batch_rollup) on the query's
    own thread, whose `sql.streaming.queryId` property its replay
    watermark reads.
    Returns once both are done, so the batch commits, and cleanSource
    deletes its files, only after both sinks took it."""
    from ..session import overlap

    def _fn(df: DataFrame, batch_id: int) -> None:
        # the trace schema has no numeric measure: the rollup counts events
        rows = df.select("time", "severity", "type", F.lit(0).cast("long").alias("value_c"))
        overlap(lambda: insert(df, batch_id), lambda: rollup(rows, batch_id))

    return _fn


def unfolded_batches(checkpoint_dir: str, state_path: str) -> str | None:
    """Why the state at `state_path` cannot join the query of the local
    `checkpoint_dir` (Spark resumes after its last commit, so batches
    committed but not folded never reach it), or None. No Spark job."""
    from ..sinks.state import applied_batch

    last = _last_commit(checkpoint_dir)
    if last is not None:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            folded = applied_batch(state_path, json.loads(f.readline())["id"])
        if folded < last:
            return f"{checkpoint_dir} committed batches {folded + 1}..{last} that {state_path} has not folded"
    return None


def normalize_trace(df: DataFrame) -> DataFrame:
    """Trim + coerce to the declared column set
    (trace-converter.py:114-119): fractional epoch seconds → exact
    µs timestamp, severity/int coercion, stable column order. Quoted
    and bare numbers give the same row; a malformed value becomes
    NULL instead of failing the batch."""
    return df.select(
        F.col("Severity").try_cast("int").alias("severity"),
        F.col("Machine").alias("machine"),
        F.col("LogGroup").alias("log_group"),
        F.timestamp_micros(
            F.round(F.col("Time").try_cast("double") * 1_000_000, 0).cast("long")
        ).alias("time"),
        F.col("Type").alias("type"),
        F.col("ID").alias("id"),
    )

