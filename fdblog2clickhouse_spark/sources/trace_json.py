"""Batch JSON-lines trace-log source (SURVEY §2.7 batch mode).

The reference's non-streaming path is one pandas read per rotated
file (trace-converter.py:109-130: `pd.read_json(f, lines=True)` →
trim → POST). Spark-native, a whole directory of rotated files is a
single declarative batch read with an explicit schema — Catalyst
prunes/pushes into the JSON scan and the read parallelizes per file.

`trace_json_batch_ingest` proves the full round trip is lossless:
events → rotated JSON logs (fractional-second Time doubles, the
reference's wire format) → schema'd batch read → normalize → exactly
the rows a direct SQL projection of `events` produces. Time survives
because round(Time * 1e6) recovers the original microsecond exactly
(the double's ulp at epoch scale is < 0.5 µs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.ingest import TRACE_SCHEMA, normalize_trace


def read_trace_batch(spark: SparkSession, log_dir: str | list[str]) -> DataFrame:
    """Batch read of a rotated-trace-log directory (or a list of
    files) with the declared reference schema
    (trace-converter.py:85-93)."""
    return spark.read.schema(TRACE_SCHEMA).json(log_dir)


def trace_json_batch_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sinkcheck import scratch_dir
    from ..streaming.queries import _export_mixed_rotation_logs

    base = scratch_dir("trace_batch")
    # Half the rotations are .json.gz (see _export_mixed_rotation_logs)
    # so the driver's oracle row proves compressed batch ingestion.
    glob = _export_mixed_rotation_logs(spark, sf_dir, base)
    out = normalize_trace(read_trace_batch(spark, glob))
    return out.select(
        "severity",
        "machine",
        "log_group",
        F.unix_micros("time").alias("time_us"),
        "type",
        "id",
    )


_TRACE_BATCH_SQL = """
SELECT CAST(CASE WHEN event_type = 'error' THEN 40 ELSE 10 END AS INT) AS severity,
       'machine-' || CAST(user_id AS VARCHAR) AS machine,
       'default' AS log_group,
       epoch_us(ts) AS time_us,
       event_type AS type,
       CAST(event_id AS VARCHAR) AS id
FROM events
"""


QUERIES = {
    "trace_json_batch_ingest": trace_json_batch_ingest,
}

ORACLE = {
    "trace_json_batch_ingest": _TRACE_BATCH_SQL,
}
