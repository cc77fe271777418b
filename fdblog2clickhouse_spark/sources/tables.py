"""Parquet table loader for the test star schema (TESTDATA.md).

At cluster scale these would be catalog tables (possibly bucketed on
their join keys); locally they are single parquet files per table.
Loading stays fully declarative so Catalyst can push filters and
prune columns into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# DataFrame handles are lazy plans; memoizing them per (session, path)
# skips repeated file listing + footer/schema reads when many queries
# touch the same tables (the driver runs 40+ queries per session).
_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _CACHE.get(key)
    if df is None:
        if name == "events":
            df = _events(spark, sf_dir)
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _CACHE[key] = df
    return df


def parquet_num_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count from the parquet FOOTER — a driver-side
    metadata read (the same footer Spark reads for schema), no job.
    Used to size block grids; returns None when the source isn't a
    single local parquet file (caller falls back to .count())."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata.num_rows
    except Exception:
        return None


# The driver regenerates the testdata between rounds and has shipped
# events.ts as both parquet TIMESTAMP(NANOS) and timestamp[us]. Every
# events reader (batch AND streaming) must branch on the dtype that is
# actually on disk — a hard-coded workaround for one encoding silently
# corrupts timestamps under the other (the round-4 failure mode).
_EVENTS_TS_KIND: dict[str, str] = {}


def events_ts_kind(sf_dir: str) -> str:
    """'nanos' | 'micros' — from the parquet footer (driver-side
    metadata read, no Spark job). Unknown encodings raise rather than
    guess: a wrong guess here corrupts every downstream timestamp."""
    kind = _EVENTS_TS_KIND.get(sf_dir)
    if kind is None:
        import pyarrow.parquet as pq

        t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
        ts = str(t)
        if ts.startswith("timestamp[ns"):
            kind = "nanos"
        elif ts.startswith(("timestamp[us", "timestamp[ms", "timestamp[s")):
            kind = "micros"
        else:
            raise ValueError(
                f"events.ts has unsupported parquet type {ts!r} in {sf_dir}"
            )
        _EVENTS_TS_KIND[sf_dir] = kind
    return kind


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-aware events loader. TIMESTAMP(NANOS) files are rejected
    outright by Spark's reader (PARQUET_TYPE_ILLEGAL), so that branch
    reads nanos as long and converts exactly to a µs timestamp (the
    data is µs-aligned; at worst this truncates sub-µs, matching
    DuckDB's fetch precision). µs/ms/s files read natively; the cast
    normalizes NTZ→LTZ, an identity under the session's UTC timezone.
    """
    from pyspark.sql import functions as F

    if events_ts_kind(sf_dir) == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE streaming events source — every streaming query must use
    this (never an inline readStream.schema over events): the file
    stream source requires an explicit schema, and forcing `ts long`
    over a µs-encoded file reads raw µs as long with no error, then
    any nanos→µs conversion silently shrinks every timestamp 1000×.

    The stream schema is DERIVED from the file footer (the same
    schema the batch reader infers, including the nanos-as-long
    branch), never hard-coded: if the driver regenerates
    events.parquet with an added or renamed column, a hard-coded
    list would stream silent nulls for it while batch reads real
    values. Deriving keeps stream and batch byte-identical across
    ALL columns (asserted by tests/test_source_canary.py)."""
    from pyspark.sql import functions as F

    kind = events_ts_kind(sf_dir)
    if kind == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Schema comes from the SAME glob the stream reads: if a second
    # events*.parquet file ever appears with an extra/renamed column,
    # a single-file schema would silently null-fill it in the stream —
    # the exact failure this derivation exists to prevent.
    glob = f"{sf_dir}/events*.parquet"  # file source needs a dir/glob
    raw_schema = spark.read.parquet(glob).schema
    stream = spark.readStream.schema(raw_schema).parquet(glob)
    if kind == "nanos":
        return stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))
