"""ClickHouse sink: schema management + JSONEachRow HTTP inserts
(SURVEY §2.8).

Re-expresses the reference's sink surface Spark-first:
- DDL generation from a declared column-spec table
  (≙ trace-converter.py:20-61 `clickhouse_schema`/`create_schema`):
  MergeTree, PARTITION BY toYYYYMM(time), ORDER BY (time), per-column
  codecs/comments, CREATE ... IF NOT EXISTS.
- JSONEachRow inserts (≙ trace-converter.py:66-72 `insert_trace`):
  each row is encoded JVM-side (`to_json(struct(*))`), the one
  `line` column reaches the driver through `DataFrame.toArrow()` in
  ONE Spark job, and the driver POSTs bodies of at most `batch_size`
  rows one after another, joined by `pyarrow.compute.binary_join`
  with no per-row Python. No Python worker task runs: an earlier
  design POSTed from a per-partition closure on the executors, and
  every such task paid about 185 ms of worker CPU before touching a
  row (worker setup re-reads the `pyspark.zip` directory on Python
  3.11), which was most of the sink's CPU.
- HTTP basic auth via env or args (≙ trace-converter.py:11-17).

Driver memory: `insert` holds its whole DataFrame's JSON text on the
driver, about 150 B per trace row, and the collect fails once that
passes `spark.driver.maxResultSize` (1 GiB by default). The CLI
bounds it in files: `watch` (and the rollup it folds) takes
`MAX_FILES_PER_INSERT` rotated files per micro-batch, and `ingest`
inserts groups of that many. A file is never split, so the bound
holds as long as rotations stay small (fdbserver rolls its trace
files at 10 MiB by default).

What is measured, all on local[4] against local endpoints: the CPU
saving and the job count, with micro-batches of at most 96k rows.
The earlier design sent one POST per partition in parallel; this one
sends a batch's bodies serially. Against an endpoint that sleeps
per POST (fixed delay + 10 ns per body byte), a 480k-row batch took
2.2 s vs 4.5 s before at 25 ms per POST, 5.1 s vs 5.6 s at 300 ms,
and 13.0 s vs 7.3 s at 1 s: the earlier design wins only once one
insert takes about a third of a second. Batch sizes of real FDB
rotation traffic and a real ClickHouse server's insert latency have
not been measured.

`requests` is import-gated; dry_run mode spools the exact payloads to
local files so tests (and air-gapped runs) exercise the full path
minus the socket.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:
    import requests

    HAVE_REQUESTS = True
except ImportError:  # pragma: no cover - baked-in envs usually have it
    requests = None
    HAVE_REQUESTS = False


@dataclass(frozen=True)
class ColumnSpec:
    name: str
    ch_type: str
    codec: str = "CODEC(ZSTD)"
    comment: str = ""


# The reference's trace column set (trace-converter.py:85-93).
TRACE_COLUMNS = [
    ColumnSpec("severity", "UInt32", "CODEC(Delta, ZSTD)", "Event Severity Code"),
    ColumnSpec("machine", "String", "CODEC(ZSTD)", "Machine ID for Event"),
    ColumnSpec("log_group", "String", "CODEC(ZSTD)", "Group for Event Type"),
    ColumnSpec("time", "DateTime", "CODEC(ZSTD)", "Event Timestamp"),
    ColumnSpec("type", "String", "CODEC(ZSTD)", "Event Type"),
    ColumnSpec("id", "Nullable(String)", "CODEC(ZSTD)", "Event Identifier"),
]


def _esc(comment: str) -> str:
    """Escape a ClickHouse single-quoted string literal (double the
    quotes) — a comment containing an apostrophe must not produce
    malformed DDL."""
    return comment.replace("\\", "\\\\").replace("'", "''")


def mergetree_ddl(
    table: str,
    columns: list[ColumnSpec],
    *,
    partition_expr: str = "toYYYYMM(time)",
    order_by: str = "(time)",
    index_granularity: int = 8192,
) -> str:
    """MergeTree CREATE TABLE DDL from a column-spec table."""
    lines = []
    for i, c in enumerate(columns):
        lead = "  ( " if i == 0 else "  , "
        lines.append(
            f"{lead}`{c.name}`".ljust(20)
            + f" {c.ch_type}".ljust(20)
            + f" COMMENT '{_esc(c.comment)}'".ljust(32)
            + f" {c.codec}"
        )
    body = "\n".join(lines)
    return (
        f"CREATE TABLE IF NOT EXISTS `{table}`\n"
        f"{body}\n"
        f"  ) ENGINE = MergeTree()\n"
        f"    PARTITION BY\n      {partition_expr}\n"
        f"    ORDER BY\n      {order_by}\n"
        f"    SETTINGS\n      index_granularity={index_granularity}"
    )


# Spark → ClickHouse type mapping for schema derivation. The
# reference builds its column dict by hand next to the pandas frame
# (trace-converter.py:85-93); Spark-native, the DataFrame schema IS
# the source of truth, so the column specs derive from it.
_SPARK_TO_CH = {
    "byte": "Int8",
    "short": "Int16",
    "integer": "Int32",
    "int": "Int32",
    "long": "Int64",
    "bigint": "Int64",
    "float": "Float32",
    "double": "Float64",
    "boolean": "UInt8",
    "string": "String",
    "binary": "String",
    "date": "Date",
    "timestamp": "DateTime64(6)",
    "timestamp_ntz": "DateTime64(6)",
}


def _ch_type(dt, nullable: bool) -> str:
    """Recursive Spark-type → ClickHouse-type mapping. Handles
    decimal(p,s) → Decimal(p, s) (every §2.2 money aggregate), arrays
    → Array(T) (embedding columns), and maps → Map(K, V). ClickHouse
    containers are themselves non-nullable (there is no
    Nullable(Array)); nullability applies to the element/value side
    only. Unsupported types still raise rather than guess."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType

    if isinstance(dt, DecimalType):
        base = f"Decimal({dt.precision}, {dt.scale})"
    elif isinstance(dt, ArrayType):
        return f"Array({_ch_type(dt.elementType, dt.containsNull)})"
    elif isinstance(dt, MapType):
        # ClickHouse Map keys must be non-nullable
        return (
            f"Map({_ch_type(dt.keyType, False)}, "
            f"{_ch_type(dt.valueType, dt.valueContainsNull)})"
        )
    else:
        base = _SPARK_TO_CH.get(dt.typeName())
        if base is None:
            raise ValueError(
                f"no ClickHouse mapping for Spark type {dt.simpleString()!r}"
            )
    if nullable and not base.startswith("Nullable("):
        base = f"Nullable({base})"
    return base


def spark_schema_to_columns(schema) -> list[ColumnSpec]:
    """Derive ClickHouse column specs from a Spark StructType — the
    sink's CREATE/ALTER DDL then always reflects what the pipeline
    actually produces (no hand-maintained parallel column list to
    drift). Nullable Spark fields map to Nullable(T); unsupported
    types raise rather than guess."""
    cols = []
    for f in schema.fields:
        try:
            ch = _ch_type(f.dataType, f.nullable)
        except ValueError as e:
            raise ValueError(f"{e} (column {f.name!r})") from None
        cols.append(ColumnSpec(f.name, ch))
    return cols


def alter_ddl(
    table: str,
    deployed: list[ColumnSpec],
    desired: list[ColumnSpec],
    *,
    drop_removed: bool = False,
) -> list[str]:
    """Schema evolution: the ALTER TABLE statements that migrate a
    deployed MergeTree table to the desired column set — ADD COLUMN
    (positioned with AFTER, so the physical order matches the spec),
    MODIFY COLUMN on type/codec/comment change, and DROP COLUMN only
    when explicitly allowed (dropping data is never the default; by
    default removed columns are left in place and reported as a
    comment line). Returns [] when schemas already agree — callers
    can gate deploys on that."""
    deployed_by_name = {c.name: c for c in deployed}
    desired_names = {c.name for c in desired}
    stmts: list[str] = []
    prev: str | None = None
    for c in desired:
        old = deployed_by_name.get(c.name)
        if old is None:
            pos = f" AFTER `{prev}`" if prev is not None else " FIRST"
            stmts.append(
                f"ALTER TABLE `{table}` ADD COLUMN IF NOT EXISTS "
                f"`{c.name}` {c.ch_type} COMMENT '{_esc(c.comment)}' {c.codec}{pos}"
            )
        elif (old.ch_type, old.codec, old.comment) != (c.ch_type, c.codec, c.comment):
            stmts.append(
                f"ALTER TABLE `{table}` MODIFY COLUMN "
                f"`{c.name}` {c.ch_type} COMMENT '{_esc(c.comment)}' {c.codec}"
            )
        prev = c.name
    for c in deployed:
        if c.name not in desired_names:
            if drop_removed:
                stmts.append(f"ALTER TABLE `{table}` DROP COLUMN IF EXISTS `{c.name}`")
            else:
                stmts.append(
                    f"-- column `{c.name}` no longer produced; "
                    f"pass drop_removed=True to emit DROP COLUMN"
                )
    return stmts


def jsoneachrow(df: DataFrame) -> DataFrame:
    """Encode rows as JSONEachRow lines, JVM-side, fully distributed.
    Returns a single-string-column DataFrame ('line')."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("line"))


# seconds a POST waits to connect and per read: a stalled server fails the batch
POST_TIMEOUT_S = 60


def _post(payload: bytes, url: str, params: dict, auth, spool_dir: str | None):
    if spool_dir is not None:
        os.makedirs(spool_dir, exist_ok=True)
        fname = os.path.join(spool_dir, f"batch-{uuid.uuid4().hex}.jsonl")
        with open(fname, "wb") as f:
            f.write(payload)
        return
    if not HAVE_REQUESTS:
        raise RuntimeError("requests not available; use dry_run spooling")
    r = requests.post(url, params=params, data=payload, auth=auth, timeout=POST_TIMEOUT_S)
    r.raise_for_status()


# Rotated files per insert (module docstring, "Driver memory"): 16
# default-size fdbserver rotations are at most 160 MiB of input.
MAX_FILES_PER_INSERT = 16


def _bodies(lines, batch_size: int):
    """Newline-joined bodies of at most `batch_size` lines each, from
    an Arrow string column, as bytes."""
    import pyarrow as pa
    import pyarrow.compute as pc

    sep = pa.scalar("\n", lines.type)
    for start in range(0, len(lines), batch_size):
        chunk = lines.slice(start, batch_size).combine_chunks()
        one_list = pa.ListArray.from_arrays(pa.array([0, len(chunk)], pa.int32()), chunk)
        yield pc.binary_join(one_list, sep)[0].as_buffer().to_pybytes()


@dataclass
class ClickHouseHttpSink:
    """HTTP sink with the reference's env-var surface. dry_run spools
    payloads to `spool_dir` instead of POSTing."""

    addr: str = field(default_factory=lambda: os.environ.get("CLICKHOUSE_ADDR", ""))
    database: str = field(default_factory=lambda: os.environ.get("CLICKHOUSE_DB", ""))
    table: str = field(default_factory=lambda: os.environ.get("CLICKHOUSE_TABLE", ""))
    user: str | None = field(default_factory=lambda: os.environ.get("CLICKHOUSE_USER"))
    password: str | None = field(
        default_factory=lambda: os.environ.get("CLICKHOUSE_PASS")
    )
    spool_dir: str | None = None  # set → dry run

    @property
    def _auth(self):
        if self.user is not None and self.password is not None:
            return (self.user, self.password)
        return None

    def create_schema(self, columns: list[ColumnSpec]) -> str:
        ddl = mergetree_ddl(self.table, columns)
        if self.spool_dir is None:
            _post(
                f"CREATE DATABASE IF NOT EXISTS {self.database}".encode(),
                self.addr,
                {},
                self._auth,
                None,
            )
            _post(ddl.encode(), self.addr, {"database": self.database}, self._auth, None)
        return ddl

    def insert(self, df: DataFrame, *, batch_size: int = 50_000) -> int:
        """JSONEachRow insert in one Spark job: collect the encoded
        lines to the driver as Arrow and POST them in bodies of at
        most `batch_size` rows. Returns the number of rows sent; an
        empty DataFrame posts nothing."""
        params = {
            "database": self.database,
            "query": f"INSERT INTO {self.table} FORMAT JSONEachRow",
        }
        lines = jsoneachrow(df).toArrow().column("line")
        for body in _bodies(lines, batch_size):
            _post(body, self.addr, params, self._auth, self.spool_dir)
        return len(lines)

    def foreach_batch(self):
        """Adapter for streaming: writeStream.foreachBatch(sink.foreach_batch()).
        Prints one status line per micro-batch (rows + destination) —
        the reference logs df.info() and the HTTP response per batch
        (trace-converter.py:122-127); this is the Spark-side analog."""

        def _fn(batch_df: DataFrame, batch_id: int) -> None:
            n = self.insert(batch_df)
            dest = self.spool_dir or f"{self.addr} {self.database}.{self.table}"
            print(f"[trace-convert] batch {batch_id}: rows={n} -> {dest} ok")

        return _fn
