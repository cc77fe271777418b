"""Streaming queries exposed through the driver contract (SURVEY §2.7).

Spark-native forms of the reference's ingestion loop (entrypoint.sh:
18-29 inotifywait; trace-converter.py:109-130 per-file batch) plus
the stateful aggregations that loop feeds. All run real Structured
Streaming under Trigger.AvailableNow so the callables return a
finite, deterministic DataFrame:

- streaming_trace_ingest [oracle]: events → trace-shaped JSON log
  files on disk → file-source stream → normalize → memory sink. The
  full reference ingestion path, end to end, hash-equal to a direct
  SQL projection of events (lossless Time round trip).
- streaming_windowed_counts [oracle]: watermarked tumbling-window
  aggregation in complete mode; under AvailableNow the final state
  equals the batch aggregation, so plain SQL is a valid oracle.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import cents, cents_sql
from ..operators.similarity import _ANN_IVF_SQL
from ..sources.tables import events_stream, table
from ..sources.trace_json import _TRACE_BATCH_SQL
from .ingest import normalize_trace, read_trace_stream


# Stateful streaming operators create one state store PER shuffle
# partition PER operator; a single-node harness paying 32× state-store
# setup/commit per micro-batch is pure overhead (measured 9.0 s → 2.5 s
# at sf0.1 for the stream-stream join by dropping 32 → 8). A round-7
# single-run sweep {2: 2.57, 4: 2.18, 8: 2.46, 16: 3.32} s picked 4;
# an r8 re-sweep under the bench's min-of-3 protocol (per ADVICE r7)
# measured 4 → 1.92 s vs 8 → 2.00 s — statistically indistinguishable
# in this sandbox, so 4 stands (marginally fewer store commits), with
# the honest conclusion that 4 vs 8 is a wash at sf0.1.
# The store count is fixed at the query's FIRST checkpoint, which is
# why this is scoped to .start(): on a real cluster the session
# default (sized to executors) applies, and an existing checkpoint
# keeps its partitioning.
_STATE_PARTITIONS = 4


@contextmanager
def _state_sized_shuffle(spark: SparkSession):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_to_memory(
    spark: SparkSession, df: DataFrame, prefix: str, output_mode: str
) -> DataFrame:
    """Run a (finite, AvailableNow) streaming plan into a memory sink
    under the state-sized shuffle scope and return the sink table."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    with _state_sized_shuffle(spark):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _run_to_scratch(
    spark: SparkSession, df: DataFrame, prefix: str
) -> DataFrame:
    """Run a (finite, AvailableNow) APPEND-mode streaming plan into a
    scratch parquet sink and return the scan (r19, guide §5: the
    driver should do almost no data work). The memory sink ships
    EVERY result row to the driver and serves later reads from
    driver memory — fine for the complete-mode aggregates (tiny
    final state), but a stream-stream JOIN's append output is
    row-count-bound, and funneling it through one driver thread is
    the serial stage that made the join anti-scale with cores. The
    file sink keeps rows executor-side; complete-mode callers stay
    on `_run_to_memory` (the file sink is append-only). The sink
    lives in the caller's wiped-on-entry scratch dir, so repeated
    runs reuse one copy instead of leaking a temp dir each."""
    from ..operators.sinkcheck import scratch_dir

    base = scratch_dir(prefix)
    out = os.path.join(base, "out")
    with _state_sized_shuffle(spark):
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.schema(df.schema).parquet(out)


def drain_foreach_batch(stream: DataFrame, fn, checkpoint: str) -> None:
    """Run the foreachBatch hook `fn` over a finite stream under
    Trigger.AvailableNow, checkpointed at `checkpoint`, and return
    once every available micro-batch is done — the drain every
    foreachBatch proof op runs."""
    (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _export_trace_logs(
    spark: SparkSession,
    sf_dir: str,
    log_dir: str,
    *,
    where=None,
    codec: str | None = None,
) -> None:
    """Write events as rotated trace-log JSON files (the reference's
    input format: one JSON object per line, several files ≙ several
    rotations). `codec='gzip'` emits .json.gz rotations — real trace
    dirs gzip rotated logs, and Spark's JSON source decompresses by
    extension; `where` restricts which events land in this dir so a
    caller can split one logical log across plain + gz rotations."""
    e = table(spark, sf_dir, "events")
    if where is not None:
        e = e.where(where)
    trace = e.select(
        F.when(F.col("event_type") == "error", F.lit(40))
        .otherwise(F.lit(10))
        .alias("Severity"),
        F.concat(F.lit("machine-"), F.col("user_id").cast("string")).alias("Machine"),
        F.lit("default").alias("LogGroup"),
        (F.unix_micros("ts") / F.lit(1_000_000.0)).alias("Time"),
        F.col("event_type").alias("Type"),
        F.col("event_id").cast("string").alias("ID"),
    )
    writer = trace.coalesce(4).write.mode("overwrite")
    if codec:
        writer = writer.option("compression", codec)
    writer.json(log_dir)


def _export_mixed_rotation_logs(spark: SparkSession, sf_dir: str, base: str) -> str:
    """Export ONE logical trace log as a mixed rotation set — half the
    events in plain .json files, half in gzipped .json.gz files — and
    return the glob covering both. This is the shape a real trace dir
    has (current rotation plain, older rotations gzipped); reading it
    through one glob proves compressed ingestion end-to-end."""
    _export_trace_logs(
        spark, sf_dir, os.path.join(base, "logs_plain"),
        where=F.col("event_id") % 2 == 0,
    )
    _export_trace_logs(
        spark, sf_dir, os.path.join(base, "logs_gz"),
        where=F.col("event_id") % 2 == 1, codec="gzip",
    )
    return os.path.join(base, "logs_*")


def streaming_trace_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sinkcheck import scratch_dir

    # Mixed plain + .json.gz rotations through one glob: the oracle
    # row for this op therefore covers gzip-compressed ingestion too.
    glob = _export_mixed_rotation_logs(spark, sf_dir, scratch_dir("trace_ingest"))

    stream = normalize_trace(read_trace_stream(spark, glob))
    # epoch-µs output makes the streamed rows hash-comparable to the
    # batch SQL oracle (same lossless Time round trip as the batch
    # source — see sources/trace_json.py).
    return _run_to_memory(spark, stream, "trace_ingest", "append").select(
        "severity",
        "machine",
        "log_group",
        F.unix_micros("time").alias("time_us"),
        "type",
        "id",
    )


def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows over the events stream.
    Windows are epoch-aligned, so date_trunc('hour') is the exact
    batch equivalent."""
    raw = events_stream(spark, sf_dir)
    agg = (
        raw.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("value_c"),
        )
    )
    return _run_to_memory(spark, agg, "windowed_counts", "complete").select(
        F.unix_micros(F.col("w.start")).alias("window_start_us"),
        "n",
        (F.col("value_c") / F.lit(100.0)).alias("total_value"),
    )


_WINDOWED_COUNTS_SQL = f"""
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       COUNT(*) AS n,
       SUM({cents_sql('value')}) / 100.0 AS total_value
FROM events GROUP BY 1
"""


_SESSION_GAP_MIN = 30


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization via session_window: per-user
    sessions close when no event arrives for 30 minutes. This is
    Structured Streaming's merging-session state store doing the work
    of a custom stateful operator; under AvailableNow + complete mode
    the final state equals the batch gap-sessionization, so a plain
    SQL cumulative-gap rewrite is a valid oracle."""
    raw = events_stream(spark, sf_dir)
    agg = (
        raw.withWatermark("ts", "10 minutes")
        .groupBy(
            F.col("user_id"),
            F.session_window("ts", f"{_SESSION_GAP_MIN} minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _run_to_memory(spark, agg, "sessionize", "complete").select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("session_start_us"),
        F.unix_micros(F.col("w.end")).alias("session_end_us"),
        "n_events",
    )


# session_window semantics: an event at ts extends the session to
# ts+gap (end-exclusive); a new session starts when the inter-event
# gap is >= the gap duration. The batch rewrite marks session breaks
# with lag() and a running sum, and reconstructs end = last_ts + gap.
_SESSIONIZE_SQL = f"""
WITH t AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
), marked AS (
  SELECT user_id, us,
         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                   >= {_SESSION_GAP_MIN * 60} * 1000000 OR
                   LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM t
), sessioned AS (
  SELECT user_id, us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       MIN(us) AS session_start_us,
       MAX(us) + {_SESSION_GAP_MIN * 60} * 1000000 AS session_end_us,
       COUNT(*) AS n_events
FROM sessioned GROUP BY user_id, session_id
"""


def _error_count_fn(key, pdfs, state):
    """Per-user stateful error counter (applyInPandasWithState body).
    State is one BIGINT; emits the running total once per batch —
    the custom-stateful-operator escape hatch for semantics that
    session_window/windowed aggs can't express."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    total = state.get[0] if state.exists else 0
    for pdf in pdfs:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"user_id": [key[0]], "n_errors": [total]})


def streaming_stateful_error_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running error counts. The single-file AvailableNow source
    yields one micro-batch, so the emitted running totals equal the
    batch group-by — a valid SQL oracle while still exercising the
    real state-store path (Arrow-batched, per-key state, executor-side
    Python)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    raw = events_stream(spark, sf_dir)
    errors = raw.where(F.col("event_type") == "error").select("user_id", "event_id")
    counted = errors.groupBy("user_id").applyInPandasWithState(
        _error_count_fn,
        outputStructType="user_id long, n_errors long",
        stateStructType="cnt long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(spark, counted, "stateful_errors", "append")


_STATEFUL_ERRORS_SQL = """
SELECT user_id, COUNT(*) AS n_errors
FROM events WHERE event_type = 'error' GROUP BY 1
"""


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once-by-key dedup: the trace logs are
    exported TWICE (a re-delivered rotation, the failure mode
    `--delete-logs` ingestion must tolerate), streamed with
    `dropDuplicates(event_id)`, and must equal the single-copy batch
    projection. State is one entry per key in the state store —
    partitioned by key hash, no global structure, which is exactly
    how it scales; with a watermark the state is bounded by the
    lateness horizon (finite AvailableNow run here, so no horizon is
    needed for determinism)."""
    from ..operators.sinkcheck import scratch_dir

    base = scratch_dir("dedup_stream")
    _export_trace_logs(spark, sf_dir, os.path.join(base, "logs1"))
    _export_trace_logs(spark, sf_dir, os.path.join(base, "logs2"))

    stream = normalize_trace(read_trace_stream(spark, os.path.join(base, "logs*")))
    deduped = stream.dropDuplicates(["id"])
    return _run_to_memory(spark, deduped, "dedup_stream", "append").select(
        F.col("id").cast("long").alias("event_id"),
        F.unix_micros("time").alias("time_us"),
        "severity",
        F.col("type").alias("event_type"),
    )


_DEDUP_STREAM_SQL = """
SELECT event_id,
       epoch_us(ts) AS time_us,
       CAST(CASE WHEN event_type = 'error' THEN 40 ELSE 10 END AS INT) AS severity,
       event_type
FROM events
"""


def streaming_rollup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SummingMergeTree materialized-view path end to end: stream
    events through the incremental rollup sink (foreachBatch merge)
    and read back the stored state. Exact-integer measures make the
    state independent of micro-batch slicing, so the batch GROUP BY
    is an exact oracle for whatever batching the stream chose."""
    from ..sinks.rollup import foreach_batch_rollup, read_rollup

    from ..operators.sinkcheck import scratch_dir

    base = scratch_dir("rollup_ingest")
    path = os.path.join(base, "rollup")
    rows = events_stream(spark, sf_dir).select(
        F.col("ts").alias("time"),
        F.when(F.col("event_type") == "error", F.lit(40))
        .otherwise(F.lit(10))
        .cast("int")
        .alias("severity"),
        F.col("event_type").alias("type"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
    )
    drain_foreach_batch(rows, foreach_batch_rollup(path), os.path.join(base, "ckpt"))
    return read_rollup(spark, path).select(
        "yyyymm",
        "severity",
        "type",
        "n_events",
        (F.col("value_c").cast("double") / 100.0).alias("total_value"),
    )


_ROLLUP_INGEST_SQL = """
SELECT CAST(year(ts) * 100 + month(ts) AS INT) AS yyyymm,
       CAST(CASE WHEN event_type = 'error' THEN 40 ELSE 10 END AS INT) AS severity,
       event_type AS type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events GROUP BY 1, 2, 3
"""


def streaming_upsert_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ReplacingMergeTree CDC path end to end: stream events
    through the latest-wins upsert sink keyed on (user_id,
    event_type) versioned by (ts, event_id), read back the state
    table. Total-order resolution makes the state equal to the batch
    window dedup regardless of batch boundaries."""
    from ..sinks.upsert import foreach_batch_upsert, read_upsert

    from ..operators.sinkcheck import scratch_dir

    base = scratch_dir("upsert_ingest")
    path = os.path.join(base, "state")
    rows = events_stream(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
    )
    drain_foreach_batch(
        rows,
        foreach_batch_upsert(
            path, keys=["user_id", "event_type"], version="ts", tiebreak="event_id"
        ),
        os.path.join(base, "ckpt"),
    )
    return read_upsert(spark, path).select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        (F.col("value_c").cast("double") / 100.0).alias("last_value"),
    )


_UPSERT_INGEST_SQL = """
SELECT user_id, event_type,
       epoch_us(ts) AS last_ts_us,
       event_id AS last_event_id,
       CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE) / 100.0 AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
"""


_SS_JOIN_WINDOW_MIN = 30


def streaming_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    each purchase joins the same user's views from the preceding 30
    minutes. Both sides carry watermarks, so at scale the join state
    store holds only rows inside the lateness+range horizon —
    Structured Streaming's bounded-state two-stream join, keyed (and
    partitioned) by user_id. Under AvailableNow the retained state
    covers the whole finite input, so the batch self-join is an exact
    oracle."""
    views = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {_SS_JOIN_WINDOW_MIN} MINUTES")),
    )
    return _run_to_scratch(spark, joined, "ss_join").select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("gap_us"),
    )


_SS_JOIN_SQL = f"""
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       v.event_id AS view_id,
       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL {_SS_JOIN_WINDOW_MIN} MINUTES
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
"""


def streaming_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AggregatingMergeTree path: stream events through the
    mergeable-HLL register sink (per-register MAX merge — idempotent,
    so at-least-once redelivery cannot skew the estimate) and
    finalize to the distinct-user estimate. The register math is
    shared with the batch HLL operator, so the batch HLL SQL is an
    exact oracle regardless of how the stream was sliced."""
    from ..sinks.hll_rollup import foreach_batch_hll, read_estimate

    from ..operators.sinkcheck import scratch_dir

    base = scratch_dir("hll_rollup")
    path = os.path.join(base, "hll")
    rows = events_stream(spark, sf_dir).select("event_type", "user_id")
    drain_foreach_batch(rows, foreach_batch_hll(path), os.path.join(base, "ckpt"))
    return read_estimate(spark, path)


def _hll_rollup_sql() -> str:
    from ..operators.sketches import (
        _HLL_M,
        _HLL_NUM,
        _HLL_P,
        _HLL_RHO_MAX,
        _HLL_SCALE,
    )
    from ..functions.hashing import h32_sql

    return f"""
WITH hashed AS (
  SELECT event_type, {h32_sql("CAST(user_id AS VARCHAR)")} AS h FROM events
), regs AS (
  SELECT event_type, h % {_HLL_M} AS bucket,
         MAX(CASE WHEN (h >> {_HLL_P}) = 0 THEN {_HLL_RHO_MAX}
                  ELSE {_HLL_RHO_MAX} - length(bin(h >> {_HLL_P})) END) AS m
  FROM hashed GROUP BY 1, 2
), per_type AS (
  SELECT event_type, COUNT(*) AS present,
         SUM((1::BIGINT << ({_HLL_RHO_MAX} - m))) AS s_present
  FROM regs GROUP BY 1
)
SELECT event_type,
       {_HLL_M} - present AS zero_registers,
       ROUND(({_HLL_NUM}) / CAST(s_present + ({_HLL_M} - present) * {_HLL_SCALE} AS DOUBLE), 3) AS hll_est
FROM per_type
"""


# ----------------------------------- streaming_incremental_dedup

def stream_vs_store(
    stream: DataFrame, store_bands: DataFrame, store_feats: DataFrame
) -> DataFrame:
    """The REUSABLE stream-vs-store admission plan — the production
    entrypoint (the operator below is one harness around it; a real
    deployment hands it its own readStream and its own persisted
    store). Input: a streaming (doc_id, text) DataFrame, the store's
    band rows aliased "a" (doc_id, ks, band, band_key — e.g.
    `_bands_from_sig` over a read of the persisted
    `doc_minhash_signatures` table), and the store docs' shingle
    arrays (base_doc_id, fs). Output: an UNSTARTED streaming
    DataFrame (new_doc_id, base_doc_id, jaccard ≥ threshold).

    Fully STATELESS append plan:
    - stream side: tokens → in-row distinct shingles → in-row
      16-perm MinHash signature (array_min over transform — no
      aggregation, so no streaming state at all; identical values to
      the batch groupBy-min since min over the same set is min) →
      in-row band keys → posexplode to band rows;
    - stream-static inner joins only: band match (first-shared-band
      gate keeps the stream pair-distinct) then exact Jaccard verify
      against the store doc's shingle array.

    No watermark, no state store — each arriving doc is scored
    against the store and emitted immediately."""
    from ..functions.text import shingles_expr, tokens
    from ..operators import dedup as dd

    s_sh = (
        stream.select("doc_id", tokens(F.col("text")).alias("t"))
        .where(F.size("t") >= 3)
        .select(
            "doc_id",
            F.array_distinct(F.expr(shingles_expr("t", 3))).alias("sh"),
        )
        .withColumn(
            "hs", F.expr(f"transform(sh, x -> {dd.h32_spark_sql('x')})")
        )
    )
    s_sig = s_sh.select(
        "doc_id",
        "sh",
        *[
            F.expr(
                f"array_min(transform(hs, h -> "
                f"({dd._MINHASH_A[i]} * h + {dd._MINHASH_B[i]}) % {dd._MINHASH_P}))"
            ).alias(f"s{i}")
            for i in range(dd._N_PERM)
        ],
    )
    ks = dd._band_keys_col()
    s_bands = s_sig.select(
        F.col("doc_id").alias("new_doc_id"),
        "sh",
        ks.alias("ks"),
        F.posexplode(ks).alias("band", "band_key"),
    ).alias("b")

    cand = (
        s_bands.join(
            store_bands,
            (F.col("b.band") == F.col("a.band"))
            & (F.col("b.band_key") == F.col("a.band_key")),
        )
        .where(dd._first_band_gate())
        .select(
            "new_doc_id", F.col("a.doc_id").alias("base_doc_id"), F.col("b.sh").alias("sh")
        )
    )
    verified = cand.join(store_feats, "base_doc_id")
    inter = F.size(F.array_intersect("sh", "fs"))
    return verified.select(
        "new_doc_id",
        "base_doc_id",
        (inter / (F.size("sh") + F.size("fs") - inter)).alias("jaccard"),
    ).where(F.col("jaccard") >= dd._JACCARD_THRESHOLD)


def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING admission dedup — the 100 TB online shape: newly
    arriving documents (the doc_id % 10 == 0 slice, landed as JSON
    rotations — the test harness part) are deduped against a
    PERSISTED base-corpus signature store via the reusable
    `stream_vs_store` plan above.

    Since round 9 the static side is the real store lifecycle, not a
    recompute: the base corpus's `doc_minhash_signatures` rows are
    WRITTEN to parquet and read back, and the band rows the join
    sees come from that on-disk table (`_bands_from_sig` — identical
    capped-band semantics to the batch ops, cap population = the
    store). Only the exact-verify shingle arrays come from the
    corpus (a production verifier recomputes features for candidate
    docs; the store persists signatures only).

    The bucket cap applies to the BASE store only (that is what
    exists when a batch arrives); at this SF no bucket caps out, and
    the op's results equal `dedup_incremental_minhash` (asserted in
    tests). Output: (new_doc_id, base_doc_id, jaccard ≥ threshold)."""
    from ..operators import dedup as dd
    from ..operators.dedup_store import signature_frame
    from ..operators.sinkcheck import scratch_dir

    # deterministic per-run root, wiped on entry — repeated bench/
    # correctness runs in one session reuse one copy instead of
    # accumulating mkdtemp leftovers (VERDICT r9 item 8). Import is
    # function-local: sinkcheck's module-level oracle build imports
    # this module.
    base_dir = scratch_dir("incr_dedup_stream") + "/rotations"
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    d.where(F.col("doc_id") % dd._INCR_BATCH_MOD == 0).coalesce(4).write.mode(
        "overwrite"
    ).json(base_dir)

    # static sides. cache the shingle build: the store write, the
    # verify-side features, and each micro-batch of the stream-static
    # join would otherwise re-walk it.
    docs = dd._doc_shingles(spark, sf_dir).cache()
    base_docs = docs.where(F.col("doc_id") % dd._INCR_BATCH_MOD != 0)
    # sibling dir, NOT inside base_dir: the readStream below lists
    # base_dir for JSON rotations and must never see store files.
    store_path = base_dir + "_signatures"
    signature_frame(base_docs).write.mode("overwrite").parquet(store_path)
    store_bands = dd._bands_from_sig(spark.read.parquet(store_path)).alias("a")
    base_feats = base_docs.select(
        F.col("doc_id").alias("base_doc_id"), F.col("sh").alias("fs")
    )

    stream = spark.readStream.schema("doc_id long, text string").json(base_dir)
    out = stream_vs_store(stream, store_bands, base_feats)
    result = _run_to_memory(spark, out, "incr_dedup", "append")
    docs.unpersist()  # the memory sink holds the results now
    return result


def _incr_stream_sql() -> str:
    from ..operators import dedup as dd

    return f"""
WITH {dd.shingles_cte_sql('documents', 'text', 3)},
base_hv AS (
  SELECT doc_id, {dd.h32_sql('s')} AS h FROM sh
  WHERE doc_id % {dd._INCR_BATCH_MOD} <> 0
),
batch_hv AS (
  SELECT doc_id, {dd.h32_sql('s')} AS h FROM sh
  WHERE doc_id % {dd._INCR_BATCH_MOD} = 0
),
{dd._minhash_bands_cte(prefix='base_', hv='base_hv')},
{dd._minhash_bands_cte(prefix='batch_', hv='batch_hv')},
cand AS (
  SELECT b.doc_id AS new_doc_id, a.doc_id AS base_doc_id
  FROM base_capped a JOIN batch_bands b
    ON a.band = b.band AND a.band_key = b.band_key
  WHERE {dd._FIRST_BAND_GATE_SQL}
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT new_doc_id, base_doc_id, COUNT(*) AS i
  FROM cand
  JOIN sh sa ON sa.doc_id = new_doc_id
  JOIN sh sb ON sb.doc_id = base_doc_id AND sa.s = sb.s
  GROUP BY 1, 2
)
SELECT new_doc_id, base_doc_id,
       i / (ca.n + cb.n - i) AS jaccard
FROM inter
JOIN cnt ca ON ca.doc_id = new_doc_id
JOIN cnt cb ON cb.doc_id = base_doc_id
WHERE i / (ca.n + cb.n - i) >= {dd._JACCARD_THRESHOLD}
"""


def streaming_ivf_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous vector ingestion into the PERSISTED IVF index —
    the streaming completion of `ann_ivf_store_search`
    (operators/ann_store.py), closing the store family's symmetry:
    the dedup stores have had an online admission loop since round
    12 (streaming/rep_admission.py), while the ANN index could only
    be fed by batch CLI inserts. Arriving vectors (the
    vec_id % 10 == 0 insert slice, landed as 4 JSON rotations of the
    QUANTIZED frame — exact integers, so the rotation roundtrip is
    lossless by construction — and consumed one file per micro-batch
    under maxFilesPerTrigger=1) run through foreachBatch: every
    micro-batch assigns itself against the persisted codebook
    (`ivf_insert_batch` — THE shared insert kernel, also behind the
    insert-vectors CLI) and APPENDS its (n_id, list_id) rows to the
    on-disk lists table (a key-bucketed table of `tables`). Codebooks are never retrained by an insert
    (refresh-ivf's job), so the index the final search reads is
    byte-equivalent to the batch lifecycle's. Because the kernel is
    shared, a codes-bearing IVF-PQ target gets its residual PQ codes
    encoded and appended PER MICRO-BATCH too (VERDICT r15 #4: the
    old lists-only foreachBatch silently hid streamed vectors from
    compressed search, since `ivfpq_store_search_plan` inner-joins
    candidates to codes; tests/test_streaming.py pins the completed
    leg end-to-end). The kernel is IDEMPOTENT under redelivery
    (VERDICT r16 #1): foreachBatch is at-least-once, and a replayed
    micro-batch — including one that crashed between its lists and
    codes appends — converges to the once-delivered index instead of
    duplicating rows (redelivery test beside the coherence test).
    This proof op's own index is lists-only, so its oracle
    equivalence is unchanged.

    Oracle: the plain full-corpus IVF spelling — assignment depends
    only on (vector, codebook), so ANY slicing of the inserts into
    micro-batches is provably equivalent to a one-shot rebuild; the
    hash pins that equivalence THROUGH the streaming machinery
    (checkpointed availableNow drain, per-batch codebook reads,
    append visibility across batches) plus the index roundtrip."""
    from ..operators.ann_store import (
        assign_lists,
        ivf_insert_batch,
        ivf_store_search_plan,
    )
    from ..operators.dedup import _quantized
    from ..operators.similarity import _CENTROID_IDS
    from ..operators.sinkcheck import scratch_dir

    root = scratch_dir("ivf_insert_stream")
    codebook_path = root + "/codebook"
    lists_path = root + "/lists"
    arrivals = root + "/rotations"

    qn = _quantized(spark, sf_dir).cache()

    # index BUILD: codebook + the BASE corpus's assignments on disk
    # (the same base/insert split as ann_ivf_store_search)
    qn.where(F.col("vec_id").isin(_CENTROID_IDS)).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).write.mode("overwrite").parquet(codebook_path)
    base = qn.where(F.pmod(F.col("vec_id"), F.lit(10)) != 0)
    assign_lists(spark, base, codebook_path, lists_path)

    # arrivals: the insert slice as 4 integer-exact JSON rotations
    qn.where(F.pmod(F.col("vec_id"), F.lit(10)) == 0).select(
        "vec_id", "q", "nq"
    ).coalesce(4).write.mode("overwrite").json(arrivals)

    def insert(batch_df: DataFrame, batch_id: int) -> None:
        ivf_insert_batch(
            batch_df.sparkSession, batch_df, codebook_path, lists_path
        )

    stream = spark.readStream.schema(
        "vec_id long, q array<long>, nq long"
    ).option("maxFilesPerTrigger", 1).json(arrivals)
    drain_foreach_batch(stream, insert, arrivals + "_ckpt")

    out = ivf_store_search_plan(spark, qn, codebook_path, lists_path)
    out.write.mode("overwrite").parquet(root + "/result")
    qn.unpersist()
    return spark.read.parquet(root + "/result")


QUERIES = {
    "streaming_trace_ingest": streaming_trace_ingest,
    "streaming_windowed_counts": streaming_windowed_counts,
    "streaming_sessionize": streaming_sessionize,
    "streaming_stateful_error_count": streaming_stateful_error_count,
    "streaming_dedup_events": streaming_dedup_events,
    "streaming_rollup_ingest": streaming_rollup_ingest,
    "streaming_upsert_ingest": streaming_upsert_ingest,
    "streaming_view_purchase_join": streaming_view_purchase_join,
    "streaming_hll_rollup": streaming_hll_rollup,
    "streaming_incremental_dedup": streaming_incremental_dedup,
    "streaming_ivf_insert": streaming_ivf_insert,
}

ORACLE = {
    # the batch source's oracle: streamed and batch-read rotations
    # normalize to the same rows
    "streaming_trace_ingest": _TRACE_BATCH_SQL,
    "streaming_windowed_counts": _WINDOWED_COUNTS_SQL,
    "streaming_sessionize": _SESSIONIZE_SQL,
    "streaming_stateful_error_count": _STATEFUL_ERRORS_SQL,
    "streaming_dedup_events": _DEDUP_STREAM_SQL,
    "streaming_rollup_ingest": _ROLLUP_INGEST_SQL,
    "streaming_upsert_ingest": _UPSERT_INGEST_SQL,
    "streaming_view_purchase_join": _SS_JOIN_SQL,
    "streaming_hll_rollup": _hll_rollup_sql(),
    "streaming_incremental_dedup": _incr_stream_sql(),
    "streaming_ivf_insert": _ANN_IVF_SQL,
}
