"""Driver-oracle-checked sink roundtrips (SURVEY §2.8).

The §2.8 sink components are unit-tested, but until round 8 none had
a DRIVER oracle row — the strongest gate in the repo. These two
operators close that: each writes the events table through a real
sink path into a scratch dir, reads it back, and returns an
integer-exact aggregate the DuckDB oracle computes directly from the
source table. A sink bug that drops, duplicates, or corrupts rows —
in the partitioned write, the compaction rewrite, or the Z-order
clustering — breaks the hash match.

Same scratch-dir pattern as the streaming operators
(streaming/queries.py:128): the write is part of the operator, the
returned DataFrame is the roundtrip evidence.

Reference parity: the reference's whole contract is "rows in equal
rows queryable" across its MergeTree table (trace-converter.py:
46-72); this is that contract, oracle-enforced, for the Spark-native
table layouts.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import cents, cents_sql
from ..sources.tables import table


def scratch_path(name: str) -> str:
    """The deterministic per-operator scratch PATH (no wipe) — the
    single source of the naming convention. Tests that need to
    inspect an operator's on-disk state after it ran use this instead
    of re-deriving the `sinkcheck_<name>_<pid>` spelling (VERDICT r10
    nit: the hard-coded copies in tests would silently break on a
    rename here)."""
    return os.path.join(tempfile.gettempdir(), f"sinkcheck_{name}_{os.getpid()}")


def scratch_dir(name: str) -> str:
    """Deterministic per-operator scratch dir, WIPED on entry so
    repeated bench/correctness runs overwrite one copy instead of
    accumulating mkdtemp leftovers in /tmp (ADVICE r8). Keyed by pid
    so concurrent driver + pytest sessions don't race each other."""
    d = scratch_path(name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def mergetree_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → MergeTree-style sink (2 append batches → the
    small-file state streaming leaves) → OPTIMIZE-FINAL compaction →
    read back → per-partition integer aggregate. The oracle computes
    the same aggregate straight from `events`, so the write +
    compact + read cycle must be row-exact to hash-match."""
    from ..sinks.mergetree import optimize_mergetree, read_mergetree, write_mergetree

    e = table(spark, sf_dir, "events").select(
        F.col("ts").alias("time"), "event_id", "event_type", "value"
    )
    out = scratch_dir("mt_roundtrip") + "/t"
    # two appends = at least two files per partition, so compaction
    # has real merge work before the read. pmod (not %): Spark's %
    # takes the dividend's sign, so a negative odd event_id would
    # match neither == 0 nor == 1 and silently vanish from the
    # roundtrip — pmod makes the split a true partition of all rows.
    write_mergetree(e.where(F.pmod(F.col("event_id"), F.lit(2)) == 0), out, mode="append")
    write_mergetree(e.where(F.pmod(F.col("event_id"), F.lit(2)) == 1), out, mode="append")
    optimize_mergetree(spark, out)
    back = read_mergetree(spark, out)
    return back.groupBy(F.col("yyyymm").cast("int").alias("yyyymm")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents(F.col("value"))).alias("value_cents"),
        F.min(F.unix_micros(F.col("time"))).alias("min_us"),
        F.max(F.unix_micros(F.col("time"))).alias("max_us"),
        F.countDistinct("event_id").alias("n_ids"),
    )


_MERGETREE_ROUNDTRIP_SQL = f"""
SELECT CAST(year(ts) * 100 + month(ts) AS INT) AS yyyymm,
       COUNT(*) AS n_rows,
       CAST(SUM({cents_sql('value')}) AS BIGINT) AS value_cents,
       epoch_us(MIN(ts)) AS min_us,
       epoch_us(MAX(ts)) AS max_us,
       COUNT(DISTINCT event_id) AS n_ids
FROM events
GROUP BY 1
"""


def zorder_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → Z-order clustered sink on (user_id, value) → read
    back → per-event_type integer aggregate. Clustering is a pure
    REORDERING; the oracle aggregates the source directly, so any
    row lost/duplicated/mutated by the Morton-key pipeline breaks
    the match."""
    from ..sinks.zorder import write_zordered

    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = scratch_dir("z_roundtrip") + "/t"
    write_zordered(e, out, ["user_id", "value"], num_files=4)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents(F.col("value"))).alias("value_cents"),
        F.sum("event_id").alias("id_sum"),
        F.countDistinct("user_id").alias("n_users"),
    )


_ZORDER_ROUNDTRIP_SQL = f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM({cents_sql('value')}) AS BIGINT) AS value_cents,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
"""


# ------------------------- incremental-merge sink roundtrips (r9)
#
# The streaming_* ingest ops (streaming/queries.py) drive these
# sinks under trigger(availableNow) — which, over a finite local
# input, delivers ONE micro-batch, so their merge-into-EXISTING-
# state path (read state → union the lifted batch → aggregate → swap) never runs
# against non-empty state in a driver-checked row. These four rows
# close that: explicit multi-batch merges with real prior state on
# disk, read back and hash-matched against the one-shot batch
# spelling. Batch-boundary independence is the sinks' core design
# claim (commutative/associative merges); here the driver enforces
# it, not just pytest.


def _event_batches(e: DataFrame, n: int) -> list[DataFrame]:
    """Deterministic n-way TRUE partition of the events slice (pmod,
    not % — same negative-dividend trap as the mergetree split)."""
    return [e.where(F.pmod(F.col("event_id"), F.lit(n)) == i) for i in range(n)]


def rollup_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → SummingMergeTree-style rollup sink in THREE merge
    batches (each after the first merges into existing on-disk
    state) → read the state table back. Exact-integer measures make
    the stored rollup equal the one-shot GROUP BY whatever the
    slicing — the oracle is the batch spelling, shared verbatim with
    the streaming ingest row."""
    from ..sinks.rollup import merge_rollup, read_rollup

    path = scratch_dir("rollup_roundtrip") + "/rollup"
    rows = table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").alias("time"),
        F.when(F.col("event_type") == "error", F.lit(40))
        .otherwise(F.lit(10))
        .cast("int")
        .alias("severity"),
        F.col("event_type").alias("type"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
    )
    for b in _event_batches(rows, 3):
        merge_rollup(spark, path, b.drop("event_id"))
    return read_rollup(spark, path).select(
        "yyyymm",
        "severity",
        "type",
        "n_events",
        (F.col("value_c").cast("double") / 100.0).alias("total_value"),
    )


def upsert_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ReplacingMergeTree-style latest-wins upsert sink,
    three merge batches against on-disk state, keyed (user_id,
    event_type) versioned (ts, event_id) → read the state back.
    Total-order resolution makes the final state equal the batch
    window-dedup however the CDC stream was sliced or reordered —
    the batches are applied LAST slice first to prove order
    independence, and the oracle is the batch ROW_NUMBER spelling."""
    from ..sinks.upsert import merge_upsert, read_upsert

    path = scratch_dir("upsert_roundtrip") + "/state"
    rows = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
    )
    for b in reversed(_event_batches(rows, 3)):
        merge_upsert(
            spark, path, b,
            keys=["user_id", "event_type"], version="ts", tiebreak="event_id",
        )
    return read_upsert(spark, path).select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        (F.col("value_c").cast("double") / 100.0).alias("last_value"),
    )


def hll_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → AggregatingMergeTree-style mergeable-HLL register
    sink: three merge batches, then batch 1 REDELIVERED (per-register
    MAX is idempotent, so at-least-once delivery must leave the state
    bit-identical) → finalize to the distinct-user estimate. The
    oracle is the one-shot batch HLL — if redelivery skewed a single
    register the estimate hash breaks."""
    from ..sinks.hll_rollup import merge_hll, read_estimate

    path = scratch_dir("hll_roundtrip") + "/hll"
    rows = table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    batches = _event_batches(rows, 3)
    for b in batches + [batches[0]]:
        merge_hll(spark, path, b.drop("event_id"))
    return read_estimate(spark, path)


def hist_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → mergeable quantile-histogram sink in three merge
    batches (per-bin SUM against real on-disk state) → finalize to
    per-type p50/p90/p99. The oracle is the one-shot batch sketch
    spelling (operators/sketches.py value_quantile_hist) — any bin
    miscounted or misrouted across the merges shifts an interpolated
    quantile and breaks the hash. Completes the sketch-sink family's
    driver coverage: counts, distincts, quantiles."""
    from ..sinks.hist_rollup import merge_hist, read_quantiles

    path = scratch_dir("hist_roundtrip") + "/hist"
    rows = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    for b in _event_batches(rows, 3):
        merge_hist(spark, path, b.drop("event_id"))
    return read_quantiles(spark, path)


def bucketed_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders + lineitem written through the BUCKETED warehouse sink
    (both bucketed & sorted on the join key), joined back
    co-located, aggregated per order priority. The bucketed layout
    is pure reorganization: any row dropped/duplicated by the
    bucketing write or a bucket misrouted at join time breaks the
    hash against the plain-join oracle. (The no-Exchange property of
    the same layout is CI-pinned in tests/test_plans.py — this row
    pins the CORRECTNESS half of the bucketing contract.)"""
    from ..sinks.bucketed import bucketed_join, write_bucketed

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    l = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice", "l_discount"
    )
    # a PREVIOUS session's run leaves the managed-table location on
    # disk while this session's in-memory catalog has no entry for
    # it — overwrite then refuses (LOCATION_ALREADY_EXISTS). Clear
    # both halves before writing, same wipe-on-entry rule as
    # scratch_dir.
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("sinkcheck_orders_bkt", "sinkcheck_lineitem_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    write_bucketed(o, "sinkcheck_orders_bkt", "o_orderkey", n_buckets=8)
    write_bucketed(l, "sinkcheck_lineitem_bkt", "o_orderkey", n_buckets=8)
    j = bucketed_join(
        spark, "sinkcheck_orders_bkt", "sinkcheck_lineitem_bkt", "o_orderkey"
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.sum(
            cents(F.col("l_extendedprice")) * (F.lit(100) - cents(F.col("l_discount")))
        ).alias("revenue_c2"),
    )


_BUCKETED_ROUNDTRIP_SQL = f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       COUNT(DISTINCT o.o_orderkey) AS n_orders,
       CAST(SUM({cents_sql('l.l_extendedprice')}
                * (100 - {cents_sql('l.l_discount')})) AS BIGINT) AS revenue_c2
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


def _streaming_oracles():
    from ..streaming.queries import (
        _ROLLUP_INGEST_SQL,
        _UPSERT_INGEST_SQL,
        _hll_rollup_sql,
    )

    return _ROLLUP_INGEST_SQL, _UPSERT_INGEST_SQL, _hll_rollup_sql()


_ROLLUP_SQL, _UPSERT_SQL, _HLL_SQL = _streaming_oracles()


def _hist_sql() -> str:
    from .sketches import _QUANTILE_HIST_SQL

    return _QUANTILE_HIST_SQL


_HIST_SQL = _hist_sql()


QUERIES = {
    "mergetree_sink_roundtrip": mergetree_sink_roundtrip,
    "zorder_sink_roundtrip": zorder_sink_roundtrip,
    "rollup_sink_roundtrip": rollup_sink_roundtrip,
    "upsert_sink_roundtrip": upsert_sink_roundtrip,
    "hll_sink_roundtrip": hll_sink_roundtrip,
    "hist_sink_roundtrip": hist_sink_roundtrip,
    "bucketed_sink_roundtrip": bucketed_sink_roundtrip,
}

ORACLE = {
    "mergetree_sink_roundtrip": _MERGETREE_ROUNDTRIP_SQL,
    "zorder_sink_roundtrip": _ZORDER_ROUNDTRIP_SQL,
    # the final sink state must equal the ONE-SHOT batch spelling —
    # identical oracles to the streaming ingest rows, deliberately:
    # stream-sliced and merge-batched paths converge on one truth.
    "rollup_sink_roundtrip": _ROLLUP_SQL,
    "upsert_sink_roundtrip": _UPSERT_SQL,
    "hll_sink_roundtrip": _HLL_SQL,
    "hist_sink_roundtrip": _HIST_SQL,
    "bucketed_sink_roundtrip": _BUCKETED_ROUNDTRIP_SQL,
}
