"""Sink & schema-management tests (SURVEY §2.8) — parity with the
reference's DDL/JSONEachRow/partitioning behavior."""

from __future__ import annotations

import glob
import json
import os
import tempfile

from pyspark.sql import functions as F

from fdblog2clickhouse_spark.operators.trace_ops import trace_normalize
from fdblog2clickhouse_spark.sinks.clickhouse import (
    TRACE_COLUMNS,
    ClickHouseHttpSink,
    ColumnSpec,
    alter_ddl,
    jsoneachrow,
    mergetree_ddl,
    spark_schema_to_columns,
)
from fdblog2clickhouse_spark.sinks.mergetree import read_mergetree, write_mergetree
from fdblog2clickhouse_spark.sources.tables import table


def test_ddl_structure():
    ddl = mergetree_ddl("cluster01", TRACE_COLUMNS)
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS `cluster01`")
    for c in TRACE_COLUMNS:
        assert f"`{c.name}`" in ddl
        assert c.ch_type in ddl
    assert "ENGINE = MergeTree()" in ddl
    assert "toYYYYMM(time)" in ddl
    assert "ORDER BY" in ddl and "(time)" in ddl
    assert "index_granularity=8192" in ddl


def test_schema_derivation_from_dataframe(spark, sf_smoke):
    """Column specs derive from the normalized trace DataFrame's own
    schema — the DDL always reflects what the pipeline produces."""
    rows = _trace_rows(spark, sf_smoke)
    cols = spark_schema_to_columns(rows.schema)
    assert [c.name for c in cols] == rows.columns
    by_name = {c.name: c.ch_type for c in cols}
    assert by_name["time"] in ("DateTime64(6)", "Nullable(DateTime64(6))")
    assert "Int" in by_name["severity"]
    ddl = mergetree_ddl("derived", cols)
    for c in rows.columns:
        assert f"`{c}`" in ddl


def test_schema_derivation_maps_decimal_array_map(spark, sf_smoke):
    """The container/decimal mappings the r7 verdict flagged: sinking
    a money aggregate or the embeddings table must not raise.
    ClickHouse containers are non-nullable (no Nullable(Array))."""
    from pyspark.sql import functions as F

    emb = table(spark, sf_smoke, "embeddings")
    by = {c.name: c.ch_type for c in spark_schema_to_columns(emb.schema)}
    assert by["embedding"].startswith("Array(")
    assert "Nullable(Array" not in by["embedding"]

    money = spark.sql(
        "SELECT CAST(1.50 AS DECIMAL(12,2)) AS amt, "
        "map('k', CAST(1 AS BIGINT)) AS m"
    )
    by = {c.name: c.ch_type for c in spark_schema_to_columns(money.schema)}
    assert "Decimal(12, 2)" in by["amt"]
    assert by["m"].startswith("Map(String")

    # every §2.2 aggregate result schema must map without raising
    from fdblog2clickhouse_spark.operators import tpch

    q1 = tpch.QUERIES["tpch_q1"](spark, sf_smoke)
    assert len(spark_schema_to_columns(q1.schema)) == len(q1.columns)


def test_schema_derivation_rejects_unmapped_types(spark, sf_smoke):
    import pytest

    nested = spark.sql("SELECT named_struct('a', 1) AS s")  # struct column
    with pytest.raises(ValueError, match="no ClickHouse mapping"):
        spark_schema_to_columns(nested.schema)


def test_alter_ddl_evolution():
    """ADD positioned with AFTER, MODIFY on any spec change, DROP only
    when explicitly allowed, [] when schemas agree."""
    deployed = list(TRACE_COLUMNS)
    assert alter_ddl("t", deployed, deployed) == []

    widened = deployed + [ColumnSpec("trace_file", "String", comment="source file")]
    stmts = alter_ddl("t", deployed, widened)
    assert len(stmts) == 1
    assert "ADD COLUMN IF NOT EXISTS `trace_file`" in stmts[0]
    assert f"AFTER `{deployed[-1].name}`" in stmts[0]

    retyped = [
        ColumnSpec(c.name, "UInt64", c.codec, c.comment) if c.name == "severity" else c
        for c in deployed
    ]
    stmts = alter_ddl("t", deployed, retyped)
    assert len(stmts) == 1 and "MODIFY COLUMN `severity` UInt64" in stmts[0]

    narrowed = [c for c in deployed if c.name != "log_group"]
    stmts = alter_ddl("t", deployed, narrowed)
    assert len(stmts) == 1 and stmts[0].startswith("--")  # no silent drop
    stmts = alter_ddl("t", deployed, narrowed, drop_removed=True)
    assert len(stmts) == 1 and "DROP COLUMN IF EXISTS `log_group`" in stmts[0]


def test_jsoneachrow_roundtrip(spark, sf_smoke):
    df = trace_normalize(spark, sf_smoke).limit(50)
    lines = [r["line"] for r in jsoneachrow(df).collect()]
    assert len(lines) == 50
    parsed = [json.loads(x) for x in lines]
    assert all(set(p) <= {"id", "time_us", "machine", "severity", "type", "log_group"}
               for p in parsed)
    assert {p["severity"] for p in parsed} <= {10, 40}


def test_http_sink_dry_run_spools_full_table(spark, sf_smoke):
    spool = tempfile.mkdtemp(prefix="ch_spool_")
    sink = ClickHouseHttpSink(
        addr="http://localhost:8123", database="testing", table="cluster01",
        spool_dir=spool,
    )
    df = trace_normalize(spark, sf_smoke)
    sink.insert(df)
    lines = []
    for fname in glob.glob(f"{spool}/batch-*.jsonl"):
        with open(fname) as f:
            lines.extend(x for x in f.read().splitlines() if x)
    assert len(lines) == df.count()
    ids = {json.loads(x)["id"] for x in lines}
    assert len(ids) == df.count()


def test_mergetree_sink_sorted_partitions(spark, sf_smoke):
    out = os.path.join(tempfile.mkdtemp(prefix="mt_"), "events_mt")
    e = table(spark, sf_smoke, "events").select(
        F.col("ts").alias("time"), "event_id", "event_type", "value"
    )
    write_mergetree(e, out, mode="overwrite")
    back = read_mergetree(spark, out)
    assert back.count() == e.count()
    assert glob.glob(f"{out}/yyyymm=*"), "expected toYYYYMM partition dirs"
    # rows inside each file are time-sorted (ORDER BY law)
    for pdir in glob.glob(f"{out}/yyyymm=*"):
        part = spark.read.parquet(pdir)
        times = [r["time"] for r in part.select("time").collect()]
        # per-file ordering: read each parquet file separately
        for fpath in glob.glob(f"{pdir}/*.parquet"):
            ft = [r["time"] for r in spark.read.parquet(fpath).select("time").collect()]
            assert ft == sorted(ft)
    # partition pruning: a month filter must prune input files
    months = sorted(int(p.split("=")[1]) for p in
                    (os.path.basename(x) for x in glob.glob(f"{out}/yyyymm=*")))
    plan = back.where(F.col("yyyymm") == months[0])._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or back.where(F.col("yyyymm") == months[0]).count() > 0


def test_mergetree_optimize_compacts_and_preserves(spark, sf_smoke):
    """OPTIMIZE TABLE analog: N appended micro-batches leave N files
    per partition; compaction must collapse them to 1, re-sort rows
    by time (tight row-group stats again), and change NOTHING about
    the data."""
    from fdblog2clickhouse_spark.sinks.mergetree import optimize_mergetree

    out = os.path.join(tempfile.mkdtemp(prefix="mt_opt_"), "events_mt")
    e = table(spark, sf_smoke, "events").select(
        F.col("ts").alias("time"), "event_id", "event_type", "value"
    )
    # 4 appends ≙ 4 streaming micro-batches → ≥4 files per partition
    for i in range(4):
        write_mergetree(e.where(F.col("event_id") % 4 == i), out, mode="append")
    before = {
        os.path.basename(p): len(glob.glob(f"{p}/*.parquet"))
        for p in glob.glob(f"{out}/yyyymm=*")
    }
    assert before and all(n >= 4 for n in before.values()), before
    pre = sorted(
        tuple(r) for r in read_mergetree(spark, out).drop("yyyymm").collect()
    )

    stats = optimize_mergetree(spark, out)
    assert set(stats) == set(before)

    after = {
        os.path.basename(p): len(glob.glob(f"{p}/*.parquet"))
        for p in glob.glob(f"{out}/yyyymm=*")
    }
    assert all(n == 1 for n in after.values()), after
    post = sorted(
        tuple(r) for r in read_mergetree(spark, out).drop("yyyymm").collect()
    )
    assert pre == post, "compaction changed the data"
    # per-file time order restored
    for pdir in glob.glob(f"{out}/yyyymm=*"):
        for fpath in glob.glob(f"{pdir}/*.parquet"):
            ft = [r["time"] for r in spark.read.parquet(fpath).select("time").collect()]
            assert ft == sorted(ft)
    # idempotent: second optimize is a no-op
    assert optimize_mergetree(spark, out) == {}


def test_mergetree_schema_evolution(spark, sf_smoke):
    """Schema management parity: a later batch adds a column (the
    reference README's 'open a PR after adding the column' flow);
    mergeSchema reads must surface the union schema with NULLs for
    old rows."""
    out = os.path.join(tempfile.mkdtemp(prefix="mt_evo_"), "events_mt")
    e = table(spark, sf_smoke, "events")
    v1 = e.select(F.col("ts").alias("time"), "event_id", "event_type")
    v2 = e.select(
        F.col("ts").alias("time"), "event_id", "event_type",
        F.col("value").alias("new_metric"),
    )
    write_mergetree(v1, out, mode="append")
    write_mergetree(v2, out, mode="append")
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert "new_metric" in merged.columns
    n_total = merged.count()
    n_old = merged.where(F.col("new_metric").isNull()).count()
    assert n_total == 2 * e.count() and n_old == e.count()


def _trace_rows(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return e.select(
        F.col("ts").alias("time"),
        F.when(F.col("event_type") == "error", F.lit(40))
        .otherwise(F.lit(10))
        .cast("int")
        .alias("severity"),
        F.col("event_type").alias("type"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
        "event_id",
    )


def test_incremental_rollup_batch_invariant(spark, sf_smoke, tmp_path):
    """SummingMergeTree semantics: merging N batches must equal the
    one-shot aggregate, for any batch slicing."""
    from fdblog2clickhouse_spark.sinks.rollup import (
        batch_rollup,
        merge_rollup,
        read_rollup,
    )

    rows = _trace_rows(spark, sf_smoke)
    oneshot = {
        (r["yyyymm"], r["severity"], r["type"]): (r["n_events"], r["value_c"])
        for r in batch_rollup(rows).collect()
    }

    path = str(tmp_path / "rollup")
    b1 = rows.where(F.col("event_id") % 3 == 0)
    b2 = rows.where(F.col("event_id") % 3 == 1)
    b3 = rows.where(F.col("event_id") % 3 == 2)
    for b in (b1, b2, b3):
        merge_rollup(spark, path, b.drop("event_id"))

    merged = {
        (r["yyyymm"], r["severity"], r["type"]): (r["n_events"], r["value_c"])
        for r in read_rollup(spark, path).collect()
    }
    assert merged == oneshot


def test_rollup_foreachbatch_stream(spark, sf_smoke, tmp_path):
    """The rollup maintains itself from a real AvailableNow stream via
    foreachBatch."""
    from fdblog2clickhouse_spark.sinks.rollup import (
        batch_rollup,
        foreach_batch_rollup,
        read_rollup,
    )

    src = str(tmp_path / "src")
    rows = _trace_rows(spark, sf_smoke).drop("event_id")
    rows.coalesce(2).write.mode("overwrite").parquet(src)

    path = str(tmp_path / "rollup")
    stream = spark.readStream.schema(
        "time timestamp, severity int, type string, value_c long"
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(foreach_batch_rollup(path))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    want = {
        (r["yyyymm"], r["severity"], r["type"]): (r["n_events"], r["value_c"])
        for r in batch_rollup(rows).collect()
    }
    got = {
        (r["yyyymm"], r["severity"], r["type"]): (r["n_events"], r["value_c"])
        for r in read_rollup(spark, path).collect()
    }
    assert got == want


def test_upsert_latest_wins_any_order(spark, sf_smoke, tmp_path):
    """ReplacingMergeTree semantics: merging batches in ANY order
    yields the same latest-state table as the global dedup."""
    from fdblog2clickhouse_spark.sinks.upsert import (
        latest_per_key,
        merge_upsert,
        read_upsert,
    )

    e = table(spark, sf_smoke, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    want = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in latest_per_key(
            e, ["user_id", "event_type"], "ts", "event_id"
        ).collect()
    }

    batches = [e.where(F.col("event_id") % 3 == k) for k in (2, 0, 1)]  # shuffled order
    path = str(tmp_path / "state")
    for b in batches:
        merge_upsert(
            spark, path, b, keys=["user_id", "event_type"], version="ts", tiebreak="event_id"
        )
    got = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in read_upsert(spark, path).collect()
    }
    assert got == want


def test_mergetree_partition_pruning(spark, sf_smoke, tmp_path):
    """A yyyymm predicate must prune partition directories at plan
    time — the scan-skipping that PARTITION BY toYYYYMM(Time) buys
    the reference's MergeTree table (trace-converter.py:46-54)."""
    from fdblog2clickhouse_spark.plans import formatted_plan
    from fdblog2clickhouse_spark.sinks.mergetree import read_mergetree, write_mergetree

    path = str(tmp_path / "mt")
    # orders span 1995-2001 → many yyyymm partitions (events cover a
    # single month, which can't demonstrate pruning)
    o = table(spark, sf_smoke, "orders").select(
        F.col("o_orderdate").alias("time"), "o_orderkey", "o_totalprice"
    )
    write_mergetree(o, path, time_col="time")

    months = [r["yyyymm"] for r in read_mergetree(spark, path).select("yyyymm").distinct().collect()]
    assert len(months) > 1, "need multiple partitions to prove pruning"
    one = read_mergetree(spark, path).where(F.col("yyyymm") == months[0])
    plan = formatted_plan(one)
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
    assert pf and "yyyymm" in pf[0], f"partition filter not pushed\n{plan}"
    assert one.count() > 0


def test_hll_rollup_slicing_invariant_and_idempotent(spark, sf_smoke, tmp_path):
    """AggregatingMergeTree semantics: the register state after N
    sliced merges equals the one-shot state; re-merging an
    already-absorbed batch (at-least-once redelivery) is a no-op."""
    from fdblog2clickhouse_spark.sinks.hll_rollup import (
        batch_registers,
        merge_hll,
        read_estimate,
    )
    from fdblog2clickhouse_spark.sources.tables import table

    e = table(spark, sf_smoke, "events").select(
        "event_type", "user_id", "event_id"
    )
    oneshot = {
        (r["event_type"], r["bucket"]): r["m"]
        for r in batch_registers(e).collect()
    }

    path = str(tmp_path / "hll")
    batches = [e.where(F.col("event_id") % 3 == k) for k in range(3)]
    for b in batches:
        merge_hll(spark, path, b.drop("event_id"))
    merged = {
        (r["event_type"], r["bucket"]): r["m"]
        for r in spark.read.parquet(path).collect()
    }
    assert merged == oneshot

    est_before = sorted(map(tuple, read_estimate(spark, path).collect()))
    merge_hll(spark, path, batches[0].drop("event_id"))  # redelivery
    est_after = sorted(map(tuple, read_estimate(spark, path).collect()))
    assert est_before == est_after


# ---------------------------------------- live-HTTP leg (fake server)
#
# The POST is the reference's entire job (trace-converter.py:66-72);
# every other test runs dry_run spooling. The stdlib http.server
# fixture (`fake_ch`, tests/conftest.py — shared with the CLI watch
# integration test) exercises requests.post + raise_for_status + the
# auth tuple + batch chunking end-to-end with a real socket.

import base64

import pytest


def _http_sink(url: str) -> ClickHouseHttpSink:
    return ClickHouseHttpSink(
        addr=url, database="tracedb", table="trace", user="u1", password="p1"
    )


def test_http_insert_posts_batches_with_auth(spark, sf_smoke, fake_ch):
    url, received, _ = fake_ch
    rows = _trace_rows(spark, sf_smoke).limit(10).repartition(1)
    _http_sink(url).insert(rows, batch_size=4)

    assert len(received) == 3  # 10 rows, 1 partition, batches of 4/4/2
    expected_auth = "Basic " + base64.b64encode(b"u1:p1").decode()
    got = []
    for r in received:
        assert r["auth"] == expected_auth
        assert r["params"]["database"] == "tracedb"
        assert r["params"]["query"] == "INSERT INTO trace FORMAT JSONEachRow"
        got.extend(json.loads(line) for line in r["body"].splitlines())
    assert sorted(len(r["body"].splitlines()) for r in received) == [2, 4, 4]
    assert len(got) == 10
    assert all("severity" in rec and "time" in rec for rec in got)


def test_http_create_schema_posts_db_then_ddl(spark, fake_ch):
    url, received, _ = fake_ch
    ddl = _http_sink(url).create_schema(TRACE_COLUMNS)
    assert len(received) == 2
    assert received[0]["body"] == "CREATE DATABASE IF NOT EXISTS tracedb"
    assert "database" not in received[0]["params"]
    assert received[1]["params"]["database"] == "tracedb"
    assert received[1]["body"] == ddl
    assert "ENGINE = MergeTree()" in received[1]["body"]


def test_http_insert_raises_on_non_200(spark, sf_smoke, fake_ch):
    url, received, state = fake_ch
    state["status"] = 500
    rows = _trace_rows(spark, sf_smoke).limit(3).repartition(1)
    with pytest.raises(Exception, match="500"):
        _http_sink(url).insert(rows)
    assert received, "server never saw the failing POST"


def test_http_create_schema_raises_on_non_200(fake_ch):
    url, _, state = fake_ch
    state["status"] = 403
    with pytest.raises(Exception, match="403"):
        _http_sink(url).create_schema(TRACE_COLUMNS)


def test_hist_sink_slicing_invariant(spark, sf_smoke, tmp_path):
    """Per-bin SUM merge: 1-batch and 3-batch merge orders must leave
    bit-identical state and finalized quantiles."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.sinks.hist_rollup import merge_hist, read_quantiles
    from fdblog2clickhouse_spark.sources.tables import table

    e = table(spark, sf_smoke, "events").select("event_id", "event_type", "value")
    one = str(tmp_path / "one")
    three = str(tmp_path / "three")
    merge_hist(spark, one, e.drop("event_id"))
    for i in range(3):
        merge_hist(
            spark, three,
            e.where(F.pmod(F.col("event_id"), F.lit(3)) == i).drop("event_id"),
        )
    a = sorted(map(tuple, spark.read.parquet(one).collect()))
    b = sorted(map(tuple, spark.read.parquet(three).collect()))
    assert a == b
    qa = sorted(map(tuple, read_quantiles(spark, one).collect()))
    qb = sorted(map(tuple, read_quantiles(spark, three).collect()))
    assert qa == qb


# ------------------------------- state sinks: exactly-once + crash point
#
# The four state sinks (SUM rollup, SUM histogram, MAX-register HLL,
# latest-wins upsert) share one merge and one commit (sinks/state.py,
# fdblog2clickhouse_spark/storage.py); these pins run each of them
# through replay and through a crash inside the commit.

_STATE_SINKS = ["rollup", "hist", "hll", "upsert"]
_UPSERT_KW = {"keys": ["user_id", "event_type"], "version": "ts", "tiebreak": "event_id"}
_QUERY_ID = "sql.streaming.queryId"


def _state_sink(name):
    """(merge(spark, path, df), foreachBatch hook factory(path))."""
    from functools import partial

    if name == "rollup":
        from fdblog2clickhouse_spark.sinks.rollup import (
            foreach_batch_rollup,
            merge_rollup,
        )

        return merge_rollup, foreach_batch_rollup
    if name == "hist":
        from fdblog2clickhouse_spark.sinks.hist_rollup import (
            foreach_batch_hist,
            merge_hist,
        )

        return merge_hist, foreach_batch_hist
    if name == "hll":
        from fdblog2clickhouse_spark.sinks.hll_rollup import (
            foreach_batch_hll,
            merge_hll,
        )

        return merge_hll, foreach_batch_hll
    from fdblog2clickhouse_spark.sinks.upsert import (
        foreach_batch_upsert,
        merge_upsert,
    )

    return partial(merge_upsert, **_UPSERT_KW), partial(foreach_batch_upsert, **_UPSERT_KW)


def _state_sink_rows(spark, sf_dir):
    """Every column any of the four sinks reads."""
    e = table(spark, sf_dir, "events")
    return e.select(
        F.col("ts").alias("time"),
        F.when(F.col("event_type") == "error", F.lit(40))
        .otherwise(F.lit(10))
        .cast("int")
        .alias("severity"),
        F.col("event_type").alias("type"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
        "event_type",
        "value",
        "user_id",
        "ts",
        "event_id",
    )


def _state(spark, path):
    df = spark.read.parquet(path)
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


@pytest.mark.parametrize("sink", _STATE_SINKS)
def test_state_sink_replay_is_exactly_once(spark, sf_smoke, tmp_path, sink):
    """foreachBatch replay: the same (batch, batch_id) delivered twice
    under one streaming query id leaves the state of one delivery.
    A fresh checkpoint — new
    query id, batch ids restarting at 0 — still merges, and the
    result equals plain direct merges of the two batches."""
    merge, hook = _state_sink(sink)
    rows = _state_sink_rows(spark, sf_smoke)
    b0 = rows.where(F.col("event_id") % 2 == 0)
    b1 = rows.where(F.col("event_id") % 2 == 1)
    once, twice, direct = (str(tmp_path / n) for n in ("once", "twice", "direct"))

    sc = spark.sparkContext
    try:
        sc.setLocalProperty(_QUERY_ID, "query-a")
        hook(once)(b0, 0)
        hook(twice)(b0, 0)
        hook(twice)(b0, 0)  # replay of batch 0
        assert _state(spark, twice) == _state(spark, once)

        sc.setLocalProperty(_QUERY_ID, "query-b")
        hook(once)(b1, 0)
        hook(twice)(b1, 0)
    finally:
        sc.setLocalProperty(_QUERY_ID, None)
    merge(spark, direct, b0)
    merge(spark, direct, b1)
    assert _state(spark, once) == _state(spark, direct)
    assert _state(spark, twice) == _state(spark, direct)


def _truncated_then_raise(write, target_arg: int):
    """A writer that leaves half of what `write` writes at its
    positional argument `target_arg`, a file path, then fails."""

    def crash(*args, **kwargs):
        write(*args, **kwargs)
        target = args[target_arg]
        with open(target, "r+b") as f:
            f.truncate(os.path.getsize(target) // 2)
        raise OSError("simulated crash inside the staging write")

    return crash


@pytest.mark.parametrize(
    "sink, crash",
    [pytest.param(s, "publish", id=s) for s in _STATE_SINKS]
    + [pytest.param(s, "staging_write", id=f"{s}-staging_write") for s in _STATE_SINKS],
)
def test_state_sink_crash_before_publish_heals(
    spark, sf_smoke, tmp_path, monkeypatch, sink, crash
):
    """Two crashes inside the commit. `publish`: after the live state
    is renamed aside and before the new state is published; the next
    merge heals the aside back. `staging_write`: the staging write
    leaves a truncated file and raises (the state file of a bounded
    state, the watermark of the upsert state, which Spark writes); the
    live state is untouched. Either way the stream's redelivery of the
    failed batch ends in the state of a run with no crash."""
    import pyarrow.parquet as pq

    from fdblog2clickhouse_spark import storage

    merge, _ = _state_sink(sink)
    rows = _state_sink_rows(spark, sf_smoke)
    # user slices: every sink's state (HLL registers and upsert keys
    # included) depends on the lost batch
    batches = [rows.where(F.pmod("user_id", F.lit(3)) == k) for k in range(3)]
    clean, path = str(tmp_path / "clean"), str(tmp_path / "state")
    for b in batches:
        merge(spark, clean, b)

    merge(spark, path, batches[0])
    before = _state(spark, path)
    if crash == "publish":
        real_rename = os.rename

        def crash_on_publish(src, dst):
            if dst == path:
                raise OSError("simulated crash before publish")
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", crash_on_publish)
    elif sink == "upsert":
        monkeypatch.setattr(storage, "write_json", _truncated_then_raise(storage.write_json, 0))
    else:
        monkeypatch.setattr(pq, "write_table", _truncated_then_raise(pq.write_table, 1))
    with pytest.raises(OSError, match="simulated crash"):
        merge(spark, path, batches[1])
    monkeypatch.undo()
    if crash == "publish":
        assert not os.path.exists(path)
    else:
        assert _state(spark, path) == before
        assert os.listdir(path + storage.STAGING)  # the truncated leftover

    merge(spark, path, batches[1])  # at-least-once redelivery
    merge(spark, path, batches[2])
    assert _state(spark, path) == _state(spark, clean)


@pytest.mark.parametrize("sink", _STATE_SINKS)
def test_state_sink_folds_a_spark_written_state(spark, sf_smoke, tmp_path, sink):
    """A state committed by Spark's own parquet writer (`part-*`
    files, `_SUCCESS`, `.crc` checksums), as every state was before
    bounded states moved to the Arrow writer, folds the next batch to
    the rows of a clean run, and a replay of its recorded batch is
    still skipped."""
    from fdblog2clickhouse_spark.sinks.state import _MARKS, _columns

    merge, hook = _state_sink(sink)
    rows = _state_sink_rows(spark, sf_smoke)
    b0 = rows.where(F.col("event_id") % 2 == 0)
    b1 = rows.where(F.col("event_id") % 2 == 1)
    clean, old = str(tmp_path / "clean"), str(tmp_path / "old")
    merge(spark, clean, b0)
    merge(spark, clean, b1)

    fold = _fold(sink)(b0)
    fold.coalesce(1).write.parquet(old)
    with open(os.path.join(old, _MARKS), "w") as f:
        json.dump({"columns": _columns(fold), "batches": {"query-a": 0}}, f)
    names = os.listdir(old)
    assert "_SUCCESS" in names
    assert any(n.startswith("part-") and n.endswith(".snappy.parquet") for n in names)
    assert any(n.endswith(".crc") for n in names)

    sc = spark.sparkContext
    try:
        sc.setLocalProperty(_QUERY_ID, "query-a")
        hook(old)(b0, 0)  # replay of the recorded batch
        hook(old)(b1, 1)
    finally:
        sc.setLocalProperty(_QUERY_ID, None)
    assert _state(spark, old) == _state(spark, clean)


# A merge folds the batch into the stored state in one aggregation.
# Rollup, histogram and HLL fold a batch of at most ONE_TASK_PARTITIONS
# partitions in one task (1 Spark job, the fold's collect to the
# driver; their state is read and written there, with no Spark job)
# and pre-aggregate a larger one in parallel (2 jobs: its map stage
# and the collect); upsert always runs one key-partitioned window (2
# jobs: its map stage and the write). The state is read under the
# fold's own schema, and the stored columns are recorded.

_JOBS_PER_MERGE = {"rollup": (1, 2), "hist": (1, 2), "hll": (1, 2), "upsert": (2, 2)}


def _fold(name):
    """The sink's public `combine(lift(df))` at its own grain."""
    from functools import partial

    from fdblog2clickhouse_spark.sinks.hist_rollup import batch_bins
    from fdblog2clickhouse_spark.sinks.hll_rollup import batch_registers
    from fdblog2clickhouse_spark.sinks.rollup import batch_rollup
    from fdblog2clickhouse_spark.sinks.upsert import latest_per_key

    return {
        "rollup": batch_rollup,
        "hist": batch_bins,
        "hll": batch_registers,
        "upsert": partial(latest_per_key, **_UPSERT_KW),
    }[name]


def _jobs(spark, name, fn) -> int:
    """Spark jobs that `fn()` runs."""
    sc = spark.sparkContext
    group = f"test-state-sink-jobs-{name}"
    sc.setJobGroup(group, "state sink fold")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sink", _STATE_SINKS)
def test_state_sink_merge_jobs_and_schema(spark, sf_smoke, tmp_path, sink):
    """Two file batches merged into existing state, one of
    ONE_TASK_PARTITIONS partitions and one of more, run the sink's job
    counts. The state is read under `combine(lift(batch)).schema`, so
    that schema must be the one Spark reads back from the committed
    state (every column nullable)."""
    from fdblog2clickhouse_spark.sinks.state import ONE_TASK_PARTITIONS as N

    merge, hook = _state_sink(sink)
    rows = _state_sink_rows(spark, sf_smoke)
    files = str(tmp_path / "batch")
    rows.repartition(2 * N + 1).write.parquet(files)
    parts = sorted(glob.glob(os.path.join(files, "part-*")))
    small, large = spark.read.parquet(*parts[:N]), spark.read.parquet(*parts[N:])
    assert small.rdd.getNumPartitions() == N < large.rdd.getNumPartitions()

    path = str(tmp_path / "state")
    merge(spark, path, rows.where(F.col("event_id") % 2 == 0))
    odd = F.col("event_id") % 2 == 1
    jobs = (
        _jobs(spark, f"{sink}-small", lambda: hook(path)(small.where(odd), 0)),
        _jobs(spark, f"{sink}-large", lambda: hook(path)(large.where(odd), 1)),
    )
    assert jobs == _JOBS_PER_MERGE[sink]

    direct = str(tmp_path / "direct")
    merge(spark, direct, rows)
    assert _state(spark, path) == _state(spark, direct)
    fold = _fold(sink)(rows).schema
    back = spark.read.parquet(path).schema
    assert [(f.name, f.dataType) for f in fold] == [(f.name, f.dataType) for f in back]
    assert all(f.nullable for f in back)


def test_upsert_merge_refuses_changed_columns(spark, sf_smoke, tmp_path):
    """The upsert state keeps whatever columns its stream selects.
    A batch that drops a stored column, or adds one, raises instead
    of dropping or NULL-filling a column, and the state is left as
    it was."""
    merge, _ = _state_sink("upsert")
    rows = _state_sink_rows(spark, sf_smoke)
    path = str(tmp_path / "state")
    merge(spark, path, rows.where(F.col("event_id") % 2 == 0))
    before = _state(spark, path)
    odd = rows.where(F.col("event_id") % 2 == 1)
    for batch in (odd.drop("value_c"), odd.withColumn("extra", F.lit(1))):
        with pytest.raises(ValueError, match="columns"):
            merge(spark, path, batch)
    assert _state(spark, path) == before


def test_state_sink_keeps_a_legacy_watermark(spark, sf_smoke, tmp_path):
    """A state whose `_batches.json` is the bare {query id: batch id}
    map, written before the columns were recorded, still skips a
    replayed batch; its next merge records the columns."""
    _, hook = _state_sink("rollup")
    rows = _state_sink_rows(spark, sf_smoke)
    path = str(tmp_path / "state")
    marks = os.path.join(path, "_batches.json")
    sc = spark.sparkContext
    try:
        sc.setLocalProperty(_QUERY_ID, "query-a")
        hook(path)(rows, 0)
        with open(marks, "w") as f:
            json.dump({"query-a": 0}, f)
        before = _state(spark, path)
        hook(path)(rows, 0)  # replay of batch 0
        assert _state(spark, path) == before
        hook(path)(rows, 1)
    finally:
        sc.setLocalProperty(_QUERY_ID, None)
    with open(marks) as f:
        meta = json.load(f)
    assert meta["batches"] == {"query-a": 1}
    assert [c for c, _ in meta["columns"]] == spark.read.parquet(path).columns


# ------------------------------- optimize_mergetree: reader-safe publish


def _appended_mergetree(spark, sf_dir, tmp_path):
    """A MergeTree table with ≥2 files per partition, and its rows."""
    path = str(tmp_path / "mt")
    e = table(spark, sf_dir, "events").select(
        F.col("ts").alias("time"), "event_id", "event_type", "value"
    )
    for i in range(2):
        write_mergetree(e.where(F.col("event_id") % 2 == i), path)
    back = read_mergetree(spark, path)
    assert dict(back.dtypes)["yyyymm"] == "int"
    return path, sorted(map(tuple, back.collect()))


def _assert_mergetree_rows(spark, path, want):
    back = read_mergetree(spark, path)
    assert dict(back.dtypes)["yyyymm"] == "int"
    assert sorted(map(tuple, back.collect())) == want


def test_optimize_mergetree_failed_publish_keeps_table(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """The first compacted partition is staged, then its publish into
    the live table fails once: the writer rolls its own attempt back
    (no journal, no aside left behind), and readers see exactly the
    pre-optimize rows, with an int yyyymm (a staging dir inside the
    table would show up as an extra, string-typed partition)."""
    from fdblog2clickhouse_spark import storage
    from fdblog2clickhouse_spark.sinks.mergetree import optimize_mergetree

    path, pre = _appended_mergetree(spark, sf_smoke, tmp_path)
    real_rename = os.rename
    failed = []

    def fail_publish_once(src, dst):
        if os.path.basename(dst).startswith("yyyymm=") and not failed:
            failed.append(dst)
            raise OSError("simulated publish failure")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", fail_publish_once)
    with pytest.raises(OSError, match="simulated publish failure"):
        optimize_mergetree(spark, path)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(os.path.join(path, storage._FOLD_JOURNAL))
    assert not glob.glob(os.path.join(path, storage._BFOLD_PREFIX + "*"))
    assert not glob.glob(path + storage._BFOLD_PREFIX + "*")  # staging
    _assert_mergetree_rows(spark, path, pre)
    assert not glob.glob(os.path.join(path, "*.*"))  # no staging inside


def test_optimize_mergetree_crash_mid_publish_heals_on_read(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """The optimize's writer process dies after renaming a partition
    aside and before publishing its compacted copy — the partition is
    missing from the live table. The next read heals the table back
    to the pre-optimize rows, and the next optimize converges."""
    import subprocess
    import sys
    import textwrap

    from fdblog2clickhouse_spark import storage
    from fdblog2clickhouse_spark.sinks.mergetree import optimize_mergetree

    path, pre = _appended_mergetree(spark, sf_smoke, tmp_path)
    staged = []
    monkeypatch.setattr(storage, "publish_partitions", lambda *a: staged.append(a))
    optimize_mergetree(spark, path)
    monkeypatch.undo()
    compacted = {a[2][0] for a in staged}
    # each partition is staged on its own; staging the next one reaps
    # the previous (unpublished) staging dir, so the last survives
    _, staging, rels = staged[-1][:3]

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {repo!r})
        from fdblog2clickhouse_spark import storage
        real_rename = os.rename
        def crash_on_publish(src, dst):
            if os.path.basename(dst).startswith("yyyymm="):
                os._exit(3)
            real_rename(src, dst)
        os.rename = crash_on_publish
        storage.publish_partitions({path!r}, {staging!r}, {rels!r})
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", child], capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 3, proc.stdout + proc.stderr
    assert not os.path.isdir(os.path.join(path, rels[0]))
    assert os.path.isdir(os.path.join(path, storage._BFOLD_PREFIX + rels[0]))

    _assert_mergetree_rows(spark, path, pre)
    assert not os.path.exists(os.path.join(path, storage._FOLD_JOURNAL))
    assert set(optimize_mergetree(spark, path)) == compacted
    _assert_mergetree_rows(spark, path, pre)


# The insert runs one Spark job and no Python worker task: the encoded
# lines come to the driver as Arrow and the driver POSTs them.

def _multi_partition_batch(spark):
    """A 4-partition micro-batch with no shuffle in its plan, with
    quotes, a backslash and non-ASCII text for to_json to escape."""
    return spark.range(0, 103, 1, 4).select(
        F.col("id"),
        F.concat(F.lit('m-"é\\'), F.col("id").cast("string")).alias("machine"),
        F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(F.col("id") * 0.5).alias("x"),
    )


def test_foreach_batch_runs_one_spark_job(spark, fake_ch, capsys):
    url, received, _ = fake_ch
    sc = spark.sparkContext
    batch = _multi_partition_batch(spark)
    assert batch.rdd.getNumPartitions() > 1
    group = "test-foreach-batch-jobs"
    sc.setJobGroup(group, "ClickHouse sink foreach_batch")
    try:
        _http_sink(url).foreach_batch()(batch, 7)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert sum(len(r["body"].splitlines()) for r in received) == 103
    assert "batch 7: rows=103 " in capsys.readouterr().out


def test_insert_returns_count_and_posts_joined_lines(spark, fake_ch):
    url, received, _ = fake_ch
    batch = _multi_partition_batch(spark)
    lines = [r["line"] for r in jsoneachrow(batch).collect()]
    assert _http_sink(url).insert(batch) == 103
    assert [r["body"].encode() for r in received] == ["\n".join(lines).encode()]


def test_insert_empty_batch_posts_nothing(spark, fake_ch):
    url, received, _ = fake_ch
    assert _http_sink(url).insert(_multi_partition_batch(spark).limit(0)) == 0
    assert received == []
