"""Streaming ingestion tests (SURVEY §2.7) — the reference's
inotify→batch→sink loop, Spark-native, exercised end to end."""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F

from fdblog2clickhouse_spark.sources.tables import table
from fdblog2clickhouse_spark.streaming import queries as sq

from .oracle import compare


def test_streaming_trace_ingest_oracle(spark, sf_smoke):
    df = sq.streaming_trace_ingest(spark, sf_smoke)
    assert df.columns == ["severity", "machine", "log_group", "time_us", "type", "id"]
    compare(df, sq.ORACLE["streaming_trace_ingest"], sf_smoke)


def test_streaming_windowed_counts_oracle(spark, sf_oracle):
    df = sq.streaming_windowed_counts(spark, sf_oracle)
    compare(df, sq.ORACLE["streaming_windowed_counts"], sf_oracle)


def test_streaming_dedup_events_oracle(spark, sf_smoke):
    """Double-delivered rotations collapse to the single-copy batch
    result via the dropDuplicates state store."""
    df = sq.streaming_dedup_events(spark, sf_smoke)
    compare(df, sq.ORACLE["streaming_dedup_events"], sf_smoke)


def test_gz_compressed_rotations_read_identically(spark, sf_smoke):
    """Rotated logs are commonly gzipped; the JSON source must read
    .json.gz transparently and produce the identical normalized rows."""
    import gzip
    import shutil

    from fdblog2clickhouse_spark.sources.trace_json import read_trace_batch
    from fdblog2clickhouse_spark.streaming.ingest import normalize_trace

    base = tempfile.mkdtemp(prefix="gz_trace_")
    plain, gzdir = os.path.join(base, "plain"), os.path.join(base, "gz")
    sq._export_trace_logs(spark, sf_smoke, plain)
    os.makedirs(gzdir)
    for f in glob.glob(os.path.join(plain, "*.json")):
        with open(f, "rb") as src, gzip.open(
            os.path.join(gzdir, os.path.basename(f) + ".gz"), "wb"
        ) as dst:
            shutil.copyfileobj(src, dst)

    want = normalize_trace(read_trace_batch(spark, plain))
    got = normalize_trace(read_trace_batch(spark, gzdir))
    key = lambda r: (r["id"], r["time"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    assert got.count() == want.count() > 0


def test_mixed_rotation_export_really_gzips(spark, sf_smoke):
    """The ingest ops read a mixed plain/.json.gz rotation set; this
    pins that the export actually produces BOTH kinds (if it silently
    stopped gzipping, the oracle rows would no longer prove
    compressed ingestion)."""
    base = tempfile.mkdtemp(prefix="mixed_rot_")
    sq._export_mixed_rotation_logs(spark, sf_smoke, base)
    gz = glob.glob(os.path.join(base, "logs_gz", "*.json.gz"))
    plain = glob.glob(os.path.join(base, "logs_plain", "*.json"))
    assert gz and plain
    # both halves are non-empty (events split by parity)
    assert any(os.path.getsize(f) > 0 for f in gz)


def test_trace_json_batch_ingest_oracle(spark, sf_smoke):
    """Batch ingest over the mixed plain+gz rotation glob matches the
    direct SQL projection of events — losslessly, including the
    gzipped half."""
    from fdblog2clickhouse_spark.sources import trace_json

    df = trace_json.trace_json_batch_ingest(spark, sf_smoke)
    compare(df, trace_json.ORACLE["trace_json_batch_ingest"], sf_smoke)


def test_trace_json_batch_ingest_reuses_one_scratch_dir(spark, sf_smoke):
    """Each call rewrites one per-process scratch dir of rotated logs
    instead of leaving a new temp tree behind."""
    import tempfile

    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path
    from fdblog2clickhouse_spark.sources import trace_json

    def trees():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "*trace_batch*")))

    before = trees()
    trace_json.trace_json_batch_ingest(spark, sf_smoke)
    n = trace_json.trace_json_batch_ingest(spark, sf_smoke).count()
    assert trees() - before <= {scratch_path("trace_batch")}
    assert os.path.isdir(scratch_path("trace_batch")) and n > 0


def test_streaming_rollup_ingest_oracle(spark, sf_smoke):
    df = sq.streaming_rollup_ingest(spark, sf_smoke)
    compare(df, sq.ORACLE["streaming_rollup_ingest"], sf_smoke)


def test_streaming_upsert_ingest_oracle(spark, sf_smoke):
    df = sq.streaming_upsert_ingest(spark, sf_smoke)
    compare(df, sq.ORACLE["streaming_upsert_ingest"], sf_smoke)


def test_streaming_view_purchase_join_oracle(spark, sf_smoke):
    df = sq.streaming_view_purchase_join(spark, sf_smoke)
    compare(df, sq.ORACLE["streaming_view_purchase_join"], sf_smoke)
    assert all(0 <= r["gap_us"] <= 30 * 60 * 1_000_000 for r in df.collect())


def test_streaming_hll_rollup_oracle(spark, sf_smoke):
    df = sq.streaming_hll_rollup(spark, sf_smoke)
    compare(df, sq.ORACLE["streaming_hll_rollup"], sf_smoke)


def test_rollup_checkpoint_restart_exactly_once(spark, sf_smoke, tmp_path):
    """Exactly-once resumption: drain half the files, then restart
    with the SAME checkpoint after more files arrive — already-seen
    files must not be re-merged (the sum-rollup would double-count),
    and the final state equals the one-shot batch aggregate."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.sinks.rollup import (
        batch_rollup,
        foreach_batch_rollup,
        read_rollup,
    )
    from fdblog2clickhouse_spark.sources.tables import table

    rows = table(spark, sf_smoke, "events").select(
        F.col("ts").alias("time"),
        F.when(F.col("event_type") == "error", F.lit(40))
        .otherwise(F.lit(10))
        .cast("int")
        .alias("severity"),
        F.col("event_type").alias("type"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_c"),
        "event_id",
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "rollup")
    half1 = rows.where(F.col("event_id") % 2 == 0).drop("event_id")
    half2 = rows.where(F.col("event_id") % 2 == 1).drop("event_id")
    half1.coalesce(1).write.mode("append").parquet(src)

    def drain():
        q = (
            spark.readStream.schema(
                "time timestamp, severity int, type string, value_c long"
            )
            .parquet(src)
            .writeStream.foreachBatch(foreach_batch_rollup(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    half2.coalesce(1).write.mode("append").parquet(src)
    drain()  # restart from the same checkpoint

    want = {
        (r["yyyymm"], r["severity"], r["type"]): (r["n_events"], r["value_c"])
        for r in batch_rollup(rows.drop("event_id")).collect()
    }
    got = {
        (r["yyyymm"], r["severity"], r["type"]): (r["n_events"], r["value_c"])
        for r in read_rollup(spark, out).collect()
    }
    assert got == want


def test_processing_time_trigger_files_arriving_mid_query(spark, sf_smoke, tmp_path):
    """The live-inotify behavior AvailableNow can't exercise
    (VERDICT r7 item #7): a processingTime-trigger query must pick up
    files that LAND WHILE IT IS RUNNING, and after draining both
    waves the memory sink must equal the batch result over the same
    files — the reference's watch loop contract (entrypoint.sh:29,
    one rotated file per batch)."""
    import uuid as _uuid

    from fdblog2clickhouse_spark.sources.trace_json import read_trace_batch
    from fdblog2clickhouse_spark.streaming.ingest import (
        normalize_trace,
        read_trace_stream,
    )

    wave1 = str(tmp_path / "w1")
    wave2 = str(tmp_path / "w2")
    log_dir = str(tmp_path / "logs")
    os.makedirs(log_dir)
    sq._export_trace_logs(spark, sf_smoke, wave1, where=F.col("event_id") % 2 == 0)
    sq._export_trace_logs(spark, sf_smoke, wave2, where=F.col("event_id") % 2 == 1)

    def land(src_dir):
        # land files the way rotation does: whole files appearing
        for i, f in enumerate(glob.glob(f"{src_dir}/*.json")):
            os.rename(f, os.path.join(log_dir, f"{os.path.basename(src_dir)}-{i}.json"))

    land(wave1)
    name = f"pt_ingest_{_uuid.uuid4().hex[:8]}"
    stream = normalize_trace(read_trace_stream(spark, log_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.table(name).count()
        assert n1 > 0
        land(wave2)  # files arrive MID-QUERY
        q.processAllAvailable()
        n2 = spark.table(name).count()
    finally:
        q.stop()

    batch = normalize_trace(read_trace_batch(spark, log_dir))
    expect = batch.count()
    assert n1 < n2 == expect
    # value-level equality, not just counts
    streamed = sorted(
        tuple(r) for r in spark.table(name).select("severity", "machine", "type", "id").collect()
    )
    batched = sorted(
        tuple(r) for r in batch.select("severity", "machine", "type", "id").collect()
    )
    assert streamed == batched


def test_streaming_incremental_dedup_oracle(spark, sf_smoke):
    compare(
        sq.streaming_incremental_dedup(spark, sf_smoke),
        sq.ORACLE["streaming_incremental_dedup"],
        sf_smoke,
    )


def test_streaming_incremental_matches_batch_incremental(spark, sf_oracle):
    """While no bucket exceeds the cap (true at this SF), the
    stateless stream-static plan must produce exactly the batch
    incremental op's pairs — the streaming path is the same
    signature store + band join + exact verify, just computed
    in-row per arriving doc instead of via a corpus aggregate."""
    from fdblog2clickhouse_spark.operators import dedup as dd

    batch = {
        (r["new_doc_id"], r["base_doc_id"], round(r["jaccard"], 12))
        for r in dd.dedup_incremental_minhash(spark, sf_oracle).collect()
    }
    stream = {
        (r["new_doc_id"], r["base_doc_id"], round(r["jaccard"], 12))
        for r in sq.streaming_incremental_dedup(spark, sf_oracle).collect()
    }
    assert stream == batch and batch


def test_streaming_ivf_insert_oracle(spark, sf_smoke):
    from fdblog2clickhouse_spark.streaming import queries as sq

    compare(
        sq.streaming_ivf_insert(spark, sf_smoke),
        sq.ORACLE["streaming_ivf_insert"],
        sf_smoke,
    )


def test_streaming_ivf_insert_matches_batch_lifecycle(spark, sf_oracle):
    """Micro-batched insert through the persisted codebook must be
    byte-identical to the batch build+insert lifecycle
    (`ann_ivf_store_search`) — the slicing-independence claim at the
    DataFrame level, independent of the DuckDB oracle."""
    from fdblog2clickhouse_spark.operators import ann_store
    from fdblog2clickhouse_spark.streaming import queries as sq

    via_stream = sorted(
        map(tuple, sq.streaming_ivf_insert(spark, sf_oracle).collect())
    )
    via_batch = sorted(
        map(tuple, ann_store.ann_ivf_store_search(spark, sf_oracle).collect())
    )
    assert via_stream == via_batch

def test_streaming_insert_into_codes_bearing_ivfpq(spark, tmp_path):
    """VERDICT r15 #4: a stream pointed at a codes-bearing IVF-PQ
    index must not silently degrade compressed search. The streaming
    insert now routes through `ivf_insert_batch` (the insert-vectors
    kernel), which appends residual PQ codes per micro-batch — so
    after the drain the artifact set stays coherent (codes cover
    every listed vector) and `search-ivfpq`'s plan can ANSWER with
    streamed vectors."""
    from fdblog2clickhouse_spark import cli
    from fdblog2clickhouse_spark.operators.dedup import quantize
    from fdblog2clickhouse_spark.operators.ann_store import (
        ivf_codes_path,
        ivf_insert_batch,
        ivfpq_store_search_plan,
    )

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    base_p = str(tmp_path / "base")
    emb.where(F.pmod("vec_id", F.lit(10)) != 0).coalesce(1).write.parquet(
        base_p
    )
    index = str(tmp_path / "index")
    cb = os.path.join(index, "codebook")
    lists = os.path.join(index, "lists")
    codes = ivf_codes_path(lists)
    assert cli.main(["build-ivfpq", base_p, index, "--centroids", "4"]) == 0
    n_base = spark.read.parquet(lists).count()

    # arrivals: the insert slice as 2 integer-exact JSON rotations
    arrivals = str(tmp_path / "rotations")
    all_p = str(tmp_path / "all")
    emb.coalesce(1).write.parquet(all_p)
    qn = quantize(spark.read.parquet(all_p)).cache()
    qn.where(F.pmod("vec_id", F.lit(10)) == 0).coalesce(2).write.json(
        arrivals
    )

    def insert(batch_df, batch_id):
        ivf_insert_batch(batch_df.sparkSession, batch_df, cb, lists)

    q = (
        spark.readStream.schema("vec_id long, q array<long>, nq long")
        .option("maxFilesPerTrigger", 1)
        .json(arrivals)
        .writeStream.foreachBatch(insert)
        .option("checkpointLocation", arrivals + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    li = spark.read.parquet(lists)
    co = spark.read.parquet(codes)
    n_all = li.count()
    assert n_all > n_base
    # the coherence the old lists-only leg broke: EVERY listed vector
    # has codes, including the streamed ones
    assert co.select("vec_id").distinct().count() == n_all
    streamed = {
        r["vec_id"]
        for r in qn.where(F.pmod("vec_id", F.lit(10)) == 0)
        .select("vec_id")
        .collect()
    }
    assert streamed <= {
        r["n_id"] for r in li.select("n_id").collect()
    }
    # compressed search ANSWERS with streamed vectors (they were
    # invisible before the shared kernel)
    got = ivfpq_store_search_plan(spark, qn, cb, lists, codes)
    answered = {r["n_id"] for r in got.collect()}
    assert answered & streamed
    qn.unpersist()


def test_streaming_ivf_insert_redelivery_idempotent(spark, tmp_path):
    """VERDICT r16 #2 end-to-end: drain the SAME arrival files twice
    (a second stream with a fresh checkpoint = a full redelivery of
    every micro-batch) — the index must end byte-identical to one
    drain: no duplicate lists rows, no duplicate codes rows, no new
    parquet files."""
    import glob

    from fdblog2clickhouse_spark import cli
    from fdblog2clickhouse_spark.operators.dedup import quantize
    from fdblog2clickhouse_spark.operators.ann_store import (
        ivf_codes_path,
        ivf_insert_batch,
    )

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    base_p = str(tmp_path / "base")
    emb.where(F.pmod("vec_id", F.lit(10)) != 0).coalesce(1).write.parquet(
        base_p
    )
    index = str(tmp_path / "index")
    cb = os.path.join(index, "codebook")
    lists = os.path.join(index, "lists")
    codes = ivf_codes_path(lists)
    assert cli.main(["build-ivfpq", base_p, index, "--centroids", "4"]) == 0

    arrivals = str(tmp_path / "rotations")
    all_p = str(tmp_path / "all")
    emb.coalesce(1).write.parquet(all_p)
    qn = quantize(spark.read.parquet(all_p))
    qn.where(F.pmod("vec_id", F.lit(10)) == 0).coalesce(2).write.json(
        arrivals
    )

    def drain(ckpt: str) -> None:
        q = (
            spark.readStream.schema("vec_id long, q array<long>, nq long")
            .option("maxFilesPerTrigger", 1)
            .json(arrivals)
            .writeStream.foreachBatch(
                lambda b, _i: ivf_insert_batch(b.sparkSession, b, cb, lists)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(str(tmp_path / "ckpt1"))
    files = lambda p: sorted(
        os.path.relpath(f, p)
        for f in glob.glob(p + "/**/*.parquet", recursive=True)
    )
    rows = lambda p: sorted(map(tuple, spark.read.parquet(p).collect()))
    lf, cf = files(lists), files(codes)
    lr, cr = rows(lists), rows(codes)

    drain(str(tmp_path / "ckpt2"))  # full redelivery
    assert files(lists) == lf and files(codes) == cf
    assert rows(lists) == lr and rows(codes) == cr
    # coherent: codes cover every listed vector
    assert (
        spark.read.parquet(codes).select("vec_id").distinct().count()
        == spark.read.parquet(lists).count()
    )


def test_file_stream_misreads_batch_beside_glob_name(spark, tmp_path):
    """Pins the Spark file-stream bug `watch` and `rollup` refuse: in
    a micro-batch holding a file named with a glob character, every
    other file is read twice. If Spark fixes it this test fails, and
    the guard can go. The guard fails the batch before its hook runs
    and names the file."""
    import json
    import uuid

    import pytest

    from fdblog2clickhouse_spark.streaming.ingest import glob_name_guard, read_trace_stream

    logs = tmp_path / "logs"
    logs.mkdir()
    for name in ("a.json", "b.json", "c.json", "d[1].json"):
        (logs / name).write_text(json.dumps({"Severity": "10", "ID": name}) + "\n")
    name = f"globbug_{uuid.uuid4().hex}"
    q = (
        read_trace_stream(spark, str(logs)).writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt")).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    ids = sorted(r["ID"] for r in spark.table(name).collect())
    spark.catalog.dropTempView(name)
    assert ids == ["a.json", "a.json", "b.json", "b.json", "c.json", "c.json", "d[1].json"]

    ran = []
    with pytest.raises(ValueError, match=r"d\[1\]\.json: a glob character"):
        glob_name_guard(str(logs), lambda df, batch_id: ran.append(batch_id))(None, 0)
    os.rename(logs / "d[1].json", logs / "d1.json")
    glob_name_guard(str(logs), lambda df, batch_id: ran.append(batch_id))(None, 0)
    assert ran == [0]


def test_quoted_trace_values_normalize_like_numbers(spark, tmp_path):
    """Real FDB traces quote every value ("Severity": "10"); a quoted
    line must give the same row as its numeric twin, and a malformed
    value must become NULL without failing the read."""
    import json

    from fdblog2clickhouse_spark.sources.trace_json import read_trace_batch
    from fdblog2clickhouse_spark.streaming.ingest import normalize_trace

    events = [(10, 1706659207.545855, "a"), (40, 1700000000.25, "b"), (20, 1.5, "c")]
    for name, quote in (("numeric", lambda v: v), ("quoted", str)):
        os.makedirs(tmp_path / name)
        with open(tmp_path / name / "trace.json", "w") as f:
            for sev, t, i in events:
                f.write(json.dumps({"Severity": quote(sev), "Machine": "m", "LogGroup": "default",
                                    "Time": quote(t), "Type": "T", "ID": i}) + "\n")

    def rows(name):
        df = normalize_trace(read_trace_batch(spark, str(tmp_path / name)))
        return sorted(df.withColumn("time", F.unix_micros("time")).collect())

    numeric = rows("numeric")
    assert rows("quoted") == numeric
    assert [(r["severity"], r["time"]) for r in numeric] == [
        (10, 1706659207545855), (20, 1500000), (40, 1700000000250000),
    ]

    os.makedirs(tmp_path / "bad")
    with open(tmp_path / "bad" / "trace.json", "w") as f:
        f.write(json.dumps({"Severity": "ten", "Time": "soon", "ID": "x"}) + "\n")
    [bad] = normalize_trace(read_trace_batch(spark, str(tmp_path / "bad"))).collect()
    assert (bad["severity"], bad["time"], bad["id"]) == (None, None, "x")


def test_insert_and_rollup_later_triggers_compile_nothing(spark, fake_ch, tmp_path):
    """`watch --rollup`'s hook over five one-file rotations: from the
    third trigger on, no trigger compiles a generated class, so a
    live watch reuses its plans' code. A sink that put a per-batch
    value (the batch id, a file's time range) into generated code as
    a literal would compile again on every trigger and fail this."""
    import json

    from fdblog2clickhouse_spark.session import compiled_classes
    from fdblog2clickhouse_spark.sinks.clickhouse import ClickHouseHttpSink
    from fdblog2clickhouse_spark.sinks.rollup import foreach_batch_rollup, read_rollup
    from fdblog2clickhouse_spark.streaming.ingest import (
        insert_and_rollup,
        normalize_trace,
        read_trace_stream,
    )

    url, received, _ = fake_ch
    logs = tmp_path / "logs"
    logs.mkdir()
    rotations = 5
    for r in range(rotations):
        with open(logs / f"trace.{r}.json", "w") as f:
            for i in range(40):
                f.write(json.dumps({
                    "Severity": str((10, 20, 40)[i % 3]), "Machine": f"m{i % 4}",
                    "LogGroup": "default", "Time": f"{1706659207 + 60 * r + i}.{i:06d}",
                    "Type": f"T{(r + i) % 5}", "ID": f"{r}-{i}",
                }) + "\n")
    out = str(tmp_path / "rollup")
    both = insert_and_rollup(
        ClickHouseHttpSink(addr=url, database="tracedb", table="trace").foreach_batch(),
        foreach_batch_rollup(out),
    )
    counts = []

    def hook(df, batch_id):
        counts.append(compiled_classes(spark))
        both(df, batch_id)

    (
        normalize_trace(read_trace_stream(spark, str(logs), max_files_per_trigger=1))
        .writeStream.foreachBatch(hook)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    counts.append(compiled_classes(spark))
    assert len(counts) == rotations + 1
    # trigger k (1-based) compiled counts[k] - counts[k-1] classes
    per_trigger = [b - a for a, b in zip(counts, counts[1:])]
    assert per_trigger[2:] == [0] * (rotations - 2), per_trigger
    assert sum(len(p["body"].splitlines()) for p in received) == 40 * rotations
    assert sum(c["n_events"] for c in read_rollup(spark, out).collect()) == 40 * rotations
