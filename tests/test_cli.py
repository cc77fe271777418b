"""CLI parity tests: the reference's operational modes end to end
(dry-run spool — no network)."""

from __future__ import annotations

import os

from fdblog2clickhouse_spark import cli
from fdblog2clickhouse_spark.operators import tables


def _tbl_file_counts(path):
    """Per-file-group counts for a store table in EITHER layout:
    [top-level files] for legacy flat dirs, per-pb-partition counts
    for the round-15 bucketed layout."""
    import glob
    import os

    parts = glob.glob(os.path.join(path, "pb=*"))
    if parts:
        return [
            len(glob.glob(os.path.join(d, "*.parquet"))) for d in parts
        ]
    return [len(glob.glob(os.path.join(path, "*.parquet")))]


def _rebucket_to_64(monkeypatch, store):
    """Re-bucket every table of a rep store to 64 buckets through
    compact-store's own rule: with 0-row trigger and target, every
    non-empty table re-buckets up to the (patched) ceiling."""
    with monkeypatch.context() as m:
        m.setattr(tables, "_REBUCKET_TRIGGER_ROWS", 0)
        m.setattr(tables, "_REBUCKET_TARGET_ROWS", 0)
        m.setattr(tables, "_REBUCKET_MAX", 64)
        assert cli.main(["compact-store", store]) == 0


def test_print_schema_matches_reference_shape(capsys):
    rc = cli.main(["print-schema", "--table", "trace"])
    out = capsys.readouterr().out
    assert rc == 0
    # the reference's load-bearing DDL elements (trace-converter.py:20-61)
    assert "CREATE TABLE IF NOT EXISTS `trace`" in out
    assert "ENGINE = MergeTree()" in out
    assert "toYYYYMM(time)" in out
    assert "index_granularity=8192" in out
    assert "CODEC(Delta, ZSTD)" in out
    assert "Nullable(String)" in out


def test_alter_schema_detects_new_log_field(spark, sf_smoke, tmp_path, capsys):
    """Schema-evolution deploy gate: unchanged logs → no output;
    a new field appearing in the rotated logs → exactly one
    positioned ADD COLUMN with an inferred type (and the deployed
    specs of existing columns untouched)."""
    import json

    from fdblog2clickhouse_spark.streaming.queries import _export_trace_logs

    log_dir = str(tmp_path / "logs")
    _export_trace_logs(spark, sf_smoke, log_dir)

    rc = cli.main(["alter-schema", log_dir, "--table", "trace"])
    assert rc == 0
    assert capsys.readouterr().out.strip() == ""  # sets agree → silent

    # producer starts logging an extra field in a new rotation
    extra = {
        "Severity": 10, "Machine": "machine-1", "LogGroup": "default",
        "Time": 1700000000.25, "Type": "view", "ID": "x1",
        "TraceFile": "fdb.log.1",
    }
    with open(os.path.join(log_dir, "part-extra.json"), "w") as f:
        f.write(json.dumps(extra) + "\n")

    rc = cli.main(["alter-schema", log_dir, "--table", "trace"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [l for l in out.splitlines() if l.strip()]
    assert len(lines) == 1
    assert "ADD COLUMN IF NOT EXISTS `trace_file` Nullable(String)" in lines[0]
    assert "AFTER" in lines[0]
    assert "MODIFY" not in out  # deployed specs never clobbered


def test_watch_once_drains_to_sink(spark, sf_smoke, tmp_path):
    """The reference's main loop end to end: rotated logs → stream →
    foreachBatch → (spooled) ClickHouse sink, drained by --once."""
    import json

    from fdblog2clickhouse_spark.streaming.queries import _export_trace_logs

    log_dir = str(tmp_path / "logs")
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    _export_trace_logs(spark, sf_smoke, log_dir)

    rc = cli.main(
        ["--spool-dir", spool, "watch", log_dir, "--once", "--checkpoint", ckpt]
    )
    assert rc == 0
    lines = []
    for b in os.listdir(spool):
        with open(os.path.join(spool, b)) as f:
            lines.extend(x for x in f.read().splitlines() if x.strip())
    from fdblog2clickhouse_spark.sources.tables import table

    assert len(lines) == table(spark, sf_smoke, "events").count()
    row = json.loads(lines[0])
    assert set(row) <= {"severity", "machine", "log_group", "time", "type", "id"}


def test_watch_completion_file_sentinel(spark, sf_smoke, tmp_path):
    """Parity with entrypoint.sh:22-24: the continuous watch loop must
    drain pending logs and exit cleanly when the completion sentinel
    appears (the simulation harness's `sim-completed` handshake)."""
    import threading
    import time

    from fdblog2clickhouse_spark.streaming.queries import _export_trace_logs

    log_dir = str(tmp_path / "logs")
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    sentinel = str(tmp_path / "sim-completed")
    _export_trace_logs(spark, sf_smoke, log_dir)

    rc: list[int] = []
    t = threading.Thread(
        target=lambda: rc.append(
            cli.main(
                [
                    "--spool-dir", spool,
                    "watch", log_dir,
                    "--checkpoint", ckpt,
                    "--completion-file", sentinel,
                ]
            )
        )
    )
    t.start()
    # let the stream pick up the exported logs, then signal completion
    deadline = time.time() + 60
    while time.time() < deadline:
        if os.path.isdir(spool) and os.listdir(spool):
            break
        time.sleep(0.5)
    open(sentinel, "w").close()
    t.join(timeout=90)
    assert not t.is_alive(), "watch did not exit on completion file"
    assert rc == [0]
    lines = []
    for b in os.listdir(spool):
        with open(os.path.join(spool, b)) as f:
            lines.extend(x for x in f.read().splitlines() if x.strip())
    from fdblog2clickhouse_spark.sources.tables import table

    assert len(lines) == table(spark, sf_smoke, "events").count()


def test_ingest_spools_jsoneachrow(spark, sf_smoke, tmp_path, capsys):
    from fdblog2clickhouse_spark.streaming.queries import _export_trace_logs

    log_dir = str(tmp_path / "logs")
    spool = str(tmp_path / "spool")
    _export_trace_logs(spark, sf_smoke, log_dir)

    rc = cli.main(["--spool-dir", spool, "ingest", log_dir])
    assert rc == 0
    batches = os.listdir(spool)
    assert batches, "no payload spooled"
    n_lines = 0
    for b in batches:
        with open(os.path.join(spool, b)) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        assert all(ln.startswith("{") for ln in lines)  # JSONEachRow
        n_lines += len(lines)
    n_events = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    assert n_lines == n_events


def test_ingest_delete_logs_removes_exactly_what_it_ingested(spark, sf_smoke, tmp_path, capsys):
    """`ingest --delete-logs` on a mixed .json/.json.gz rotation dir:
    exit 0, every event spooled exactly once, the source dir empty."""
    import glob
    import json
    import shutil

    from fdblog2clickhouse_spark.streaming.queries import _export_mixed_rotation_logs

    log_dir = tmp_path / "logs"
    log_dir.mkdir()
    for f in glob.glob(_export_mixed_rotation_logs(spark, sf_smoke, str(tmp_path)) + "/part-*"):
        shutil.move(f, log_dir)
    assert {f.split(".", 1)[1] for f in os.listdir(log_dir)} == {"json", "json.gz"}
    spool = str(tmp_path / "spool")

    rc = cli.main(["--spool-dir", spool, "ingest", "--delete-logs", str(log_dir)])
    assert rc == 0
    ids = []
    for b in os.listdir(spool):
        with open(os.path.join(spool, b)) as f:
            ids.extend(json.loads(ln)["id"] for ln in f.read().splitlines())
    events = spark.read.parquet(f"{sf_smoke}/events.parquet")
    assert sorted(ids) == sorted(str(r["event_id"]) for r in events.select("event_id").collect())
    assert f"ingested rows: {len(ids)}" in capsys.readouterr().out
    assert os.listdir(log_dir) == []


def _one_line_rotations(log_dir, n, odd_names=()):
    """n one-event rotation files, the first ones named `odd_names`."""
    import json

    os.makedirs(log_dir)
    names = list(odd_names) + [f"trace.{i:04d}.json" for i in range(n - len(odd_names))]
    for i, name in enumerate(names):
        ev = {"Severity": "10", "Machine": "m", "LogGroup": "default",
              "Time": f"{1706659207 + i}.5", "Type": "t", "ID": str(i)}
        with open(os.path.join(log_dir, name), "w") as f:
            f.write(json.dumps(ev) + "\n")


def _spooled_ids(spool):
    """Event IDs per spooled payload, sorted by payload size."""
    import json

    out = []
    for b in os.listdir(spool):
        with open(os.path.join(spool, b)) as f:
            out.append([json.loads(ln)["id"] for ln in f.read().splitlines()])
    return sorted(out, key=len)


def test_watch_caps_files_per_micro_batch(tmp_path, capsys):
    """The driver holds one micro-batch's JSON text, so `watch` bounds
    a micro-batch in files, --once (AvailableNow) included."""
    from fdblog2clickhouse_spark.sinks.clickhouse import MAX_FILES_PER_INSERT

    log_dir, spool = str(tmp_path / "logs"), str(tmp_path / "spool")
    _one_line_rotations(log_dir, MAX_FILES_PER_INSERT + 1)
    rc = cli.main(["--spool-dir", spool, "watch", log_dir, "--once",
                   "--checkpoint", str(tmp_path / "ckpt")])
    assert rc == 0
    out = capsys.readouterr().out
    assert f"batch 0: rows={MAX_FILES_PER_INSERT} " in out
    assert "batch 1: rows=1 " in out
    ids = _spooled_ids(spool)
    assert [len(x) for x in ids] == [1, MAX_FILES_PER_INSERT]
    assert sorted(sum(ids, [])) == sorted(str(i) for i in range(MAX_FILES_PER_INSERT + 1))


def test_rollup_caps_files_per_micro_batch(spark, tmp_path, capsys, monkeypatch):
    """`watch --rollup` takes a backlog in bounded micro-batches,
    --once (AvailableNow) included, and counts each event once. It
    runs one StreamingQuery with one source log, and the status line
    reports the rows the insert sent (Spark's numInputRows counts each
    row once per sink)."""
    from pyspark.sql.streaming import DataStreamWriter

    from fdblog2clickhouse_spark.sinks.clickhouse import MAX_FILES_PER_INSERT as MAX_FILES
    from fdblog2clickhouse_spark.sinks.rollup import read_rollup

    started, start = [], DataStreamWriter.start

    def start_and_keep(*args, **kwargs):
        started.append(start(*args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", start_and_keep)
    log_dir, out = str(tmp_path / "logs"), str(tmp_path / "rollup")
    spool, ckpt = str(tmp_path / "spool"), str(tmp_path / "ckpt")
    os.makedirs(log_dir)  # nothing to fold yet is a success too
    rc = cli.main(["--spool-dir", spool, "watch", log_dir, "--rollup", out, "--once",
                   "--checkpoint", ckpt])
    assert rc == 0 and "rollup cells: 0" in capsys.readouterr().out
    os.rmdir(log_dir)
    started.clear()
    _one_line_rotations(log_dir, MAX_FILES + 1)
    rc = cli.main(["--spool-dir", spool, "watch", log_dir, "--rollup", out, "--once",
                   "--checkpoint", ckpt])
    assert rc == 0
    stdout = capsys.readouterr().out
    assert "rollup cells: 1" in stdout
    assert f"batch 0: rows={MAX_FILES} " in stdout and "batch 1: rows=1 " in stdout
    assert [p["numInputRows"] for p in started[0].recentProgress] == [2 * MAX_FILES, 2]
    assert len(started) == 1 and os.listdir(os.path.join(ckpt, "sources")) == ["0"]
    commits = [n for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()]
    assert sorted(commits) == ["0", "1"]
    assert [tuple(r) for r in read_rollup(spark, out).collect()] == [
        (202401, 10, "t", MAX_FILES + 1, 0)
    ]
    assert sorted(sum(_spooled_ids(spool), [])) == sorted(str(i) for i in range(MAX_FILES + 1))


def test_watch_rollup_refuses_unfolded_batches(spark, tmp_path):
    """A rollup attached to a checkpoint whose query committed batches
    without it would never see them (Spark resumes after its last
    commit), so `watch --rollup` exits naming both paths, before any
    Spark job: once when added to an insert-only checkpoint, and once
    when dropped for a run and then added back."""
    import re

    import pytest

    from fdblog2clickhouse_spark.sinks.rollup import read_rollup
    from fdblog2clickhouse_spark.streaming.ingest import unfolded_batches

    def watch(k, *extra):
        """One new one-event rotation, then `watch --once` over it."""
        log_dir = ckpt + "_logs"
        os.makedirs(log_dir, exist_ok=True)
        with open(os.path.join(log_dir, f"trace.{k}.json"), "w") as f:
            f.write(f'{{"Severity": "10", "Time": "1706659207.5", "Type": "t", "ID": "{k}"}}\n')
        return cli.main(["--spool-dir", str(tmp_path / "spool"), "watch", log_dir, "--once",
                         "--checkpoint", ckpt, *extra])

    def refusal(first, last):
        return re.escape(f"{ckpt} committed batches {first}..{last} that {out} has not folded")

    ckpt, out = str(tmp_path / "ckpt_added"), str(tmp_path / "rollup_added")
    assert watch(0) == 0
    with pytest.raises(SystemExit, match=refusal(0, 0)):
        watch(1, "--rollup", out)
    assert not os.path.exists(out)

    ckpt, out = str(tmp_path / "ckpt_dropped"), str(tmp_path / "rollup_dropped")
    assert watch(2, "--rollup", out) == 0
    assert watch(3, "--rollup", out) == 0  # resuming with the rollup is fine
    assert watch(4) == 0
    sc = spark.sparkContext
    sc.setJobGroup("test-unfolded-batches", "rollup resume check")
    try:
        assert re.fullmatch(refusal(2, 2), unfolded_batches(ckpt, out))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert sc.statusTracker().getJobIdsForGroup("test-unfolded-batches") == []
    with pytest.raises(SystemExit, match=refusal(2, 2)):
        watch(5, "--rollup", out)
    assert [tuple(r) for r in read_rollup(spark, out).collect()] == [(202401, 10, "t", 2, 0)]


def test_stream_delete_logs_empties_the_log_dir(spark, tmp_path, capsys):
    """`--delete-logs` on `watch` (--once and a completion-file drain)
    and on `watch --rollup --once`: 20 rotations, two micro-batches,
    every file deleted once its batch committed (the last batch's too)
    and every event inserted and counted once."""
    from fdblog2clickhouse_spark.sinks.rollup import read_rollup

    n = 20
    done = tmp_path / "done"  # present from the start: drain, then stop
    done.touch()
    for k, extra in enumerate((["--once"], ["--completion-file", str(done)])):
        log_dir, spool = str(tmp_path / f"logs{k}"), str(tmp_path / f"spool{k}")
        _one_line_rotations(log_dir, n)
        rc = cli.main(["--spool-dir", spool, "watch", log_dir, "--delete-logs",
                       "--checkpoint", str(tmp_path / f"ckpt{k}"), *extra])
        assert rc == 0
        assert os.listdir(log_dir) == []
        assert sorted(sum(_spooled_ids(spool), [])) == sorted(str(i) for i in range(n))

    log_dir, out = str(tmp_path / "logs_r"), str(tmp_path / "rollup")
    spool, ckpt = str(tmp_path / "spool_r"), str(tmp_path / "ckpt_r")
    _one_line_rotations(log_dir, n)
    rc = cli.main(["--spool-dir", spool, "watch", log_dir, "--rollup", out, "--once",
                   "--delete-logs", "--checkpoint", ckpt])
    assert rc == 0
    assert os.listdir(log_dir) == []
    assert sorted(sum(_spooled_ids(spool), [])) == sorted(str(i) for i in range(n))
    assert [tuple(r) for r in read_rollup(spark, out).collect()] == [(202401, 10, "t", n, 0)]
    assert os.listdir(os.path.join(ckpt, "sources")) == ["0"]


def test_ingest_inserts_in_file_groups(tmp_path, capsys):
    """`ingest` re-reads its input files in groups: a name with a
    space, a percent sign or glob characters still reads back once."""
    from fdblog2clickhouse_spark.sinks.clickhouse import MAX_FILES_PER_INSERT

    log_dir, spool = str(tmp_path / "logs"), str(tmp_path / "spool")
    _one_line_rotations(
        log_dir, MAX_FILES_PER_INSERT + 1, ["a b.json", "c%41.json", "d[1]{x}.json"]
    )
    rc = cli.main(["--spool-dir", spool, "ingest", "--delete-logs", log_dir])
    assert rc == 0
    assert f"ingested rows: {MAX_FILES_PER_INSERT + 1}" in capsys.readouterr().out
    ids = _spooled_ids(spool)
    assert [len(x) for x in ids] == [1, MAX_FILES_PER_INSERT]
    assert sorted(sum(ids, [])) == sorted(str(i) for i in range(MAX_FILES_PER_INSERT + 1))
    assert os.listdir(log_dir) == []


def test_watch_and_rollup_refuse_glob_named_files(tmp_path):
    """A file name with a glob character makes the file stream read
    the micro-batch's other files twice, so `watch`, with and without
    --rollup, fails naming the file instead of inserting or folding."""
    import pytest
    from pyspark.errors import StreamingQueryException

    log_dir = str(tmp_path / "logs")
    _one_line_rotations(log_dir, 4, ["d{1}.json"])
    watch = ["--spool-dir", str(tmp_path / "spool"), "watch", log_dir, "--once"]
    for argv in (watch, watch + ["--rollup", str(tmp_path / "rollup")]):
        with pytest.raises(StreamingQueryException, match=r"d\{1\}\.json: a glob character"):
            cli.main(argv + ["--checkpoint", str(tmp_path / "ckpt")])
    assert not os.path.exists(tmp_path / "spool") and not os.path.exists(tmp_path / "rollup")


def test_delete_logs_refuses_non_local_files():
    import pytest

    assert cli._local_paths(["file:///logs/a%20b.json", "file:/logs/c.json"]) == [
        "/logs/a b.json", "/logs/c.json",
    ]
    with pytest.raises(SystemExit, match="not a local file"):
        cli._local_paths(["file:///logs/a.json", "hdfs://nn:8020/logs/a.json"])


def test_list_queries_covers_registry(capsys):
    from fdblog2clickhouse_spark import operators

    rc = cli.main(["list-queries"])
    out = capsys.readouterr().out
    assert rc == 0
    listed = {line.split("\t")[0] for line in out.strip().splitlines()}
    assert listed == set(operators.all_queries())


def test_query_command_runs_operator(capsys):
    rc = cli.main(["query", "severity_rollup", "--sf-dir", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "severity" in out
    assert cli.main(["query", "no_such_op"]) == 2


def test_rollup_command_maintains_state(spark, sf_smoke, tmp_path):
    """watch --rollup --once: logs -> stream -> incremental rollup
    parquet, cells equal the direct batch aggregate."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.sinks.rollup import read_rollup
    from fdblog2clickhouse_spark.sources.tables import table
    from fdblog2clickhouse_spark.streaming.queries import _export_trace_logs

    log_dir = str(tmp_path / "logs")
    out_path = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    _export_trace_logs(spark, sf_smoke, log_dir)

    rc = cli.main(["--spool-dir", str(tmp_path / "spool"), "watch", log_dir,
                   "--rollup", out_path, "--once", "--checkpoint", ckpt])
    assert rc == 0
    got = {
        (r["yyyymm"], r["severity"], r["type"]): r["n_events"]
        for r in read_rollup(spark, out_path).collect()
    }
    e = table(spark, sf_smoke, "events")
    want = {
        (r["yyyymm"], r["severity"], r["type"]): r["n"]
        for r in e.select(
            F.col("ts").alias("t"),
            F.when(F.col("event_type") == "error", F.lit(40))
            .otherwise(F.lit(10))
            .cast("int")
            .alias("severity"),
            F.col("event_type").alias("type"),
        )
        .groupBy(
            (F.year("t") * 100 + F.month("t")).cast("int").alias("yyyymm"),
            "severity",
            "type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_optimize_command_compacts(spark, sf_smoke, tmp_path, capsys):
    """`optimize` compacts a fragmented MergeTree-style table from
    the command line and preserves the data."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.sinks.mergetree import read_mergetree
    from fdblog2clickhouse_spark.sources.tables import table

    path = str(tmp_path / "mt")
    rows = table(spark, sf_smoke, "events").select(
        F.col("ts").alias("time"), "event_type", "value"
    )
    # simulate 3 append micro-batches → ≥3 files per partition
    for k in range(3):
        batch = rows.where(F.col("value") * 100 % 3 == k)
        out = batch.withColumn(
            "yyyymm", (F.year("time") * 100 + F.month("time")).cast("int")
        )
        out.write.mode("append").partitionBy("yyyymm").parquet(path)

    before = read_mergetree(spark, path).count()
    rc = cli.main(["optimize", path, "--time-col", "time"])
    assert rc == 0
    assert "merged" in capsys.readouterr().out or True
    assert read_mergetree(spark, path).count() == before
    import glob

    for part in glob.glob(os.path.join(path, "yyyymm=*")):
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        assert len(files) == 1, (part, files)


def test_watch_once_live_http_end_to_end(spark, sf_smoke, tmp_path, fake_ch, monkeypatch):
    """The reference's FULL production loop against a live socket:
    rotated logs → stream → foreachBatch → HTTP POST with basic auth
    (no spool dry-run anywhere). Config flows the reference's way —
    CLICKHOUSE_* env vars (trace-converter.py:11-17)."""
    import base64
    import json

    from fdblog2clickhouse_spark.sources.tables import table
    from fdblog2clickhouse_spark.streaming.queries import _export_trace_logs

    url, received, _ = fake_ch
    monkeypatch.setenv("CLICKHOUSE_ADDR", url)
    monkeypatch.setenv("CLICKHOUSE_DB", "tracedb")
    monkeypatch.setenv("CLICKHOUSE_TABLE", "trace")
    monkeypatch.setenv("CLICKHOUSE_USER", "u1")
    monkeypatch.setenv("CLICKHOUSE_PASS", "p1")

    log_dir = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    _export_trace_logs(spark, sf_smoke, log_dir)

    rc = cli.main(["watch", log_dir, "--once", "--checkpoint", ckpt])
    assert rc == 0
    assert received, "no POST reached the fake server"
    expected_auth = "Basic " + base64.b64encode(b"u1:p1").decode()
    rows = []
    for r in received:
        assert r["auth"] == expected_auth
        assert r["params"]["database"] == "tracedb"
        assert r["params"]["query"] == "INSERT INTO trace FORMAT JSONEachRow"
        rows.extend(json.loads(x) for x in r["body"].splitlines() if x.strip())
    assert len(rows) == table(spark, sf_smoke, "events").count()
    assert set(rows[0]) <= {"severity", "machine", "log_group", "time", "type", "id"}


def test_watch_fails_on_a_stalled_server(tmp_path, stalled_ch, monkeypatch):
    """A POST that gets no reply fails the micro-batch after
    POST_TIMEOUT_S, so `watch --rollup --once` exits with an error
    instead of hanging the insert and the rollup."""
    import threading

    from pyspark.errors import StreamingQueryException

    from fdblog2clickhouse_spark.sinks import clickhouse

    monkeypatch.setattr(clickhouse, "POST_TIMEOUT_S", 1)
    monkeypatch.setenv("CLICKHOUSE_ADDR", stalled_ch)
    log_dir = str(tmp_path / "logs")
    _one_line_rotations(log_dir, 2)
    err: list[Exception] = []

    def run():
        try:
            cli.main(["watch", log_dir, "--rollup", str(tmp_path / "rollup"), "--once",
                      "--checkpoint", str(tmp_path / "ckpt")])
        except Exception as e:
            err.append(e)

    t = threading.Thread(target=run)
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "watch hung on a server that never replies"
    assert len(err) == 1 and isinstance(err[0], StreamingQueryException)
    assert "Read timed out. (read timeout=1)" in str(err[0])
    assert not os.path.exists(tmp_path / "ckpt" / "commits" / "0")


def test_watch_keeps_ingesting_through_schema_evolution(
    spark, sf_smoke, tmp_path, fake_ch, monkeypatch, capsys
):
    """VERDICT r8 #8 — schema evolution UNDER the stream: the watch
    loop runs against the live fake ClickHouse socket; a later
    rotation introduces a new field. The declared-schema ingest path
    must keep POSTing (unknown fields ignored — no crash, no dropped
    rotation), and `alter-schema` over the same log dir must emit
    the positioned ADD for the new field — the operational sequence
    a producer-side log-format change actually triggers."""
    import base64
    import json
    import threading
    import time

    from fdblog2clickhouse_spark.sources.tables import table
    from fdblog2clickhouse_spark.streaming.queries import _export_trace_logs

    url, received, _ = fake_ch
    monkeypatch.setenv("CLICKHOUSE_ADDR", url)
    monkeypatch.setenv("CLICKHOUSE_DB", "tracedb")
    monkeypatch.setenv("CLICKHOUSE_TABLE", "trace")
    monkeypatch.setenv("CLICKHOUSE_USER", "u1")
    monkeypatch.setenv("CLICKHOUSE_PASS", "p1")

    log_dir = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    sentinel = str(tmp_path / "sim-completed")
    _export_trace_logs(spark, sf_smoke, log_dir)
    n_base = table(spark, sf_smoke, "events").count()

    rc: list[int] = []
    t = threading.Thread(
        target=lambda: rc.append(
            cli.main(
                ["watch", log_dir, "--checkpoint", ckpt,
                 "--completion-file", sentinel]
            )
        )
    )
    t.start()
    # wait for the first rotation to reach the socket
    deadline = time.time() + 120
    while time.time() < deadline and not received:
        time.sleep(0.5)
    assert received, "first rotation never reached the fake server"

    # the producer rolls a NEW rotation carrying an extra field
    extra_rows = [
        {"Severity": 40, "Machine": f"m-{i}", "LogGroup": "default",
         "Time": 1700000000.0 + i, "Type": "error", "ID": f"evolved-{i}",
         "TraceFile": "fdb.log.9"}
        for i in range(3)
    ]
    with open(os.path.join(log_dir, "part-evolved.json"), "w") as f:
        for r in extra_rows:
            f.write(json.dumps(r) + "\n")

    open(sentinel, "w").close()  # drain everything, then exit
    t.join(timeout=180)
    assert not t.is_alive(), "watch did not exit on completion file"
    assert rc == [0]

    rows = []
    expected_auth = "Basic " + base64.b64encode(b"u1:p1").decode()
    for r in received:
        assert r["auth"] == expected_auth
        rows.extend(json.loads(x) for x in r["body"].splitlines() if x.strip())
    # every row of BOTH rotations ingested; the unknown field never
    # leaks into the declared-schema sink payload
    assert len(rows) == n_base + len(extra_rows)
    evolved = [r for r in rows if str(r.get("id", "")).startswith("evolved-")]
    assert len(evolved) == len(extra_rows)
    assert all("trace_file" not in r and "TraceFile" not in r for r in rows)

    # ...and the deploy gate reports exactly the migration to run
    capsys.readouterr()  # drain the watch thread's ingest log lines
    rc2 = cli.main(["alter-schema", log_dir, "--table", "trace"])
    out = capsys.readouterr().out
    assert rc2 == 0
    lines = [l for l in out.splitlines() if l.strip()]
    assert len(lines) == 1
    assert "ADD COLUMN IF NOT EXISTS `trace_file` Nullable(String)" in lines[0]


_T_A = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
_T_B = "kilo lima mike november oscar papa quebec romeo sierra tango"
_T_C = "uniform victor whiskey xray yankee zulu gamma beta epsilon theta"


def test_admit_cli_lifecycle(spark, tmp_path, capsys):
    """build-store → admit batch 1 → admit batch 2 → compact-store
    through the CLI, REPRESENTATIVE-store semantics: exact dups
    collapse into membership (doc 40 joins doc 1's group without
    touching the band join or growing the store), near-dups are
    scored at group level (doc 45 vs doc 50 — evidence that exists
    only because admit #2 read admit #1's appended group), and the
    signature store ends with one row per distinct token stream."""
    import json

    from fdblog2clickhouse_spark.operators.dedup_store import members_path

    docs = [
        (1, _T_A),
        (2, _T_A),  # exact dup of 1, same base group
        (3, _T_B),
        (40, _T_A),  # exact dup of base content → membership only
        (50, _T_C),
        (45, _T_C + " extra"),  # NEAR-dup of 50
        (25, "solo document with no duplicate partner anywhere in corpus"),
    ]

    def write_json(name, ids):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in docs:
                if i in ids:
                    f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    corpus = write_json("corpus.json", {i for i, _ in docs})
    base = write_json("base.json", {1, 2, 3})
    b1 = write_json("b1.json", {40, 50})
    b2 = write_json("b2.json", {45, 25})
    store = str(tmp_path / "store")
    evidence = str(tmp_path / "evidence")

    assert cli.main(["build-store", base, store]) == 0
    out = capsys.readouterr().out
    assert "store groups: 2 members: 3" in out  # {1,2} collapsed
    assert cli.main(["admit", b1, store, "--corpus", corpus,
                     "--evidence", evidence]) == 0
    assert cli.main(["admit", b2, store, "--corpus", corpus,
                     "--evidence", evidence]) == 0
    pairs = {
        (r["da"], r["db"]) for r in spark.read.parquet(evidence).collect()
    }
    assert (45, 50) in pairs, "admit #2 did not see admit #1's append"
    assert pairs == {(45, 50)}  # exact dups live in membership, not evidence

    # one signature row per distinct token stream, min-doc_id rep
    group_ids = sorted(
        r["group_id"] for r in spark.read.parquet(store).collect()
    )
    assert group_ids == [1, 3, 25, 45, 50]
    members = {
        r["doc_id"]: r["group_id"]
        for r in spark.read.parquet(members_path(store)).collect()
    }
    assert members == {1: 1, 2: 1, 3: 3, 40: 1, 50: 50, 45: 45, 25: 25}

    assert cli.main(["compact-store", store]) == 0
    out = capsys.readouterr().out
    assert "compacted:" in out
    # the rep store's banded index sibling is compacted in the same
    # pass (per-partition file merge + duplicate retirement)
    assert "bands_files_before=" in out
    assert sorted(
        r["group_id"] for r in spark.read.parquet(store).collect()
    ) == group_ids


def test_build_and_admit_cli_both_families(spark, tmp_path, capsys):
    """One command function per verb serves both store families:
    build-store → admit over JSON docs and build-vstore →
    admit-vectors over an embeddings parquet each exit 0 and print
    their family's counts (an exact dup joins membership only, a
    near-dup scores one group pair)."""
    import json

    docs = {1: _T_A, 2: _T_A, 3: _T_B, 40: _T_A, 50: _T_C + " extra"}

    def write_json(name, ids):
        p = tmp_path / name
        p.write_text("".join(
            json.dumps({"doc_id": i, "text": docs[i]}) + "\n" for i in ids
        ))
        return str(p)

    corpus = write_json("corpus.json", docs)
    store = str(tmp_path / "store")
    assert cli.main(["build-store", write_json("base.json", [1, 2, 3]), store]) == 0
    assert "store groups: 2 members: 3" in capsys.readouterr().out
    assert cli.main(["admit", write_json("b1.json", [40, 50]), store,
                     "--corpus", corpus]) == 0
    out = capsys.readouterr().out
    assert ("admit: batch_docs=2 new_docs=2 groups=2 new_groups=1 "
            "rotation_pairs=0 appended=True") in out

    base_v, near_v = [0.01, 0.02, 0.03, 0.04], [0.01, 0.02, 0.03, 0.041]
    vecs = {1: base_v, 2: base_v, 3: [-0.04, 0.03, -0.02, 0.01],
            30: base_v, 40: near_v}

    def write_vecs(name, ids):
        p = str(tmp_path / name)
        spark.createDataFrame(
            [(i, vecs[i]) for i in ids], "vec_id long, embedding array<float>"
        ).coalesce(1).write.parquet(p)
        return p

    vcorpus = write_vecs("vcorpus", list(vecs))
    vstore = str(tmp_path / "vstore")
    assert cli.main(["build-vstore", write_vecs("vbase", [1, 2, 3]), vstore]) == 0
    assert "vstore groups: 2 members: 3" in capsys.readouterr().out
    assert cli.main(["admit-vectors", write_vecs("vb1", [30, 40]), vstore,
                     "--vectors", vcorpus]) == 0
    out = capsys.readouterr().out
    assert ("admit-vectors: batch_vecs=2 new_docs=2 groups=2 new_groups=1 "
            "rotation_pairs=1 appended=True") in out


def test_admit_cli_idempotent_under_redelivery(spark, tmp_path, capsys):
    """Re-delivering an already-admitted rotation must be a no-op:
    no duplicate signatures in the store, no duplicate membership,
    no duplicate evidence."""
    import json

    from fdblog2clickhouse_spark.operators.dedup_store import members_path

    def write_json(name, rows):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    base = write_json("base.json", [(1, _T_A)])
    b1 = write_json("b1.json", [(10, _T_A + " mike november")])  # near-dup
    corpus = write_json("corpus.json", [
        (1, _T_A), (10, _T_A + " mike november"),
    ])
    store = str(tmp_path / "store")
    evidence = str(tmp_path / "evidence")

    def ev_rows():
        return sorted(
            map(
                tuple,
                spark.read.parquet(evidence)
                .select("da", "db", "jaccard")
                .collect(),
            )
        )

    assert cli.main(["build-store", base, store]) == 0
    assert cli.main(["admit", b1, store, "--corpus", corpus,
                     "--evidence", evidence]) == 0
    ev1 = ev_rows()
    st1 = sorted(r["group_id"] for r in spark.read.parquet(store).collect())
    assert (1, 10) in {(a, b) for a, b, _ in ev1}
    assert st1 == [1, 10]

    # crash-retry / at-least-once: the same rotation delivered again
    assert cli.main(["admit", b1, store, "--corpus", corpus,
                     "--evidence", evidence]) == 0
    out = capsys.readouterr().out
    assert "new_docs=0" in out
    assert ev_rows() == ev1
    assert sorted(
        r["group_id"] for r in spark.read.parquet(store).collect()
    ) == st1
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(members_path(store)).collect()
    ) == [1, 10]


def test_admit_cli_crash_between_evidence_and_append(spark, tmp_path):
    """Crash-window exactly-once: evidence written but signatures
    not yet appended (simulated with --no-append), then the rotation
    is retried in full. The evidence partition must be overwritten,
    not duplicated, and the store must converge to the single-run
    state."""
    import json

    def write_json(name, rows):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    base = write_json("base.json", [(1, _T_A)])
    b1 = write_json("b1.json", [(10, _T_A + " mike november")])
    corpus = write_json("corpus.json", [
        (1, _T_A), (10, _T_A + " mike november"),
    ])
    store = str(tmp_path / "store")
    evidence = str(tmp_path / "evidence")

    assert cli.main(["build-store", base, store]) == 0
    # crashed run: evidence landed, signature append did not
    assert cli.main(["admit", b1, store, "--corpus", corpus,
                     "--evidence", evidence, "--no-append"]) == 0
    # retry runs to completion
    assert cli.main(["admit", b1, store, "--corpus", corpus,
                     "--evidence", evidence]) == 0
    ev = [(r["da"], r["db"]) for r in spark.read.parquet(evidence).collect()]
    assert ev == [(1, 10)], f"evidence duplicated or lost: {ev}"
    assert sorted(
        r["group_id"] for r in spark.read.parquet(store).collect()
    ) == [1, 10]


def test_admit_cli_crash_after_appends_before_evidence(
    spark, tmp_path, monkeypatch
):
    """The crash window the overlapped step adds: the index and flat
    appends finished, the evidence write had not returned, members
    were never appended. The retry reclassifies the appended groups
    as touched (their docs are still member-new), rescores the whole
    rotation, and regenerates its evidence partition in full; the
    store converges to the single-run state."""
    import json

    import pytest

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    def write_json(name, rows):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    t10 = _T_A + " mike november"
    t20 = _T_A + " oscar papa"
    base = write_json("base.json", [(1, _T_A)])
    b1 = write_json("b1.json", [(10, t10), (20, t20)])
    corpus = write_json("corpus.json", [(1, _T_A), (10, t10), (20, t20)])
    store = str(tmp_path / "store")
    evidence = str(tmp_path / "evidence")
    admit = ["admit", b1, store, "--corpus", corpus, "--evidence", evidence]

    assert cli.main(["build-store", base, store]) == 0

    def killed(background, foreground):
        foreground()  # the index + flat appends complete ...
        raise RuntimeError("killed before the evidence write returned")

    monkeypatch.setattr(ds, "overlap", killed)
    with pytest.raises(RuntimeError, match="killed"):
        cli.main(admit)
    monkeypatch.undo()
    # the crash state: both new groups appended, no evidence, no members
    assert sorted(
        r["group_id"] for r in spark.read.parquet(store).collect()
    ) == [1, 10, 20]
    assert not os.path.exists(evidence)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(ds.members_path(store)).collect()
    ) == [1]

    assert cli.main(admit) == 0
    pairs = sorted(
        (r["da"], r["db"]) for r in spark.read.parquet(evidence).collect()
    )
    assert pairs == [(1, 10), (1, 20), (10, 20)]
    assert sorted(
        r["group_id"] for r in spark.read.parquet(store).collect()
    ) == [1, 10, 20]
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(ds.members_path(store)).collect()
    ) == [1, 10, 20]


def test_admit_retract_compact_refuse_old_layouts(spark, tmp_path):
    """admit, retract and compact-store exit naming the table and
    build-store, before any Spark write, when a rep store holds a
    layout no code writes any more: a marker-less table, a marker
    without the bucket-expression field, or a band index in the old
    per-band partition layout."""
    import glob
    import json
    import shutil

    import pytest

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    docs = tmp_path / "docs.json"
    docs.write_text("".join(
        json.dumps({"doc_id": i, "text": t}) + "\n"
        for i, t in [(1, _T_A), (2, _T_B), (3, _T_C)]
    ))
    built = str(tmp_path / "built")
    assert cli.main(["build-store", str(docs), built]) == 0

    def variant(name, mutate):
        root = tmp_path / name
        root.mkdir()
        store = str(root / "store")
        for p in (built, ds.banded_path(built), ds.members_path(built)):
            shutil.copytree(p, p.replace(built, store))
        return store, mutate(store)

    def markerless(store):
        os.remove(os.path.join(ds.members_path(store), tables._TBL_META))
        return ds.members_path(store)

    def no_pb(store):
        meta = os.path.join(store, tables._TBL_META)
        with open(meta) as f:
            lay = json.load(f)
        lay.pop("pb")
        with open(meta, "w") as f:
            json.dump(lay, f)
        return store

    def per_band_index(store):
        bands = ds.banded_path(store)
        shutil.rmtree(bands)
        part = os.path.join(bands, "band=0", "kb=1")
        os.makedirs(part)
        shutil.copy(glob.glob(os.path.join(store, "pb=*", "*.parquet"))[0], part)
        with open(os.path.join(bands, "_index_meta.json"), "w") as f:
            json.dump({"buckets": 2}, f)
        return bands

    def snapshot(root):
        return sorted(
            (p, os.path.getmtime(p))
            for p in glob.glob(os.path.join(root, "**"), recursive=True)
        )

    for name, mutate in (
        ("markerless", markerless), ("no_pb", no_pb), ("per_band", per_band_index),
    ):
        store, table = variant(name, mutate)
        root = os.path.dirname(store)
        for argv in (
            ["admit", str(docs), store, "--corpus", str(docs)],
            ["retract", store, "--id", "1"],
            ["compact-store", store],
        ):
            before = snapshot(root)
            with pytest.raises(SystemExit, match=f"{table} .*build-store"):
                cli.main(argv)
            assert snapshot(root) == before, (name, argv)


def test_admit_cli_partial_append_rescores_full_rotation(spark, tmp_path):
    """A crashed signature/membership append that PARTIALLY committed
    (v2 committers / object stores) leaves SOME batch docs admitted.
    The retry rescores the ROTATION'S ENTIRE group set — already-
    committed groups are classified touched, not new — so the
    evidence partition overwrite is always the complete pair set and
    the store converges with no duplicate group rows. (This
    deterministic full-rescore replaced the r10 merge/staging path —
    ADVICE r10 found that path's swap had its own crash window and
    its staging dir polluted the batch_key=* glob.)"""
    import json

    from fdblog2clickhouse_spark.operators.dedup_store import members_path

    def write_json(name, rows):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    t10 = _T_A + " mike november"
    t20 = _T_A + " oscar papa"
    base = write_json("base.json", [(1, _T_A)])
    b1 = write_json("b1.json", [(10, t10), (20, t20)])
    only10 = write_json("only10.json", [(10, t10)])
    corpus = write_json("corpus.json", [(1, _T_A), (10, t10), (20, t20)])
    store = str(tmp_path / "store")
    evidence = str(tmp_path / "evidence")

    assert cli.main(["build-store", base, store]) == 0
    # crashed run: full-batch evidence landed, then the append died
    # half-way — only doc 10's group reached the store (simulated by
    # a sig-only admit of the 10-singleton).
    assert cli.main(["admit", b1, store, "--corpus", corpus,
                     "--evidence", evidence, "--no-append"]) == 0
    assert cli.main(["admit", only10, store, "--corpus", corpus]) == 0
    # retry of the original rotation: doc 20 is member-new, doc 10's
    # group is touched → BOTH groups rescored, complete partition.
    assert cli.main(["admit", b1, store, "--corpus", corpus,
                     "--evidence", evidence]) == 0
    pairs = sorted(
        (r["da"], r["db"]) for r in spark.read.parquet(evidence).collect()
    )
    assert pairs == [(1, 10), (1, 20), (10, 20)], (
        f"partial-append retry dropped pairs: {pairs}"
    )
    store_rows = sorted(
        r["group_id"] for r in spark.read.parquet(store).collect()
    )
    assert store_rows == [1, 10, 20], f"duplicate group rows: {store_rows}"
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(members_path(store)).collect()
    ) == [1, 10, 20]


def test_admit_cli_empty_base_store(spark, tmp_path, capsys):
    """A base corpus with no signature-eligible docs (< 3 tokens)
    builds an EMPTY store — the first real admit must still work:
    the banded index has no files to read (hive write of an empty
    frame), which `pruned_store_rows` treats as match-nothing."""
    import json

    from fdblog2clickhouse_spark.operators.dedup_store import members_path

    def write_json(name, rows):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    base = write_json("base.json", [(1, "too short")])
    b1 = write_json("b1.json", [(10, _T_A)])
    corpus = write_json("corpus.json", [(1, "too short"), (10, _T_A)])
    store = str(tmp_path / "store")

    assert cli.main(["build-store", base, store]) == 0
    out = capsys.readouterr().out
    assert "store groups: 0 members: 0" in out
    assert cli.main(["admit", b1, store, "--corpus", corpus]) == 0
    out = capsys.readouterr().out
    assert "new_docs=1" in out and "new_groups=1" in out
    assert sorted(
        r["group_id"] for r in spark.read.parquet(store).collect()
    ) == [10]
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(members_path(store)).collect()
    ) == [10]


def test_admit_cli_long_lifecycle_with_compaction(spark, tmp_path, capsys):
    """Soak the production loop: build + six rotations mixing exact
    dups (membership only), near-dups (scored), fresh content, and a
    full redelivery, with compact-store (flat + banded) in the
    MIDDLE — the rotation admitted AFTER compaction must still find
    its near-dup through the compacted, pruned store. Ends by
    checking the store is exactly one row per distinct token stream,
    membership maps every doc, and the distinct evidence equals the
    expected pair set."""
    import json

    from fdblog2clickhouse_spark.operators.dedup_store import members_path

    t_c = "new content charlie group words xray yankee zulu november oscar"

    def write_json(name, rows):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    all_docs = [
        (1, _T_A), (2, _T_A), (3, _T_B),           # base
        (10, _T_A),                                  # rot1: exact dup
        (20, _T_A + " mike november"),               # rot2: near-dup of A
        (30, _T_A + " mike november"),               # rot3: exact dup of 20
        (40, _T_B), (41, t_c),                       # rot4: dup + fresh
        (50, t_c + " extra"),                        # rot6: near-dup of 41
    ]
    corpus = write_json("corpus.json", all_docs)
    base = write_json("base.json", all_docs[:3])
    rots = [
        write_json(f"rot{i}.json", [d])
        for i, d in enumerate(all_docs[3:8], start=1)
    ]
    # rot4 carries two docs
    rot4 = write_json("rot4.json", [(40, _T_B), (41, t_c)])
    rot6 = write_json("rot6.json", [(50, t_c + " extra")])
    store = str(tmp_path / "store")
    evidence = str(tmp_path / "evidence")

    def admit(path):
        assert cli.main(["admit", path, store, "--corpus", corpus,
                         "--evidence", evidence]) == 0
        return capsys.readouterr().out

    assert cli.main(["build-store", base, store]) == 0
    capsys.readouterr()
    assert "new_docs=1 groups=1 new_groups=0" in admit(rots[0])   # 10: dup
    assert "new_docs=1 groups=1 new_groups=1" in admit(rots[1])   # 20: near
    assert "new_docs=1 groups=1 new_groups=0" in admit(rots[2])   # 30: dup of 20
    assert "new_docs=2 groups=2 new_groups=1" in admit(rot4)      # 40 dup + 41 new
    assert "new_docs=0" in admit(rots[1])                         # redelivery no-op

    assert cli.main(["compact-store", store]) == 0
    out = capsys.readouterr().out
    assert "bands_files_before=" in out

    # post-compaction admission: near-dup of 41 must still be found
    # through the compacted flat store AND the compacted banded index
    out6 = admit(rot6)
    assert "new_docs=1 groups=1 new_groups=1" in out6
    assert "rotation_pairs=1" in out6

    pairs = sorted(
        set(
            (r["da"], r["db"])
            for r in spark.read.parquet(evidence).collect()
        )
    )
    assert pairs == [(1, 20), (41, 50)]
    group_ids = sorted(
        r["group_id"] for r in spark.read.parquet(store).collect()
    )
    assert group_ids == [1, 3, 20, 41, 50]
    members = {
        r["doc_id"]: r["group_id"]
        for r in spark.read.parquet(members_path(store)).collect()
    }
    assert members == {
        1: 1, 2: 1, 3: 3, 10: 1, 20: 20, 30: 20, 40: 3, 41: 41, 50: 50,
    }


def test_admit_cli_mega_bucket_is_linear(spark, tmp_path, capsys):
    """The production fix for the uncapped admission kernel (VERDICT
    r9/r10 item #1): a rotation of 90 byte-identical boilerplate
    copies collapses to ONE group before the band join, so the store
    gains at most one signature row, the membership table grows by
    exactly the rotation size, and the evidence stays empty (exact
    dups are membership facts, not scored pairs) — O(n) end to end
    where the old doc-level path did quadratic bucket work."""
    import json

    from fdblog2clickhouse_spark.operators.dedup_store import members_path

    boiler = "mega bucket boilerplate sentence repeated verbatim in every copy"
    other = "fresh boilerplate content for the second rotation arriving later"

    def write_json(name, rows):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    base = write_json("base.json", [(i, boiler) for i in range(1, 31)])
    rot1 = write_json("rot1.json", [(i, boiler) for i in range(100, 190)])
    rot2 = write_json("rot2.json", [(i, other) for i in range(200, 290)])
    corpus = write_json(
        "corpus.json",
        [(i, boiler) for i in list(range(1, 31)) + list(range(100, 190))]
        + [(i, other) for i in range(200, 290)],
    )
    store = str(tmp_path / "store")
    evidence = str(tmp_path / "evidence")

    assert cli.main(["build-store", base, store]) == 0
    out = capsys.readouterr().out
    assert "store groups: 1 members: 30" in out

    assert cli.main(["admit", rot1, store, "--corpus", corpus,
                     "--evidence", evidence]) == 0
    out = capsys.readouterr().out
    assert "new_docs=90" in out and "new_groups=0" in out
    assert spark.read.parquet(store).count() == 1
    assert spark.read.parquet(members_path(store)).count() == 120

    assert cli.main(["admit", rot2, store, "--corpus", corpus,
                     "--evidence", evidence]) == 0
    assert spark.read.parquet(store).count() == 2
    assert spark.read.parquet(members_path(store)).count() == 210
    # no near-dup CONTENT pairs anywhere — evidence is empty even
    # though 200+ docs are mutual exact dups
    assert spark.read.parquet(evidence).count() == 0


def test_compact_store_rebucket_members_and_kept_count(
    spark, tmp_path, capsys, monkeypatch
):
    """Round-12 operational hardening, all three in one lifecycle:
    (1) the members table is compacted by compact-store (one
    file-group per admit otherwise — the layout's largest table,
    ADVICE r11); (2) compact-store's re-bucket rule, with test-scaled
    thresholds, re-buckets all three tables to 64 buckets mid-stream
    and the NEXT rotation still finds its near-dup through the
    migrated pruned read; (3) a full redelivery with --evidence
    reports the STANDING partition's pair count as '(kept)', never a
    misleading 0 (ADVICE r11)."""
    import glob
    import json
    import os

    from fdblog2clickhouse_spark.operators.dedup_store import (
        banded_path,
        members_path,
    )
    from fdblog2clickhouse_spark.operators.tables import table_layout

    t_c = "new content charlie group words xray yankee zulu november oscar"

    def write_json(name, rows):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    all_docs = [
        (1, _T_A), (2, _T_A), (3, _T_B),              # base
        (20, _T_A + " mike november"),                 # rot1: near-dup of A
        (41, t_c),                                     # rot2: fresh
        (50, t_c + " extra"),                          # rot3: near-dup of 41
    ]
    corpus = write_json("corpus.json", all_docs)
    base = write_json("base.json", all_docs[:3])
    rot1 = write_json("rot1.json", [all_docs[3]])
    rot2 = write_json("rot2.json", [all_docs[4]])
    rot3 = write_json("rot3.json", [all_docs[5]])
    store = str(tmp_path / "store")
    evidence = str(tmp_path / "evidence")

    def admit(path):
        assert cli.main(["admit", path, store, "--corpus", corpus,
                         "--evidence", evidence]) == 0
        return capsys.readouterr().out

    assert cli.main(["build-store", base, store]) == 0
    capsys.readouterr()
    assert "rotation_pairs=1" in admit(rot1)           # (1, 20)
    assert "rotation_pairs=0" in admit(rot2)           # fresh: no pairs

    # two admits appended two file-groups to members; the compaction
    # pass must merge them
    # every admit appends one file per TOUCHED pb partition; the
    # accumulation shows in the total (per-partition merge itself is
    # pinned by test_compact_table_rewrites_only_multifile_buckets)
    assert sum(_tbl_file_counts(members_path(store))) > 1
    assert cli.main(["compact-store", store]) == 0
    out = capsys.readouterr().out
    assert "members_files_before=" in out
    assert max(_tbl_file_counts(members_path(store))) == 1
    _rebucket_to_64(monkeypatch, store)
    out = capsys.readouterr().out
    assert "bands_rebucketed=2->64" in out  # fresh builds auto-size (r18)
    assert table_layout(banded_path(store))["buckets"] == 64

    # post-migration admission still finds its near-dup through the
    # re-bucketed pruned read
    out3 = admit(rot3)
    assert "new_docs=1" in out3 and "rotation_pairs=1" in out3   # (41, 50)

    # full redelivery of rot1: nothing rescored, but the standing
    # evidence partition's real count is reported, not 0
    out_re = admit(rot1)
    assert "new_docs=0" in out_re
    assert "rotation_pairs=1 (kept)" in out_re

    pairs = sorted(
        set((r["da"], r["db"]) for r in spark.read.parquet(evidence).collect())
    )
    assert pairs == [(1, 20), (41, 50)]


def test_refresh_ivf_cli(spark, tmp_path, capsys):
    """The reindex CLI: refresh-ivf retrains a persisted codebook
    against the current vectors parquet and reassigns the lists —
    the straddled-cluster fixture's 6 B-side members cross to the
    A list (same scenario the unit test pins at the operator
    level)."""
    import os

    from fdblog2clickhouse_spark.operators import ann_store
    from tests.test_ann_store import _refresh_fixture_qn

    qn = _refresh_fixture_qn(spark)
    # the CLI quantizes (round(x * 10000)) — emit floats that
    # quantize back to exactly the crafted q arrays
    emb = qn.selectExpr(
        "vec_id", "transform(q, x -> CAST(x AS FLOAT) / 10000.0) AS embedding"
    )
    vectors = str(tmp_path / "vectors")
    emb.write.parquet(vectors)

    cb = str(tmp_path / "codebook")
    li = str(tmp_path / "lists")
    qn.where(qn.vec_id.isin([200, 300])).selectExpr(
        "vec_id AS c_id", "q", "nq"
    ).coalesce(1).write.parquet(cb)
    tables.write_table(
        ann_store._assign(qn, spark.read.parquet(cb), 1).selectExpr(
            "v_id AS n_id", "c_id AS list_id"
        ),
        li,
        "overwrite",
        key="list_id",
    )

    assert cli.main(["refresh-ivf", cb, li, "--vectors", vectors]) == 0
    out = capsys.readouterr().out
    assert "refreshed: lists=2 moved=6" in out
    sizes = {
        r["list_id"]: r["count"]
        for r in spark.read.parquet(li).groupBy("list_id").count().collect()
    }
    assert sorted(sizes.values()) == [14, 14]  # 2A+12C unified / 14B


def test_vector_store_cli_lifecycle(spark, tmp_path, capsys):
    """build-vstore + admit-vectors end to end: exact-dup vectors
    collapse to membership (store grows O(distinct)), a near-dup
    rotation scores through the int-keyed pruned banded read,
    redelivery reports the standing partition '(kept)', and
    compact-store (its sort key derived from the schema: bv0)
    compacts all three tables of the vector layout."""
    import glob
    import os

    from fdblog2clickhouse_spark.operators.dedup_store import members_path

    def write_vecs(name, rows):
        p = str(tmp_path / name)
        spark.createDataFrame(
            [(i, [float(x) for x in e]) for i, e in rows],
            "vec_id long, embedding array<float>",
        ).coalesce(1).write.parquet(p)
        return p

    base_v = [0.01, 0.02, 0.03, 0.04]
    near_v = [0.01, 0.02, 0.03, 0.041]     # cosine ~0.9996 >= 0.45
    far_v = [-0.04, 0.03, -0.02, 0.01]     # negative-ish cosine
    corpus_rows = [
        (1, base_v), (2, base_v), (3, far_v),   # base
        (30, base_v),                            # rot1: exact dup of 1/2
        (40, near_v),                            # rot2: near-dup of group 1
    ]
    corpus = write_vecs("corpus", corpus_rows)
    base = write_vecs("base", corpus_rows[:3])
    rot1 = write_vecs("rot1", [corpus_rows[3]])
    rot2 = write_vecs("rot2", [corpus_rows[4]])
    store = str(tmp_path / "vstore")
    evidence = str(tmp_path / "evidence")

    assert cli.main(["build-vstore", base, store]) == 0
    out = capsys.readouterr().out
    assert "vstore groups: 2 members: 3" in out   # {1,2} collapse; 3 solo

    def admit(path):
        assert cli.main(["admit-vectors", path, store, "--vectors", corpus,
                         "--evidence", evidence]) == 0
        return capsys.readouterr().out

    out1 = admit(rot1)   # exact dup: membership only, no scored pairs
    assert "new_docs=1" in out1 and "new_groups=0" in out1
    assert "rotation_pairs=0" in out1
    assert spark.read.parquet(store).count() == 2

    out2 = admit(rot2)   # near-dup: one group pair (group1, 40)
    assert "new_docs=1" in out2 and "new_groups=1" in out2
    assert "rotation_pairs=1" in out2
    assert spark.read.parquet(store).count() == 3

    # redelivery of a completed rotation: skip path, standing count
    out_re = admit(rot2)
    assert "new_docs=0" in out_re
    assert "rotation_pairs=1 (kept)" in out_re

    # membership maps every vector; group evidence is group-level
    members = {
        r["doc_id"]: r["group_id"]
        for r in spark.read.parquet(members_path(store)).collect()
    }
    assert members == {1: 1, 2: 1, 3: 3, 30: 1, 40: 40}
    pairs = {
        (r["da"], r["db"])
        for r in spark.read.parquet(evidence).collect()
    }
    assert pairs == {(1, 40)}

    assert cli.main(["compact-store", store]) == 0
    out = capsys.readouterr().out
    assert "members_files_before=" in out and "bands_files_before=" in out
    assert max(_tbl_file_counts(store)) == 1


def test_admit_vectors_mega_bucket_is_linear(spark, tmp_path, capsys):
    """The vector CLI under the degenerate mode the rep design
    exists for: a rotation of 90 byte-identical embeddings reaches
    the kernel as ONE group — the store gains no row (content
    already known), membership grows by exactly the rotation size,
    and the evidence stays empty."""
    from fdblog2clickhouse_spark.operators.dedup_store import members_path

    def write_vecs(name, rows):
        p = str(tmp_path / name)
        spark.createDataFrame(
            [(i, [float(x) for x in e]) for i, e in rows],
            "vec_id long, embedding array<float>",
        ).coalesce(1).write.parquet(p)
        return p

    v = [0.03, -0.01, 0.02, 0.04]
    base = write_vecs("base", [(i, v) for i in range(1, 31)])
    rot = write_vecs("rot", [(i, v) for i in range(100, 190)])
    corpus = write_vecs(
        "corpus", [(i, v) for i in list(range(1, 31)) + list(range(100, 190))]
    )
    store = str(tmp_path / "vstore")
    evidence = str(tmp_path / "evidence")

    assert cli.main(["build-vstore", base, store]) == 0
    out = capsys.readouterr().out
    assert "vstore groups: 1 members: 30" in out

    assert cli.main(["admit-vectors", rot, store, "--vectors", corpus,
                     "--evidence", evidence]) == 0
    out = capsys.readouterr().out
    assert "new_docs=90" in out and "new_groups=0" in out
    assert spark.read.parquet(store).count() == 1
    assert spark.read.parquet(members_path(store)).count() == 120
    assert spark.read.parquet(evidence).count() == 0


def test_admit_vectors_long_lifecycle_with_rebucket(
    spark, tmp_path, capsys, monkeypatch
):
    """Soak the VECTOR production loop (the hyperplane sibling of
    test_admit_cli_long_lifecycle_with_compaction): build + six
    rotations mixing exact-dup vectors (membership only), near-dups
    (scored), a touched-group rescore, fresh content, and a full
    redelivery, with `compact-store`, then a compact-store re-bucket of
    all three tables to 64 buckets, in the MIDDLE — the rotation
    admitted AFTER the migration must
    find its near-dup
    through the re-bucketed int-keyed pruned index. Ends by pinning
    the store at one row per distinct quantized vector, the full
    membership map, and the distinct evidence set."""
    from fdblog2clickhouse_spark.operators.dedup_store import (
        banded_path,
        members_path,
    )
    from fdblog2clickhouse_spark.operators.tables import table_layout

    def write_vecs(name, rows):
        p = str(tmp_path / name)
        spark.createDataFrame(
            [(i, [float(x) for x in e]) for i, e in rows],
            "vec_id long, embedding array<float>",
        ).coalesce(1).write.parquet(p)
        return p

    base_v = [0.01, 0.02, 0.03, 0.04]        # group 1
    near_v = [0.01, 0.02, 0.03, 0.041]       # cos(base_v) ≈ 0.9999
    far_v = [-0.04, 0.03, -0.02, 0.01]       # cos(base_v) = 0.0
    fresh_v = [0.03, -0.04, 0.01, 0.02]      # cos ≤ 0.21 vs all above
    near_fresh = [0.03, -0.04, 0.01, 0.021]  # cos(fresh_v) ≈ 0.9999
    all_rows = [
        (1, base_v), (2, base_v), (3, far_v),   # base
        (30, base_v),                            # rot1: exact dup
        (40, near_v),                            # rot2: near-dup of group 1
        (45, near_v),                            # rot3: exact dup of 40
        (50, far_v), (55, fresh_v),              # rot4: dup + fresh
        (200, near_fresh),                       # rot6: near-dup of 55
    ]
    corpus = write_vecs("corpus", all_rows)
    base = write_vecs("base", all_rows[:3])
    rot1 = write_vecs("rot1", [all_rows[3]])
    rot2 = write_vecs("rot2", [all_rows[4]])
    rot3 = write_vecs("rot3", [all_rows[5]])
    rot4 = write_vecs("rot4", all_rows[6:8])
    rot6 = write_vecs("rot6", [all_rows[8]])
    store = str(tmp_path / "vstore")
    evidence = str(tmp_path / "evidence")

    def admit(path):
        assert cli.main(["admit-vectors", path, store, "--vectors", corpus,
                         "--evidence", evidence]) == 0
        return capsys.readouterr().out

    assert cli.main(["build-vstore", base, store]) == 0
    capsys.readouterr()
    assert "new_docs=1 groups=1 new_groups=0" in admit(rot1)   # 30: dup
    assert "new_docs=1 groups=1 new_groups=1" in admit(rot2)   # 40: near
    # 45: exact dup of 40 — the touched group rescores and re-emits
    # its (1, 40) pair deterministically under rot3's batch key
    out3 = admit(rot3)
    assert "new_docs=1 groups=1 new_groups=0" in out3
    assert "rotation_pairs=1" in out3
    assert "new_docs=2 groups=2 new_groups=1" in admit(rot4)   # 50 dup + 55 new
    assert "new_docs=0" in admit(rot2)                         # redelivery no-op

    # mid-stream maintenance: compact all three tables, then migrate
    # them (the int-keyed band index included) to a finer layout
    assert cli.main(["compact-store", store]) == 0
    out = capsys.readouterr().out
    assert "members_files_before=" in out
    _rebucket_to_64(monkeypatch, store)
    out = capsys.readouterr().out
    assert "bands_rebucketed=2->64" in out  # fresh builds auto-size (r18)
    assert table_layout(banded_path(store))["buckets"] == 64

    # post-migration admission: the near-dup of 55 must be found
    # through the re-bucketed pruned read
    out6 = admit(rot6)
    assert "new_docs=1 groups=1 new_groups=1" in out6
    assert "rotation_pairs=1" in out6

    pairs = sorted(
        set(
            (r["da"], r["db"])
            for r in spark.read.parquet(evidence).collect()
        )
    )
    assert pairs == [(1, 40), (55, 200)]
    group_ids = sorted(
        r["group_id"] for r in spark.read.parquet(store).collect()
    )
    assert group_ids == [1, 3, 40, 55, 200]
    members = {
        r["doc_id"]: r["group_id"]
        for r in spark.read.parquet(members_path(store)).collect()
    }
    assert members == {
        1: 1, 2: 1, 3: 3, 30: 1, 40: 40, 45: 40, 50: 3, 55: 55, 200: 200,
    }


def test_probe_recall_cli(spark, tmp_path, capsys):
    """The drift probe that schedules refresh-ivf: on the straddled-
    cluster fixture the probe's recall improves across a refresh
    (the A-cluster queries' nprobe=1 candidate list gains the odd-
    side C members the stale layout hid), and the probe itself is
    read-only — index state is unchanged by probing."""
    import os

    from fdblog2clickhouse_spark.operators import ann_store
    from tests.test_ann_store import _refresh_fixture_qn

    qn = _refresh_fixture_qn(spark)
    emb = qn.selectExpr(
        "vec_id", "transform(q, x -> CAST(x AS FLOAT) / 10000.0) AS embedding"
    )
    vectors = str(tmp_path / "vectors")
    emb.write.parquet(vectors)

    cb = str(tmp_path / "codebook")
    li = str(tmp_path / "lists")
    qn.where(qn.vec_id.isin([200, 300])).selectExpr(
        "vec_id AS c_id", "q", "nq"
    ).coalesce(1).write.parquet(cb)
    tables.write_table(
        ann_store._assign(qn, spark.read.parquet(cb), 1).selectExpr(
            "v_id AS n_id", "c_id AS list_id"
        ),
        li,
        "overwrite",
        key="list_id",
    )

    def probe():
        assert cli.main([
            "probe-recall", cb, li, "--vectors", vectors,
            "--queries", "2", "--topk", "8", "--nprobe", "1",
        ]) == 0
        out = capsys.readouterr().out
        line = next(l for l in out.splitlines() if l.startswith("recall:"))
        parts = dict(p.split("=") for p in line.split()[1:3])
        return int(parts["hits"]), int(parts["total"])

    lists_before = sorted(
        (r["n_id"], r["list_id"]) for r in tables.read_table(spark, li).collect()
    )
    h0, t0 = probe()
    assert t0 == 16  # 2 queries × topk 8
    # probing is read-only
    assert sorted(
        (r["n_id"], r["list_id"]) for r in tables.read_table(spark, li).collect()
    ) == lists_before

    assert cli.main(["refresh-ivf", cb, li, "--vectors", vectors]) == 0
    capsys.readouterr()
    h1, t1 = probe()
    assert t1 == 16
    assert h1 > h0          # the refresh recovered recall
    assert h1 == 16         # unified C list: exact top-8 fully covered


def _appended_rep_store(spark, tmp_path, monkeypatch):
    """A text rep store built small-bucketed from 8 docs, then two
    one-doc admits, so some buckets of each table hold two files and
    the rest one. Returns (store, {doc_id: text}, the three tables)."""
    import json

    from fdblog2clickhouse_spark.operators.dedup_store import (
        banded_path,
        members_path,
    )

    docs = {
        i: " ".join(f"w{i}x{j}" for j in range(12)) for i in range(1, 9)
    }
    docs[2] = docs[1]  # an exact dup: group 1 = {1, 2}
    docs[20] = " ".join(f"v20x{j}" for j in range(12))
    docs[30] = " ".join(f"v30x{j}" for j in range(12))

    def write(name, ids):
        p = tmp_path / name
        p.write_text("".join(
            json.dumps({"doc_id": i, "text": docs[i]}) + "\n" for i in ids
        ))
        return str(p)

    corpus = write("corpus.json", sorted(docs))
    store = str(tmp_path / "store")
    with monkeypatch.context() as m:
        m.setattr(tables, "_BUILD_ROWS_PER_BUCKET", 2)  # 4 / 4 / 16 buckets
        assert cli.main(["build-store", write("base.json", range(1, 9)), store]) == 0
    for i in (20, 30):
        assert cli.main(["admit", write(f"b{i}.json", [i]), store,
                         "--corpus", corpus]) == 0
    paths = [store, members_path(store), banded_path(store)]
    assert max(max(_tbl_file_counts(p)) for p in paths) > 1
    return store, docs, paths


def _table_rows(spark, paths):
    return [sorted(map(tuple, tables.read_table(spark, p).collect())) for p in paths]


def test_rep_store_maintenance_smoke(spark, tmp_path, capsys, monkeypatch):
    """The rep store's fast default-tier maintenance check: build,
    admit two batches, retract, compact-store. The tables equal a
    store built from the live docs and the sidecars are retired; every
    bucket holds one file, and the buckets that held one file (and
    none of the retracted doc's rows) are byte-identical; the marker's
    row count equals the footer count; a second compact-store changes
    no byte. A flat signature dir is refused naming build-store,
    before any Spark job."""
    import glob
    import json

    import pytest
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.operators.dedup_store import (
        banded_path,
        gdelta_keys_path,
        gdelta_path,
        members_path,
        tombstones_path,
    )
    from tests.test_ann_store import _tree

    store, docs, paths = _appended_rep_store(spark, tmp_path, monkeypatch)
    victim = 30  # its own group: the fold drops its rows everywhere
    assert cli.main(["retract", store, "--id", str(victim)]) == 0
    kept = {}
    for p in paths:
        raw = spark.read.parquet(p)
        hit = {r[0] for r in raw.where(F.col("group_id") == victim).select("pb").collect()}
        for d in glob.glob(os.path.join(p, "pb=*")):
            n = len(glob.glob(os.path.join(d, "*.parquet")))
            if n == 1 and int(d.rsplit("=", 1)[1]) not in hit:
                kept[d] = _tree(d)
    assert kept
    capsys.readouterr()

    assert cli.main(["compact-store", store]) == 0
    assert "retractions_folded=true" in capsys.readouterr().out
    for side in (tombstones_path(paths[1]), gdelta_path(store), gdelta_keys_path(store)):
        assert not os.path.isdir(side), side
    for p in paths:
        assert set(_tbl_file_counts(p)) == {1}, p
        assert tables._marker_rows(p) == tables._footer_rows(p), p
    for d, tree in kept.items():
        assert _tree(d) == tree, d

    live = tmp_path / "live.json"
    live.write_text("".join(
        json.dumps({"doc_id": i, "text": t}) + "\n"
        for i, t in sorted(docs.items()) if i != victim
    ))
    model = str(tmp_path / "model")
    assert cli.main(["build-store", str(live), model]) == 0
    want = _table_rows(spark, [model, members_path(model), banded_path(model)])
    assert _table_rows(spark, paths) == want

    trees = [_tree(p) for p in paths]
    assert cli.main(["compact-store", store]) == 0
    assert [_tree(p) for p in paths] == trees

    flat = str(tmp_path / "flat")
    tables.read_table(spark, store).coalesce(1).write.parquet(flat)
    flat_tree = _tree(flat)
    sc = spark.sparkContext
    sc.setJobGroup("test-flat-store-refusal", "compact-store layout refusal")
    try:
        with pytest.raises(SystemExit, match=f"{flat} .*build-store"):
            cli.main(["compact-store", flat])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert sc.statusTracker().getJobIdsForGroup("test-flat-store-refusal") == []
    assert _tree(flat) == flat_tree


def test_compact_store_failed_publish_rolls_back(spark, tmp_path, monkeypatch):
    """A compaction publish that fails during compact-store rolls its
    own attempt back: no journal, no aside and no staging is left,
    the rows are those from before, and a re-run compacts."""
    import glob

    import pytest

    from fdblog2clickhouse_spark import storage

    store, _, paths = _appended_rep_store(spark, tmp_path, monkeypatch)
    before = _table_rows(spark, paths)
    real_rename = os.rename
    failed = []

    def fail_publish_once(src, dst):
        if os.path.basename(dst).startswith("pb=") and not failed:
            failed.append(dst)
            raise OSError("simulated publish failure")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", fail_publish_once)
    with pytest.raises(OSError, match="simulated publish failure"):
        cli.main(["compact-store", store])
    monkeypatch.setattr(os, "rename", real_rename)
    assert failed
    for p in paths:
        assert not os.path.exists(os.path.join(p, storage._FOLD_JOURNAL)), p
        assert not glob.glob(os.path.join(p, storage._BFOLD_PREFIX + "*")), p
        assert not glob.glob(os.path.join(p, ".bpub-*")), p
        assert not glob.glob(p + storage._BFOLD_PREFIX + "*"), p  # staging
    assert _table_rows(spark, paths) == before

    assert cli.main(["compact-store", store]) == 0
    for p in paths:
        assert set(_tbl_file_counts(p)) == {1}, p
    assert _table_rows(spark, paths) == before


def test_retract_cli_lifecycle(spark, tmp_path, capsys):
    """build-store → admit → retract (rep re-election + a full-group
    drop) → admit again (no ghost evidence, no re-admission of the
    tombstoned id) → compact-store folds and retires the sidecars."""
    import json
    import os

    from fdblog2clickhouse_spark.operators.dedup_store import (
        gdelta_path,
        members_path,
        tombstones_path,
    )

    docs = [
        (1, _T_A),
        (2, _T_A),  # exact dup of 1 — group 1 = {1, 2}
        (3, _T_B),  # singleton group
        (50, _T_C),
        (45, _T_C + " extra"),  # NEAR-dup of 50
    ]

    def write_json(name, ids):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in docs:
                if i in ids:
                    f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    corpus = write_json("corpus.json", {i for i, _ in docs})
    base = write_json("base.json", {1, 2, 3, 50})
    b1 = write_json("b1.json", {45})
    store = str(tmp_path / "store")
    evidence = str(tmp_path / "evidence")

    assert cli.main(["build-store", base, store]) == 0
    # retract group 1's FOUNDING rep (re-election to 2) and ALL of
    # group 3 (drop)
    assert cli.main(["retract", store, "--id", "1", "--id", "3"]) == 0
    out = capsys.readouterr().out
    assert "retracted: docs=2 dropped_groups=1 reelected=1" in out

    assert cli.main(["admit", b1, store, "--corpus", corpus,
                     "--evidence", evidence]) == 0
    pairs = {
        (r["da"], r["db"]) for r in spark.read.parquet(evidence).collect()
    }
    assert pairs == {(45, 50)}  # no ghost pair involving 1 or 3

    # tombstoned id cannot re-admit before the fold
    b_re = write_json("b_re.json", {3})
    assert cli.main(["admit", b_re, store, "--corpus", corpus,
                     "--evidence", evidence]) == 0
    mem = spark.read.parquet(members_path(store))
    assert mem.where("doc_id = 3").count() == 1  # still just the dead row

    assert cli.main(["compact-store", store]) == 0
    out = capsys.readouterr().out
    assert "retractions_folded=true" in out
    assert not os.path.isdir(tombstones_path(members_path(store)))
    assert not os.path.isdir(gdelta_path(store))
    members = {
        r["doc_id"]: r["group_id"]
        for r in spark.read.parquet(members_path(store)).collect()
    }
    # 1 and 3 gone; group {1,2} re-elected to 2
    assert members == {2: 2, 50: 50, 45: 45}
    assert sorted(
        r["group_id"] for r in spark.read.parquet(store).collect()
    ) == [2, 45, 50]


def test_admit_cli_long_lifecycle_with_retraction(spark, tmp_path, capsys):
    """Soak the retraction path inside the production admit loop:
    build + rotations, retract MID-STREAM (a founding rep AND a whole
    group), keep admitting — the next rotation must score against the
    live (gdelta-composed) store and produce NO ghost evidence — then
    redeliver a rotation whose doc was retracted (must not
    resurrect), fold via compact-store, and admit the retracted id
    fresh AFTER the fold."""
    import json
    import os

    from fdblog2clickhouse_spark.operators.dedup_store import (
        gdelta_path,
        members_path,
        tombstones_path,
    )

    def write_json(name, rows):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    t_c = "new content charlie group words xray yankee zulu november oscar"
    all_docs = [
        (1, _T_A), (2, _T_A), (3, _T_B),   # base: group 1 = {1,2}, 3 solo
        (10, _T_A),                          # rot1: exact dup joins group 1
        (20, _T_B + " extra words"),         # rot2: near-dup of 3
        (30, t_c),                           # rot3: fresh
        (40, _T_B + " extra words"),         # rot4 (post-retract): dup of 20
        (50, _T_A + " minor change"),        # rot5 (post-retract): near of A
        (3, _T_B),                           # rot6 (post-fold): 3 re-admitted
    ]
    corpus = write_json("corpus.json", all_docs)
    base = write_json("base.json", all_docs[:3])
    store = str(tmp_path / "store")
    evidence = str(tmp_path / "evidence")

    def admit(path):
        assert cli.main(["admit", path, store, "--corpus", corpus,
                         "--evidence", evidence]) == 0
        return capsys.readouterr().out

    assert cli.main(["build-store", base, store]) == 0
    capsys.readouterr()
    admit(write_json("rot1.json", [(10, _T_A)]))
    admit(write_json("rot2.json", [(20, _T_B + " extra words")]))
    admit(write_json("rot3.json", [(30, t_c)]))

    # mid-stream retraction: group 1's founding rep (re-election to 2)
    # AND all of group 3 ({3} — 20 is its own near-dup group)
    assert cli.main(["retract", store, "--id", "1", "--id", "3"]) == 0
    out = capsys.readouterr().out
    assert "retracted: docs=2 dropped_groups=1 reelected=1" in out

    # post-retraction rotations: 40 is an exact dup of 20 (membership
    # only — and 20's group evidence re-expansion must NOT emit the
    # retracted 3); 50 near-dups group 1 via the RE-ELECTED rep 2
    out4 = admit(write_json("rot4.json", [(40, _T_B + " extra words")]))
    assert "new_docs=1 groups=1 new_groups=0" in out4
    out5 = admit(write_json("rot5.json", [(50, _T_A + " minor change")]))
    assert "new_docs=1 groups=1 new_groups=1" in out5

    pairs = sorted(set(
        (r["da"], r["db"]) for r in spark.read.parquet(evidence).collect()
    ))
    # (3, 20) stands from rot2 (history, pre-retraction); the
    # POST-retraction expansions never re-emit 3 or 1: rot4's rescore
    # of group 20 yields pairs only among live members, rot5 scores
    # vs re-elected rep 2
    assert (2, 50) in pairs or (10, 50) in pairs or (50, 2) in pairs
    post = [p for p in pairs if 40 in p or 50 in p]
    assert all(1 not in p and 3 not in p for p in post)

    # redelivery of rot… a batch containing the retracted id 3: the
    # tombstone blocks resurrection
    out6 = admit(write_json("rot6.json", [(3, _T_B)]))
    assert "new_docs=0" in out6

    # fold retires the sidecars; then 3 admits fresh
    assert cli.main(["compact-store", store]) == 0
    out = capsys.readouterr().out
    assert "retractions_folded=true" in out
    assert not os.path.isdir(tombstones_path(members_path(store)))
    assert not os.path.isdir(gdelta_path(store))
    out7 = admit(write_json("rot7.json", [(3, _T_B)]))
    assert "new_docs=1" in out7
    members = {
        r["doc_id"]: r["group_id"]
        for r in spark.read.parquet(members_path(store)).collect()
    }
    # 1 gone; group A re-elected to 2; 3 back as a fresh group of its
    # own (its old group died with the retraction)
    assert members == {
        2: 2, 10: 2, 20: 20, 30: 30, 40: 20, 50: 50, 3: 3,
    }


def test_pairs_note_survives_crashed_evidence_partition(spark, tmp_path):
    """ADVICE r12: the redelivery-skip '(kept)' report must not crash
    on an evidence partition dir a crashed write left EMPTY — it
    reports 0 and the skip path stays a no-op."""
    import os

    from fdblog2clickhouse_spark.cli import _pairs_note

    ev_part = str(tmp_path / "evidence" / "batch_key=deadbeef")
    os.makedirs(ev_part)
    note = _pairs_note(spark, {"scored": False}, ev_part, 0)
    assert note == "0 (kept)"


def test_ivfpq_cli_soak(spark, tmp_path, capsys):
    """The operational IVF-PQ lifecycle the round-15 verdict ordered:
    build-ivfpq (four artifacts) → insert-vectors (assign + encode
    purely through the persisted codebooks) → retract-vectors →
    refresh-ivf (coarse Lloyd + PQ retrain + codes re-encode; the
    pending takedown folds with it) → search-ivfpq. After the
    refresh the retracted vector's rows are gone from BOTH lists and
    codes, the artifact set is coherent, and the search answers
    without touching raw corpus vectors beyond the query set."""
    import os

    from fdblog2clickhouse_spark.operators.ann_store import (
        ivf_codes_path,
        pq_codebook_path,
    )
    from fdblog2clickhouse_spark.sources.tables import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")

    def write_vecs(name, df):
        p = str(tmp_path / name)
        df.coalesce(1).write.parquet(p)
        return p

    from pyspark.sql import functions as F

    base = write_vecs("base", emb.where(F.pmod("vec_id", F.lit(10)) != 0))
    batch = write_vecs("batch", emb.where(F.pmod("vec_id", F.lit(10)) == 0))
    allv = write_vecs("all", emb)
    index = str(tmp_path / "index")
    cb = os.path.join(index, "codebook")
    lists = os.path.join(index, "lists")
    codes = ivf_codes_path(lists)

    assert cli.main(["build-ivfpq", base, index, "--centroids", "4"]) == 0
    out = capsys.readouterr().out
    assert "ivfpq index:" in out
    n_base = spark.read.parquet(lists).count()
    assert spark.read.parquet(codes).select("vec_id").distinct().count() == n_base

    assert cli.main(["insert-vectors", batch, cb, lists]) == 0
    out = capsys.readouterr().out
    assert "codes=appended" in out
    n_all = spark.read.parquet(lists).count()
    assert n_all > n_base
    assert spark.read.parquet(codes).select("vec_id").distinct().count() == n_all

    victim = spark.read.parquet(lists).agg(F.max("n_id")).first()[0]
    assert cli.main(["retract-vectors", lists, "--id", str(victim)]) == 0
    capsys.readouterr()

    assert cli.main(["refresh-ivf", cb, lists, "--vectors", allv]) == 0
    out = capsys.readouterr().out
    assert "refreshed:" in out
    # the refresh folded the takedown out of BOTH artifacts and kept
    # the four-artifact set coherent
    li = spark.read.parquet(lists)
    co = spark.read.parquet(codes)
    assert li.where(F.col("n_id") == victim).count() == 0
    assert co.where(F.col("vec_id") == victim).count() == 0
    assert co.select("vec_id").distinct().count() == li.count()
    assert os.path.isdir(pq_codebook_path(cb))

    assert cli.main(["search-ivfpq", cb, lists, "--vectors", allv,
                     "--queries", "3"]) == 0
    out = capsys.readouterr().out
    assert "search: queries=3" in out
    assert f" n={victim} " not in out  # the takedown never answers

def test_compact_store_auto_rebucket_growth(spark, tmp_path, capsys, monkeypatch):
    """VERDICT r15 #3: a store built small that grows past the
    rows/bucket knee is re-bucketed UP by the compact-store
    maintenance pass itself, with no separate command, each of the
    three tables by its own rows-per-bucket rule, the report line
    says what it did, and the next admission still classifies and
    pairs correctly through the migrated pruned reads."""
    import json

    from fdblog2clickhouse_spark.operators import dedup_store as ds
    from fdblog2clickhouse_spark.operators.dedup_store import (
        banded_path,
        members_path,
    )
    from fdblog2clickhouse_spark.operators.tables import table_layout

    t_c = "new content charlie group words xray yankee zulu november oscar"

    def write_json(name, rows):
        p = tmp_path / name
        with open(p, "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(p)

    all_docs = [
        (1, _T_A), (2, _T_A), (3, _T_B),
        (20, _T_A + " mike november"),
        (41, t_c),
        (50, t_c + " extra"),
    ]
    corpus = write_json("corpus.json", all_docs)
    base = write_json("base.json", all_docs[:3])
    rot1 = write_json("rot1.json", [all_docs[3]])
    rot2 = write_json("rot2.json", [all_docs[4]])
    rot3 = write_json("rot3.json", [all_docs[5]])
    store = str(tmp_path / "store")
    evidence = str(tmp_path / "evidence")

    assert cli.main(["build-store", base, store]) == 0  # 2 buckets each
    capsys.readouterr()
    for rot in (rot1, rot2):
        assert cli.main(["admit", rot, store, "--corpus", corpus,
                         "--evidence", evidence]) == 0
    capsys.readouterr()

    # test-scaled thresholds: 1 row/bucket triggers, 1 is the target.
    # 4 groups, 5 members and 16 index rows in 2 buckets each — the
    # maintenance pass must re-bucket all three tables up by itself
    monkeypatch.setattr(tables, "_REBUCKET_TRIGGER_ROWS", 1)
    monkeypatch.setattr(tables, "_REBUCKET_TARGET_ROWS", 1)
    assert cli.main(["compact-store", store]) == 0
    out = capsys.readouterr().out
    assert "store_rebucketed=2->4 (rows=4)" in out
    assert "members_rebucketed=2->8 (rows=5)" in out
    assert "bands_rebucketed=2->16 (rows=16)" in out
    assert table_layout(store)["buckets"] == 4
    assert table_layout(members_path(store))["buckets"] == 8
    assert table_layout(banded_path(store))["buckets"] == 16

    # a SECOND pass is a no-op (trigger/target hysteresis): no report
    assert cli.main(["compact-store", store]) == 0
    out2 = capsys.readouterr().out
    assert "rebucketed=" not in out2

    # post-rebucket admission: near-dup found through the migrated
    # pruned reads
    assert cli.main(["admit", rot3, store, "--corpus", corpus,
                     "--evidence", evidence]) == 0
    out3 = capsys.readouterr().out
    assert "new_docs=1" in out3 and "rotation_pairs=1" in out3
