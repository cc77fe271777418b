"""The benchmark's workloads, driven through the package's public
functions exactly as the CLI and the operator registry call them.

Each workload returns a `Result`: the end-to-end metrics (measured
with tracing off), the per-layer metrics (filled by a traced run),
the paper-level figures the report line prints, and the operation
and failure counts. Spans come from `tracing`; nothing inside the
package is instrumented.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import shutil
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

from perfbench import checks, loadgen
from perfbench.fake_ch import FakeClickHouse, decode_rows, last_arrival_by_rotation, line_counts
from perfbench.stats import (
    covering_trigger_ends,
    freshness,
    median,
    percentile,
    progress_end,
    tree_cpu_s,
    tree_peak_rss_mb,
)
from perfbench.tracing import NullTracer, Tracer

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
SETUP_REPEATS = 5


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)  # name -> (value, unit, samples)
    layers: dict = field(default_factory=dict)  # name -> (value, unit)
    paper: dict = field(default_factory=dict)  # report-line figures -> (value, unit, samples)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def op(self, ok: bool = True, n: int = 1) -> None:
        self.attempted += n
        if not ok:
            self.failed += n

    def check(self, name: str, fn) -> None:
        """Run one correctness check; a failure counts as a failed op."""
        try:
            fn()
            self.op(True)
        except AssertionError as e:
            self.op(False)
            self.errors.append(f"{name}: {e}")


class Bench:
    """One run: the Spark session, the run's scratch dir, the tracer."""

    def __init__(self, run_dir: str, inputs_dir: str, seed: int, seconds: float, trace: bool):
        self.run_dir, self.inputs_dir = run_dir, inputs_dir
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.spark = None
        self.tracer = NullTracer()
        self._t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self._t0

    def log(self, msg: str) -> None:
        """Progress line on stderr, stamped with seconds since start."""
        print(f"perfbench: [{self.elapsed():6.1f}s] {msg}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    # ------------------------------------------------------ session

    def start_session(self):
        from fdblog2clickhouse_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        # keep every trigger's progress of the live window
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        return self.spark

    def setup(self, res: Result, warm) -> None:
        """Session start plus the workload's warm-up job, several
        times. The first start launches the JVM, the later ones start
        a fresh SparkContext in it. `setup_s` is the median CPU time a
        set-up costs the benchmark process, its JVM and the Python
        workers: unlike its wall time (`setup_wall_s` in the report
        line) it is not stretched by CPU time the host gives to other
        guests, yet any work moved into set-up still shows in it."""
        starts, setups, cpus = [], [], []
        for _ in range(SETUP_REPEATS):
            t0, c0 = time.perf_counter(), tree_cpu_s()
            self.start_session()
            t1 = time.perf_counter()
            warm(self.spark)
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
            cpus.append(tree_cpu_s() - c0)
        self.log(f"setup done: starts {starts}, setups {setups}, cpu {cpus}")
        res.e2e["setup_s"] = (median(cpus), "s", len(cpus))
        res.paper["setup_s"] = res.e2e["setup_s"]
        res.paper["setup_wall_s"] = (median(setups), "s", len(setups))
        res.layers["session.start_s"] = (median(starts), "s")
        res.layers["session.parallelism"] = (self.spark.sparkContext.defaultParallelism, "count")
        res.paper["parallelism"] = (self.spark.sparkContext.defaultParallelism, "count", 1)

    def quiesce(self) -> None:
        """Collect the JVM's and Python's garbage before a timed
        window, so the window pays only for the garbage it makes."""
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def use_tracer(self) -> None:
        self.tracer = Tracer(self.spark.sparkContext)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _peak_rss(res: Result) -> None:
    mb = tree_peak_rss_mb()
    res.layers["session.peak_rss_mb"] = (mb, "MB")
    res.paper["peak_rss_mb"] = (mb, "MB", 1)


def _cpu_per_krow(res: Result, cpu_s: float, rows: int) -> None:
    """CPU milliseconds the Python process, JVM and workers spent per thousand
    input rows of the timed work. The work is fixed, and the guest
    kernel does not charge hypervisor steal to a task, so this cost
    moves far less with the host's load than a wall-clock figure."""
    res.e2e["cpu_ms_per_krow"] = (1e6 * cpu_s / rows, "ms", rows)
    res.paper["cpu_ms_per_krow"] = res.e2e["cpu_ms_per_krow"]


def _finish_ratio(res: Result) -> None:
    res.paper["failed_ratio"] = (res.failed / max(res.attempted, 1), "ratio", res.attempted)


# ------------------------------------------------------------ sinks

class TimedSink:
    """Wraps a foreachBatch callable in a span: the per-call wall
    time always, job counts too when traced."""

    def __init__(self, bench: Bench, layer: str, fn):
        self.bench, self.layer, self.fn = bench, layer, fn
        self.seconds: list[float] = []
        self.failures = 0

    def __call__(self, batch_df, batch_id: int) -> None:
        try:
            with self.bench.tracer.span(self.layer, stream=True, batch_id=batch_id) as s:
                self.fn(batch_df, batch_id)
        except Exception:
            self.failures += 1
            raise
        self.seconds.append(s.duration)


def _ch_sink(url: str):
    from fdblog2clickhouse_spark.sinks.clickhouse import ClickHouseHttpSink

    return ClickHouseHttpSink(addr=url, database="bench", table="trace", user=None, password=None)


def _progress(q) -> list[dict]:
    """The query's retained StreamingQueryProgress reports as dicts."""
    return [json.loads(p.json) for p in q.recentProgress]


def _sink_layers(res: Result, sink: TimedSink, fake: FakeClickHouse, posts, rows_generated: int, tracer) -> None:
    rows = sum(p.rows for p in posts)
    spans = tracer.spans("sinks.clickhouse")
    res.layers["sinks.clickhouse.batch_s_p50"] = (median(sink.seconds), "s")
    res.layers["sinks.clickhouse.batch_s_p90"] = (percentile(sink.seconds, 90), "s")
    res.layers["sinks.clickhouse.jobs_per_batch"] = (median([s.jobs for s in spans]), "count")
    res.layers["sinks.clickhouse.tasks_per_batch"] = (median([s.tasks for s in spans]), "count")
    res.layers["sinks.clickhouse.posts"] = (len(posts), "count")
    res.layers["sinks.clickhouse.rows_per_post"] = (rows / max(len(posts), 1), "count")
    res.layers["sinks.clickhouse.bytes_per_row"] = (sum(len(p.body) for p in posts) / max(rows, 1), "B")
    res.layers["sinks.clickhouse.post_failures"] = (sink.failures, "count")
    res.layers["sinks.clickhouse.rows_received_per_row_generated"] = (rows / max(rows_generated, 1), "ratio")
    res.layers["bench.fake_ch.busy_s"] = (fake.busy_s, "s")


def _ingest_layers(res: Result, progress: list[dict]) -> None:
    """Per-trigger phase medians over the triggers that carried data."""
    data = [p for p in progress if p["numInputRows"] > 0]
    for ph in PHASES:
        res.layers[f"streaming.ingest.{ph}_ms"] = (
            median([float(p["durationMs"].get(ph, 0)) for p in data]), "ms",
        )
    res.layers["streaming.ingest.triggers"] = (len(data), "count")
    res.layers["streaming.ingest.rows_per_trigger"] = (median([p["numInputRows"] for p in data]), "count")


def _warm_trace_path(path: str):
    def warm(spark) -> None:
        from fdblog2clickhouse_spark.sinks.clickhouse import jsoneachrow
        from fdblog2clickhouse_spark.sources.trace_json import read_trace_batch
        from fdblog2clickhouse_spark.streaming.ingest import normalize_trace

        jsoneachrow(normalize_trace(read_trace_batch(spark, path))).collect()

    return warm


# ------------------------------------------------------ trace_ingest

BACKLOG_ROTATIONS = 24
BACKLOG_LINES = 4_000
BACKLOG_WARM_DRAINS = 2
LIVE_LINES = 5_000
LIVE_PERIOD_S = 0.5
LIVE_WARM_ROTATIONS = 4


def _backlog_inputs(b: Bench):
    """The backlog's rotations and expected rows, generated once per
    seed and reused by later runs with the same seed."""
    log_dir = os.path.join(b.inputs_dir, "logs")
    rows_file = os.path.join(b.inputs_dir, "expected.json")
    if not os.path.exists(rows_file):
        shutil.rmtree(b.inputs_dir, ignore_errors=True)
        expected = loadgen.backlog(b.seed, log_dir, BACKLOG_ROTATIONS, BACKLOG_LINES)
        with open(rows_file + ".tmp", "w") as f:
            json.dump(expected, f)
        os.rename(rows_file + ".tmp", rows_file)
        return log_dir, expected
    with open(rows_file) as f:
        return log_dir, [tuple(r) for r in json.load(f)]


def trace_ingest(b: Bench) -> Result:
    """The watcher's life: it starts on a directory holding a backlog
    of rotations and drains it, then follows live rotations. The two
    phases share one JVM, so the backlog drains also warm up the code
    the live streams run."""
    res = Result()
    log_dir, expected = _backlog_inputs(b)
    b.log("inputs ready")
    fake = FakeClickHouse().start()
    try:
        b.setup(res, _warm_trace_path(os.path.join(log_dir, "trace.0000.json")))
        cpu_backlog, rows_backlog = _backlog_phase(b, res, fake, log_dir, expected)
        cpu_live, rows_live = _live_phase(b, res, fake)
        _peak_rss(res)
        _cpu_per_krow(res, cpu_backlog + cpu_live, rows_backlog + rows_live)
    finally:
        fake.close()
    if b.trace:
        store_admit(b, _store_inputs(b), res)
    _finish_ratio(res)
    return res


def backlog_drains(seconds: float) -> int:
    """Timed drains per run: a fixed amount of work that takes about
    `seconds` on a 4-core box, so every run measures the same work."""
    return max(2, round(seconds / 2))


def _backlog_phase(b: Bench, res: Result, fake: FakeClickHouse, log_dir: str, expected: list) -> tuple[float, int]:
    """Closed loop: drain the whole backlog through the `watch --once`
    path (read_trace_stream → normalize_trace → foreach_batch,
    AvailableNow) into the fake endpoint, again and again, each drain
    with a fresh checkpoint. Returns the CPU seconds and rows of the
    timed drains."""
    from fdblog2clickhouse_spark.sources.trace_json import read_trace_batch
    from fdblog2clickhouse_spark.streaming.ingest import normalize_trace, read_trace_stream

    spark = b.spark
    epochs = itertools.count()

    def drain(sink: TimedSink) -> tuple[int, float]:
        """One drain; its wall time leaves out the tracer's bookkeeping
        around the sink calls inside it."""
        epoch = fake.epoch = next(epochs)
        t0, o0 = time.perf_counter(), b.tracer.overhead_s
        q = (
            normalize_trace(read_trace_stream(spark, log_dir))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", b.path("ckpt", f"drain{epoch}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return epoch, time.perf_counter() - t0 - (b.tracer.overhead_s - o0)

    # warm-up drains: the first ones start the Python workers and pay JIT
    for _ in range(BACKLOG_WARM_DRAINS):
        drain(TimedSink(b, "sinks.clickhouse.drain", _ch_sink(fake.url).foreach_batch()))
    if b.trace:
        b.use_tracer()
    sink = TimedSink(b, "sinks.clickhouse.drain", _ch_sink(fake.url).foreach_batch())
    b.quiesce()
    cpu0 = tree_cpu_s()
    times = dict(drain(sink) for _ in range(backlog_drains(b.seconds)))
    cpu_s = tree_cpu_s() - cpu0
    b.log(f"backlog window done: drains {list(times.values())}, cpu {cpu_s:.1f} s")
    if b.trace:
        with b.tracer.span("streaming.ingest.read_normalize") as s:
            normalize_trace(read_trace_batch(spark, log_dir)).write.format("noop").mode("overwrite").save()
        res.layers["streaming.ingest.read_normalize_s"] = (s.duration, "s")
    n = len(expected)
    secs = list(times.values())
    res.paper["ingest_rows_per_s"] = (n * len(secs) / sum(secs), "1/s", len(secs))
    res.paper["drain_s_p50"] = (median(secs), "s", len(secs))
    res.paper["ingest_cpu_ms_per_krow"] = (1e6 * cpu_s / (n * len(secs)), "ms", len(secs))
    res.layers["sinks.clickhouse.drain_rows_per_s"] = res.paper["ingest_rows_per_s"][:2]
    spans = b.tracer.spans("sinks.clickhouse.drain")
    res.layers["sinks.clickhouse.drain_batch_s"] = (median(sink.seconds), "s")
    res.layers["sinks.clickhouse.drain_jobs_per_batch"] = (median([s.jobs for s in spans]), "count")
    res.layers["sinks.clickhouse.drain_tasks_per_batch"] = (median([s.tasks for s in spans]), "count")
    posts = [p for e in times for p in fake.snapshot(e)]
    res.layers["sinks.clickhouse.drain_rows_per_post"] = (
        sum(p.rows for p in posts) / max(len(posts), 1), "count",
    )
    res.op(sink.failures == 0, len(fake.snapshot()))  # every POST so far

    # Every drain, warm-up ones included, must deliver the backlog's
    # rows exactly once: the first is decoded and compared with the
    # generator's rows, every other one must repeat its lines.
    want = Counter(expected)
    res.check("drain 0 rows", lambda: checks.same_multiset(decode_rows(fake.snapshot(0)), want))
    ref = line_counts(fake.snapshot(0))
    for e in range(1, max(times) + 1):
        lines = line_counts(fake.snapshot(e))
        res.check(f"drain {e} rows", lambda lines=lines: checks.same_multiset(lines, ref))
    res.layers["sinks.clickhouse.drain_rows_received_per_row_generated"] = (
        sum(p.rows for e in times for p in fake.snapshot(e)) / (n * len(times)), "ratio",
    )
    return cpu_s, n * len(times)


class Schedule:
    """Open-loop generator: closes pre-written rotation k into the
    watched dir at t0 + k * period by a rename, however far behind
    the pipeline is, and records how late it ran."""

    def __init__(self, staging: str, watched: str, names: list[str], period: float):
        self.staging, self.watched, self.names, self.period = staging, watched, names, period
        self.scheduled: dict[int, float] = {}
        self.late: list[float] = []
        self._thread: threading.Thread | None = None

    def start(self, first: int, count: int, t0: float) -> None:
        def run():
            for k in range(first, first + count):
                due = t0 + (k - first) * self.period
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = self.names[k]
                os.rename(os.path.join(self.staging, name), os.path.join(self.watched, name))
                self.scheduled[k] = due
                self.late.append(time.time() - due)

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()

    def join(self) -> None:
        self._thread.join()


def _rollup_expected(rotations) -> Counter:
    from datetime import datetime, timezone

    out: Counter = Counter()
    for rot in rotations:
        for sev, _m, _g, ms, typ, _id in rot.expected:
            d = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
            out[(d.year * 100 + d.month, sev, typ)] += 1
    return out


def _live_phase(b: Bench, res: Result, fake: FakeClickHouse) -> tuple[float, int]:
    """Open loop: one rotation closes into the watched dir every
    LIVE_PERIOD_S while the `watch` query (ClickHouse sink) and the
    `rollup` query (foreach_batch_rollup) run side by side, as
    deployed. Returns the CPU seconds and rows of the timed window."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.sinks.rollup import foreach_batch_rollup, read_rollup
    from fdblog2clickhouse_spark.streaming.ingest import normalize_trace, read_trace_stream

    spark = b.spark
    fake.epoch = -1  # live POSTs, apart from the backlog drains
    n_win = int(b.seconds / LIVE_PERIOD_S) + 1
    # live rotation indexes start after the backlog's, so IDs stay unique
    rotations = loadgen.live_rotations(b.seed, LIVE_WARM_ROTATIONS + n_win, LIVE_LINES, BACKLOG_ROTATIONS)
    staging, watched = b.path("staging"), b.path("logs")
    os.makedirs(staging)
    os.makedirs(watched)
    names = [f"trace.{r.index:04d}.json" for r in rotations]
    for r, name in zip(rotations, names):
        loadgen.write_rotation(r, os.path.join(staging, name))
    sched = Schedule(staging, watched, names, LIVE_PERIOD_S)

    sink = TimedSink(b, "sinks.clickhouse", _ch_sink(fake.url).foreach_batch())
    rollup_path = b.path("rollup")
    merge = TimedSink(b, "sinks.rollup", foreach_batch_rollup(rollup_path))
    queries = []

    def caught_up(rows: int, timeout: float) -> bool:
        t_end = time.time() + timeout
        while time.time() < t_end:
            if fake.rows_received(-1) >= rows and sum(
                p["numInputRows"] for p in _progress(queries[1])
            ) >= rows:
                return True
            if any(q.exception() is not None for q in queries):
                return False
            time.sleep(0.2)
        return False

    try:
        queries.append(
            normalize_trace(read_trace_stream(spark, watched))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", b.path("ckpt", "watch"))
            .start()
        )
        queries.append(
            normalize_trace(read_trace_stream(spark, watched))
            .select("time", "severity", "type", F.lit(0).cast("long").alias("value_c"))
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", b.path("ckpt", "rollup"))
            .start()
        )
        # warm-up: the first triggers of each stream pay planning and codegen
        sched.start(0, LIVE_WARM_ROTATIONS, time.time())
        sched.join()
        res.op(caught_up(LIVE_WARM_ROTATIONS * LIVE_LINES, 120))
        sink.seconds.clear()
        merge.seconds.clear()

        b.quiesce()
        t0 = time.time() + LIVE_PERIOD_S
        cpu0 = tree_cpu_s()
        sched.start(LIVE_WARM_ROTATIONS, n_win, t0)
        sched.join()
        res.op(caught_up(len(rotations) * LIVE_LINES, 60))
        cpu_s = tree_cpu_s() - cpu0
        watch_progress = [p for p in _progress(queries[0]) if progress_end(p) >= t0]
        rollup_progress = [(p["numInputRows"], progress_end(p)) for p in _progress(queries[1])]
        for q in queries:
            q.stop()
    finally:
        for q in queries:
            if q.isActive:
                q.stop()

    ks = range(LIVE_WARM_ROTATIONS, LIVE_WARM_ROTATIONS + n_win)
    closes = {k: sched.scheduled[k] for k in ks}
    posts = fake.snapshot(-1)
    delivered = {
        k - BACKLOG_ROTATIONS: t
        for k, (t, n) in last_arrival_by_rotation(posts).items()
        if n == LIVE_LINES
    }
    fresh = freshness(closes, delivered)
    res.op(len(fresh) == n_win, n_win)
    ends = covering_trigger_ends([LIVE_LINES] * n_win, rollup_progress, LIVE_WARM_ROTATIONS * LIVE_LINES)
    rfresh = [e - closes[k] for k, e in zip(ks, ends) if e is not None]
    b.log(f"live window done: freshness {[round(x, 2) for x in fresh]}")
    last = max((delivered[k] for k in ks if k in delivered), default=closes[ks[-1]])
    rows = n_win * LIVE_LINES
    res.paper["freshness_p50_s"] = (median(fresh), "s", len(fresh))
    res.paper["freshness_p90_s"] = (percentile(fresh, 90), "s", len(fresh))
    res.paper["rollup_freshness_p50_s"] = (median(rfresh), "s", len(rfresh))
    res.paper["rollup_freshness_p90_s"] = (percentile(rfresh, 90), "s", len(rfresh))
    res.paper["live_rows_per_s"] = (rows / (last - t0 + LIVE_PERIOD_S), "1/s", n_win)
    res.paper["live_cpu_ms_per_krow"] = (1e6 * cpu_s / rows, "ms", n_win)

    _sink_layers(res, sink, fake, posts, len(rotations) * LIVE_LINES, b.tracer)
    _ingest_layers(res, watch_progress)
    res.layers["sinks.clickhouse.freshness_p50_s"] = res.paper["freshness_p50_s"][:2]
    res.layers["sinks.clickhouse.freshness_p90_s"] = res.paper["freshness_p90_s"][:2]
    res.layers["sinks.rollup.freshness_p50_s"] = res.paper["rollup_freshness_p50_s"][:2]
    res.layers["sinks.rollup.freshness_p90_s"] = res.paper["rollup_freshness_p90_s"][:2]
    res.layers["sinks.rollup.merge_s_p50"] = (median(merge.seconds), "s")
    res.layers["sinks.rollup.merge_s_p90"] = (percentile(merge.seconds, 90), "s")
    res.layers["sinks.rollup.jobs_per_merge"] = (
        median([s.jobs for s in b.tracer.spans("sinks.rollup")]), "count",
    )
    res.layers["bench.loadgen.late_max_s"] = (max(sched.late), "s")
    res.layers["bench.loadgen.rotations"] = (n_win, "count")
    res.layers["bench.loadgen.rows"] = (rows, "count")
    res.layers["bench.loadgen.backlog_rotations_at_end"] = (
        sum(1 for k in ks if delivered.get(k, float("inf")) > closes[ks[-1]]), "count",
    )
    res.op(sink.failures == 0, len(posts))
    res.op(merge.failures == 0, len(merge.seconds))

    res.check(
        "live rows",
        lambda: checks.same_multiset(decode_rows(posts), Counter(t for r in rotations for t in r.expected)),
    )
    state = {
        (r["yyyymm"], r["severity"], r["type"]): (r["n_events"], r["value_c"])
        for r in read_rollup(spark, rollup_path).collect()
    }
    res.layers["sinks.rollup.state_rows"] = (len(state), "count")
    want = {k: (n, 0) for k, n in _rollup_expected(rotations).items()}
    res.check("rollup state", lambda: checks.same_mapping(state, want))
    return cpu_s, rows


# ----------------------------------------------------------- olap_mix

OLAP_ROWS = 80_000
MERGETREE_APPENDS = 3
MIX = [
    "events_per_minute", "severity_rollup", "top_event_types", "error_rate_by_user",
    "value_percentiles_by_type", "event_sessionization", "json_extract_props",
    "events_rollup_cube", "trace_partition_stats", "events_dedup_latest",
]
RANGE_SCAN = "mergetree_range_scan"


def _olap_inputs(b: Bench) -> str:
    import pyarrow.parquet as pq

    sf = os.path.join(b.inputs_dir, "sf")
    done = os.path.join(b.inputs_dir, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(b.inputs_dir, ignore_errors=True)
        os.makedirs(sf)
        pq.write_table(loadgen.events_table(b.seed, OLAP_ROWS), os.path.join(sf, "events.parquet"))
        open(done, "w").close()
    return sf


def _range_hour(seed: int) -> tuple[int, int]:
    """A seeded one-hour range inside the events' three months, µs."""
    import numpy as np

    h = int(np.random.default_rng([seed, 3]).integers(0, loadgen.EVENTS_SPAN_US // 3_600_000_000))
    lo = loadgen.EVENTS_T0_US + h * 3_600_000_000
    return lo, lo + 3_600_000_000


def _range_scan(spark, path: str, lo_us: int, hi_us: int):
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.functions.hashing import cents
    from fdblog2clickhouse_spark.sinks.mergetree import read_mergetree

    t = read_mergetree(spark, path)
    return (
        t.where((F.col("ts") >= F.timestamp_micros(F.lit(lo_us))) & (F.col("ts") < F.timestamp_micros(F.lit(hi_us))))
        .groupBy(F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents(F.col("value"))).alias("value_c"))
    )


def _count_files(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def olap_passes(seconds: float) -> int:
    """Timed passes per run: at least one, then one per ~10 s asked."""
    return max(1, round(seconds / 10))


def olap_mix(b: Bench) -> Result:
    """One closed-loop client cycling the paper's consumer queries
    (through `operators.all_queries()`) plus a one-hour range
    aggregate over a MergeTree-style table built by K appends; each
    run then times one `optimize_mergetree` on that table."""
    from fdblog2clickhouse_spark import operators
    from fdblog2clickhouse_spark.sinks.mergetree import optimize_mergetree, write_mergetree
    from fdblog2clickhouse_spark.sources.tables import table

    res = Result()
    sf = _olap_inputs(b)
    queries = operators.all_queries()
    oracle = operators.all_oracle_sql()
    lo_us, hi_us = _range_hour(b.seed)
    mt = b.path("mergetree")

    b.setup(res, lambda spark: queries["events_per_minute"](spark, sf).collect())
    spark = b.spark
    appends = []
    events = table(spark, sf, "events")
    for i in range(MERGETREE_APPENDS):
        with b.tracer.span("sinks.mergetree.append") as s:
            write_mergetree(events.where(events.event_id % MERGETREE_APPENDS == i), mt, time_col="ts")
        appends.append(s.duration)

    ops = {q: (lambda q=q: queries[q](spark, sf)) for q in MIX}
    ops[RANGE_SCAN] = lambda: _range_scan(spark, mt, lo_us, hi_us)
    order = MIX + [RANGE_SCAN]
    results: dict[str, object] = {}

    def run_op(name: str) -> float:
        layer = "sinks.mergetree.range_scan" if name == RANGE_SCAN else f"operators.trace_ops.{name}"
        with b.tracer.span(layer) as s:
            results[name] = ops[name]().toPandas()
        return s.duration

    b.log("inputs, setup and appends done")
    for name in order:  # warm-up pass: JIT and codegen of every plan
        run_op(name)
    b.log("warm-up pass done")
    if b.trace:
        b.use_tracer()
    lat: dict[str, list[float]] = {q: [] for q in order}
    b.quiesce()
    cpu0 = tree_cpu_s()
    for _ in range(olap_passes(b.seconds)):
        for name in order:
            lat[name].append(run_op(name))
    cpu_s = tree_cpu_s() - cpu0
    n_ops = sum(len(v) for v in lat.values())
    b.log(f"window done: {n_ops} ops, cpu {cpu_s:.1f} s")
    pass_s = sum(median(v) for v in lat.values())
    res.op(True, n_ops + MERGETREE_APPENDS)
    _cpu_per_krow(res, cpu_s, OLAP_ROWS * n_ops)
    res.paper["olap_pass_s"] = (pass_s, "s", n_ops)
    res.layers["operators.trace_ops.pass_s"] = (pass_s, "s")
    for q in MIX:
        res.layers[f"operators.trace_ops.{q}_s"] = (median(lat[q]), "s")
        res.layers[f"operators.trace_ops.{q}_jobs"] = (
            median([s.jobs for s in b.tracer.spans(f"operators.trace_ops.{q}")]), "count",
        )
    res.layers["sinks.mergetree.range_scan_s"] = (median(lat[RANGE_SCAN]), "s")
    res.layers["sinks.mergetree.append_s"] = (median(appends), "s")

    before = _count_files(mt)
    with b.tracer.span("sinks.mergetree.optimize") as s:
        optimize_mergetree(spark, mt, time_col="ts")
    compaction = s.duration
    res.op(True)
    res.paper["compaction_s"] = (compaction, "s", 1)
    res.layers["sinks.mergetree.optimize_s"] = (compaction, "s")
    res.layers["sinks.mergetree.files_before"] = (before, "count")
    res.layers["sinks.mergetree.files_after"] = (_count_files(mt), "count")
    _peak_rss(res)

    for q in MIX:
        res.check(q, lambda q=q: checks.oracle_equal(results[q], oracle[q], sf))
    range_sql = checks.range_scan_sql(lo_us, hi_us)
    res.check("range scan", lambda: checks.oracle_equal(results[RANGE_SCAN], range_sql, sf))
    compacted = _range_scan(spark, mt, lo_us, hi_us).toPandas()
    res.check("range scan after optimize", lambda: checks.oracle_equal(compacted, range_sql, sf))
    b.log("checks done")
    _finish_ratio(res)
    return res


# -------------------------------------------- store admission (traced)

STORE_DOCS = 400


def _store_inputs(b: Bench) -> str:
    """The store's corpus as the `documents` table of an sf dir,
    generated once per seed beside the backlog."""
    import pyarrow.parquet as pq

    sf = os.path.join(b.inputs_dir, "sf")
    path = os.path.join(sf, "documents.parquet")
    if not os.path.exists(path):
        os.makedirs(sf, exist_ok=True)
        pq.write_table(loadgen.documents_table(b.seed, STORE_DOCS), path + ".tmp")
        os.rename(path + ".tmp", path)
    return sf


def store_admit(b: Bench, sf: str, res: Result) -> None:
    """`bootstrap_rep_store`, then one `rep_admission_step` rotation
    per admission slice of `dedup_store_rep_admission` (doc_id mod 10
    = _BATCH1_REM, then _BATCH2_REM), in the `build-store`/`admit`
    shape, so that operator's oracle checks the expanded evidence
    exactly. A step costs 15-30 s on 4 cores whatever its size, so
    two steps, not more, keep the traced run inside its time limit.
    Run at the end of trace_ingest's traced run only: one lifecycle
    costs more than a whole untraced run may take, and trace_ingest's
    runs are the shorter ones."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark import operators
    from fdblog2clickhouse_spark.functions.text import shingles_expr
    from fdblog2clickhouse_spark.operators.dedup_store import (
        _BATCH1_REM,
        _BATCH2_REM,
        _STORE_MOD,
        bootstrap_rep_store,
        expand_group_evidence,
        read_table,
        rep_admission_step,
        rep_group_frame,
        rep_reps,
        rep_signature_frame,
    )
    from fdblog2clickhouse_spark.sources.tables import table

    spark = b.spark
    root = b.path("store")
    sig, band, mem, evidence = (os.path.join(root, n) for n in ("signatures", "bands", "members", "evidence"))
    g_all = rep_group_frame(table(spark, sf, "documents")).cache()
    slot = F.pmod(F.col("doc_id"), F.lit(_STORE_MOD))
    g_base = g_all.where(~slot.isin(_BATCH1_REM, _BATCH2_REM))
    reps = rep_reps(g_base)
    with b.tracer.span("operators.dedup_store.bootstrap") as s:
        bootstrap_rep_store(
            spark,
            rep_signature_frame(reps),
            g_base.select("doc_id", "gh").join(reps.select("gh", "group_id"), "gh")
            .select("doc_id", "gh", "group_id"),
            sig, band, mem,
        )
    bootstrap_s = s.duration

    def feats_for(cand_ids):
        return g_all.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", F.array_distinct(F.expr(shingles_expr("t", 3))).alias("fs")
        )

    steps, stats = [], []
    for rem in (_BATCH1_REM, _BATCH2_REM):
        with b.tracer.span("operators.dedup_store.step") as s:
            stats.append(rep_admission_step(
                spark, g_all.where(slot == rem), sig, band, mem, feats_for,
                lambda v: v.write.mode("append").parquet(evidence),
            ))
        steps.append(s.duration)
    res.op(True, 1 + len(steps))
    admitted = sum(s["new_docs"] for s in stats)
    spans = b.tracer.spans("operators.dedup_store.step")
    res.paper["store_bootstrap_s"] = (bootstrap_s, "s", 1)
    res.paper["admit_docs_per_s"] = (admitted / sum(steps), "1/s", len(steps))
    res.layers["operators.dedup_store.bootstrap_s"] = (bootstrap_s, "s")
    res.layers["operators.dedup_store.step_s_p50"] = (median(steps), "s")
    res.layers["operators.dedup_store.step_s_max"] = (max(steps), "s")
    res.layers["operators.dedup_store.admit_docs_per_s"] = res.paper["admit_docs_per_s"][:2]
    for k in ("jobs", "stages", "tasks"):
        res.layers[f"operators.dedup_store.{k}_per_step"] = (median([getattr(s, k) for s in spans]), "count")
    groups = sum(s["groups"] for s in stats)
    res.layers["operators.dedup_store.new_groups_per_group"] = (
        sum(s["new_groups"] for s in stats) / max(groups, 1), "ratio",
    )

    got = expand_group_evidence(spark, evidence, mem).select("da", "db", "jaccard").toPandas()
    res.layers["operators.dedup_store.evidence_pairs"] = (len(got), "count")
    sql = operators.all_oracle_sql()["dedup_store_rep_admission"]
    res.check("store evidence", lambda: checks.oracle_equal(got, sql, sf))
    members = read_table(spark, mem).count()
    eligible = g_all.count()
    res.check("store members", lambda: checks.equal(members, eligible))
    g_all.unpersist()


WORKLOADS = {
    "trace_ingest": trace_ingest,
    "olap_mix": olap_mix,
}
