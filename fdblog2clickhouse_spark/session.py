"""SparkSession factory tuned for this engine.

Local testing runs on local[$SPARK_GRAFT_CPUS] (default 32); the
configuration is chosen to also be sane on a large cluster: AQE for
runtime re-planning and skew joins, Arrow for any Python-edge
exchange, UTC session time, and a shuffle partition count that AQE
coalesces down when partitions are small.

The `file` scheme is served by `jvm/LocalFileSystem.java` (built into
`jvm/localfs.jar` by tools/build_jvm.py). Without libhadoop, Hadoop's
RawLocalFileSystem starts a `chmod` process for every file create and
mkdir and a `readlink` process for every link-status lookup, four per
FileContext rename. A streaming trigger writes offsets, commits,
source-log entries and state-sink parquet, so each live trigger paid
for dozens of such processes. The helper makes the same system calls
through java.nio and keeps checksums; it is wired in for both
FileSystem users (`fs.file.impl`) and FileContext users such as
Spark's checkpoint manager (`fs.AbstractFileSystem.file.impl`). The
jar goes on the driver class path when this process launches the JVM.
A JVM launched without it (another caller built the first session)
cannot load the classes, so its sessions keep stock Hadoop.

An idle file-stream query lists its source dir every
`spark.sql.streaming.pollingDelay`. On a quiet 4-core box, one idle
query cost 0.08-0.11 CPU s per wall second at Spark's 10 ms default,
against 0.004 with no query; 0.026-0.028 at 50 ms, 0.019-0.022 at
100 ms and 0.008-0.010 at 250 ms. On the same box under host load,
10 ms cost 0.19-0.21 and 50 ms 0.09-0.10. A deployed `watch` is idle
most of its life, since fdbserver rolls a trace file only at 10 MiB,
so the sessions here poll every POLLING_DELAY: a new file waits at
most 50 ms longer before its insert starts.

Spark keeps every Janino-compiled class in one JVM-wide cache of
`spark.sql.codegen.cache.maxEntries` entries, 100 by default. Guava
splits it into 4 LRU segments of maxEntries/4, so a working set near
the cap already thrashes inside one segment. The ten trace_ops
queries of perfbench's olap_mix need about 116 classes and all 25
trace_ops queries 259, so at 100 a second pass of the ten compiled
101 classes again, and every pass of the 25 compiled 260; HotSpot
then JITs the new bytecode from scratch. The sessions here keep
CODEGEN_CACHE_ENTRIES = 1000: a repeated pass of the ten compiles
none, and of the 25 at most 4 (churned_users, once). On a
4-core box, olap_mix cpu_ms_per_krow went 7.28 -> 5.31 (medians of 10
interleaved pairs, lower in all 10); trace_ingest compiles no class
once warm and stayed within noise. After four passes of the 25
queries Metaspace held 159 MB at 1000 entries and 158 MB at 100. The
key is a static conf: it takes effect only when get_spark builds the
JVM's first session, and `tune()` cannot set it, so a session another
caller built (the driver's `__spark_entry__.py`) keeps 100.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

# Shuffle partitions are a deploy-time knob (env-overridable): 32
# locally, thousands on a cluster. Measured at sf0.1: lowering to 8
# changes headline timings by <2% (AQE already coalesces the small
# shuffles) — per-query cost is dominated by one-time plan
# analysis/codegen, which amortizes with data volume. No operator
# assumes the value; every result is partitioning-independent by
# construction.
DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")

# How often an idle file-stream query looks for new files (docstring).
POLLING_DELAY = "50ms"

# Generated classes the JVM keeps compiled (docstring).
CODEGEN_CACHE_ENTRIES = 1000

LOCAL_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "localfs.jar")
LOCAL_FS = "fdblog2clickhouse_spark.jvm.LocalFileSystem"


def _local_fs_conf() -> dict[str, str]:
    """The settings that serve `file:` paths from LOCAL_FS, or none
    when the running JVM cannot load it (every file operation would
    raise ClassNotFoundException)."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if not os.path.exists(LOCAL_FS_JAR) or (
        jvm is not None and not jvm.org.apache.spark.util.Utils.classIsLoadable(LOCAL_FS)
    ):
        return {}
    return {
        "spark.driver.extraClassPath": LOCAL_FS_JAR,
        "spark.hadoop.fs.file.impl": LOCAL_FS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": LOCAL_FS + "$Fs",
    }


def get_spark(app_name: str = "fdblog2clickhouse-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.streaming.pollingDelay", POLLING_DELAY)
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    builder = builder.config(map=_local_fs_conf())
    return builder.getOrCreate()


_overlap_lock = threading.Lock()
_overlap_worker: tuple[int, ThreadPoolExecutor] | None = None


def overlap(background, foreground) -> None:
    """Run `background()` on a worker thread while `foreground()`
    runs on this one, so independent Spark jobs back-fill each
    other's stragglers; return once both are done. The foreground's
    error wins: a background error raised alongside it is chained as
    its cause instead of replacing it, and a background error alone
    is raised as itself.

    Every call's background runs on ONE worker thread kept for the
    whole process (a new Python thread costs a new py4j-pinned JVM
    thread, 40-55 ms a call on local[4]); backgrounds of concurrent
    callers queue on it. A background callable must therefore never
    call `overlap` itself: it would wait on its own worker forever."""
    global _overlap_worker
    with _overlap_lock:
        # a forked child inherits the pool but not its thread
        if _overlap_worker is None or _overlap_worker[0] != os.getpid():
            _overlap_worker = (os.getpid(), ThreadPoolExecutor(max_workers=1))
        bg = _overlap_worker[1].submit(background)
    try:
        foreground()
    except BaseException as err:
        bg_err = bg.exception()
        if bg_err is not None:
            raise err from bg_err
        raise
    bg.result()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a session we didn't build
    (e.g. the driver's). Only touches dynamically settable keys."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far
    (Spark's CodegenMetrics); a codegen cache hit compiles none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
