"""The `file` scheme's JVM helper (fdblog2clickhouse_spark/jvm/).

Stock Hadoop without libhadoop starts a `chmod` process per file
create and mkdir and a `readlink` process per link-status lookup; the
helper makes the same system calls in-JVM. These tests pin that no
such process is started, that the helper's results equal stock
RawLocalFileSystem's, that the committed jar is built from the
committed source, and that a JVM launched without the jar keeps stock
Hadoop."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from fdblog2clickhouse_spark.session import LOCAL_FS, LOCAL_FS_JAR

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SOURCE = os.path.join(_REPO, "fdblog2clickhouse_spark", "jvm", "LocalFileSystem.java")


def _run_child(code: str, *args: str, path_prefix: str | None = None) -> dict:
    """Run `code` in a fresh Python, and so a fresh JVM; return the
    JSON object its last stdout line holds."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    if path_prefix:
        env["PATH"] = path_prefix + os.pathsep + env["PATH"]
    proc = subprocess.run(
        [sys.executable, "-c", code, *args],
        capture_output=True, text=True, timeout=300, cwd=_REPO, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_jar_is_built_from_committed_source():
    with open(_SOURCE, "rb") as f:
        want = hashlib.sha256(f.read()).hexdigest()
    with zipfile.ZipFile(LOCAL_FS_JAR) as z:
        manifest = z.read("META-INF/MANIFEST.MF").decode()
    got = dict(line.split(": ", 1) for line in manifest.splitlines() if ": " in line)
    assert got.get("Source-SHA256") == want, "stale jar: run python tools/build_jvm.py"


def test_gitignore_keeps_jar():
    proc = subprocess.run(["git", "check-ignore", "--no-index", "-q", LOCAL_FS_JAR], cwd=_REPO)
    assert proc.returncode == 1  # 1: not ignored


_ONE_TRIGGER = r"""
import json, os, sys
sys.path.insert(0, os.getcwd())
from fdblog2clickhouse_spark.session import get_spark
from fdblog2clickhouse_spark.sinks.clickhouse import ClickHouseHttpSink
from fdblog2clickhouse_spark.sinks.rollup import foreach_batch_rollup, read_rollup
from fdblog2clickhouse_spark.streaming.ingest import insert_and_rollup, normalize_trace, read_trace_stream

base = sys.argv[1]
logs, spool, out = (os.path.join(base, d) for d in ("logs", "spool", "rollup"))
os.makedirs(logs)
with open(os.path.join(logs, "trace.0.json"), "w") as f:
    for i in range(20):
        f.write(json.dumps({"Severity": "10", "Machine": "m", "LogGroup": "default",
                            "Time": f"1706659207.{i:06d}", "Type": "T", "ID": str(i)}) + "\n")
spark = get_spark("localfs-test")
both = insert_and_rollup(ClickHouseHttpSink(spool_dir=spool, table="trace").foreach_batch(),
                         foreach_batch_rollup(out))
q = (normalize_trace(read_trace_stream(spark, logs)).writeStream.foreachBatch(both)
     .option("checkpointLocation", os.path.join(base, "ckpt")).trigger(availableNow=True).start())
q.awaitTermination()
cells = read_rollup(spark, out).collect()
spark.stop()
print(json.dumps({"spooled": len(os.listdir(spool)), "events": sum(c["n_events"] for c in cells)}))
"""


def test_live_trigger_starts_no_chmod_or_readlink(tmp_path):
    """A `PATH` shim logs every `chmod`/`readlink` started while a
    session launches and runs one foreachBatch trigger of a file
    stream into `watch --rollup`'s hook: a spooling ClickHouse sink on
    the overlap thread and the rollup. Stock Hadoop starts dozens
    here."""
    shims, log = tmp_path / "shims", tmp_path / "spawned.log"
    shims.mkdir()
    for tool in ("chmod", "readlink"):
        shim = shims / tool
        shim.write_text(f'#!/bin/sh\necho "{tool} $*" >> "{log}"\nexec {shutil.which(tool)} "$@"\n')
        shim.chmod(0o755)
    got = _run_child(_ONE_TRIGGER, str(tmp_path / "run"), path_prefix=str(shims))
    assert got == {"spooled": 1, "events": 20}
    assert (log.read_text().splitlines() if log.exists() else []) == []


def test_session_serves_file_scheme_from_helper(spark):
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == LOCAL_FS
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)
    assert fc.getDefaultFileSystem().getClass().getName() == LOCAL_FS + "$Fs"


def _status(st) -> tuple:
    link = str(st.getSymlink().toString()) if st.isSymlink() else None
    return (st.getPath().toString(), st.isDirectory(), st.isSymlink(), link, st.getLen(), st.getModificationTime())


@pytest.mark.parametrize("umask", ["022", "077"])
def test_helper_matches_stock_raw_local_fs(spark, tmp_path, umask):
    """Mode bits after create, mkdirs and setPermission, and link
    status of a regular file, a missing path, a live and a dangling
    symlink: the helper gives what stock RawLocalFileSystem gives
    under the same umask."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    conf = jvm.org.apache.hadoop.conf.Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    helper = getattr(jvm.fdblog2clickhouse_spark.jvm, "LocalFileSystem$Raw")()
    for fs in (stock, helper):
        fs.initialize(uri, conf)

    def modes(fs, base):
        fs.create(hpath(f"{base}/sub/f"), True).close()
        fs.mkdirs(hpath(f"{base}/d/e"))
        got = {p: os.stat(f"{base}/{p}").st_mode & 0o7777 for p in ("sub", "sub/f", "d", "d/e")}
        for mode in ("640", "755", "1777"):  # 1777: the sticky bit
            fs.setPermission(hpath(f"{base}/d/e"), jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
            got[mode] = os.stat(f"{base}/d/e").st_mode & 0o7777
        return got

    assert modes(helper, str(tmp_path / "h")) == modes(stock, str(tmp_path / "s"))

    (tmp_path / "file").write_text("x")
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    for name in ("file", "link", "dangling", "file:" + str(tmp_path / "link")):
        p = hpath(name if name.startswith("file:") else str(tmp_path / name))
        assert _status(helper.getFileLinkStatus(p)) == _status(stock.getFileLinkStatus(p)), name
    assert helper.getLinkTarget(hpath(str(tmp_path / "link"))).toString() == str(tmp_path / "file")
    assert helper.getFileLinkStatus(hpath(str(tmp_path / "link"))).isSymlink()
    for fs in (stock, helper):
        with pytest.raises(Py4JJavaError, match="FileNotFoundException"):
            fs.getFileLinkStatus(hpath(str(tmp_path / "missing")))


_LAUNCHED_WITHOUT_JAR = r"""
import json, os, sys
sys.path.insert(0, os.getcwd())
from pyspark.sql import SparkSession
SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate().stop()
from fdblog2clickhouse_spark.session import get_spark
spark = get_spark("localfs-fallback")
jvm = spark._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
out = os.path.join(sys.argv[1], "t")
spark.range(3).write.parquet(out)
print(json.dumps({
    "keys": sorted(k for k, _ in spark.sparkContext.getConf().getAll() if k.endswith(".file.impl")),
    "fs": fs.getClass().getName(),
    "rows": spark.read.parquet(out).count(),
}))
spark.stop()
"""


def test_jvm_launched_without_jar_keeps_stock_hadoop(tmp_path):
    """A session built in a JVM another caller launched without the
    jar must not name the helper's classes (every file operation
    would raise ClassNotFoundException): it falls back to stock."""
    got = _run_child(_LAUNCHED_WITHOUT_JAR, str(tmp_path))
    assert got["keys"] == [] and got["rows"] == 3
    assert not got["fs"].startswith("fdblog2clickhouse_spark")
