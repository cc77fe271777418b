#!/usr/bin/env python3
"""Build the package's JVM helper jar from its Java source.

    python tools/build_jvm.py

Compiles fdblog2clickhouse_spark/jvm/LocalFileSystem.java with
`javac --release 17` against the jars of the installed pyspark and
writes fdblog2clickhouse_spark/jvm/localfs.jar, with the source's
SHA-256 recorded in the manifest as `Source-SHA256`
(tests/test_localfs.py fails when the committed jar's hash differs
from the source). Entries carry a fixed timestamp and a sorted order,
so one javac gives the same jar bytes on every run.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "fdblog2clickhouse_spark", "jvm")
SOURCE = os.path.join(JVM_DIR, "LocalFileSystem.java")
JAR = os.path.join(JVM_DIR, "localfs.jar")
EPOCH = (1980, 1, 1, 0, 0, 0)


def main() -> int:
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with open(SOURCE, "rb") as f:
        manifest = f"Manifest-Version: 1.0\nSource-SHA256: {hashlib.sha256(f.read()).hexdigest()}\n"
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(["javac", "--release", "17", "-cp", jars, "-d", classes, SOURCE], check=True)
        entries = sorted(
            os.path.relpath(os.path.join(d, name), classes)
            for d, _, names in os.walk(classes)
            for name in names
        )
        tmp = JAR + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            z.writestr(zipfile.ZipInfo("META-INF/MANIFEST.MF", EPOCH), manifest, zipfile.ZIP_DEFLATED)
            for rel in entries:
                with open(os.path.join(classes, rel), "rb") as f:
                    z.writestr(zipfile.ZipInfo(rel, EPOCH), f.read(), zipfile.ZIP_DEFLATED)
        os.replace(tmp, JAR)
    print(f"wrote {os.path.relpath(JAR, ROOT)} ({len(entries)} classes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
