"""SparkSession factory tuned for this engine.

Local testing runs on local[$SPARK_GRAFT_CPUS] (default 32); the
configuration is chosen to also be sane on a large cluster: AQE for
runtime re-planning and skew joins, Arrow for any Python-edge
exchange, UTC session time, and a shuffle partition count that AQE
coalesces down when partitions are small.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Shuffle partitions are a deploy-time knob (env-overridable): 32
# locally, thousands on a cluster. Measured at sf0.1: lowering to 8
# changes headline timings by <2% (AQE already coalesces the small
# shuffles) — per-query cost is dominated by one-time plan
# analysis/codegen, which amortizes with data volume. No operator
# assumes the value; every result is partitioning-independent by
# construction.
DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")


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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily set the shuffle width for a plan whose working set
    is far smaller than the corpus (iterative loops over edge lists,
    bounded stateful streams). The caller sizes `n` from the actual
    data volume so the same code fans out on a cluster."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def overlap(background, foreground) -> None:
    """Run `background()` on a worker thread while `foreground()`
    runs on this one, so independent Spark jobs back-fill each
    other's stragglers; return once both are done. The foreground's
    error wins: a background error raised alongside it is chained as
    its cause instead of replacing it, and a background error alone
    is raised as itself."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        bg = pool.submit(background)
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
