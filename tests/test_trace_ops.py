"""Oracle-parity tests for the trace/events surface (SURVEY.md §2.1)."""

from __future__ import annotations

import pytest

from fdblog2clickhouse_spark.operators import trace_ops

from .oracle import compare


@pytest.mark.parametrize("name", sorted(trace_ops.QUERIES))
def test_trace_oracle_parity(spark, sf_oracle, name):
    df = trace_ops.QUERIES[name](spark, sf_oracle)
    compare(df, trace_ops.ORACLE[name], sf_oracle)


def test_repeat_pass_compiles_nothing(spark, sf_oracle):
    """A second pass of the benchmark's consumer queries compiles no
    generated class: the first pass's classes all stay in the JVM's
    codegen cache (session.CODEGEN_CACHE_ENTRIES). At Spark's default
    of 100 entries a pass needs more classes than the cache keeps,
    and the second pass compiles about 100 again. churned_users is
    not pinned: it compiled 4 classes on its second run and 0 on
    every run after that."""
    from fdblog2clickhouse_spark.session import compiled_classes
    from perfbench.workloads import MIX

    def one_pass():
        for name in MIX:
            trace_ops.QUERIES[name](spark, sf_oracle).toPandas()

    one_pass()
    before = compiled_classes(spark)
    one_pass()
    assert compiled_classes(spark) - before == 0


def test_sessionization_sane(spark, sf_smoke):
    rows = trace_ops.event_sessionization(spark, sf_smoke).collect()
    assert len(rows) > 0
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # session ids are 1..n per user, contiguous
    for user, sess in by_user.items():
        ids = sorted(s["session_id"] for s in sess)
        assert ids == list(range(1, len(ids) + 1))
        for s in sess:
            assert s["session_start_us"] <= s["session_end_us"]


def test_error_runs_conservation(spark, sf_oracle):
    """Per user: longest run ≤ total errors, run count ≤ total
    errors, and summed totals equal the raw error count."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.operators.trace_ops import error_run_lengths
    from fdblog2clickhouse_spark.sources.tables import table

    rows = error_run_lengths(spark, sf_oracle).collect()
    assert rows
    for r in rows:
        assert 1 <= r["max_run_len"] <= r["total_errors"]
        assert r["n_error_runs"] <= r["total_errors"]
    raw = (
        table(spark, sf_oracle, "events")
        .where(F.col("event_type") == "error")
        .count()
    )
    assert sum(r["total_errors"] for r in rows) == raw
