"""Correctness checks, run after the timed window.

Each check raises AssertionError with a short reason. Query results
are compared with their DuckDB oracle under `tests.oracle.canon`, the
canonicalization the repository's tests apply (columns sorted by
name, rows sorted by every column), with exact values and dtypes.
"""

from __future__ import annotations

import os
from collections import Counter

_TABLES = ("events", "documents")


def same_multiset(got, want: Counter) -> None:
    g = got if isinstance(got, Counter) else Counter(got)
    if g != want:
        extra, missing = g - want, want - g
        raise AssertionError(
            f"{sum(extra.values())} unexpected rows (e.g. {next(iter(extra), None)}), "
            f"{sum(missing.values())} missing rows (e.g. {next(iter(missing), None)})"
        )


def same_mapping(got: dict, want: dict) -> None:
    if got != want:
        diff = {k for k in set(got) | set(want) if got.get(k) != want.get(k)}
        k = next(iter(sorted(diff, key=str)))
        raise AssertionError(f"{len(diff)} keys differ, e.g. {k}: {got.get(k)} != {want.get(k)}")


def equal(got, want) -> None:
    if got != want:
        raise AssertionError(f"{got} != {want}")


def run_oracle(sql: str, sf_dir: str):
    """`tests.oracle.run_oracle`, but over only the tables the
    benchmark generated: a view of a missing parquet file fails."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in _TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.sql(sql).df()
    finally:
        con.close()


def oracle_equal(got, sql: str, sf_dir: str) -> None:
    """`got` (a pandas frame from Spark) equals the DuckDB oracle."""
    import pandas as pd

    from tests.oracle import canon

    want = run_oracle(sql, sf_dir)
    if sorted(got.columns) != sorted(want.columns):
        raise AssertionError(f"columns {sorted(got.columns)} != {sorted(want.columns)}")
    if len(got) != len(want):
        raise AssertionError(f"{len(got)} rows != {len(want)} oracle rows")
    pd.testing.assert_frame_equal(canon(got), canon(want), check_exact=True, check_dtype=True)


def range_scan_sql(lo_us: int, hi_us: int) -> str:
    """DuckDB twin of the benchmark's one-hour MergeTree range aggregate."""
    return f"""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_c
FROM events
WHERE epoch_us(ts) >= {lo_us} AND epoch_us(ts) < {hi_us}
GROUP BY 1
"""
