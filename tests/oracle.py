"""DuckDB-oracle comparison harness — mirrors the driver's check.

Runs the Spark query and the oracle SQL on the same parquet tables
and requires DRIVER-STRICT equality: both results go through pandas
(the driver converts to pandas, sorts columns by name, `sort_values`
over all columns, then value-hashes), and we assert frames equal with
`check_exact=True` and `check_dtype=True`. That means an int64 Spark
column vs a float64 oracle column FAILS here even when every value is
numerically equal — exactly the skew the driver's value-hash rejects
(DuckDB widens integer SUMs to HUGEINT which lands as float64 in
pandas; oracles must CAST(... AS BIGINT)). Unhashable cells (numpy
arrays from list columns) fail `sort_values` here just as they fail
the driver's canonicalizer — emit delimited strings instead.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from fdblog2clickhouse_spark.sources.tables import TABLE_NAMES


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    """Run `sql` over the tables present under `sf_dir`. A table is a
    parquet file or a directory of them (as Spark writes a test's tmp
    corpus); a query over an absent table fails at bind."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    df = con.sql(sql).df()
    con.close()
    return df


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonicalization: columns sorted by name, rows
    sorted by every column (stable), index dropped."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="stable")
    return df.reset_index(drop=True)


def compare(spark_df, oracle_sql: str, sf_dir: str) -> None:
    """Assert Spark and oracle results match under the driver's rules."""
    s = spark_df.toPandas()
    o = run_oracle(oracle_sql, sf_dir)

    assert sorted(s.columns) == sorted(o.columns), (
        f"columns differ: {sorted(s.columns)} vs {sorted(o.columns)}"
    )
    assert len(s) == len(o), f"row count differs: {len(s)} vs {len(o)}"

    s, o = canon(s), canon(o)
    try:
        pd.testing.assert_frame_equal(s, o, check_exact=True, check_dtype=True)
    except AssertionError as e:
        # surface the first differing rows for debuggability
        neq = (s.astype(str) != o.astype(str)).any(axis=1)
        head = pd.concat(
            {"spark": s[neq].head(3), "oracle": o[neq].head(3)}, axis=1
        )
        raise AssertionError(f"{e}\nfirst differing rows:\n{head}") from None
