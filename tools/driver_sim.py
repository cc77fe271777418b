#!/usr/bin/env python3
"""Simulate the driver's verify pass against __spark_entry__.py.

Builds a plain SparkSession (the driver's, not our tuned factory),
runs entry() as a smoke check, then every queries() entry at sf0.01
compared against oracle_sql() via DuckDB using the same
sorted-columns exact-value compare the driver's value-hash implies.
Exit 0 = all green. This is the repo's end-to-end surface check.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("DRIVER_SIM_SF", "/root/testdata/sf0.01")


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as mod
    from fdblog2clickhouse_spark.session import compiled_classes
    from tests.oracle import compare

    cpus = os.environ.get("DRIVER_SIM_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    failures = 0

    # 1. entry() smoke
    try:
        t0 = time.perf_counter()
        df = mod.entry(spark)
        rows = df.collect()
        print(f"entry(): OK rows={len(rows)} cols={df.columns} "
              f"({time.perf_counter()-t0:.1f}s)")
    except Exception:
        traceback.print_exc()
        print("entry(): FAIL")
        failures += 1

    # 2. queries vs oracle
    qs = mod.queries()
    oracles = mod.oracle_sql()
    print(f"queries: {len(qs)} declared, {len(oracles)} oracle-checked")
    for name, fn in sorted(qs.items()):
        t0 = time.perf_counter()
        try:
            df = fn(spark, SF)
            if name in oracles:
                compare(df, oracles[name], SF)
                status = "MATCH"
            else:
                n = df.count()
                status = f"rows-only n={n}"
                assert n >= 0
            print(f"  {name}: {status} ({time.perf_counter()-t0:.1f}s)")
        except Exception as e:
            print(f"  {name}: FAIL ({time.perf_counter()-t0:.1f}s)")
            print("    " + "\n    ".join(str(e).splitlines()[:12]))
            failures += 1

    # the driver's session keeps Spark's 100-entry codegen cache
    print(f"codegen: {compiled_classes(spark)} classes compiled")
    spark.stop()
    print(f"driver-sim: {'GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
