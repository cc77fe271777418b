"""Cross-engine deterministic hashing + exact-money helpers.

Every hash-dependent operator (minhash, simhash, LSH, fingerprints)
and every money aggregate must produce BIT-IDENTICAL results in Spark
and in the DuckDB oracle, or the driver's value-hash check fails.

Hash primitive: the top 32 bits of md5, as an unsigned BIGINT.
  Spark : CAST(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT)
  DuckDB: ('0x' || substr(md5(x), 1, 8))::BIGINT
md5 is identical everywhere; the hex→int conversion is exact; no
engine-specific hash (xxhash64/murmur) is ever used for results.

Money primitive: scale doubles with d decimals to integers
(ROUND(x * 10^d)), aggregate exactly in BIGINT, divide back to
DOUBLE at the end. Integer sums are order-independent, so shuffle
nondeterminism can never flip a low bit. (Production path would use
DECIMAL; integers are used here because DuckDB and Spark disagree on
decimal precision-widening rules for long multiply chains.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# ---------------------------------------------------------------- hash

def h32(col: Column) -> Column:
    """Unsigned 32-bit hash of a string column as BIGINT (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h32_sql(expr: str) -> str:
    """Same hash, DuckDB SQL."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def h32_spark_sql(expr: str) -> str:
    """Same hash, Spark SQL string form (for generated expressions)."""
    return f"CAST(conv(substr(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def h32_seeded(col: Column, seed: int) -> Column:
    return h32(F.concat(F.lit(f"{seed}|"), col))


# ------------------------------------------------------------- money

def cents(col: Column, decimals: int = 2) -> Column:
    """Exact integer scaling of a fixed-decimal double (Spark side)."""
    return F.round(col * (10 ** decimals), 0).cast("long")


def cents_sql(expr: str, decimals: int = 2) -> str:
    return f"CAST(ROUND(({expr}) * {10 ** decimals}) AS BIGINT)"
