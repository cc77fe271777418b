"""Retraction-heavy fold cadence soak (VERDICT r16 #6): the r16 soak
folded ONCE per store size; a production takedown stream folds
REPEATEDLY against accumulating sidecars. Run N retract→fold cycles
against one scaled store and verify

  per-fold cost   — flat across cycles (each cycle retracts a fresh
                    fixed-size slice, so each fold rewrites a
                    bounded partition set; a growing trend would
                    mean state from earlier folds is leaking into
                    later ones);
  no remnants     — after every fold: no fold journal, no .bfold
                    staging/aside dirs, no .old/.staging swap
                    remnants, and all three sidecars (gdelta,
                    gdelta_keys, tombstones) retired.

Also prints per-cycle retract seconds and the fold's rewritten
partition counts (sig/index/members) — with the r17 bucket-key
sidecar the discovery is O(retracted), so parts should track the
slice, never the store.

Usage: python tools/fold_cadence.py [SF_DIR] [K] [N_CYCLES]
Env: TBL_BUCKETS (default 256) — table bucket scale setting.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from fdblog2clickhouse_spark.session import get_spark  # noqa: E402
from fdblog2clickhouse_spark.operators import dedup_store as ds  # noqa: E402
from fdblog2clickhouse_spark.sources.tables import table  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
K = int(sys.argv[2]) if len(sys.argv) > 2 else 64
N_CYCLES = int(sys.argv[3]) if len(sys.argv) > 3 else 10
OFFSET = 10_000_000
N_RETRACT = 100

ds._BANDED_BUCKETS = 256
TBL_BUCKETS = int(os.environ.get("TBL_BUCKETS", "256"))

spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")

g_all = ds.rep_group_frame(
    table(spark, SF, "documents").select("doc_id", "text")
).cache()
g_base = g_all.where(ds._base_pred(F.col("doc_id")))
reps_base = ds.rep_reps(g_base)
sigs_base = ds.rep_signature_frame(reps_base).cache()
mem_base = (
    g_base.select("doc_id", "gh")
    .join(reps_base.select("gh", "group_id"), "gh")
    .select("doc_id", "gh", "group_id")
    .cache()
)

root = os.path.join(tempfile.gettempdir(), f"fold_cadence_{os.getpid()}")
shutil.rmtree(root, ignore_errors=True)
sig_p = f"{root}/x{K}/signatures"
band_p = f"{root}/x{K}/bands"
mem_p = f"{root}/x{K}/members"

sig_k, mem_k = sigs_base, mem_base
for i in range(1, K):
    tag = F.lit(f"#r{i}")
    sig_k = sig_k.unionByName(
        sigs_base.withColumn("group_id", F.col("group_id") + OFFSET * i)
        .withColumn("gh", F.concat(F.col("gh"), tag))
    )
    mem_k = mem_k.unionByName(
        mem_base.withColumn("doc_id", F.col("doc_id") + OFFSET * i)
        .withColumn("group_id", F.col("group_id") + OFFSET * i)
        .withColumn("gh", F.concat(F.col("gh"), tag))
    )
ds.write_table(sig_k, sig_p, "overwrite", key="gh", buckets=TBL_BUCKETS)
ds.write_table(mem_k, mem_p, "overwrite", key="doc_id", buckets=TBL_BUCKETS)
ds.write_banded_index(ds.read_table(spark, sig_p), band_p, "overwrite")
print(
    f"store x{K}: {ds.read_table(spark, sig_p).count()} groups / "
    f"{ds.read_table(spark, mem_p).count()} members "
    f"(tbl_buckets={TBL_BUCKETS}, banded={ds._BANDED_BUCKETS})",
    flush=True,
)

# N disjoint retraction slices — each cycle retracts FRESH ids
base_ids = [
    r["doc_id"]
    for r in mem_base.select("doc_id").orderBy("doc_id")
    .limit(N_CYCLES * N_RETRACT).collect()
]
assert len(base_ids) == N_CYCLES * N_RETRACT, (
    f"base store too small for {N_CYCLES} disjoint slices "
    f"({len(base_ids)} ids)"
)
slices = [
    base_ids[i * N_RETRACT:(i + 1) * N_RETRACT] for i in range(N_CYCLES)
]


def remnants() -> list[str]:
    found = []
    for p in (sig_p, band_p, mem_p):
        found += glob.glob(os.path.join(p, "**", "_fold_inflight.json*"),
                           recursive=True)
        found += glob.glob(os.path.join(p, "**", ".bfold-*"), recursive=True)
        for suffix in (".bfold", ".old", ".staging"):
            if os.path.exists(p + suffix):
                found.append(p + suffix)
    for sidecar in (
        ds.gdelta_path(sig_p),
        ds.gdelta_keys_path(sig_p),
        ds.tombstones_path(mem_p),
    ):
        for suffix in ("", ".old", ".staging"):
            if os.path.exists(sidecar + suffix):
                found.append(sidecar + suffix)
    return found


rows = []
for c in range(N_CYCLES):
    ids = spark.createDataFrame([(i,) for i in slices[c]], "doc_id long")
    t0 = time.perf_counter()
    ds.retract_docs(spark, sig_p, mem_p, ids)
    t_r = time.perf_counter() - t0
    t0 = time.perf_counter()
    fold = ds.fold_retractions(spark, sig_p, band_p, mem_p)
    t_f = time.perf_counter() - t0
    rem = remnants()
    rows.append((c, t_r, t_f, fold))
    print(
        f"cycle {c}: retract={t_r:.2f}s fold={t_f:.2f}s "
        f"parts sig={fold['sig_parts']} idx={fold['index_parts']} "
        f"mem={fold['mem_parts']} remnants={len(rem)}",
        flush=True,
    )
    if rem:
        print("  REMNANTS: " + ", ".join(rem), flush=True)

folds = [r[2] for r in rows]
import statistics  # noqa: E402

print(
    f"\nfold seconds: first={folds[0]:.2f} last={folds[-1]:.2f} "
    f"median={statistics.median(folds):.2f} "
    f"trend(last/first)={folds[-1] / folds[0]:.2f}",
    flush=True,
)
n = ds.read_table(spark, mem_p).count()
print(f"final members rows: {n} (expected "
      f"{mem_base.count() * K - N_CYCLES * N_RETRACT})", flush=True)

shutil.rmtree(root, ignore_errors=True)
