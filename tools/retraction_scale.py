"""Scale evidence for the RETRACTION path (VERDICT r13 #7): grow a
rep store K×, retract a FIXED-size slice, and measure

  retract   — must track the retracted slice, not the store: the
              sidecar writes are O(retracted); the one store-sized
              term left is the members/sigs COLUMNAR SCAN feeding
              the semi-join (no shuffle of the store, no rewrite),
              so the curve should be far sub-linear in K;
  admit     — one post-retraction admission step (the sidecars are
              now COMPOSED into every store read) to pin that a
              pending retraction does not degrade the admission
              path's pruned-read cost;
  fold      — fold_retractions rewrites the three tables once; ITS
              cost is designed O(store) and amortized into the
              compaction cadence — the measurement documents the
              constant.

Store construction mirrors tools/admission_scale.py: the sf0.1 base
slice's REP-STORE tables replicated with 10M·k doc_id offsets
(slice semantics preserved, replicas collide nowhere), banded index
at the 256-bucket scale setting — and, since round 15, the flat
store and members tables in the KEY-BUCKETED layout at the same
256-bucket scale setting (VERDICT r14 #2): the admission step's
flat-store gh scan and members doc_id anti-join now prune to the
batch's key buckets, so the `admit` column is the direct
measurement of the last-O(store)-term fix (the r14 soak measured it
at 3.1× over 256× data; bucketed it should track the batch's bucket
footprint, not the store). The retracted slice is 3 disjoint
100-doc cuts of the base replica (one per timing rep — retraction
mutates sidecar state, so every rep retracts FRESH ids), interleaved
ABBA across K values.

Usage: python tools/retraction_scale.py [SF_DIR] [K1,K2,...]
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from fdblog2clickhouse_spark.session import get_spark  # noqa: E402
from fdblog2clickhouse_spark.operators import dedup_store as ds  # noqa: E402
from fdblog2clickhouse_spark.operators import tables  # noqa: E402
from fdblog2clickhouse_spark.sources.tables import table  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
KS = (
    [int(x) for x in sys.argv[2].split(",")]
    if len(sys.argv) > 2
    else [1, 64, 256]
)
OFFSET = 10_000_000
N_RETRACT = 100
BATCH_DOCS = 24

# key-bucket scale setting for all three tables; override via env to
# measure the rebucket-UP story (the layout's slope is store/buckets
# per touched bucket, so doubling buckets should halve the admit
# curve's residual data term — admission_scale.py's index sweep,
# table edition)
TBL_BUCKETS = int(os.environ.get("TBL_BUCKETS", "256"))

spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")

g_all = ds.rep_group_frame(
    table(spark, SF, "documents").select("doc_id", "text")
).cache()
g_base = g_all.where(ds._base_pred(F.col("doc_id")))
sigs_base, mem_base = (f.cache() for f in ds.rep_store_frames(g_base))
print(f"base store: {sigs_base.count()} groups, {mem_base.count()} members",
      flush=True)

root = os.path.join(tempfile.gettempdir(), f"retraction_scale_{os.getpid()}")
shutil.rmtree(root, ignore_errors=True)

stores: dict[int, tuple[str, str, str]] = {}
for k in KS:
    sig_p = f"{root}/x{k}/signatures"
    band_p = f"{root}/x{k}/bands"
    mem_p = f"{root}/x{k}/members"
    # replica i shifts BOTH ids and the gh keyspace (a replica is a
    # distinct content universe — concat the replica tag into gh) so
    # group structure replicates instead of collapsing
    sig_k, mem_k = sigs_base, mem_base
    for i in range(1, k):
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
    tables.write_table(sig_k, sig_p, "overwrite", key="gh", buckets=TBL_BUCKETS)
    tables.write_table(mem_k, mem_p, "overwrite", key="doc_id",
                   buckets=TBL_BUCKETS)
    ds.write_banded_index(
        tables.read_table(spark, sig_p), band_p, "overwrite", buckets=TBL_BUCKETS
    )
    stores[k] = (sig_p, band_p, mem_p)
    print(f"store x{k}: {tables.read_table(spark, sig_p).count()} groups / "
          f"{tables.read_table(spark, mem_p).count()} members", flush=True)

# three DISJOINT 100-doc retraction slices of the base replica (reps
# must retract fresh ids — a re-retraction is a no-op by design)
base_ids = [
    r["doc_id"]
    for r in mem_base.select("doc_id").orderBy("doc_id")
    .limit(3 * N_RETRACT).collect()
]
slices = [base_ids[i * N_RETRACT:(i + 1) * N_RETRACT] for i in range(3)]

batch = g_all.where(ds._slice(F.col("doc_id"), ds._BATCH1_REM)).orderBy(
    "doc_id"
).limit(BATCH_DOCS).cache()
batch.count()

feats_for = ds.TEXT.feats_for(g_all)


def t_retract(k: int, ids: list[int]) -> float:
    sig_p, _, mem_p = stores[k]
    f = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    t0 = time.perf_counter()
    ds.retract_docs(spark, sig_p, mem_p, f)
    return time.perf_counter() - t0


def t_admit(k: int) -> float:
    sig_p, band_p, mem_p = stores[k]
    t0 = time.perf_counter()
    ds.rep_admission_step(
        spark, batch, sig_p, band_p, mem_p, feats_for,
        lambda v: v.count(), apply_appends=False,
    )
    return time.perf_counter() - t0


def t_fold(k: int) -> float:
    sig_p, band_p, mem_p = stores[k]
    t0 = time.perf_counter()
    ds.fold_retractions(spark, sig_p, band_p, mem_p)
    return time.perf_counter() - t0


# warm the scan paths once per store (parquet footer/listing caches)
for k in KS:
    t_admit(k)

r_times: dict[int, list[float]] = {k: [] for k in KS}
a_times: dict[int, list[float]] = {k: [] for k in KS}
order = list(KS)
for rep_i in range(3):
    for k in order:
        dt = t_retract(k, slices[rep_i])
        r_times[k].append(dt)
        da = t_admit(k)
        a_times[k].append(da)
        print(f"rep {rep_i} x{k}: retract={dt:.2f}s admit_composed={da:.2f}s",
              flush=True)
    order.reverse()

print()
for k in KS:
    print(f"x{k}: retract_median={statistics.median(r_times[k]):.2f}s "
          f"admit_composed_median={statistics.median(a_times[k]):.2f}s",
          flush=True)
for k in KS:
    print(f"x{k}: fold={t_fold(k):.2f}s (one-shot, O(store) by design)",
          flush=True)

shutil.rmtree(root, ignore_errors=True)
