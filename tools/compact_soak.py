"""Soak auto-compaction under a long insert stream (VERDICT r17 #4):
r17 measured the COST of file accumulation statically and the tests
pin the trigger; unmeasured was a 50-100-micro-batch stream's steady
state — compaction cadence, the per-batch cost of the directory
listing, whether the file count stays inside the measured basin, and
the fold-on-compact interaction firing mid-stream with a pending
retraction.

The loop body IS the streaming leg: `streaming_ivf_insert`'s
foreachBatch calls `ivf_insert_batch` per micro-batch (streaming/
queries.py), which runs `maybe_compact_ivf_lists` after its appends
— driving the kernel directly soaks exactly the code the stream
runs, without the rate-source scheduling noise around the numbers.

Protocol: 64 micro-batches of 200 fresh vectors into a persisted
IVF-PQ index (16 coarse centroids — the soak geometry), auto-compact
trigger 16 files. The kernel's localCheckpointed batch appends ~1-2
files per micro-batch here, so the production default (1024) would
fire less than once in 64 batches — the trigger is scaled to the
soak's append size so the soak exercises SEVERAL full
trigger→compact→re-accumulate cycles (the cadence claim), not one.
At batch 32 a 100-vector
retraction lands mid-stream — the next triggered compaction must
fold it (tombstone sidecar retired, rows gone from the raw lists
AND the codes sibling). Report per-batch wall time (flat aside from
compaction spikes), lists/codes file-count trajectory, compaction
count, and the final exact row accounting.

Usage: python tools/compact_soak.py [SF_DIR] [N_BATCHES]
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from fdblog2clickhouse_spark.session import get_spark  # noqa: E402
from fdblog2clickhouse_spark.operators import ann_store as ast  # noqa: E402
from fdblog2clickhouse_spark.operators.dedup import _quantized  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
N_BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 64
BATCH_N = 200
N_CENTROIDS = 16
TRIGGER = 16
RETRACT_AT = N_BATCHES // 2
RETRACT_N = 100
INSERT_BASE = 10_000_000_000

spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")

qn = _quantized(spark, SF).select("vec_id", "q", "nq").cache()
n_base = qn.count()

root = os.path.join(tempfile.gettempdir(), f"compact_soak_{os.getpid()}")
shutil.rmtree(root, ignore_errors=True)
cb = f"{root}/codebook"
li = f"{root}/lists"
cent = qn.orderBy("vec_id").limit(N_CENTROIDS).select(
    F.col("vec_id").alias("c_id"), "q", "nq"
)
cent.coalesce(1).write.mode("overwrite").parquet(cb)
ast._assign(qn, spark.read.parquet(cb), 1).select(
    F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
).write.mode("overwrite").parquet(li)
ast.train_pq_codebook(spark, qn, cb, li)
ast.reencode_ivf_codes(spark, qn, cb, li)
co = ast.ivf_codes_path(li)

batch_src = qn.orderBy(F.desc("vec_id")).limit(BATCH_N).cache()
batch_src.count()


def nfiles(p: str) -> int:
    return len(glob.glob(os.path.join(p, "*.parquet")))


t_batch: list[float] = []
t_compact_batches: list[int] = []
lists_files: list[int] = []
retracted_ids = None
folded_at = None

for i in range(N_BATCHES):
    b = batch_src.withColumn(
        "vec_id", F.col("vec_id") + F.lit(INSERT_BASE + i * 1_000_000)
    )
    if i == RETRACT_AT:
        # a takedown lands mid-stream: 100 vectors from an EARLIER
        # micro-batch (they are on disk, codes included)
        # real ids from batch 2's range: on disk, codes included
        retracted_ids = (
            batch_src.withColumn(
                "vec_id", F.col("vec_id") + F.lit(INSERT_BASE + 2 * 1_000_000)
            )
            .select(F.col("vec_id").alias("doc_id"))
            .limit(RETRACT_N)
        )
        ast.retract_ivf_vectors(spark, li, retracted_ids)
        print(f"batch {i}: retracted {RETRACT_N} mid-stream", flush=True)
    t0 = time.perf_counter()
    r = ast.ivf_insert_batch(
        spark, b, cb, li, compact_trigger_files=TRIGGER
    )
    dt = time.perf_counter() - t0
    t_batch.append(dt)
    lists_files.append(nfiles(li))
    if r["compacted"]:
        t_compact_batches.append(i)
        if (
            folded_at is None
            and retracted_ids is not None
            and not os.path.isdir(ast.ivf_tombstones_path(li))
        ):
            folded_at = i
    if i % 8 == 0 or r["compacted"]:
        print(
            f"batch {i}: {dt:.2f}s files={nfiles(li)} codes={nfiles(co)}"
            f"{' COMPACTED' if r['compacted'] else ''}",
            flush=True,
        )

print()
plain = [
    dt for i, dt in enumerate(t_batch) if i not in set(t_compact_batches)
]
spikes = [t_batch[i] for i in t_compact_batches]
print(f"batches: {N_BATCHES}  compactions: {len(t_compact_batches)} "
      f"at {t_compact_batches}", flush=True)
print(
    f"per-batch (no compaction): median={statistics.median(plain):.2f}s "
    f"p90={sorted(plain)[int(0.9 * len(plain))]:.2f}s "
    f"first-half median="
    f"{statistics.median(plain[: len(plain) // 2]):.2f}s "
    f"second-half median="
    f"{statistics.median(plain[len(plain) // 2:]):.2f}s",
    flush=True,
)
if spikes:
    print(
        f"compaction batches: median={statistics.median(spikes):.2f}s "
        f"max={max(spikes):.2f}s",
        flush=True,
    )
print(
    f"lists files: max={max(lists_files)} final={lists_files[-1]} "
    f"(trigger {TRIGGER})",
    flush=True,
)

# exact accounting: every inserted vector minus the retraction, in
# lists AND codes, tombstones folded, no swap remnants
expect = n_base + N_BATCHES * BATCH_N - RETRACT_N
got_lists = spark.read.parquet(li).count()
got_codes = spark.read.parquet(co).select("vec_id").distinct().count()
tomb_left = os.path.isdir(ast.ivf_tombstones_path(li))
remnants = [
    p
    for p in (li + ".old", li + ".staging", co + ".old", co + ".staging")
    if os.path.exists(p)
]
print(
    f"rows: lists={got_lists} codes={got_codes} expected={expect} "
    f"fold_first_seen_at_batch={folded_at} tombstones_left={tomb_left} "
    f"remnants={remnants}",
    flush=True,
)
assert got_lists == expect, (got_lists, expect)
assert got_codes == expect, (got_codes, expect)
assert not tomb_left and not remnants
print("compact-soak: GREEN", flush=True)

shutil.rmtree(root, ignore_errors=True)
