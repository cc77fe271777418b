"""Scale evidence for the admission path: hold the batch FIXED, grow
the persisted signature store K×, measure the scoring step — FULL
store scan vs the band index's PRUNED read.

The 100 TB claim of the admission family (operators/dedup_store.py)
is that a batch's admission cost is O(batch + matched candidates).
Round 11 added the banded store index (VERDICT r9 #3 / r10 #4):
`pruned_store_rows` opens only the bucket partitions the batch's
own band keys hash into, so the store-side READ cost is bounded by
the batch's bucket footprint instead of the store size. This tool
measures both spellings at 1×/4×/16×/64× stores with a small
(rotation-sized) batch — the regime pruning exists for.

Method: the sf0.1 base slice's signatures are replicated K times
with doc_id offsets of 10M·k (≡ 0 mod 10, so slice semantics are
preserved and replicas never collide); a FIXED 24-doc batch is
scored against each store size. Replicated docs are exact text
duplicates of their originals, so bucket occupancy grows K× in every
band — the PESSIMISTIC growth mode (real rep stores are pre-deduped
by construction); candidates grow ~K per matched batch doc.
Each index is built at 256 buckets (the scale setting: pruning needs
buckets ≫ batch keys).

Interleaved ABBA-style ordering across K values and variants,
median-of-3.
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
from fdblog2clickhouse_spark.operators import dedup as dd  # noqa: E402
from fdblog2clickhouse_spark.sources.tables import table  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
# optional argv[2]: comma-separated store multipliers (the r13 soak
# runs 1,16,64,256 — past the measured full-scan crossover). 64 must
# stay in the list: the bucket sweep below keys off the x64 store.
KS = (
    [int(x) for x in sys.argv[2].split(",")]
    if len(sys.argv) > 2
    else [1, 4, 16, 64]
)
OFFSET = 10_000_000  # ≡ 0 mod 10: replicas stay in base slices
BATCH_DOCS = 24  # a rotation, not a backfill — the pruning regime

spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")

sh = ds.shingle_frame(
    table(spark, SF, "documents").select("doc_id", "text")
).cache()
feats = sh.select("doc_id", F.col("sh").alias("fs"))
base_sigs = ds.signature_frame(sh.where(ds._base_pred(F.col("doc_id")))).cache()
batch_ids = [
    r["doc_id"]
    for r in sh.where(ds._slice(F.col("doc_id"), ds._BATCH1_REM))
    .select("doc_id")
    .orderBy("doc_id")
    .limit(BATCH_DOCS)
    .collect()
]
batch_sigs = ds.signature_frame(
    sh.where(F.col("doc_id").isin(batch_ids))
).cache()
print(f"batch: {batch_sigs.count()} docs", flush=True)
base_sigs.count()

root = os.path.join(tempfile.gettempdir(), f"admission_scale_{os.getpid()}")
shutil.rmtree(root, ignore_errors=True)

stores: dict[int, str] = {}
for k in KS:
    path = f"{root}/store_x{k}"
    rep = base_sigs
    for i in range(1, k):
        rep = rep.unionByName(
            base_sigs.withColumn("doc_id", F.col("doc_id") + OFFSET * i)
        )
    rep.write.mode("overwrite").parquet(path)
    # the banded index rides along, exactly as build-store writes it
    ds.write_banded_index(
        spark.read.parquet(path).withColumnRenamed("doc_id", "group_id"),
        path + "_bands",
        "overwrite",
        buckets=256,  # scale setting; see module docstring
    )
    stores[k] = path
    n = spark.read.parquet(path).count()
    print(f"store x{k}: {n} signature rows", flush=True)


def _verify(cand) -> int:
    cand_base = cand.select(
        (F.col("da") % OFFSET).alias("da"), (F.col("db") % OFFSET).alias("db")
    )
    return dd.jaccard_on_candidates(
        cand_base, feats, dd._JACCARD_THRESHOLD
    ).count()


def score_full(k: int) -> tuple[float, int]:
    """The r10 spelling: explode the ENTIRE flat store into band rows."""
    t0 = time.perf_counter()
    cand = ds.admission_candidates(spark.read.parquet(stores[k]), batch_sigs)
    n = _verify(cand)
    return time.perf_counter() - t0, n


def score_pruned_at(bands_path: str) -> tuple[float, int]:
    """The r11 spelling against an arbitrary band index path (the
    bucket sweep points it at indexes built at different counts)."""
    t0 = time.perf_counter()
    g_batch = batch_sigs.withColumnRenamed("doc_id", "group_id")
    store_rows = ds.pruned_store_rows(spark, bands_path, g_batch).join(
        g_batch.select(F.col("group_id").alias("id")), "id", "left_anti"
    )
    cand = ds.candidates_from_rows(
        store_rows,
        ds.store_band_rows(g_batch, id_col="group_id"),
        ds._N_BANDS,
    )
    n = _verify(cand)
    return time.perf_counter() - t0, n


def score_pruned(k: int) -> tuple[float, int]:
    return score_pruned_at(stores[k] + "_bands")


VARIANTS = {"full": score_full, "pruned": score_pruned}

for k in KS:  # warm every path
    for name, fn in VARIANTS.items():
        _, n = fn(k)
        print(f"warm x{k} {name}: pairs={n}", flush=True)

times: dict[tuple[str, int], list[float]] = {
    (v, k): [] for v in VARIANTS for k in KS
}
order = [(v, k) for k in KS for v in VARIANTS]
for rep_i in range(3):
    for v, k in order:
        dt, n = VARIANTS[v](k)
        times[(v, k)].append(dt)
        print(f"rep {rep_i} x{k} {v}: {dt:.2f}s pairs={n}", flush=True)
    order.reverse()

print()
for v in VARIANTS:
    for k in KS:
        print(
            f"{v} x{k}: median={statistics.median(times[(v, k)]):.2f}s",
            flush=True,
        )

# ------------------------- bucket-count sweep (VERDICT r11 #3 Done)
#
# Same store (the largest, x64), band indexes built at 16/64/256/
# 1024 buckets; one is produced through the MIGRATION path
# (bucket_table from a 16-bucket build) to pin that the
# migrated index is cost- and candidate-identical to a native build
# at the same count. Interleaved ABBA, median-of-3, like the main
# loop. Under whole-table partition discovery the dir term
# (~buckets listing calls) dominated at high counts; after
# pruned_store_rows switched to explicit-dir reads (r12) the sweep
# is monotone — higher bucket counts strictly cheaper (SCALE.md has
# both curves). Rebucket UP as the store grows.
KBIG = KS[-1]
BUCKET_SWEEP = [16, 64, 256, 1024]
sig_big = spark.read.parquet(stores[KBIG]).withColumnRenamed(
    "doc_id", "group_id"
)
idx: dict[int, str] = {}
for b in BUCKET_SWEEP:
    p = f"{root}/bands_x{KBIG}_b{b}"
    if b == 256:
        # exercise the migration path for one of the points
        ds.write_banded_index(sig_big, p, "overwrite", buckets=16)
        tables.bucket_table(spark, p, 256)
    else:
        ds.write_banded_index(sig_big, p, "overwrite", buckets=b)
    idx[b] = p

pairs_at: dict[int, int] = {}
for b in BUCKET_SWEEP:  # warm
    _, pairs_at[b] = score_pruned_at(idx[b])
assert len(set(pairs_at.values())) == 1, (
    f"bucket count changed the candidate/verify output: {pairs_at}"
)

btimes: dict[int, list[float]] = {b: [] for b in BUCKET_SWEEP}
border = list(BUCKET_SWEEP)
for rep_i in range(3):
    for b in border:
        dt, _ = score_pruned_at(idx[b])
        btimes[b].append(dt)
        print(f"rep {rep_i} buckets={b}: {dt:.2f}s", flush=True)
    border.reverse()

print()
for b in BUCKET_SWEEP:
    tag = " (via rebucket migration)" if b == 256 else ""
    print(
        f"pruned x{KBIG} buckets={b}: "
        f"median={statistics.median(btimes[b]):.2f}s{tag}",
        flush=True,
    )
shutil.rmtree(root, ignore_errors=True)
