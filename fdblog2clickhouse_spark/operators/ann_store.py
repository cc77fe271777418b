"""Persisted ANN index lifecycle: IVF build → incremental insert →
search, all through disk (SURVEY §2.4).

`ann_ivf_topk` (similarity.py:198) proves the IVF *plan*; production
ANN is build-once-query-many: the codebook and inverted lists live
in storage, new vectors are INSERTED by assigning them against the
persisted codebook, and searches read only the index + probed
vectors. This operator runs that loop end to end on parquet:

  1. write the codebook (coarse centroid vectors) and the BASE
     corpus's inverted-list assignments (vec_id → list_id) to disk;
  2. a NEW vector batch (vec_id ≡ 0 mod 10) is assigned by READING
     the codebook from disk and its assignments are APPENDED to the
     lists table — the incremental insert;
  3. the query set probes nprobe lists through the ON-DISK index
     (lists + codebook read back from parquet) and ranks only
     vectors in probed lists.

Why the oracle can be the plain full-corpus IVF spelling (the exact
`ann_ivf_topk` SQL): centroid assignment depends only on (vector,
codebook) — never on other vectors — so incremental insert is
EXACTLY equivalent to a full rebuild, and the hash match proves both
that equivalence and the index roundtrip (any assignment row lost,
duplicated or mutated by the write/append/read cycle changes some
query's candidate set or ranking).

Scale shape: the codebook is broadcast-sized by construction; the
lists table is one row per vector (the partition key at 100 TB —
queries touch nprobe/k of it); insert cost is O(batch × centroids)
with no shuffle beyond the batch's own assignment window.

MAINTAINER CONTRACT (VERDICT r17 #2 / ADVICE r17) — the rule of the
`storage` module, which carries every write in this module:

  ONE MAINTAINER, MANY READERS. An index artifact set (codebook,
  lists, codes, PQ codebook, sidecars) takes its WRITES from exactly
  one process at a time. `ivf_insert_batch` is a writer — and since
  round 17 a COMPACTING writer (`maybe_compact_ivf_lists` runs
  inside it), so a live insert stream counts as the maintainer: do
  not run `refresh-ivf` / `compact-store` / `split` from a cron
  beside it — pause the stream (or route the maintenance commands
  through the same process, which serializes them).

  Every rewrite is a `storage` whole-table swap (`storage.commit`,
  or `storage.stage` … `storage.publish` for the refresh/split
  double swap), so at every instant each artifact or its '.old'
  aside holds a complete table. Concurrent QUERY processes are safe
  against the one maintainer: every reader heals crash remnants
  before building its plan (`storage.heal_swap`, rename-only), a
  reader's heal that fires inside the maintainer's swap window is
  absorbed by the swap's bounded retry (`storage._swap_aside`), and
  a heal that LOSES its own rename race tolerates it. A reader whose
  already-built scan raced a swap sees FileNotFound and retries the
  read — the standard rename-swap caveat.

  A SECOND WRITER (out of contract) aborts, never corrupts: rename
  collisions or `_swap_aside` retry exhaustion raise with both the
  live table and the staging dir complete, and every maintenance
  pass converges on re-run. Pinned by
  tests/test_ann_store.py::test_swap_survives_racing_heal and
  ::test_second_writer_aborts_not_corrupts.

The IVF takedown path (`retract_ivf_vectors` → tombstone sidecar,
`live_ivf_lists` → composed read, `fold_ivf_retractions` → physical
fold) lives here beside the lists and codes it rewrites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .. import storage
from ..session import overlap
from .dedup import _QUANT_CTE, _quantized
from .sinkcheck import scratch_dir
from .similarity import (
    _ANN_IVF_SQL,
    _CENTROID_IDS,
    _COS_SQL,
    _IVF_TOPK,
    _N_PROBE,
    _N_QUERIES,
    _cosine_cols,
)

_INSERT_MOD = 10  # vec_id % 10 == 0 → the incremental-insert batch


def _assign(sub: DataFrame, cent: DataFrame, rank_cap: int) -> DataFrame:
    """Rank each vector's nearest centroids against a (possibly
    disk-read) codebook: broadcast cross-join, then rank_cap rows per
    vector out, no data-keyed shuffle of the vector table. rank_cap=1
    (the lists-build/insert path) aggregates with max_by — a hash
    aggregate with MAP-SIDE partial combine, so the exchange carries
    one row per vector instead of one per (vector, centroid) and
    needs no sort (r18, guide §2.3 aggregate-before-shuffle); the
    ordering struct (cosine, -c_id) reproduces the window's
    (desc cosine NULLS LAST, asc c_id) exactly — a NULL cosine (zero
    vector) loses to any scored centroid, all-NULL picks the smallest
    c_id. rank_cap>1 (probes) keeps the window."""
    scored = sub.select(
        F.col("vec_id").alias("v_id"), F.col("q").alias("qa"), F.col("nq").alias("na")
    ).crossJoin(
        broadcast(
            cent.select(
                F.col("c_id"), F.col("q").alias("qb"), F.col("nq").alias("nb")
            )
        )
    ).select("v_id", "c_id", _cosine_cols())
    if rank_cap == 1:
        return (
            scored.groupBy("v_id")
            .agg(
                F.max_by(
                    F.struct("c_id", "cosine"),
                    F.struct(F.col("cosine"), (-F.col("c_id")).alias("nc")),
                ).alias("b")
            )
            .select(
                "v_id",
                F.col("b.c_id").alias("c_id"),
                F.col("b.cosine").alias("cosine"),
                F.lit(1).alias("crank"),
            )
        )
    wa = Window.partitionBy("v_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("crank", F.row_number().over(wa))
        .where(F.col("crank") <= rank_cap)
    )


def ann_ivf_store_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build → insert → search through the persisted index (module
    docstring). Output: identical schema/content to `ann_ivf_topk`
    (q_id, n_id, list_id, cosine, rank ≤ topk)."""
    root = scratch_dir("ivf_store")
    codebook_path = root + "/codebook"
    lists_path = root + "/lists"

    qn = _quantized(spark, sf_dir).cache()

    # 1. index BUILD: codebook + base assignments to disk
    qn.where(F.col("vec_id").isin(_CENTROID_IDS)).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).write.mode("overwrite").parquet(codebook_path)
    cent_disk = spark.read.parquet(codebook_path)
    base = qn.where(F.pmod(F.col("vec_id"), F.lit(_INSERT_MOD)) != 0)
    _assign(base, cent_disk, 1).select(
        F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
    ).write.mode("overwrite").parquet(lists_path)

    # 2. incremental INSERT: assign the new batch against the
    # persisted codebook, append to the lists table
    batch = qn.where(F.pmod(F.col("vec_id"), F.lit(_INSERT_MOD)) == 0)
    _assign(batch, spark.read.parquet(codebook_path), 1).select(
        F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
    ).write.mode("append").parquet(lists_path)

    # 3. SEARCH through the on-disk index: probe lists come from the
    # disk codebook too (a real query node holds no build state)
    out = ivf_store_search_plan(spark, qn, codebook_path, lists_path)
    # materialize the (tiny, topk-per-query) result so the corpus
    # cache can be released before the next operator in a bench/sweep
    # session (ADVICE r9) — the returned frame is then a parquet scan.
    out.write.mode("overwrite").parquet(root + "/result")
    qn.unpersist()
    return spark.read.parquet(root + "/result")


def ivf_store_search_plan(
    spark: SparkSession,
    qn: DataFrame,
    codebook_path: str,
    lists_path: str,
    nprobe: int = _N_PROBE,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """The LAZY query-node search plan over an on-disk IVF index —
    reusable (`compact_ivf_lists`'s invariance pin,
    tests/test_ann_store.py, re-runs it against the compacted lists
    table) and plan-testable (the operator above materializes its
    result, hiding the join tree behind a scan). Reads the lists
    through `live_ivf_lists`, so a pending takedown (tombstone
    sidecar) is invisible without any index rewrite; `nprobe` is the
    recall/cost knob (sweep in tools/pq_recall.py, curve in
    SCALE.md) — the proof ops pin the oracle's _N_PROBE. `allowed`
    (a frame with an `n_id` column) composes a metadata predicate
    into the index read — see `ivf_store_filtered_search_plan`, the
    documented filtered-search entry point; keeping the semi-join
    HERE keeps the probe/candidate/rank body single-source (ADVICE
    r15: the filtered plan used to duplicate it, so tie-break or
    nprobe fixes had to be made twice)."""
    # heal-on-every-read-path (the dedup family's rule, extended to
    # the query node in r17): a refresh/split that crashed mid-swap
    # leaves the codebook only at '.old' — without this one stat the
    # query node raises PATH_NOT_FOUND until maintenance reruns.
    # Rename-only (no .old cleanup): readers never delete a
    # maintainer's in-flight state.
    storage.heal_swap(codebook_path)
    lists = live_ivf_lists(spark, lists_path)
    if allowed is not None:
        lists = lists.join(allowed.select("n_id"), "n_id", "left_semi")
    probes = _assign(
        qn.where(F.col("vec_id") < _N_QUERIES),
        spark.read.parquet(codebook_path),
        nprobe,
    ).select(F.col("v_id").alias("q_id"), F.col("c_id").alias("probe_list"))

    qv = qn.select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    nv = qn.select(
        F.col("vec_id").alias("n_id"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    cands = (
        nv.join(lists, "n_id")
        .join(broadcast(probes), F.col("list_id") == F.col("probe_list"))
        .where(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", "list_id", "qb", "nb")
        .join(broadcast(qv), "q_id")
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        cands.select("q_id", "n_id", "list_id", _cosine_cols())
        .withColumn("rank", F.row_number().over(wq).cast("int"))
        .where(F.col("rank") <= _IVF_TOPK)
    )


_FILTER_LABEL_MAX = 4  # filtered search's predicate: label < 4 (~40%)


def ivf_store_filtered_search_plan(
    spark: SparkSession,
    qn: DataFrame,
    allowed: DataFrame,
    codebook_path: str,
    lists_path: str,
    nprobe: int = _N_PROBE,
) -> DataFrame:
    """`ivf_store_search_plan` with a metadata predicate composed
    into the INDEX read — filtered vector search, the retrieval
    shape every RAG / curation stack runs against a vector store
    (predicate first, distance second). `allowed` is a frame with an
    `n_id` column (the ids passing the caller's metadata predicate);
    it semi-joins the inverted lists BEFORE any per-dimension work,
    so the expensive cosine arithmetic runs on filtered candidates
    only — pre-filtering, never post-filtering (a post-filter
    computes distances for every probed vector and can return < k
    SURVIVORS of a k-cut, which silently changes semantics). Probe
    selection is NOT filtered: which lists a query visits depends
    only on (query, codebook) — the filter restricts candidates
    within probed lists, exactly the FAISS IDSelector / payload-
    filter semantics. At scale the semi-join shuffles lists on
    n_id only when `allowed` is large; a selective predicate under
    AQE broadcasts. Composes the tombstone sidecar via
    `live_ivf_lists` like every other lists reader. A thin wrapper:
    the probe/candidate/rank body lives in `ivf_store_search_plan`
    (ADVICE r15 — single-source, so ranking fixes can't drift
    between the plain and filtered paths)."""
    return ivf_store_search_plan(
        spark, qn, codebook_path, lists_path, nprobe, allowed=allowed
    )


def ann_ivf_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search through the PERSISTED IVF index: build the
    on-disk index (codebook + lists, `ann_ivf_store_search`'s build
    step), then answer the query set under a metadata predicate
    (label < _FILTER_LABEL_MAX) through
    `ivf_store_filtered_search_plan`. The brute-force sibling
    (`ann_filtered_topk`, similarity.py) pins pre-filter semantics
    on the exact scan; THIS op pins them on the index path — the
    production combination (a vector store query with a payload
    filter), where the predicate must compose with the inverted
    lists, not with a full corpus scan. Queries are not themselves
    filtered (a query vector's metadata is irrelevant to what it may
    retrieve). Some queries can legitimately return < topk rows
    (their probed lists hold < topk allowed vectors) — identical on
    both engines, and exactly why pre- vs post-filter matters.
    Oracle: the full-corpus IVF spelling with the same predicate
    joined into the candidate step."""
    root = scratch_dir("ivf_filtered")
    codebook_path = root + "/codebook"
    lists_path = root + "/lists"

    qn = _quantized(spark, sf_dir).cache()

    qn.where(F.col("vec_id").isin(_CENTROID_IDS)).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).write.mode("overwrite").parquet(codebook_path)
    _assign(qn, spark.read.parquet(codebook_path), 1).select(
        F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
    ).write.mode("overwrite").parquet(lists_path)

    allowed = qn.where(F.col("label") < _FILTER_LABEL_MAX).select(
        F.col("vec_id").alias("n_id")
    )
    out = ivf_store_filtered_search_plan(
        spark, qn, allowed, codebook_path, lists_path
    )
    out.write.mode("overwrite").parquet(root + "/result")
    qn.unpersist()
    return spark.read.parquet(root + "/result")


def ivf_codes_path(lists_path: str) -> str:
    """The PQ codes table lives BESIDE the inverted lists —
    (vec_id, sub, code), one row per (indexed vector, subspace). The
    maintenance passes (compact/fold/refresh/split) auto-detect this
    sibling so a takedown removes the taken-down vectors' derived
    representations and a centroid refresh re-encodes instead of
    leaving codes pointing at retired geometry (VERDICT r14 /
    ADVICE r14)."""
    return lists_path.rstrip("/") + "_codes"


def ivf_tombstones_path(lists_path: str) -> str:
    return lists_path.rstrip("/") + "_tombstones"


def _lists_id_col(lists: DataFrame) -> str:
    """The vector-id column of an inverted-lists table: ann_store
    writes (n_id, list_id); accept vec_id too for externally built
    tables (the CLI takes an arbitrary --lists path)."""
    return "n_id" if "n_id" in lists.columns else "vec_id"


def live_ivf_lists(spark: SparkSession, lists_path: str) -> DataFrame:
    """The inverted-lists table with retractions applied: tombstoned
    vec_ids removed. The sidecar is O(retracted) → broadcast — the
    same composition rule as `live_members`, so EVERY lists reader
    (search, probe-recall, refresh, split, compaction) sees the
    post-takedown index without a single physical rewrite."""
    storage.heal_swap(lists_path)
    lists = spark.read.parquet(lists_path)
    tomb = storage.read_sidecar(spark, ivf_tombstones_path(lists_path))
    if tomb is None:
        return lists
    idc = _lists_id_col(lists)
    return lists.join(
        F.broadcast(tomb.select(F.col("vec_id").alias(idc))), idc, "left_anti"
    )


def retract_ivf_vectors(
    spark: SparkSession, lists_path: str, ids: DataFrame
) -> dict:
    """The IVF sibling of `dedup_store.retract_docs` — O(retracted), never
    O(index) (VERDICT r13 #2: the previous full read→anti-join→swap
    rewrite was a full-index write per takedown batch): merge the
    retracted vec_ids into a tombstone sidecar beside the lists
    table; the physical lists are untouched, readers compose the
    sidecar (`live_ivf_lists`), and `fold_ivf_retractions` (run by
    compact-store / refresh-ivf, which rewrite the lists anyway)
    retires it. The codebook keeps its centroids — vanished-list ids
    never drop, matching refresh_ivf_centroids' rule — and recall
    drift from the now-stale centroids is what `probe-recall` exists
    to catch. Same crash-safe swap as the text sidecars."""
    ids = ids.select(F.col("doc_id").alias("vec_id")).distinct()
    tomb_path = ivf_tombstones_path(lists_path)
    storage.heal_swap(tomb_path)
    old_tomb = storage.read_sidecar(spark, tomb_path)
    new_tomb = ids
    if old_tomb is not None:
        new_tomb = new_tomb.unionByName(old_tomb.select("vec_id")).distinct()
    # localCheckpoint before the swap: new_tomb's lineage reads the
    # OLD sidecar, which the swap removes (same hazard retract_docs'
    # tombstone write had — ADVICE r13)
    new_tomb = new_tomb.localCheckpoint()
    n_total = new_tomb.count()
    storage.commit(tomb_path, new_tomb.write.parquet)
    return {"tombstoned": n_total}


def fold_ivf_retractions(spark: SparkSession, lists_path: str) -> dict:
    """Fold the IVF tombstone sidecar into the physical lists table
    and retire it — the compaction-time companion to
    `retract_ivf_vectors`, mirroring `fold_retractions`: one swap
    rewrite of the lists (the only O(index) write, amortized into the
    maintenance pass that rewrites them anyway), sidecar deleted
    LAST. A codes sibling (`ivf_codes_path`) is folded in the same
    pass — the takedown contract covers the taken-down vectors'
    DERIVED representations, not just their list membership
    (VERDICT r14). A crash between the steps leaves tombstones that
    match nothing — harmless, and the re-run retires them. No-op
    when no sidecar exists."""
    import os

    storage.heal_swap(lists_path)
    tomb_path = ivf_tombstones_path(lists_path)
    tomb = storage.read_sidecar(spark, tomb_path)
    if tomb is None:
        return {"folded": False}
    storage.commit(lists_path, live_ivf_lists(spark, lists_path).write.parquet)
    codes_p = ivf_codes_path(lists_path)
    storage.heal_swap(codes_p)
    if os.path.isdir(codes_p):
        storage.commit(
            codes_p,
            spark.read.parquet(codes_p)
            .join(tomb.select("vec_id"), "vec_id", "left_anti")
            .write.parquet,
        )
    storage.retire_sidecar(tomb_path)
    return {"folded": True}


def ivf_insert_batch(
    spark: SparkSession, qn_batch: DataFrame, codebook_path: str,
    lists_path: str, *, compact_trigger_files: int | None = None,
) -> dict:
    """Insert ONE vector batch into a persisted IVF(-PQ) index
    purely through the persisted codebooks — THE single insert
    kernel behind the `insert-vectors` CLI and the streaming insert
    leg (VERDICT r15 #4: the streaming leg used to append lists rows
    only, so a stream pointed at a codes-bearing IVF-PQ index left
    every new vector invisible to compressed search —
    `ivfpq_store_search_plan` inner-joins candidates to codes).
    Assignment rows append to the lists; when the index carries a
    codes sibling, residual PQ codes are encoded against the
    persisted PQ codebook and appended beside them in the SAME call
    — a codes table with no PQ codebook is an incoherent artifact
    set and refuses loudly BEFORE any write, so a refused insert
    leaves the artifact set untouched (ADVICE r16). Codebooks are
    never retrained by an insert (refresh-ivf's job);
    encode-at-insert ≡ rebuild is the driver-pinned equivalence
    (`ann_ivfpq_store_search`).

    IDEMPOTENT under redelivery (VERDICT r16 #1): foreachBatch is
    at-least-once, so the batch's vec_ids are anti-joined against
    the RAW lists before the lists append (raw, not live — a
    tombstoned vec_id stays retracted until the next fold, the same
    contract as the dedup admission's raw-members anti-join), and
    the codes append targets every batch vec_id PRESENT in the lists
    but MISSING from the codes — which covers, in one spelling, the
    fresh rows this call adds, a replayed already-complete batch
    (appends nothing twice), and a replay after a crash BETWEEN the
    lists append and the codes append (the half-inserted vectors get
    their codes, not a second lists row). The anti-join side is a
    2-column columnar read of the lists (and of the codes' vec_id
    column); batch-internal duplicate vec_ids are collapsed first
    (a redelivered batch IS an internal duplicate).

    AUTO-COMPACTS (round 17): after the appends the kernel runs
    `maybe_compact_ivf_lists`, so a long-running insert loop can
    never accumulate unbounded tiny files — the unmerged-parts
    failure mode — without anyone noticing; `compact_trigger_files`
    overrides the measured default (None), 0 disables. Returns
    {"vectors": appended, "skipped": redelivered, "codes_appended":
    bool, "compacted": bool}.

    WRITER — one maintainer per artifact set (module docstring
    MAINTAINER CONTRACT): auto-compact makes every insert loop a
    COMPACTING writer, so a cron refresh-ivf/compact-store beside a
    live insert stream is out of contract (aborts, never corrupts;
    query processes are always safe)."""
    import os

    # heal crash-interrupted swaps FIRST (a compaction that died
    # mid-rename leaves the table only at path+'.old'): the reads
    # below would raise PATH_NOT_FOUND — and worse, the codes
    # existence CHECK would silently classify a codes-bearing index
    # as lists-only, inserting vectors invisible to compressed
    # search (and an append to the missing lists path would fork a
    # fresh table beside the real one at .old)
    storage.heal_swap(lists_path)
    storage.heal_swap(codebook_path)
    codes_p = ivf_codes_path(lists_path)
    storage.heal_swap(codes_p)
    has_codes = os.path.isdir(codes_p)
    if has_codes:
        pq_p = pq_codebook_path(codebook_path)
        storage.heal_swap(pq_p)
        if not os.path.isdir(pq_p):
            raise RuntimeError(
                f"index has a codes table ({codes_p}) but no PQ "
                f"codebook ({pq_p}): the artifact set is incoherent — "
                "rebuild with build-ivfpq or train the PQ codebook "
                "before inserting"
            )
    cent_d = spark.read.parquet(codebook_path)
    batch = qn_batch.dropDuplicates(["vec_id"])
    # every join below keeps the store-sized table (lists/codes) on
    # the PROBE side of a broadcast semi/anti against a batch-bounded
    # build side: one 2-column columnar scan each, zero shuffles of
    # the index (explicit hints — left_semi/left_anti can only build
    # on the right, so without them a big right side would shuffle)
    # localCheckpoint (eager, batch-bounded — a semi against the
    # batch): pins the PRE-APPEND snapshot of the lists explicitly.
    # `prior` is re-evaluated inside `need`/`resid` AFTER the lists
    # self-append below; without the checkpoint the no-duplicate-
    # codes invariant rested on Spark's implicit InMemoryFileIndex
    # snapshot never re-listing files (ADVICE r17 — any refactor
    # that refreshed the path would double-encode fresh vectors).
    prior = spark.read.parquet(lists_path).select(
        F.col("n_id").alias("vec_id"), "list_id"
    ).join(
        F.broadcast(batch.select("vec_id")), "vec_id", "left_semi"
    ).localCheckpoint()
    fresh = batch.join(
        F.broadcast(prior.select("vec_id")), "vec_id", "left_anti"
    )
    # localCheckpoint (eager): severs the lineage through the lists
    # read so the append below never races its own scan, and the
    # assignment is computed ONCE (it used to be re-derived by the
    # residual join — VERDICT r16 plan audit)
    b_lists = (
        _assign(fresh, cent_d, 1)
        .select(F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id"))
        .localCheckpoint()
    )
    n_fresh = b_lists.count()
    n_batch = batch.count()
    if n_fresh:
        b_lists.write.mode("append").parquet(lists_path)
    def _auto_compact() -> bool:
        if compact_trigger_files is not None and compact_trigger_files <= 0:
            return False
        kw = (
            {}
            if compact_trigger_files is None
            else {"trigger_files": compact_trigger_files}
        )
        return maybe_compact_ivf_lists(spark, lists_path, **kw)["compacted"]

    if not has_codes:
        return {
            "vectors": n_fresh,
            "skipped": n_batch - n_fresh,
            "codes_appended": False,
            "compacted": _auto_compact(),
        }
    # lists_after ∩ batch = b_lists ∪ prior; of those, encode codes
    # for exactly the vec_ids the codes table is missing. The codes
    # side is reduced to its batch-relevant ids FIRST (columnar scan
    # + broadcast semi) so the anti-join's build side stays
    # batch-bounded — a direct anti against the codes table would
    # shuffle the whole table (left_anti can only build on the
    # right).
    codes_present = spark.read.parquet(codes_p).select("vec_id").join(
        F.broadcast(batch.select("vec_id")), "vec_id", "left_semi"
    )
    need = (
        b_lists.select(F.col("n_id").alias("vec_id"), "list_id")
        .unionByName(prior)
        .join(F.broadcast(codes_present), "vec_id", "left_anti")
    )
    centv = cent_d.select("c_id", F.col("q").alias("cq"))
    resid = (
        batch.join(need, "vec_id")
        .join(broadcast(centv), F.col("list_id") == F.col("c_id"))
        .select(
            "vec_id",
            F.zip_with(F.col("q"), F.col("cq"), lambda x, y: x - y).alias(
                "q"
            ),
        )
        .localCheckpoint()
    )
    if resid.count():
        _ivfpq_codes(resid, spark.read.parquet(pq_p)).write.mode(
            "append"
        ).parquet(codes_p)
    return {
        "vectors": n_fresh,
        "skipped": n_batch - n_fresh,
        "codes_appended": True,
        "compacted": _auto_compact(),
    }


def compact_ivf_lists(
    spark: SparkSession, lists_path: str, *, n_files: int = 1
) -> dict:
    """OPTIMIZE FINAL for the inverted-lists table: every
    `ann_ivf_store_search`-style insert batch appends one file group,
    so a long-running insert loop accumulates one tiny parquet file
    per batch — the same unmerged-parts failure mode the signature
    store has (VERDICT r9/r10 item: IVF store maintenance). Rewrites
    the lists into `n_files` files sorted by list_id, which is ALSO
    the search-time access pattern: probes read whole lists, so
    list_id locality tightens row-group min/max pruning for the
    lists join. Same crash-safe rename-aside swap as the signature
    store. This is ALSO the retraction fold point: the rewrite reads
    the LIVE view (tombstone sidecar composed) and retires the
    sidecar after the swap — ONE O(index) write covers both jobs
    (self-review r14: fold-then-compact was two full rewrites per
    maintenance pass); `fold_ivf_retractions` stays for a fold with
    no compaction need. Search-result invariance before/after is
    CI-pinned by re-running `ivf_store_search_plan` against the
    compacted table (tests/test_ann_store.py). Returns
    {files_before, files_after, rewrote, folded} — built from what
    ACTUALLY happened, not a pre-call sidecar probe (ADVICE r14: an
    empty crash-remnant sidecar dir on an already-compact table used
    to report folded=true without folding, and a fold rewrite that
    RAISED the file count was reported as min(before, target)). An
    already-compact table with NO pending sidecar is left untouched.
    WRITER — one maintainer per artifact set (module docstring
    MAINTAINER CONTRACT); its swaps retry through racing reader
    heals (`_swap_aside`).
    A codes sibling (`ivf_codes_path`) is folded in the same pass:
    tombstoned vectors' codes rows are anti-joined away — the
    takedown contract covers derived representations, not just list
    membership (VERDICT r14). Centroid refresh is intentionally NOT
    done here: the insert ≡ rebuild equivalence (module docstring)
    holds only for a frozen codebook, and refreshing centroids is a
    reindex, not a maintenance pass — that is `refresh_ivf_centroids`
    below, with its own recall-pinned probe
    (`ann_ivf_refresh_recall`)."""
    import glob
    import os

    storage.heal_swap(lists_path)
    tomb_path = ivf_tombstones_path(lists_path)
    tomb = storage.read_sidecar(spark, tomb_path)
    has_tomb = tomb is not None
    files = glob.glob(os.path.join(lists_path, "*.parquet"))
    if not has_tomb and len(files) <= n_files:
        # an empty/remnant sidecar DIR (crashed first write) on an
        # already-compact table: nothing to fold — clean the remnant
        # so the next probe doesn't see phantom state
        if os.path.isdir(tomb_path):
            storage.retire_sidecar(tomb_path)
        return {
            "files_before": len(files),
            "files_after": len(files),
            "rewrote": False,
            "folded": False,
        }
    storage.commit(
        lists_path,
        live_ivf_lists(spark, lists_path)
        .repartition(n_files)
        .sortWithinPartitions("list_id")
        .write.parquet,
    )
    codes_p = ivf_codes_path(lists_path)
    storage.heal_swap(codes_p)
    if has_tomb and os.path.isdir(codes_p):
        # fold the takedown into the DERIVED representation too: a
        # tombstoned vector's PQ codes leave disk with the same pass
        # that rewrites the lists (they were already query-invisible
        # — candidates come from live lists — but takedown means
        # REMOVED, and the rows otherwise accumulate unboundedly
        # under an insert+retract loop)
        storage.commit(
            codes_p,
            spark.read.parquet(codes_p)
            .join(tomb.select("vec_id"), "vec_id", "left_anti")
            .repartition(n_files)
            .sortWithinPartitions("vec_id")
            .write.parquet,
        )
    if has_tomb:
        storage.retire_sidecar(tomb_path)
    return {
        "files_before": len(files),
        "files_after": len(
            glob.glob(os.path.join(lists_path, "*.parquet"))
        ),
        "rewrote": True,
        "folded": has_tomb,
    }


# Auto-compact thresholds (round 17 — the file-count third of the
# maintenance triad beside maybe_rebucket_table and
# maybe_split_ivf_lists): every insert batch appends ≥1 parquet file
# to the lists (and codes), so a long-running stream accumulates one
# tiny file per micro-batch — the unmerged-parts failure mode.
# Measured locally (128 k-row lists, 10-query search, median-of-3):
# 1.24 s at 512 files, 1.69 at 2048, 2.93 at 4096, 3.79 at 8192 —
# flat basin to ~512, then ~linear listing/open/task overhead per
# file (worse on object stores, where listing is a network call per
# batch). Trigger at the basin's edge; target files sized at the
# scan-split granularity (parquet is splittable, so FEW LARGE files
# lose no read parallelism — Spark re-splits them at
# maxPartitionBytes anyway).
_COMPACT_TRIGGER_FILES = 1024
_COMPACT_TARGET_BYTES = 128 * 1024 * 1024


def maybe_compact_ivf_lists(
    spark: SparkSession,
    lists_path: str,
    *,
    trigger_files: int = _COMPACT_TRIGGER_FILES,
    target_bytes: int = _COMPACT_TARGET_BYTES,
) -> dict:
    """The automated compaction decision for a persisted IVF index —
    run by `ivf_insert_batch` after its appends (so BOTH the
    insert-vectors CLI and the streaming foreachBatch leg amortize
    compaction into the insert cadence with zero caller changes;
    one directory listing per batch is the whole cost of the check).
    When the lists' file count crosses `trigger_files`, run
    `compact_ivf_lists` down to ceil(bytes / target_bytes) files
    (which also folds any pending tombstone sidecar — a triggered
    compaction IS a fold, same contract as compact-store); a codes
    sibling whose own file count crossed the trigger is rewritten
    vec_id-sorted to the same sizing in the same pass (the plain
    compactor only rewrites codes when folding a takedown, so a
    streamed IVF-PQ index accumulates codes files independently).
    Returns {"compacted": bool, "files": n, "codes_compacted":
    bool}. The occasional O(index) rewrite inside one micro-batch is
    the LSM amortization trade; a crash mid-compact heals through
    the compactor's own swap recovery. WRITER — one maintainer per
    artifact set (module docstring MAINTAINER CONTRACT)."""
    import glob
    import math
    import os

    files = glob.glob(os.path.join(lists_path, "*.parquet"))
    out = {"compacted": False, "files": len(files), "codes_compacted": False}
    codes_p = ivf_codes_path(lists_path)
    folded_codes = False
    if len(files) > trigger_files:
        total = sum(os.path.getsize(f) for f in files)
        res = compact_ivf_lists(
            spark, lists_path,
            n_files=max(1, math.ceil(total / target_bytes)),
        )
        out["compacted"] = True
        # a fold inside the triggered compaction already rewrote the
        # codes sibling — don't pay a second O(codes) rewrite in the
        # same micro-batch (ADVICE r17; the cfiles glob below is
        # taken post-compact, but the explicit guard keeps the
        # single-rewrite invariant independent of the fold's sizing)
        folded_codes = res["folded"] and os.path.isdir(codes_p)
    if os.path.isdir(codes_p):
        storage.heal_swap(codes_p)
        cfiles = glob.glob(os.path.join(codes_p, "*.parquet"))
        if not folded_codes and len(cfiles) > trigger_files:
            total = sum(os.path.getsize(f) for f in cfiles)
            storage.commit(
                codes_p,
                spark.read.parquet(codes_p)
                .repartition(max(1, math.ceil(total / target_bytes)))
                .sortWithinPartitions("vec_id")
                .write.parquet,
            )
            out["codes_compacted"] = True
    return out


# ------------------------------------------------- ann_ivfpq_topk

def pq_codebook_path(codebook_path: str) -> str:
    """The trained PQ codebook lives BESIDE the coarse codebook —
    the index-build artifact `train_pq_codebook` writes and the
    query side reads (VERDICT r13 #4: training belongs in the build,
    not the query)."""
    return codebook_path.rstrip("/") + "_pq"


def train_pq_codebook(
    spark: SparkSession, qn: DataFrame, codebook_path: str, lists_path: str
) -> str:
    """Train the residual PQ codebook ONCE against a persisted IVF
    index and store it beside the coarse codebook — the production
    build/refresh-time step (`refresh-ivf --train-pq` in the CLI).
    Residuals come from the LIVE lists (pending takedowns don't
    vote); the output is the 128-row (sub, code, carr) frame
    `_pq_train_cb` defines, swap-written for crash safety. `qn` must
    cover every live indexed vector. Returns the written path."""
    from .similarity import _pq_train_cb

    cent = spark.read.parquet(codebook_path).select(
        "c_id", F.col("q").alias("cq")
    )
    lists = live_ivf_lists(spark, lists_path)
    resid = (
        qn.join(lists.withColumnRenamed("n_id", "vec_id"), "vec_id")
        .join(broadcast(cent), F.col("list_id") == F.col("c_id"))
        .select(
            "vec_id",
            F.zip_with(F.col("q"), F.col("cq"), lambda x, y: x - y).alias("q"),
        )
    )
    out = pq_codebook_path(codebook_path)
    storage.commit(out, _pq_train_cb(resid).coalesce(1).write.parquet)
    return out


def reencode_ivf_codes(
    spark: SparkSession,
    qn: DataFrame,
    codebook_path: str,
    lists_path: str,
    codes_path: str | None = None,
) -> int:
    """Re-encode the persisted PQ codes table against the CURRENT
    coarse centroids, lists, and PQ codebook — the mandatory
    companion of any pass that retrains geometry (ADVICE r14: after
    a refresh, stored codes were encoded against retired centroids
    and the old codebook while the query LUT used the new ones —
    exactly the silent ADC-incoherence recall collapse the retrain
    exists to prevent, moved one artifact over). `qn` must cover
    every live indexed vector — enforced, because the resid inner
    join would otherwise DROP missing vectors' codes silently.
    Swap-written; returns the re-encoded row count's vector count."""
    codes_path = codes_path or ivf_codes_path(lists_path)
    cent = spark.read.parquet(codebook_path).select(
        "c_id", F.col("q").alias("cq")
    )
    lists = live_ivf_lists(spark, lists_path)
    pq_cb = spark.read.parquet(pq_codebook_path(codebook_path))
    resid = (
        qn.join(lists.withColumnRenamed("n_id", "vec_id"), "vec_id")
        .join(broadcast(cent), F.col("list_id") == F.col("c_id"))
        .select(
            "vec_id",
            F.zip_with(F.col("q"), F.col("cq"), lambda x, y: x - y).alias("q"),
        )
    )
    n_live = lists.count()
    n_resid = resid.count()
    if n_resid != n_live:
        raise ValueError(
            "reencode_ivf_codes: qn does not cover every live indexed "
            f"vector ({n_resid} of {n_live} matched) — pass the full "
            "corpus, or fold/retract missing vectors first"
        )
    storage.commit(codes_path, _ivfpq_codes(resid, pq_cb).write.parquet)
    return n_resid


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production billion-vector combo (the FAISS
    IVF,PQ index family, public method): IVF restricts each query's
    candidates to its nprobe nearest inverted lists, and PQ scores
    those candidates through the asymmetric-distance LUT over 8-byte
    codes instead of raw vectors. Composes the two existing index
    shapes (`ann_ivf_topk` lists/probes + `ann_pq_topk` codes/LUT):
    at 100 TB the query-side cost is (corpus/k_lists)·nprobe LUT
    lookups per query — compressed candidates from a pruned
    partition of the corpus, never a full scan and never raw-vector
    I/O. All distances are exact BIGINTs; the codebooks are
    md5-derived constants shared with the oracle, so the composed
    plan stays hash-exact.

    The PQ codebook is trained ONCE and PERSISTED before the query
    plan runs (VERDICT r13 #4): the production shape is
    train-at-build (`train_pq_codebook`), and in-plan training was
    also the op's r13 bench regression — the codebook fed two
    broadcasts, so the Lloyd pass (and its residual lineage) ran
    twice per query. Semantics are unchanged — the oracle trains the
    identical codebook in SQL."""
    qn = _quantized(spark, sf_dir).cache()
    root = scratch_dir("ivfpq_result")
    pq_path = root + "/pq_codebook"
    _, _, _, _, resid = _ivfpq_parts(qn)
    _ivfpq_train(resid).coalesce(1).write.mode("overwrite").parquet(pq_path)
    out = _ivfpq_plan(spark, qn, pq_cb=spark.read.parquet(pq_path))
    # cache-release discipline (ADVICE r9): park the tiny ranked
    # result on scratch, drop the corpus cache, return the scan.
    result = root + "/result"
    out.write.mode("overwrite").parquet(result)
    qn.unpersist()
    return spark.read.parquet(result)


# Exact-rerank refinement pool: ADC keeps 3×k candidates, the exact
# pass re-scores only those — the FAISS refine/RFlat shape (public
# method). 3× is the conventional default; tools/recall_frontier.py
# measures what the refinement buys at production geometry.
_RERANK_POOL = 3 * _IVF_TOPK


def _exact_rerank(
    pool: DataFrame, queries: DataFrame, qn: DataFrame, k: int = _IVF_TOPK
) -> DataFrame:
    """Exact-distance re-rank of an ADC candidate pool — the standard
    IVF-PQ refinement (FAISS's refine/RFlat, public method): PQ codes
    do the SCAN (compressed candidates from probed lists), then only
    the pool survivors touch raw vectors. At 100 TB the raw-vector
    I/O is pool-bounded per query — |queries|·pool rows — never the
    corpus: the corpus-side join broadcasts the pool ids, so the raw
    table is one columnar scan with a broadcast semi, zero shuffles.
    Distances are exact BIGINT (nq_a − 2·dot + nq_b on the quantized
    domain), so the composed plan stays hash-exact against a DuckDB
    oracle."""
    qv = queries.select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qa"),
        F.col("nq").alias("na"),
    )
    nv = qn.select(
        F.col("vec_id").alias("n_id"), F.col("q").alias("qb"),
        F.col("nq").alias("nb"),
    )
    cand = nv.join(F.broadcast(pool.select("q_id", "n_id")), "n_id")
    d = cand.join(F.broadcast(qv), "q_id").select(
        "q_id",
        "n_id",
        (
            F.col("na")
            - 2
            * F.aggregate(
                F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            + F.col("nb")
        ).cast("long").alias("exact_dist"),
    )
    w = Window.partitionBy("q_id").orderBy("exact_dist", "n_id")
    return (
        d.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "exact_dist", "rank")
    )


def ivfpq_rerank_store_plan(
    spark: SparkSession,
    queries: DataFrame,
    qn: DataFrame,
    codebook_path: str,
    lists_path: str,
    codes_path: str,
    nprobe: int = _N_PROBE,
    k: int = _IVF_TOPK,
    pool: int = _RERANK_POOL,
) -> DataFrame:
    """The refined production query: ADC top-`pool` from the
    persisted four-artifact index, exact re-rank on raw vectors from
    the corpus table `qn` (the store keeps codes, not raw vectors —
    refinement reads the corpus, pool-bounded). This is the named
    binder for the PQ-resolution recall gap tools/recall_frontier.py
    measures: coverage losses need more nprobe, resolution losses
    need exactly this."""
    adc = ivfpq_store_search_plan(
        spark, queries, codebook_path, lists_path, codes_path, nprobe, pool
    )
    return _exact_rerank(adc, queries, qn, k)


def ann_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact-rerank refinement — the third stage of the
    production funnel (FAISS refine/RFlat, public method): IVF
    prunes to nprobe lists, the PQ LUT scores the compressed
    candidates, and the ADC top-3k pool is re-scored on raw vectors
    for the final top-k. Compression accelerates the scan; the
    refinement removes its ranking error for candidates that
    survive — recall approaches the probe-coverage ceiling at
    pool-bounded raw I/O (tools/recall_frontier.py separates the
    two loss terms; this operator is the binder for the resolution
    term). The oracle composes the full trained-PQ spelling
    (`_ivfpq_sql`, pool-sized) with the exact BIGINT distance on the
    pool — every stage hash-exact."""
    qn = _quantized(spark, sf_dir).cache()
    root = scratch_dir("ivfpq_rerank")
    pq_path = root + "/pq_codebook"
    _, _, _, _, resid = _ivfpq_parts(qn)
    _ivfpq_train(resid).coalesce(1).write.mode("overwrite").parquet(pq_path)
    pool = _ivfpq_plan(
        spark, qn, pq_cb=spark.read.parquet(pq_path), k=_RERANK_POOL
    )
    queries = qn.where(F.col("vec_id") < _N_QUERIES).select(
        "vec_id", "q", "nq"
    )
    out = _exact_rerank(pool, queries, qn)
    result = root + "/result"
    out.write.mode("overwrite").parquet(result)
    qn.unpersist()
    return spark.read.parquet(result)


def _ivfpq_parts(
    qn: DataFrame, nprobe: int = _N_PROBE
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The shared IVF-side frames of the IVF-PQ proof op: (cent,
    centv, lists, probes, resid) over the in-memory index the
    md5-derived centroid constants define. `nprobe` is the
    recall/cost knob (tools/pq_recall.py sweeps it; the oracle proof
    pins _N_PROBE)."""
    cent = qn.where(F.col("vec_id").isin(_CENTROID_IDS)).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    )
    # Deliberately NOT cached (r19, measured): caching `lists` /
    # `probes` here looked like the classic reused-subtree win
    # (lists feeds both the codes residuals and the candidate join),
    # but a 3-round interleaved A/B measured the cached variant
    # 1.2-2× SLOWER on ann_ivfpq_topk (min-of-3 12.4/8.2/7.1 s vs
    # 5.5/5.7/6.2 s uncached) — the materialization barriers
    # serialize stages that otherwise run concurrently inside one
    # job, and the cached relation breaks the fused
    # broadcast-assign→codes pipeline. Pinned so the next round
    # doesn't re-try it.
    lists = _assign(qn, cent, 1).select(
        F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
    )
    probes = _assign(qn.where(F.col("vec_id") < _N_QUERIES), cent, nprobe).select(
        F.col("v_id").alias("q_id"), F.col("c_id").alias("probe_list")
    )
    centv = cent.select("c_id", F.col("q").alias("cq"))
    resid = (
        qn.join(lists.withColumnRenamed("n_id", "vec_id"), "vec_id")
        .join(broadcast(centv), F.col("list_id") == F.col("c_id"))
        .select(
            "vec_id",
            "list_id",
            F.zip_with(F.col("q"), F.col("cq"), lambda x, y: x - y).alias("q"),
        )
    )
    return cent, centv, lists, probes, resid


def _ivfpq_train(resid: DataFrame) -> DataFrame:
    from .similarity import _pq_train_cb

    return _pq_train_cb(resid.select("vec_id", "q"))


def _pq_sub_d2(vec_col: str):
    """Exact BIGINT squared L2 between one subspace slice of
    `vec_col` and the in-scope codebook row's `carr`."""
    from .similarity import _PQ_SUBDIM

    return F.aggregate(
        F.zip_with(
            F.expr(f"slice({vec_col}, sub * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})"),
            F.col("carr"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _ivfpq_codes(resid: DataFrame, cb: DataFrame) -> DataFrame:
    """Residual frames → PQ codes (vec_id, sub, code): nearest
    codebook entry per subspace, exact BIGINT distance,
    code-ascending tiebreak. Per-vector deterministic given the
    codebook — the property that makes encode-at-insert ≡ rebuild."""
    scored = resid.crossJoin(F.broadcast(cb)).select(
        "vec_id", "sub", "code", _pq_sub_d2("q").alias("d2")
    )
    # min_by instead of a rank-1 window (r18): hash aggregate with
    # map-side partial combine — the exchange carries one row per
    # (vector, subspace) instead of one per candidate code, and no
    # sort. Ordering struct (d2, code) == the window's (d2 asc,
    # code asc) tiebreak; d2 is exact BIGINT, never NULL.
    return (
        scored.groupBy("vec_id", "sub")
        .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
        .select("vec_id", "sub", "code")
    )


def _ivfpq_query(
    queries: DataFrame,
    cent: DataFrame,
    lists: DataFrame,
    codes: DataFrame,
    cb: DataFrame,
    nprobe: int = _N_PROBE,
    k: int = _IVF_TOPK,
) -> DataFrame:
    """The IVF-PQ QUERY side over arbitrary (possibly disk-read)
    index frames: probe assignment, per-(query, probed list) residual
    LUT, ADC scoring of probed-list candidates through their codes,
    top-k. `queries` is (vec_id, q, nq); everything else is the
    index — in-memory in the proof op, parquet scans in the store
    op."""
    probes = _assign(queries, cent, nprobe).select(
        F.col("v_id").alias("q_id"), F.col("c_id").alias("probe_list")
    )
    centv = cent.select("c_id", F.col("q").alias("cq"))
    qres = (
        queries.select(F.col("vec_id").alias("q_id"), "q")
        .join(broadcast(probes), "q_id")
        .join(broadcast(centv), F.col("probe_list") == F.col("c_id"))
        .select(
            "q_id",
            "probe_list",
            F.zip_with(F.col("q"), F.col("cq"), lambda x, y: x - y).alias("q"),
        )
    )
    lut = qres.crossJoin(F.broadcast(cb)).select(
        F.col("q_id").alias("lq_id"),
        F.col("probe_list").alias("l_list"),
        F.col("sub").alias("lsub"),
        F.col("code").alias("lcode"),
        _pq_sub_d2("q").alias("d2"),
    )
    cand = (
        lists.join(broadcast(probes), F.col("list_id") == F.col("probe_list"))
        .where(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", "list_id")
    )
    adc = (
        cand.join(codes, F.col("n_id") == F.col("vec_id"))
        .join(
            broadcast(lut),
            (F.col("list_id") == F.col("l_list"))
            & (F.col("q_id") == F.col("lq_id"))
            & (F.col("sub") == F.col("lsub"))
            & (F.col("code") == F.col("lcode")),
        )
        .groupBy("q_id", "n_id", "list_id")
        .agg(F.sum("d2").alias("approx_dist"))
    )
    w_top = Window.partitionBy("q_id").orderBy("approx_dist", "n_id")
    return (
        adc.withColumn("rank", F.row_number().over(w_top).cast("int"))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "list_id", "approx_dist", "rank")
    )


def _ivfpq_plan(
    spark: SparkSession,
    qn: DataFrame,
    pq_cb: DataFrame | None = None,
    nprobe: int = _N_PROBE,
    k: int = _IVF_TOPK,
) -> DataFrame:
    """The lazy IVF-PQ plan over a (cached) quantized-vector frame —
    split from the operator so plan tests can assert on the join
    tree before the result materialization hides it behind a scan.

    RESIDUAL encoding with a TRAINED codebook (VERDICT r12 #5,
    production IVF-PQ as in the public FAISS design): each vector is
    PQ-coded on q − centroid(its list) — residuals concentrate near
    the origin, so a fixed code budget spends its resolution where
    the data actually is — and the codebook is one exact Lloyd
    iteration over those residuals (`_pq_train_cb`). `pq_cb` is the
    PERSISTED trained codebook (the operator trains and writes it
    before building this plan; production reads the build-time
    artifact `train_pq_codebook` leaves beside the coarse codebook);
    None falls back to in-plan training — the oracle-proof spelling,
    identical output. The query side builds one asymmetric LUT PER
    PROBED LIST (the query's residual against that list's centroid):
    |queries|·nprobe·subs·codes rows — still a broadcast. All
    arithmetic stays exact BIGINT, so the composed plan remains
    hash-exact against the oracle, which runs the identical trainer
    in SQL."""
    cent, centv, lists, probes, resid = _ivfpq_parts(qn, nprobe)
    cb = pq_cb if pq_cb is not None else _ivfpq_train(resid)
    codes = _ivfpq_codes(resid, cb)
    queries = qn.where(F.col("vec_id") < _N_QUERIES).select("vec_id", "q", "nq")
    return _ivfpq_query(queries, cent, lists, codes, cb, nprobe, k)


def ivfpq_store_search_plan(
    spark: SparkSession,
    queries: DataFrame,
    codebook_path: str,
    lists_path: str,
    codes_path: str,
    nprobe: int = _N_PROBE,
    k: int = _IVF_TOPK,
) -> DataFrame:
    """The production IVF-PQ QUERY-NODE plan: every index artifact —
    coarse codebook, inverted lists, PQ codes, trained PQ codebook —
    is read from disk; the query touches raw vectors only for the
    query set itself. This is the consumer of `train_pq_codebook`'s
    artifact (and the 2.0×-measured prebuilt-codebook path in
    SCALE.md). Lists are read through `live_ivf_lists`, so a pending
    takedown is invisible; a tombstoned vector's stale CODES rows are
    harmless — candidates come from the live lists, so they never
    reach the ADC join. Heals crash-interrupted swaps on every
    artifact it reads (rename-only — the query node never deletes a
    maintainer's in-flight '.old'), so a refresh/split/compact that
    died mid-rename doesn't take the read path down with it."""
    for p in (codebook_path, codes_path, pq_codebook_path(codebook_path)):
        storage.heal_swap(p)
    return _ivfpq_query(
        queries,
        spark.read.parquet(codebook_path),
        live_ivf_lists(spark, lists_path),
        spark.read.parquet(codes_path),
        spark.read.parquet(pq_codebook_path(codebook_path)),
        nprobe,
        k,
    )


def ann_ivfpq_store_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index IVF-PQ lifecycle — the production
    build/insert/query split `ann_ivf_store_search` proves for plain
    IVF, extended to the compressed index:

      1. BUILD: coarse codebook to disk; the BASE corpus (vec_id ≢ 0
         mod 10) is assigned into inverted lists; the residual PQ
         codebook is TRAINED ON THE BASE residuals and persisted
         beside the coarse codebook (`train_pq_codebook`); base
         residual codes are written — four on-disk artifacts;
      2. INSERT: the new batch (vec_id ≡ 0 mod 10) is assigned AND
         residual-encoded purely through the PERSISTED codebooks and
         appended to lists + codes — the codebooks are never
         retrained by an insert (that is refresh's job);
      3. QUERY: `ivfpq_store_search_plan` — disk artifacts only.

    Why the oracle can be the one-shot IVF-PQ spelling with the
    trainer restricted to the base slice: assignment and residual
    encoding are per-vector deterministic given the codebooks, so
    encode-at-insert is EXACTLY a full rebuild against the same
    (base-trained) codebooks, and the hash match proves that
    equivalence plus the four-artifact roundtrip. Training on the
    base slice is the honest production shape — the codebooks
    predate the insert stream (the drift this causes is what
    `probe-recall` / `refresh-ivf --train-pq` manage)."""
    root = scratch_dir("ivfpq_store")
    cb_path = root + "/codebook"
    lists_path = root + "/lists"
    # the maintenance-pass convention (`ivf_codes_path`): the codes
    # table is a lifecycle citizen — compact/fold/refresh/split find
    # it beside the lists
    codes_path = ivf_codes_path(lists_path)

    qn = _quantized(spark, sf_dir).cache()

    # 1. BUILD from the base corpus
    qn.where(F.col("vec_id").isin(_CENTROID_IDS)).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).coalesce(1).write.mode("overwrite").parquet(cb_path)
    cent_d = spark.read.parquet(cb_path)
    base = qn.where(F.pmod(F.col("vec_id"), F.lit(_INSERT_MOD)) != 0)
    _assign(base, cent_d, 1).select(
        F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
    ).write.mode("overwrite").parquet(lists_path)
    train_pq_codebook(spark, base, cb_path, lists_path)
    pq_d = spark.read.parquet(pq_codebook_path(cb_path))
    centv_d = cent_d.select("c_id", F.col("q").alias("cq"))

    def resid_of(sub: DataFrame, lists: DataFrame) -> DataFrame:
        return (
            sub.join(lists.withColumnRenamed("n_id", "vec_id"), "vec_id")
            .join(broadcast(centv_d), F.col("list_id") == F.col("c_id"))
            .select(
                "vec_id",
                F.zip_with(F.col("q"), F.col("cq"), lambda x, y: x - y).alias("q"),
            )
        )

    _ivfpq_codes(
        resid_of(base, spark.read.parquet(lists_path)), pq_d
    ).write.mode("overwrite").parquet(codes_path)

    # 2. INSERT through the persisted codebooks only
    batch = qn.where(F.pmod(F.col("vec_id"), F.lit(_INSERT_MOD)) == 0)
    b_lists = _assign(batch, cent_d, 1).select(
        F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
    )
    b_lists.write.mode("append").parquet(lists_path)
    _ivfpq_codes(resid_of(batch, b_lists), pq_d).write.mode("append").parquet(
        codes_path
    )

    # 3. QUERY through the on-disk index
    out = ivfpq_store_search_plan(
        spark,
        qn.where(F.col("vec_id") < _N_QUERIES).select("vec_id", "q", "nq"),
        cb_path,
        lists_path,
        codes_path,
    )
    out.write.mode("overwrite").parquet(root + "/result")
    qn.unpersist()
    return spark.read.parquet(root + "/result")


# ------------------------------------------- IVF centroid refresh
#
# VERDICT r11 #4: lists compact (`compact_ivf_lists`) but centroids
# never retrain, so recall degrades SILENTLY as an insert loop
# drifts the corpus away from the build-time codebook — the index
# keeps answering, just increasingly badly. The maintenance pass is
# one exact Lloyd iteration against the CURRENT corpus: M-step
# (element-wise FLOOR-mean per list — the `embedding_kmeans` shuffle
# shape: ONE shuffle keyed on (list, dim) with map-side combine),
# then E-step (reassign every indexed vector against the refreshed
# codebook — broadcast nested-loop, no shuffle). Refresh is a
# REINDEX, not a compaction: it INTENTIONALLY changes search results
# (that is the point), so the pinned metric is RECALL against the
# exact top-k, never result hashes — `ann_ivf_refresh_recall` below
# measures it on a drifted-insert corpus, and THAT op is
# deterministic end to end, hence oracle-hashable.

_REFRESH_DRIFT = 4_000  # quant units ≈ 4× the avg |component|
_DRIFT_ID_OFFSET = 1_000_000


def refresh_ivf_centroids(
    spark: SparkSession, qn: DataFrame, codebook_path: str, lists_path: str
) -> dict:
    """Retrain the persisted codebook against the current corpus and
    reassign the lists — crash-safe double swap. `qn` must cover
    every indexed vector (vec_id, q, nq); lists whose members all
    vanished keep their old centroid (a production corpus can shrink;
    an empty M-step group must not drop the list id). Swap order is
    codebook THEN lists, each through the compactors' rename-aside
    discipline; a crash between the two swaps leaves the NEW codebook
    over the OLD lists — searches stay self-consistent (probes and
    lists join on list_id either way), only recall is stale, and
    re-running the refresh repairs it deterministically: the M-step
    reads lists (old) + vectors, so the rerun recomputes the same
    codebook and completes the lists swap. Returns
    {n_lists, moved, max_list_before, max_list_after}.

    WRITER — one maintainer per artifact set (module docstring
    MAINTAINER CONTRACT): do not run beside a live insert stream
    (the stream's auto-compact is itself a writer)."""
    import os

    cb_staging = storage.stage(codebook_path)
    li_staging = storage.stage(lists_path)

    # LIVE lists: a pending takedown must not vote in the M-step or
    # re-enter the reassigned table — and since the rewrite below
    # covers live members only, the refresh doubles as the fold point
    # (the sidecar is retired after the swap)
    lists = live_ivf_lists(spark, lists_path)
    member_vecs = qn.join(
        lists.select(F.col("n_id").alias("vec_id")), "vec_id", "left_semi"
    )
    # M-step: FLOOR(sum/count) per (list, dim) — exact cross-engine
    # (one IEEE double division + floor; proven in embedding_kmeans)
    elems = lists.join(
        qn.select(F.col("vec_id").alias("n_id"), "q"), "n_id"
    ).select("list_id", F.posexplode("q").alias("pos", "val"))
    cs = elems.groupBy("list_id", "pos").agg(
        F.floor(F.sum("val").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("cv")
    )
    newc = (
        cs.groupBy("list_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s.cv,
            ).alias("q")
        )
        .withColumn(
            "nq",
            F.aggregate(
                F.transform(F.col("q"), lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .select(F.col("list_id").alias("c_id"), "q", "nq")
    )
    old_cb = spark.read.parquet(codebook_path)
    cb1 = newc.unionByName(
        old_cb.join(newc.select("c_id"), "c_id", "left_anti")
    )

    cb1.coalesce(1).write.mode("overwrite").parquet(cb_staging)

    # E-step against the STAGED codebook (the swap hasn't happened —
    # a crash here leaves the live index untouched)
    lists1 = _assign(member_vecs, spark.read.parquet(cb_staging), 1).select(
        F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
    )
    lists1.write.mode("overwrite").parquet(li_staging)

    # stats BEFORE the swap (reads old + staged tables). ONE driver
    # action (r19, guide §1.2): the four stat subtrees — centroid
    # count off the STAGED parquet (counting cb1 would re-run the
    # whole M-step), moved rows, max list size before/after — are
    # independent single-row aggregations, so a crossJoin runs them
    # as concurrent stages of one job instead of four sequential
    # fixed-cost actions.
    new_lists = spark.read.parquet(li_staging)
    rstats = (
        spark.read.parquet(cb_staging)
        .agg(F.count(F.lit(1)).alias("n_lists"))
        .crossJoin(
            lists.join(
                new_lists.withColumnRenamed("list_id", "new_list"), "n_id"
            )
            .where(F.col("list_id") != F.col("new_list"))
            .agg(F.count(F.lit(1)).alias("moved"))
        )
        .crossJoin(
            lists.groupBy("list_id").count().agg(F.max("count").alias("mb"))
        )
        .crossJoin(
            new_lists.groupBy("list_id")
            .count()
            .agg(F.max("count").alias("ma"))
        )
    )
    rrow = rstats.collect()[0]
    stats = {
        "n_lists": rrow["n_lists"],
        "moved": rrow["moved"],
        "max_list_before": rrow["mb"],
        "max_list_after": rrow["ma"],
    }

    storage.publish(codebook_path)
    storage.publish(lists_path)
    # the rewritten lists carry live members only — retire the
    # tombstone sidecar LAST (a crash before this leaves tombstones
    # that match nothing; the next fold/refresh retires them)
    storage.retire_sidecar(ivf_tombstones_path(lists_path))
    # a persisted PQ codebook encodes residuals against the OLD
    # centroids — retrain it against the refreshed index so the
    # artifact never goes silently stale (self-review r14; qn covers
    # every live member, the same precondition the refresh itself
    # carries) — and a persisted CODES table must follow the
    # codebook (ADVICE r14: stale codes against a refreshed LUT are
    # ADC-incoherent), so it is re-encoded in the same pass.
    pq_p = pq_codebook_path(codebook_path)
    storage.heal_swap(pq_p)
    codes_p = ivf_codes_path(lists_path)
    storage.heal_swap(codes_p)
    if os.path.isdir(codes_p) and not os.path.isdir(pq_p):
        raise RuntimeError(
            f"IVF index has a codes table ({codes_p}) but no PQ "
            f"codebook ({pq_p}): the artifact set is incoherent — "
            "restore the codebook or remove the codes table"
        )
    if os.path.isdir(pq_p):
        train_pq_codebook(spark, qn, codebook_path, lists_path)
        if os.path.isdir(codes_p):
            reencode_ivf_codes(spark, qn, codebook_path, lists_path, codes_p)
    return stats


def _drifted_corpus(qn0: DataFrame) -> DataFrame:
    """The original vectors plus a DRIFTED copy of each (every
    component shifted by _REFRESH_DRIFT quant units, ids offset) —
    a deterministic stand-in for an insert stream whose distribution
    has moved away from the build-time codebook."""
    drift = qn0.select(
        (F.col("vec_id") + F.lit(_DRIFT_ID_OFFSET)).alias("vec_id"),
        F.transform("q", lambda x: x + F.lit(_REFRESH_DRIFT)).alias("q"),
    ).withColumn(
        "nq",
        F.aggregate(
            F.transform(F.col("q"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return qn0.select("vec_id", "q", "nq").unionByName(drift)


def _refresh_query_pred():
    c = F.col("vec_id")
    return (c < _N_QUERIES) | (
        (c >= _DRIFT_ID_OFFSET) & (c < _DRIFT_ID_OFFSET + _N_QUERIES)
    )


def _ivf_search_hits(
    spark: SparkSession,
    corpus: DataFrame,
    brute: DataFrame,
    codebook_path: str,
    lists_path: str,
) -> DataFrame:
    """IVF top-k through the on-disk index for the refresh-probe
    query set, intersected with the exact top-k: one (hits, total)
    row. hits/total are exact BIGINT counts — recall without float
    division, so the frame is oracle-hashable."""
    probes = _assign(
        corpus.where(_refresh_query_pred()),
        spark.read.parquet(codebook_path),
        _N_PROBE,
    ).select(F.col("v_id").alias("q_id"), F.col("c_id").alias("probe_list"))
    lists = live_ivf_lists(spark, lists_path)
    qv = corpus.select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    nv = corpus.select(
        F.col("vec_id").alias("n_id"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    cands = (
        nv.join(lists, "n_id")
        .join(broadcast(probes), F.col("list_id") == F.col("probe_list"))
        .where(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", "qb", "nb")
        .join(broadcast(qv), "q_id")
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    ivf = (
        cands.select("q_id", "n_id", _cosine_cols())
        .withColumn("rank", F.row_number().over(wq))
        .where(F.col("rank") <= _IVF_TOPK)
        .select("q_id", "n_id")
    )
    hit = ivf.withColumn("hit", F.lit(1))
    return brute.join(hit, ["q_id", "n_id"], "left").agg(
        F.count("hit").alias("hits"), F.count(F.lit(1)).alias("total")
    )


def split_ivf_lists(
    spark: SparkSession,
    qn: DataFrame,
    codebook_path: str,
    lists_path: str,
    max_list: int,
) -> dict:
    """Count-gated split of over-budget inverted lists + reseed of
    empty ones (VERDICT r12 #6 — the IVF analog of the mega-bucket:
    under skewed drift one list can grow unbounded, making nprobe=1
    searches scan a corpus-sized list; refresh reports max_list but
    nothing relieved it).

    One deterministic pass: every list with count > max_list is
    2-means-split in place — seed 1 is the min-vec_id member, seed 2
    the member farthest from it (exact BIGINT L2, vec_id tiebreak),
    one assignment pass (ties to child 1), floor-mean centroids for
    both children. Child 1 keeps the parent's list id; child 2 takes
    an EMPTY list's id when one exists (that is the reseed — a dead
    centroid is recycled to where the data actually is) and a fresh
    max_id+k id otherwise. Lists the gate does not name are not
    touched: their rows and centroids are byte-identical after the
    swap, so searches that never probe a split list are invariant
    (CI-pinned). A degenerate list of identical vectors cannot be
    split (child 2 would be empty) and is left whole — the rep
    admission pre-pass is the tool for that corpus, not a split.
    A split child can still exceed the budget; the pass is designed
    to be re-run (each invocation strictly reduces an over-budget
    list or proves it degenerate). Driver-side state is METADATA
    only (per-list counts and id allocation — bounded by the
    codebook size, never the data). Same crash-safe double swap as
    refresh: codebook staged+swapped first, then lists; a crash
    between the swaps leaves new centroids over old lists, which is
    self-consistent (probes and lists join on list_id) and repaired
    by re-running. `qn` must cover every indexed vector.
    WRITER — one maintainer per artifact set (module docstring
    MAINTAINER CONTRACT)."""
    import os

    cb_staging = storage.stage(codebook_path)
    li_staging = storage.stage(lists_path)

    # raw lists drive the untouched-list passthrough (byte-invariance
    # pin); the LIVE view drives everything semantic — the over-budget
    # gate, the member assignment, the new centroids — so tombstoned
    # vectors neither vote nor need qn coverage
    lists = spark.read.parquet(lists_path)
    lists_live = live_ivf_lists(spark, lists_path)
    cb = spark.read.parquet(codebook_path)
    sizes = lists_live.groupBy("list_id").count()
    # metadata-tier collects: bounded by the CODEBOOK size (one row
    # per list / per empty id), never the data — allow-listed in
    # tests/test_plans.py alongside the banded-index filter literal
    over_rows = sizes.where(F.col("count") > max_list).orderBy(
        F.desc("count"), F.asc("list_id")
    )
    over = [(r["list_id"], r["count"]) for r in over_rows.collect()]
    if not over:
        return {"split": 0, "reseeded": 0, "max_list_after": None}
    # a PQ-bearing index retrains its codebook (and re-encodes codes)
    # after an effective split, and THAT step's precondition is qn
    # covering EVERY live vector — not just the split lists' members
    # (ADVICE r14: a qn missing vectors in untouched lists silently
    # trained the codebook on a residual subset). Enforce it before
    # any staging write.
    pq_p = pq_codebook_path(codebook_path)
    storage.heal_swap(pq_p)
    if os.path.isdir(pq_p):
        n_live = lists_live.count()
        n_cov = lists_live.join(
            qn.select(F.col("vec_id").alias("n_id")), "n_id", "left_semi"
        ).count()
        if n_cov != n_live:
            raise ValueError(
                "split_ivf_lists: this index carries a PQ codebook, so "
                "qn must cover EVERY live indexed vector for the "
                f"post-split retrain ({n_cov} of {n_live} covered) — "
                "pass the full corpus, or fold/retract missing vectors "
                "first"
            )
    empty_rows = cb.select("c_id").join(
        sizes.select(F.col("list_id").alias("c_id")), "c_id", "left_anti"
    )
    empties = sorted(r["c_id"] for r in empty_rows.collect())
    max_cid = cb.agg(F.max("c_id")).first()[0]
    alloc = []  # (parent, child2_id, recycled)
    fresh = max_cid
    for k, (lid, _) in enumerate(over):
        if k < len(empties):
            alloc.append((lid, empties[k], True))
        else:
            fresh += 1
            alloc.append((lid, fresh, False))
    amap = spark.createDataFrame(
        [(p, c) for p, c, _ in alloc], "list_id bigint, child2 bigint"
    )

    # one count of the split lists' LIVE rows: the inner join below
    # silently drops any indexed vector absent from qn (the docstring
    # precondition), and that failure mode is silent row loss in the
    # persisted index — enforce it instead (ADVICE r13)
    n_split_rows = lists_live.join(
        amap.select("list_id"), "list_id", "left_semi"
    ).count()
    mem = (
        lists_live.join(amap.select("list_id"), "list_id", "left_semi")
        .join(qn.select(F.col("vec_id").alias("n_id"), "q", "nq"), "n_id")
        .select("list_id", "n_id", "q", "nq")
    )

    def _d(qa, na, qb, nb):
        return (
            F.col(na)
            - 2
            * F.aggregate(
                F.zip_with(F.col(qa), F.col(qb), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            + F.col(nb)
        )

    w_min = Window.partitionBy("list_id").orderBy("n_id")
    s1 = (
        mem.withColumn("rn", F.row_number().over(w_min))
        .where(F.col("rn") == 1)
        .select("list_id", F.col("q").alias("q1"), F.col("nq").alias("n1"))
    )
    with_d1 = mem.join(F.broadcast(s1), "list_id").withColumn(
        "d1", _d("q", "nq", "q1", "n1")
    )
    w_far = Window.partitionBy("list_id").orderBy(F.desc("d1"), F.asc("n_id"))
    s2 = (
        with_d1.withColumn("rn", F.row_number().over(w_far))
        .where(F.col("rn") == 1)
        .select("list_id", F.col("q").alias("q2"), F.col("nq").alias("n2"))
    )
    assigned = (
        with_d1.join(F.broadcast(s2), "list_id")
        .withColumn("d2", _d("q", "nq", "q2", "n2"))
        .withColumn("child", F.when(F.col("d1") <= F.col("d2"), 1).otherwise(2))
        .select("list_id", "n_id", "child")
        .cache()
    )
    # assigned is row-for-row mem (windows and the 1:1 broadcast seed
    # joins preserve count), so this count both fills the cache and
    # enforces the coverage precondition
    n_assigned = assigned.count()
    if n_assigned != n_split_rows:
        assigned.unpersist()
        raise ValueError(
            "split_ivf_lists: qn does not cover every indexed vector "
            f"in the split lists ({n_assigned} of {n_split_rows} live "
            "rows matched) — pass the full corpus, or fold/retract "
            "missing vectors first"
        )
    # effective splits: lists whose child 2 is nonempty (degenerate
    # identical-vector lists collapse to child 1 and are left whole);
    # one row per SPLIT list — codebook-bounded again
    child2_lists = assigned.where(F.col("child") == 2).select("list_id").distinct()
    eff = {r["list_id"] for r in child2_lists.collect()}
    if not eff:
        assigned.unpersist()
        return {"split": 0, "reseeded": 0, "max_list_after": max(c for _, c in over)}
    eff_alloc = [(p, c, r) for p, c, r in alloc if p in eff]
    eff_map = spark.createDataFrame(
        [(p, c) for p, c, _ in eff_alloc], "list_id bigint, child2 bigint"
    )

    # new centroids for both children of every effective split
    elems = (
        assigned.join(eff_map.select("list_id"), "list_id", "left_semi")
        .join(qn.select(F.col("vec_id").alias("n_id"), "q"), "n_id")
        .select("list_id", "child", F.posexplode("q").alias("pos", "val"))
    )
    cs = elems.groupBy("list_id", "child", "pos").agg(
        F.floor(F.sum("val").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("cv")
    )
    newc = (
        cs.groupBy("list_id", "child")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s.cv,
            ).alias("q")
        )
        .withColumn(
            "nq",
            F.aggregate(
                F.transform(F.col("q"), lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .join(F.broadcast(eff_map), "list_id")
        .select(
            F.when(F.col("child") == 1, F.col("list_id"))
            .otherwise(F.col("child2"))
            .alias("c_id"),
            "q",
            "nq",
        )
    )
    cb1 = newc.unionByName(
        cb.join(newc.select("c_id"), "c_id", "left_anti").select("c_id", "q", "nq")
    )

    relabel = (
        assigned.join(F.broadcast(eff_map), "list_id")
        .select(
            "n_id",
            F.when(F.col("child") == 1, F.col("list_id"))
            .otherwise(F.col("child2"))
            .alias("list_id"),
        )
    )
    lists1 = lists.join(
        eff_map.select("list_id"), "list_id", "left_anti"
    ).unionByName(relabel.select("n_id", "list_id"))

    cb1.coalesce(1).write.mode("overwrite").parquet(cb_staging)
    lists1.write.mode("overwrite").parquet(li_staging)
    max_after = (
        spark.read.parquet(li_staging)
        .groupBy("list_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assigned.unpersist()
    storage.publish(codebook_path)
    storage.publish(lists_path)
    # split changed centroids and list assignments — retrain a
    # persisted PQ codebook so it never encodes against retired
    # geometry (same staleness rule as refresh, self-review r14),
    # and re-encode a persisted codes table against the new
    # geometry in the same pass (ADVICE r14). Coverage was enforced
    # up front.
    storage.heal_swap(pq_p)
    codes_p = ivf_codes_path(lists_path)
    storage.heal_swap(codes_p)
    if os.path.isdir(codes_p) and not os.path.isdir(pq_p):
        raise RuntimeError(
            f"IVF index has a codes table ({codes_p}) but no PQ "
            f"codebook ({pq_p}): the artifact set is incoherent — "
            "restore the codebook or remove the codes table"
        )
    if os.path.isdir(pq_p):
        train_pq_codebook(spark, qn, codebook_path, lists_path)
        if os.path.isdir(codes_p):
            reencode_ivf_codes(spark, qn, codebook_path, lists_path, codes_p)
    return {
        "split": len(eff_alloc),
        "reseeded": sum(1 for _, _, r in eff_alloc if r),
        "max_list_after": max_after,
    }


# Auto-split thresholds (VERDICT r16 #3), derived from the r16 store
# soak's measured search slope (SCALE.md: fixed 16-centroid geometry,
# search 1.17 s at 125 rows/list, 2.16 s at 8 k, 2.77 s at 32 k — a
# linear rows/list × probes candidate term over a flat floor): 8 k
# rows/list is the last measured point inside the 2× bar (1.85× the
# flat-geometry time), so the maintenance pass splits when a LIST
# crosses it, down to 2 k (the slope interpolates to ~1.3× there).
# The 4× trigger/target gap is what keeps a growing index from
# re-splitting on every pass — the same rule as
# dedup_store.maybe_rebucket_table's 4096/1024.
_SPLIT_TRIGGER_ROWS = 8192
_SPLIT_TARGET_ROWS = 2048


def maybe_split_ivf_lists(
    spark: SparkSession,
    qn: DataFrame,
    codebook_path: str,
    lists_path: str,
    *,
    trigger_rows: int = _SPLIT_TRIGGER_ROWS,
    target_rows: int = _SPLIT_TARGET_ROWS,
    max_rounds: int = 4,
) -> dict:
    """The automated split decision (VERDICT r16 #3: the r16 soak
    measured the search slope `split_ivf_lists` exists to flatten,
    and the re-bucket analog was automated in r16, but splits still
    only ran via a hand-chosen `refresh-ivf --max-list` — at 100 TB
    someone had to notice rows/list growing). Called from the
    refresh-ivf maintenance pass: gate on the LIVE max list size
    (probes read whole lists, so the hot list — not the average —
    is what a query pays); when it crosses `trigger_rows`, run
    `split_ivf_lists` with max_list = `target_rows`, repeating while
    it makes progress (a 2-means child can itself exceed the budget;
    each round strictly shrinks an over-budget list or proves it
    degenerate — identical vectors — in which case splitting cannot
    help and the loop stops). Each round is a full O(index) rewrite
    (split_ivf_lists swaps the whole lists table), so `max_rounds`
    caps a single maintenance pass at 4 rewrites and the NEXT pass
    continues from wherever this one stopped — the amortization the
    trigger/target gap already implies. Balanced corpora converge in
    ~log2(max/target) rounds; the measured worst case is extreme tie
    geometry (a hot list of replicated identical vectors sheds one
    vector-group per round — tools/split_scale.py, SCALE.md), where
    the cap is exactly what bounds the pass. The gate is one
    O(index) two-column aggregate inside a pass that is O(index)
    anyway (refresh reassigns every vector). `qn` must cover every
    indexed vector when the decision fires (split_ivf_lists' own
    precondition). Returns {"triggered", "rounds", "split",
    "reseeded", "max_list_before", "max_list_after"}."""
    def _max_list() -> int:
        m = (
            live_ivf_lists(spark, lists_path)
            .groupBy("list_id")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        return int(m or 0)

    before = _max_list()
    out = {
        "triggered": False,
        "rounds": 0,
        "split": 0,
        "reseeded": 0,
        "max_list_before": before,
        "max_list_after": before,
    }
    if before <= trigger_rows:
        return out
    out["triggered"] = True
    cur = before
    while cur > target_rows and out["rounds"] < max_rounds:
        sp = split_ivf_lists(
            spark, qn, codebook_path, lists_path, target_rows
        )
        out["rounds"] += 1
        if sp["split"] == 0:
            break  # every over-budget list is degenerate
        out["split"] += sp["split"]
        out["reseeded"] += sp["reseeded"]
        nxt = sp["max_list_after"]
        if nxt is None or nxt >= cur:
            break  # no progress — stop rather than loop
        cur = nxt
    out["max_list_after"] = cur
    return out


def ivf_recall_probe(
    spark: SparkSession,
    qn: DataFrame,
    codebook_path: str,
    lists_path: str,
    n_queries: int = _N_QUERIES,
    topk: int = _IVF_TOPK,
    nprobe: int = _N_PROBE,
) -> dict:
    """OPERATIONAL recall probe for a persisted IVF index — the
    runnable half of the maintenance loop `refresh_ivf_centroids`'s
    docstring promises ("probe cadence via recall checks"): measure
    the on-disk index's top-k recall against exact brute force on a
    deterministic query sample (the n_queries lowest vec_ids), so an
    operator can watch recall decay under insert drift and trigger
    `refresh-ivf` when it crosses their bar. `qn` must cover every
    indexed vector (vec_id, q, nq) — the same contract as refresh.
    Returns {"hits", "total"} as exact integer counts (recall =
    hits/total); total = answered queries × topk, brute-force-sized,
    so the probe's own cost is O(n_queries × corpus) — size the
    sample, not the corpus, to the cadence. Same search spelling as
    `_ivf_search_hits` (the oracle-pinned refresh probe),
    generalized over (queries, topk, nprobe)."""
    queries = qn.orderBy("vec_id").limit(n_queries)
    qv = queries.select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    nv = qn.select(
        F.col("vec_id").alias("n_id"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    brute = (
        nv.join(broadcast(qv), F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", _cosine_cols())
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("q_id", "n_id")
    )
    storage.heal_swap(codebook_path)  # read-path heal, same rule as the plans
    probes = _assign(queries, spark.read.parquet(codebook_path), nprobe).select(
        F.col("v_id").alias("q_id"), F.col("c_id").alias("probe_list")
    )
    lists = live_ivf_lists(spark, lists_path)
    ivf = (
        nv.join(lists, "n_id")
        .join(broadcast(probes), F.col("list_id") == F.col("probe_list"))
        .where(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", "qb", "nb")
        .join(broadcast(qv), "q_id")
        .select("q_id", "n_id", _cosine_cols())
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("q_id", "n_id")
    )
    row = (
        brute.join(ivf.withColumn("hit", F.lit(1)), ["q_id", "n_id"], "left")
        .agg(F.count("hit").alias("hits"), F.count(F.lit(1)).alias("total"))
        .first()
    )
    return {"hits": row["hits"], "total": row["total"]}


def ann_ivf_refresh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-drift probe for the refresh pass (VERDICT r11 #4),
    end to end on disk: build the IVF index on the original vectors,
    INSERT a drifted copy of the corpus through the stale codebook
    (the silent-degradation scenario), measure IVF recall against the
    exact top-k, run `refresh_ivf_centroids`, measure again. Output:
    (phase, hits, total) — exact integer recall numerators before and
    after, deterministic on both engines, so the oracle (the same
    pipeline as one-shot SQL) pins the whole maintenance story:
    codebook roundtrip, drifted insert ≡ stale assignment, the
    M-step's floored means, the reassignment, and both searches.
    Refresh intentionally changes search results; recall — not result
    hashes — is the invariant worth pinning (module comment)."""
    root = scratch_dir("ivf_refresh")
    codebook_path = root + "/codebook"
    lists_path = root + "/lists"

    corpus = _drifted_corpus(_quantized(spark, sf_dir)).cache()
    # the ORIGINAL-distribution rows, read back THROUGH the corpus
    # cache (r19): the old spelling built codebook + lists from the
    # uncached _quantized lineage, re-running the quantization scan
    # per build action while the cache sat unfilled until the drifted
    # insert; the filter returns exactly the pre-drift rows (drift
    # ids are offset by _DRIFT_ID_OFFSET), so results are unchanged.
    qn0 = corpus.where(F.col("vec_id") < _DRIFT_ID_OFFSET)

    # exact ground truth over the grown corpus — defined up front so
    # its cache fill can OVERLAP the build/insert phase (guide §2.6:
    # the brute pass depends only on the cached corpus, never on the
    # index artifacts; the first build write below materializes the
    # corpus cache, so the concurrent job cannot double-compute it)
    queries = corpus.where(_refresh_query_pred()).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    nv = corpus.select(
        F.col("vec_id").alias("n_id"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    wb = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    brute = (
        nv.join(broadcast(queries), F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", _cosine_cols())
        .withColumn("rank", F.row_number().over(wb))
        .where(F.col("rank") <= _IVF_TOPK)
        .select("q_id", "n_id")
        .cache()
    )

    # build on the ORIGINAL distribution only
    qn0.where(F.col("vec_id").isin(_CENTROID_IDS)).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).coalesce(1).write.mode("overwrite").parquet(codebook_path)

    def _build_lists() -> None:
        cb_disk = spark.read.parquet(codebook_path)
        _assign(qn0.select("vec_id", "q", "nq"), cb_disk, 1).select(
            F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
        ).write.mode("overwrite").parquet(lists_path)
        # drifted INSERT through the stale codebook
        _assign(
            corpus.where(F.col("vec_id") >= _DRIFT_ID_OFFSET),
            spark.read.parquet(codebook_path),
            1,
        ).select(
            F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
        ).write.mode("append").parquet(lists_path)

    overlap(brute.count, _build_lists)

    before = _ivf_search_hits(spark, corpus, brute, codebook_path, lists_path)
    before.withColumn("phase", F.lit("before")).select(
        "phase", "hits", "total"
    ).write.mode("overwrite").parquet(root + "/before")

    refresh_ivf_centroids(spark, corpus, codebook_path, lists_path)

    after = _ivf_search_hits(spark, corpus, brute, codebook_path, lists_path)
    after.withColumn("phase", F.lit("after")).select(
        "phase", "hits", "total"
    ).write.mode("overwrite").parquet(root + "/after")
    corpus.unpersist()
    brute.unpersist()
    return spark.read.parquet(root + "/before").unionByName(
        spark.read.parquet(root + "/after")
    )


def _ivfpq_search_hits(
    spark: SparkSession,
    corpus: DataFrame,
    brute: DataFrame,
    codebook_path: str,
    lists_path: str,
    codes_path: str,
) -> DataFrame:
    """IVF-PQ top-k through the FOUR on-disk artifacts for the
    refresh-probe query set, intersected with the exact top-k: one
    (hits, total) row of exact BIGINT counts — the compressed-index
    sibling of `_ivf_search_hits`."""
    ivfpq = ivfpq_store_search_plan(
        spark,
        corpus.where(_refresh_query_pred()).select("vec_id", "q", "nq"),
        codebook_path,
        lists_path,
        codes_path,
    ).select("q_id", "n_id")
    hit = ivfpq.withColumn("hit", F.lit(1))
    return brute.join(hit, ["q_id", "n_id"], "left").agg(
        F.count("hit").alias("hits"), F.count(F.lit(1)).alias("total")
    )


def ann_ivfpq_refresh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ sibling of `ann_ivf_refresh_recall` — the oracle
    row for the r14 recall-recovery story (VERDICT r14 #4, measured
    in SCALE.md as 0.033 → 0.200 but pinned until now only by
    tools/pq_recall_lloyd.py): build the four-artifact persisted
    IVF-PQ index on the original vectors (coarse codebook from the
    md5-derived corpus points, lists, BASE-trained residual PQ
    codebook, codes), INSERT a drifted copy of the corpus purely
    through the stale persisted codebooks, measure compressed-search
    recall against the exact top-k, run `refresh_ivf_centroids` —
    which now retrains the PQ codebook AND re-encodes the persisted
    codes in the same pass (ADVICE r14) — and measure again. Output:
    (phase, hits, total), exact integers, deterministic on both
    engines (floored-mean M-step, exact BIGINT ADC), so the oracle's
    one-shot spelling pins the whole story: the four-artifact
    roundtrip, encode-at-insert ≡ rebuild against stale codebooks,
    the coarse Lloyd refresh, the PQ retrain on post-refresh
    residuals, the codes re-encode, and both compressed searches.
    The recall LIFT itself is the payload — the md5 coarse centroids
    give residuals larger than the raw vectors (SCALE.md), and one
    Lloyd iteration recovers flat-PQ recall; this op makes the
    driver, not a SCALE.md table, the witness."""
    root = scratch_dir("ivfpq_refresh")
    codebook_path = root + "/codebook"
    lists_path = root + "/lists"
    codes_path = ivf_codes_path(lists_path)

    corpus = _drifted_corpus(_quantized(spark, sf_dir)).cache()
    qn0 = corpus.where(F.col("vec_id") < _DRIFT_ID_OFFSET)

    # exact ground truth over the grown corpus (same brute as the
    # plain-IVF sibling) — defined up front so its cache fill can
    # OVERLAP the build/insert phase (guide §2.6: it depends only on
    # the cached corpus, never on the index artifacts; the codebook
    # write below fills the corpus cache first, so the concurrent
    # job cannot double-compute it)
    queries = corpus.where(_refresh_query_pred()).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    nv = corpus.select(
        F.col("vec_id").alias("n_id"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    wb = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    brute = (
        nv.join(broadcast(queries), F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", _cosine_cols())
        .withColumn("rank", F.row_number().over(wb))
        .where(F.col("rank") <= _IVF_TOPK)
        .select("q_id", "n_id")
        .cache()
    )

    # BUILD on the ORIGINAL distribution: four artifacts to disk
    qn0.where(F.col("vec_id").isin(_CENTROID_IDS)).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).coalesce(1).write.mode("overwrite").parquet(codebook_path)

    def _build_index() -> None:
        cent_d = spark.read.parquet(codebook_path)
        _assign(qn0, cent_d, 1).select(
            F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
        ).write.mode("overwrite").parquet(lists_path)
        train_pq_codebook(spark, qn0, codebook_path, lists_path)
        pq_d = spark.read.parquet(pq_codebook_path(codebook_path))
        centv_d = cent_d.select("c_id", F.col("q").alias("cq"))

        def resid_of(sub: DataFrame, lists: DataFrame) -> DataFrame:
            return (
                sub.join(lists.withColumnRenamed("n_id", "vec_id"), "vec_id")
                .join(broadcast(centv_d), F.col("list_id") == F.col("c_id"))
                .select(
                    "vec_id",
                    F.zip_with(
                        F.col("q"), F.col("cq"), lambda x, y: x - y
                    ).alias("q"),
                )
            )

        _ivfpq_codes(
            resid_of(qn0, spark.read.parquet(lists_path)), pq_d
        ).write.mode("overwrite").parquet(codes_path)

        # drifted INSERT purely through the stale persisted codebooks;
        # the assignment frame is CACHED because two consumers read it
        # (the lists append and the drift codes' residuals) — uncached
        # it re-ran the whole broadcast-assign per consumer (r19)
        drift = corpus.where(F.col("vec_id") >= _DRIFT_ID_OFFSET)
        b_lists = _assign(drift, cent_d, 1).select(
            F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
        ).cache()
        b_lists.write.mode("append").parquet(lists_path)
        _ivfpq_codes(resid_of(drift, b_lists), pq_d).write.mode(
            "append"
        ).parquet(codes_path)
        b_lists.unpersist()

    overlap(brute.count, _build_index)

    before = _ivfpq_search_hits(
        spark, corpus, brute, codebook_path, lists_path, codes_path
    )
    before.withColumn("phase", F.lit("before")).select(
        "phase", "hits", "total"
    ).write.mode("overwrite").parquet(root + "/before")

    # coarse Lloyd + lists reassign + PQ retrain + codes re-encode —
    # ONE maintenance call keeps all four artifacts coherent
    refresh_ivf_centroids(spark, corpus, codebook_path, lists_path)

    after = _ivfpq_search_hits(
        spark, corpus, brute, codebook_path, lists_path, codes_path
    )
    after.withColumn("phase", F.lit("after")).select(
        "phase", "hits", "total"
    ).write.mode("overwrite").parquet(root + "/after")
    corpus.unpersist()
    brute.unpersist()
    return spark.read.parquet(root + "/before").unionByName(
        spark.read.parquet(root + "/after")
    )


def _refresh_recall_sql() -> str:
    """The one-shot spelling of the whole refresh lifecycle. Every
    multiply-referenced CTE is AS MATERIALIZED (DuckDB inlines CTEs
    by default; the chained self-references here blow up 2^N
    otherwise — established convention, see spans.py)."""
    from .dedup import _QUANT_CTE

    cent_ids = ", ".join(map(str, _CENTROID_IDS))
    qpred = (
        f"(v_id < {_N_QUERIES} OR (v_id >= {_DRIFT_ID_OFFSET} "
        f"AND v_id < {_DRIFT_ID_OFFSET + _N_QUERIES}))"
    )
    cos_vc = _COS_SQL.format(a="v", b="c")
    dim = 64
    return f"""
WITH {_QUANT_CTE},
drifted AS (
  SELECT vec_id + {_DRIFT_ID_OFFSET} AS vec_id,
         list_transform(q, x -> x + {_REFRESH_DRIFT}) AS q
  FROM qn
),
corpus AS MATERIALIZED (
  SELECT vec_id, q, nq FROM qn
  UNION ALL
  SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS nq
  FROM drifted
),
cent0 AS MATERIALIZED (
  SELECT vec_id AS c_id, q, nq FROM qn WHERE vec_id IN ({cent_ids})
),
a0 AS MATERIALIZED (
  SELECT v.vec_id AS v_id, c.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id ORDER BY {cos_vc} DESC, c.c_id ASC
         ) AS crank
  FROM corpus v JOIN cent0 c ON TRUE
),
lists0 AS MATERIALIZED (SELECT v_id AS n_id, c_id AS list_id FROM a0 WHERE crank = 1),
probes0 AS (
  SELECT v_id AS q_id, c_id AS probe_list FROM a0
  WHERE {qpred} AND crank <= {_N_PROBE}
),
ivf0 AS MATERIALIZED (
  SELECT q_id, n_id FROM (
    SELECT p.q_id, l.n_id,
           ROW_NUMBER() OVER (
             PARTITION BY p.q_id
             ORDER BY {_COS_SQL.format(a='n', b='q')} DESC, l.n_id ASC
           ) AS rank
    FROM lists0 l
    JOIN probes0 p ON l.list_id = p.probe_list AND l.n_id <> p.q_id
    JOIN corpus n ON n.vec_id = l.n_id
    JOIN corpus q ON q.vec_id = p.q_id
  ) r WHERE rank <= {_IVF_TOPK}
),
ex AS (
  SELECT l.list_id, unnest(generate_series(1, {dim})) AS pos, v.q
  FROM lists0 l JOIN corpus v ON v.vec_id = l.n_id
),
cs AS (
  SELECT list_id, pos,
         CAST(FLOOR(CAST(SUM(q[pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
  FROM ex GROUP BY 1, 2
),
cent1m AS (SELECT list_id AS c_id, list(cv ORDER BY pos ASC) AS q FROM cs GROUP BY 1),
cent1 AS MATERIALIZED (
  SELECT c_id, q, list_sum(list_transform(q, x -> x * x)) AS nq FROM cent1m
  UNION ALL
  SELECT c_id, q, nq FROM cent0
  WHERE c_id NOT IN (SELECT c_id FROM cent1m)
),
a1 AS MATERIALIZED (
  SELECT v.vec_id AS v_id, c.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id ORDER BY {cos_vc} DESC, c.c_id ASC
         ) AS crank
  FROM corpus v JOIN cent1 c ON TRUE
),
lists1 AS (SELECT v_id AS n_id, c_id AS list_id FROM a1 WHERE crank = 1),
probes1 AS (
  SELECT v_id AS q_id, c_id AS probe_list FROM a1
  WHERE {qpred} AND crank <= {_N_PROBE}
),
ivf1 AS MATERIALIZED (
  SELECT q_id, n_id FROM (
    SELECT p.q_id, l.n_id,
           ROW_NUMBER() OVER (
             PARTITION BY p.q_id
             ORDER BY {_COS_SQL.format(a='n', b='q')} DESC, l.n_id ASC
           ) AS rank
    FROM lists1 l
    JOIN probes1 p ON l.list_id = p.probe_list AND l.n_id <> p.q_id
    JOIN corpus n ON n.vec_id = l.n_id
    JOIN corpus q ON q.vec_id = p.q_id
  ) r WHERE rank <= {_IVF_TOPK}
),
brute AS MATERIALIZED (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS_SQL.format(a='n', b='q')} DESC, n.vec_id ASC
           ) AS rank
    FROM corpus q JOIN corpus n ON n.vec_id <> q.vec_id
    WHERE q.vec_id < {_N_QUERIES}
       OR (q.vec_id >= {_DRIFT_ID_OFFSET}
           AND q.vec_id < {_DRIFT_ID_OFFSET + _N_QUERIES})
  ) r WHERE rank <= {_IVF_TOPK}
)
SELECT 'before' AS phase,
       CAST(COUNT(i.n_id) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS total
FROM brute b LEFT JOIN ivf0 i ON i.q_id = b.q_id AND i.n_id = b.n_id
UNION ALL
SELECT 'after' AS phase,
       CAST(COUNT(i.n_id) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS total
FROM brute b LEFT JOIN ivf1 i ON i.q_id = b.q_id AND i.n_id = b.n_id
"""


def _ivfpq_refresh_recall_sql() -> str:
    """The one-shot spelling of the IVF-PQ refresh lifecycle:
    `_refresh_recall_sql`'s coarse-refresh machinery composed with
    `_ivfpq_sql`'s PQ machinery, twice — phase 'before' searches
    through the STALE artifacts (coarse codebook = md5 corpus
    points, PQ codebook trained on the ORIGINAL corpus's residuals,
    codes over everything), phase 'after' through the refreshed set
    (one coarse Lloyd iteration, lists reassigned, PQ retrained on
    the post-refresh residuals of the FULL corpus, codes re-encoded).
    Multiply-referenced CTEs are AS MATERIALIZED (the established
    DuckDB chained-CTE convention)."""
    from .dedup import _QUANT_CTE
    from .similarity import _PQ_D2_SQL, _pq_train_ctes_sql

    cent_ids = ", ".join(map(str, _CENTROID_IDS))
    qpred = (
        f"(v_id < {_N_QUERIES} OR (v_id >= {_DRIFT_ID_OFFSET} "
        f"AND v_id < {_DRIFT_ID_OFFSET + _N_QUERIES}))"
    )
    cos_vc = _COS_SQL.format(a="v", b="c")
    dim = 64

    def pq_phase(n: str, cent: str, lists: str, probes: str, tsrc: str) -> str:
        """One compressed search phase: residuals vs `cent`, trainer
        over `tsrc`, codes for every indexed vector, per-(query,
        probed list) LUT, ADC top-k → `ivfpq{n}`(q_id, n_id)."""
        return f"""resid{n} AS MATERIALIZED (
  SELECT l.n_id AS vec_id, l.list_id,
         list_transform(list_zip(v.q, c.q), z -> z[1] - z[2]) AS q
  FROM {lists} l
  JOIN corpus v ON v.vec_id = l.n_id
  JOIN {cent} c ON c.c_id = l.list_id
),
t{n}resid AS ({tsrc}),
{_pq_train_ctes_sql(f't{n}resid', f'r{n}')},
scored{n} AS (
  SELECT vec_id, sub, code, {_PQ_D2_SQL} AS d2
  FROM resid{n}, r{n}cb AS cb(sub, code, carr)
),
codes{n} AS (
  SELECT vec_id, sub, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
    FROM scored{n}
  ) t WHERE rn = 1
),
qres{n} AS (
  SELECT p.q_id, p.probe_list,
         list_transform(list_zip(v.q, c.q), z -> z[1] - z[2]) AS q
  FROM {probes} p
  JOIN corpus v ON v.vec_id = p.q_id
  JOIN {cent} c ON c.c_id = p.probe_list
),
lut{n} AS (
  SELECT q_id, probe_list, sub, code, {_PQ_D2_SQL} AS d2
  FROM qres{n}, r{n}cb AS cb(sub, code, carr)
),
adc{n} AS (
  SELECT c.q_id, c.n_id, CAST(SUM(t.d2) AS BIGINT) AS approx_dist
  FROM (
    SELECT p.q_id, l.n_id, l.list_id
    FROM {lists} l
    JOIN {probes} p ON l.list_id = p.probe_list AND l.n_id <> p.q_id
  ) c
  JOIN codes{n} k ON k.vec_id = c.n_id
  JOIN lut{n} t ON t.q_id = c.q_id AND t.probe_list = c.list_id
               AND t.sub = k.sub AND t.code = k.code
  GROUP BY 1, 2
),
ivfpq{n} AS MATERIALIZED (
  SELECT q_id, n_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY approx_dist, n_id
    ) AS rank FROM adc{n}
  ) r WHERE rank <= {_IVF_TOPK}
)"""

    return f"""
WITH {_QUANT_CTE},
drifted AS (
  SELECT vec_id + {_DRIFT_ID_OFFSET} AS vec_id,
         list_transform(q, x -> x + {_REFRESH_DRIFT}) AS q
  FROM qn
),
corpus AS MATERIALIZED (
  SELECT vec_id, q, nq FROM qn
  UNION ALL
  SELECT vec_id, q, list_sum(list_transform(q, x -> x * x)) AS nq
  FROM drifted
),
cent0 AS MATERIALIZED (
  SELECT vec_id AS c_id, q, nq FROM qn WHERE vec_id IN ({cent_ids})
),
a0 AS MATERIALIZED (
  SELECT v.vec_id AS v_id, c.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id ORDER BY {cos_vc} DESC, c.c_id ASC
         ) AS crank
  FROM corpus v JOIN cent0 c ON TRUE
),
lists0 AS MATERIALIZED (SELECT v_id AS n_id, c_id AS list_id FROM a0 WHERE crank = 1),
probes0 AS (
  SELECT v_id AS q_id, c_id AS probe_list FROM a0
  WHERE {qpred} AND crank <= {_N_PROBE}
),
{pq_phase('0', 'cent0', 'lists0', 'probes0',
          f'SELECT vec_id, q FROM resid0 WHERE vec_id < {_DRIFT_ID_OFFSET}')},
ex AS (
  SELECT l.list_id, unnest(generate_series(1, {dim})) AS pos, v.q
  FROM lists0 l JOIN corpus v ON v.vec_id = l.n_id
),
cs AS (
  SELECT list_id, pos,
         CAST(FLOOR(CAST(SUM(q[pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
  FROM ex GROUP BY 1, 2
),
cent1m AS (SELECT list_id AS c_id, list(cv ORDER BY pos ASC) AS q FROM cs GROUP BY 1),
cent1 AS MATERIALIZED (
  SELECT c_id, q, list_sum(list_transform(q, x -> x * x)) AS nq FROM cent1m
  UNION ALL
  SELECT c_id, q, nq FROM cent0
  WHERE c_id NOT IN (SELECT c_id FROM cent1m)
),
a1 AS MATERIALIZED (
  SELECT v.vec_id AS v_id, c.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id ORDER BY {cos_vc} DESC, c.c_id ASC
         ) AS crank
  FROM corpus v JOIN cent1 c ON TRUE
),
lists1 AS MATERIALIZED (SELECT v_id AS n_id, c_id AS list_id FROM a1 WHERE crank = 1),
probes1 AS (
  SELECT v_id AS q_id, c_id AS probe_list FROM a1
  WHERE {qpred} AND crank <= {_N_PROBE}
),
{pq_phase('1', 'cent1', 'lists1', 'probes1',
          'SELECT vec_id, q FROM resid1')},
brute AS MATERIALIZED (
  SELECT q_id, n_id FROM (
    SELECT q.vec_id AS q_id, n.vec_id AS n_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_COS_SQL.format(a='n', b='q')} DESC, n.vec_id ASC
           ) AS rank
    FROM corpus q JOIN corpus n ON n.vec_id <> q.vec_id
    WHERE q.vec_id < {_N_QUERIES}
       OR (q.vec_id >= {_DRIFT_ID_OFFSET}
           AND q.vec_id < {_DRIFT_ID_OFFSET + _N_QUERIES})
  ) r WHERE rank <= {_IVF_TOPK}
)
SELECT 'before' AS phase,
       CAST(COUNT(i.n_id) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS total
FROM brute b LEFT JOIN ivfpq0 i ON i.q_id = b.q_id AND i.n_id = b.n_id
UNION ALL
SELECT 'after' AS phase,
       CAST(COUNT(i.n_id) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS total
FROM brute b LEFT JOIN ivfpq1 i ON i.q_id = b.q_id AND i.n_id = b.n_id
"""


def _ivfpq_sql(train_on_base: bool = False, topk: int = _IVF_TOPK) -> str:
    """The one-shot IVF-PQ spelling. `train_on_base` restricts the
    PQ TRAINER to the base slice (vec_id ≢ 0 mod 10) — the persisted
    store op's shape, where the codebooks are built before the
    insert batch exists; codes/LUT/ADC still cover the full corpus
    (encoding is per-vector deterministic given the codebooks, so
    encode-at-insert ≡ rebuild). `topk` sizes the returned ranking
    (the rerank oracle nests this spelling pool-sized)."""
    from .dedup import _QUANT_CTE
    from .similarity import (
        _COS_SQL,
        _PQ_D2_SQL,
        _pq_train_ctes_sql,
    )

    train_cte = (
        "tresid AS (SELECT vec_id, q FROM resid "
        f"WHERE ((vec_id % {_INSERT_MOD}) + {_INSERT_MOD}) % {_INSERT_MOD} <> 0),\n"
        if train_on_base
        else ""
    )
    train_src = "tresid" if train_on_base else "resid"
    return f"""
WITH {_QUANT_CTE},
cent AS (
  SELECT vec_id AS c_id, q, nq FROM qn
  WHERE vec_id IN ({', '.join(map(str, _CENTROID_IDS))})
),
assign AS (
  SELECT v.vec_id AS v_id, c.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY {_COS_SQL.format(a='v', b='c')} DESC, c.c_id ASC
         ) AS crank
  FROM qn v JOIN cent c ON TRUE
),
lists AS (SELECT v_id AS n_id, c_id AS list_id FROM assign WHERE crank = 1),
probes AS (
  SELECT v_id AS q_id, c_id AS probe_list FROM assign
  WHERE v_id < {_N_QUERIES} AND crank <= {_N_PROBE}
),
resid AS MATERIALIZED (
  SELECT l.n_id AS vec_id, l.list_id,
         list_transform(list_zip(v.q, c.q), z -> z[1] - z[2]) AS q
  FROM lists l
  JOIN qn v ON v.vec_id = l.n_id
  JOIN cent c ON c.c_id = l.list_id
),
{train_cte}{_pq_train_ctes_sql(train_src, 'r')},
scored AS (
  SELECT vec_id, sub, code, {_PQ_D2_SQL} AS d2 FROM resid, rcb AS cb(sub, code, carr)
),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
    FROM scored
  ) t WHERE rn = 1
),
qres AS (
  SELECT p.q_id, p.probe_list,
         list_transform(list_zip(v.q, c.q), z -> z[1] - z[2]) AS q
  FROM probes p
  JOIN qn v ON v.vec_id = p.q_id
  JOIN cent c ON c.c_id = p.probe_list
),
lut AS (
  SELECT q_id, probe_list, sub, code, {_PQ_D2_SQL} AS d2
  FROM qres, rcb AS cb(sub, code, carr)
),
cand AS (
  SELECT p.q_id, l.n_id, l.list_id
  FROM lists l JOIN probes p ON l.list_id = p.probe_list AND l.n_id <> p.q_id
),
adc AS (
  SELECT c.q_id, c.n_id, c.list_id, CAST(SUM(t.d2) AS BIGINT) AS approx_dist
  FROM cand c
  JOIN codes k ON k.vec_id = c.n_id
  JOIN lut t ON t.q_id = c.q_id AND t.probe_list = c.list_id
            AND t.sub = k.sub AND t.code = k.code
  GROUP BY 1, 2, 3
)
SELECT q_id, n_id, list_id, approx_dist, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx_dist, n_id) AS rank
  FROM adc
) r WHERE rank <= {topk}
"""


def _ivfpq_rerank_sql() -> str:
    """`ann_ivfpq_rerank_topk`'s oracle: the full trained-PQ spelling
    sized to the ADC pool (nested WITH — DuckDB scopes the inner qn
    to the subquery), then the exact BIGINT distance on the pool and
    a re-rank to top-k. Every stage shares the Spark plan's integer
    domain, so the composition stays hash-exact."""
    from .dedup import _QUANT_CTE

    inner = _ivfpq_sql(topk=_RERANK_POOL)
    dot = (
        "list_sum(list_transform(list_zip(q.q, n.q), p -> p[1] * p[2]))"
    )
    return f"""
WITH {_QUANT_CTE},
pool AS (
{inner}
),
exact AS (
  SELECT p.q_id, p.n_id,
         CAST(q.nq - 2 * {dot} + n.nq AS BIGINT) AS exact_dist
  FROM pool p
  JOIN qn q ON q.vec_id = p.q_id
  JOIN qn n ON n.vec_id = p.n_id
)
SELECT q_id, n_id, exact_dist, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY exact_dist, n_id) AS rank
  FROM exact
) r WHERE rank <= {_IVF_TOPK}
"""


# the full-corpus IVF spelling with the metadata predicate joined
# into the CANDIDATE step only (probe selection unfiltered — the
# pre-filter composes with the index read, not with which lists a
# query visits): `ann_ivf_filtered_search`'s oracle.
_ANN_IVF_FILTERED_SQL = f"""
WITH {_QUANT_CTE},
cent AS (
  SELECT vec_id AS c_id, q, nq FROM qn
  WHERE vec_id IN ({', '.join(map(str, _CENTROID_IDS))})
),
assign AS (
  SELECT v.vec_id AS v_id, c.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY {_COS_SQL.format(a='v', b='c')} DESC, c.c_id ASC
         ) AS crank
  FROM qn v JOIN cent c ON TRUE
),
lists AS (SELECT v_id AS n_id, c_id AS list_id FROM assign WHERE crank = 1),
probes AS (
  SELECT v_id AS q_id, c_id AS probe_list FROM assign
  WHERE v_id < {_N_QUERIES} AND crank <= {_N_PROBE}
),
allowed AS (SELECT vec_id AS n_id FROM qn WHERE label < {_FILTER_LABEL_MAX}),
pairs AS (
  SELECT p.q_id, l.n_id, l.list_id,
         {_COS_SQL.format(a='q', b='n')} AS cosine
  FROM lists l
  JOIN allowed a ON a.n_id = l.n_id
  JOIN probes p ON l.list_id = p.probe_list AND l.n_id <> p.q_id
  JOIN qn n ON n.vec_id = l.n_id
  JOIN qn q ON q.vec_id = p.q_id
), ranked AS (
  SELECT q_id, n_id, list_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS INT) AS rank
  FROM pairs
)
SELECT q_id, n_id, list_id, cosine, rank FROM ranked WHERE rank <= {_IVF_TOPK}
"""


QUERIES = {
    "ann_ivf_store_search": ann_ivf_store_search,
    "ann_ivf_filtered_search": ann_ivf_filtered_search,
    "ann_ivfpq_topk": ann_ivfpq_topk,
    "ann_ivfpq_rerank_topk": ann_ivfpq_rerank_topk,
    "ann_ivfpq_store_search": ann_ivfpq_store_search,
    "ann_ivf_refresh_recall": ann_ivf_refresh_recall,
    "ann_ivfpq_refresh_recall": ann_ivfpq_refresh_recall,
}

ORACLE = {
    # the full-corpus IVF spelling, verbatim — incremental insert is
    # provably equivalent (assignment is per-vector independent), so
    # one oracle pins both the equivalence and the index roundtrip.
    "ann_ivf_store_search": _ANN_IVF_SQL,
    # the same spelling with the predicate in the candidate step —
    # the hash pins pre-filter (never post-filter) semantics on the
    # index path plus the codebook/lists roundtrip.
    "ann_ivf_filtered_search": _ANN_IVF_FILTERED_SQL,
    "ann_ivfpq_topk": _ivfpq_sql(),
    # the refinement stage composed over the same spelling: the hash
    # pins ADC-pool selection AND the exact re-rank's integer math.
    "ann_ivfpq_rerank_topk": _ivfpq_rerank_sql(),
    # same spelling with the TRAINER restricted to the base slice —
    # the persisted store's codebooks predate the insert batch; the
    # hash pins encode-at-insert ≡ rebuild plus the 4-artifact
    # roundtrip (op docstring).
    "ann_ivfpq_store_search": _ivfpq_sql(train_on_base=True),
    # the refresh lifecycle is deterministic end to end (floored
    # integer M-step), so even though refresh CHANGES search results,
    # the (phase, hits, total) recall frame is hash-exact.
    "ann_ivf_refresh_recall": _refresh_recall_sql(),
    # the compressed-index sibling: one hash pins the four-artifact
    # roundtrip, stale-codebook insert ≡ rebuild, the PQ retrain +
    # codes re-encode on refresh, and the recall lift itself.
    "ann_ivfpq_refresh_recall": _ivfpq_refresh_recall_sql(),
}
