"""REAL cross-process reader-vs-maintainer race stress (round 18):
the contract tests simulate the heal race by monkeypatched rename
injection; this tool runs the race for real — a separate PROCESS
loops `heal_swap(path)` (exactly what every query node does before
building its read plan) as fast as the OS allows, while this process
performs N back-to-back `_swap_aside` swaps of a real parquet table.

Pass criteria (the MAINTAINER CONTRACT's reader half):
  - every swap either COMPLETES (the bounded retry absorbed any heal
    that fired inside the window) or raises the documented
    second-writer error with live+staging both complete — in which
    case the re-swap must converge;
  - after every completed swap the table holds exactly the new
    content (readable, no .old, no stale rows);
  - the racer process never crashes (heal_swap tolerates losing its
    own rename race to the swap completing).

The heal's restore only fires inside the microseconds-wide window
between the two renames, so most iterations see no race — the tool
reports how many times the racer actually restored (races_hit) so a
zero-hit run is visibly inconclusive rather than silently green.

FOLD MODE (`python tools/race_stress.py fold [CYCLES] [N_RACERS]`):
the same idea against the granular FOLD — racer processes loop
`heal_table_fold(path)` hot (counting journal sightings, so a run
that never hit the window is visibly inconclusive) while this
process runs retract→fold cycles on a real bucketed table. The
fold's contract under cross-process heals is ABORT-THEN-CONVERGE:
a heal that fires mid-fold may roll it back (restores asides, clears
staging+journal) — the writer must abort with one of the documented
errors, NEVER retire or partially publish a partition — and the
retry must converge. Pass criteria: after every cycle (with retries
on documented aborts) the table holds EXACTLY the expected rows; no
journal, aside, or staging remnants; racers never crash.

STORE MODE (`python tools/race_stress.py store [CYCLES] [N_RACERS]`):
the full three-table dedup store under the same fire — a real store
(signature table, banded index, members table) built from sf0.001
documents, cycling `retract_docs` → `fold_retractions` while racer
processes loop `heal_table_fold` on ALL THREE paths. This is the
only mode that drives `_fold_index_granular`'s two-level
`band=*/kb=*` rels (nested parent dirs for asides and the publish
handoff) under real cross-process heals. Pass criteria per cycle
(with retries on documented aborts): members hold EXACTLY the
surviving doc set; the signature store holds exactly the surviving
groups with min-surviving-doc reps; the index's group set equals
the signature store's; afterwards no journal/aside/staging/trash
remnants anywhere; racers never crash.

IVF MODE (`python tools/race_stress.py ivf [BATCHES] [N_RACERS]`):
the vector-family analog — a real IVF-PQ artifact set (centroid
codebook, lists, codes, PQ codebook) built from sf0.001 embeddings,
then a micro-batch insert stream through the real kernel
`ivf_insert_batch` with the auto-compact trigger forced low (2
files) so the stream performs rename-aside swaps of lists AND codes
nearly every batch, while racer processes loop `heal_swap` over all
four artifact paths (exactly what every query node does before
building its read plan). Every third batch is a REDELIVERY of the
previous batch, pinning the idempotence anti-joins under racer
fire. Pass criteria per batch: lists vec_id set EXACTLY base ∪
inserted-so-far, codes vec_ids == lists vec_ids (coherence),
redeliveries append nothing; afterwards no '.old'/staging/trash
remnants on any artifact; racers never crash.

CRASH MODE (`python tools/race_stress.py crash [KILLS]`): writer
DEATH, not reader races — the dead-pid recovery that the other
modes never reach (their healers always find a LIVE writer and
wait). A child process loops real granular folds over a shared
bucketed table, with the journal-present swap window widened to
~1 s by a child-side wrapper around `_fold_swap_loop` (tool-side
monkeypatch — product code untouched), and the parent SIGKILLs it
at a random point, then plays the next maintenance pass: heal
(a journal with a DEAD pid must roll back immediately — no
liveness wait), re-run the interrupted fold, and verify. Pass
criteria per kill: heal_table_fold returns leaving no
journal/aside; the re-run fold converges; the table then holds
EXACTLY the expected rows (kills landing before, inside, and after
the journal window all recover); no staging/trash remnants at the
end. The tool reports how many kills actually landed with the
journal on disk so a run that never hit the window is visibly
inconclusive.

CRASH-STORE MODE (`python tools/race_stress.py crash-store
[KILLS]`): writer death over the FULL three-table lifecycle — a
child process loops real `retract_docs` → `fold_retractions`
cycles on a signature + banded index + members store, and the
parent SIGKILLs its process group (alternating random landings
with targeted kills fired when any of the three fold journals
appears), then plays the documented recovery — re-run the
retraction and the fold — and verifies. Kills land mid-retract
(sidecar swaps half done), between the three tables' folds (sig
folded, index not), and inside a table's journal window; the
recovery contract is the same for all of them: re-run converges.
Pass criteria per kill: members/signatures/index exactly match the
driver-side ground truth and every retraction sidecar is retired
afterwards; no journal/aside/.bpub/staging/trash remnants at the
end.

CRASH-IVF MODE (`python tools/race_stress.py crash-ivf [KILLS]`):
writer death for the vector insert stream — a child loops real
`ivf_insert_batch` micro-batches (auto-compact trigger 2, so kills
can land mid-swap too) and the parent SIGKILLs its process group at
a random point, classifies the state the death actually left
(half-inserted: lists rows whose codes are missing; mid-compact:
an artifact present only at '.old'), then plays the documented
at-least-once recovery: heal_swap on all four artifacts and a
REDELIVERY of the in-flight batch through the same kernel. Pass
criteria per kill: after redelivery the lists hold exactly base ∪
delivered vec_ids and the codes cover exactly the lists (the
half-inserted rows got their codes, not duplicate lists rows); no
remnants at the end. The tool reports how many kills landed in the
half-inserted and mid-swap states so an all-boring run is visibly
inconclusive.

Usage: python tools/race_stress.py [N_SWAPS] [N_RACERS]
       python tools/race_stress.py fold [CYCLES] [N_RACERS]
       python tools/race_stress.py store [CYCLES] [N_RACERS]
       python tools/race_stress.py ivf [BATCHES] [N_RACERS]
       python tools/race_stress.py crash [KILLS]
       python tools/race_stress.py crash-store [KILLS]
       python tools/race_stress.py crash-ivf [KILLS]
"""

from __future__ import annotations

import multiprocessing as mp
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fdblog2clickhouse_spark import storage  # noqa: E402


def racer(path: str, stop, hits) -> None:
    """The query node in another process: heal before every read."""
    from fdblog2clickhouse_spark.storage import heal_swap

    old = path + ".old"
    while not stop.is_set():
        existed = os.path.exists(old) and not os.path.exists(path)
        heal_swap(path)  # must never raise (race-tolerant)
        if existed and os.path.exists(path):
            with hits.get_lock():
                hits.value += 1


def fold_racer(path: str, stop, sightings) -> None:
    """A query node's read-path heal, run hot: heal as fast as the
    OS allows, counting how often the fold journal was actually
    observed (a zero-sighting run exercised nothing — report it)."""
    from fdblog2clickhouse_spark.storage import _FOLD_JOURNAL, heal_table_fold

    j = os.path.join(path, _FOLD_JOURNAL)
    while not stop.is_set():
        if os.path.exists(j):
            with sightings.get_lock():
                sightings.value += 1
        heal_table_fold(path)  # must never raise


def fold_main() -> None:
    cycles = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    n_racers = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.session import get_spark
    from fdblog2clickhouse_spark.operators import dedup_store as ds

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="fold_race_")
    path = os.path.join(root, "tbl")
    n0 = 4 * cycles + 64
    df = spark.createDataFrame(
        [(i, f"g{i}") for i in range(n0)], "doc_id long, gh string"
    )
    ds.write_table(df, path, "overwrite", key="doc_id", buckets=8)

    stop = mp.Event()
    sightings = mp.Value("i", 0)
    procs = [
        mp.Process(
            target=fold_racer, args=(path, stop, sightings), daemon=True
        )
        for _ in range(n_racers)
    ]
    for p in procs:
        p.start()

    alive = set(range(n0))
    aborts = 0
    t0 = time.perf_counter()
    for c in range(cycles):
        victims = sorted(alive)[:2]
        alive -= set(victims)
        tomb = spark.createDataFrame(
            [(v,) for v in victims], "doc_id long"
        )
        for attempt in range(25):
            try:
                ds._fold_table_granular(
                    spark, path, os.path.join(root, "nosuch"), None, tomb
                )
                break
            except RuntimeError as e:
                msg = str(e)
                assert (
                    "vanished" in msg or "gutted" in msg
                    or "losing the rename" in msg
                ), f"undocumented fold failure: {msg}"
                print(f"  cycle {c} attempt {attempt}: ABORT {msg.splitlines()[0][:90]}")
                aborts += 1
        else:
            raise AssertionError("fold never converged in 25 attempts")
        got = sorted(
            r["doc_id"]
            for r in ds.read_table(spark, path).select("doc_id").collect()
        )
        if got != sorted(alive):
            import glob as _g

            missing = sorted(set(alive) - set(got))
            extra = sorted(set(got) - set(alive))
            print(f"FORENSICS cycle {c}: missing={missing} extra={extra}")
            import pyarrow.parquet as pq

            for d in sorted(_g.glob(os.path.join(path, "pb=*"))):
                fs = sorted(os.listdir(d))
                rows = sum(
                    pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                    for f in fs
                    if f.endswith(".parquet")
                )
                print(f"  {os.path.basename(d)}: rows={rows} files={fs}")
            miss_pb = {
                r["pb"]
                for r in spark.createDataFrame(
                    [(m,) for m in missing], "doc_id long"
                )
                .select(
                    F.expr(
                        "CAST(pmod(xxhash64(CAST(doc_id AS BIGINT)), 8) AS INT)"
                    ).alias("pb")
                )
                .distinct()
                .collect()
            }
            print("  missing ids' buckets:", sorted(miss_pb))
            print("  parts:", sorted(os.listdir(path)))
            print("  siblings:", sorted(_g.glob(path + "*"))[:10])
            print(
                "  asides:",
                _g.glob(
                    os.path.join(path, "**", storage._BFOLD_PREFIX + "*"),
                    recursive=True,
                ),
            )
            jj = os.path.join(path, storage._FOLD_JOURNAL)
            if os.path.exists(jj):
                print("  journal:", open(jj).read())
            raise AssertionError(
                f"cycle {c}: row loss/leak — got {len(got)}, "
                f"expected {len(alive)}"
            )
    dt = time.perf_counter() - t0

    stop.set()
    for p in procs:
        p.join(timeout=5)
        assert p.exitcode == 0, f"fold racer crashed: {p.exitcode}"
    import glob as _g

    assert not os.path.exists(os.path.join(path, storage._FOLD_JOURNAL))
    assert not _g.glob(
        os.path.join(path, "**", storage._BFOLD_PREFIX + "*"), recursive=True
    )
    print(
        f"fold-race-stress: GREEN — {cycles} retract→fold cycles vs "
        f"{n_racers} healing processes in {dt:.1f}s, journal "
        f"sightings={sightings.value}, documented aborts={aborts} "
        "(every cycle converged to exact content, no remnants, no "
        "racer crash)",
        flush=True,
    )
    shutil.rmtree(root, ignore_errors=True)


def store_racer(paths: list[str], stop, sightings) -> None:
    """A query node healing before every read of the three-table
    store: loop `heal_table_fold` over all three paths hot,
    counting journal sightings on any of them."""
    from fdblog2clickhouse_spark.storage import _FOLD_JOURNAL, heal_table_fold

    while not stop.is_set():
        for p in paths:
            if os.path.exists(os.path.join(p, _FOLD_JOURNAL)):
                with sightings.get_lock():
                    sightings.value += 1
            heal_table_fold(p)  # must never raise


def store_main() -> None:
    cycles = int(sys.argv[2]) if len(sys.argv) > 2 else 15
    n_racers = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.session import get_spark
    from fdblog2clickhouse_spark.operators import dedup_store as ds
    from fdblog2clickhouse_spark.sources.tables import table

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="store_race_")
    sig_path = os.path.join(root, "signatures")
    band_path = os.path.join(root, "bands")
    mem_path = os.path.join(root, "members")

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", F.col("text")
    )
    g = ds.rep_group_frame(docs).cache()
    reps = ds.rep_reps(g)
    ds.write_table(
        ds.rep_signature_frame(reps), sig_path, "overwrite", key="gh"
    )
    ds.write_banded_index(
        ds.read_table(spark, sig_path), band_path, "overwrite"
    )
    ds.write_table(
        g.select("doc_id", "gh")
        .join(reps.select("gh", "group_id"), "gh")
        .select("doc_id", "gh", "group_id"),
        mem_path,
        "overwrite",
        key="doc_id",
    )
    # ground truth, driver-side: doc_id → gh for every admitted doc
    # (sf0.001 documents — a few hundred rows)
    doc_gh = {
        r["doc_id"]: r["gh"] for r in g.select("doc_id", "gh").collect()
    }
    g.unpersist()
    alive = set(doc_gh)

    stop = mp.Event()
    sightings = mp.Value("i", 0)
    paths = [sig_path, band_path, mem_path]
    procs = [
        mp.Process(
            target=store_racer, args=(paths, stop, sightings), daemon=True
        )
        for _ in range(n_racers)
    ]
    for p in procs:
        p.start()

    def expected():
        groups = {}
        for d in alive:
            gh = doc_gh[d]
            groups[gh] = min(groups.get(gh, d), d)
        return groups  # gh → group_id (min surviving doc)

    aborts = 0
    t0 = time.perf_counter()
    for c in range(cycles):
        victims = sorted(alive)[: 2]
        alive.difference_update(victims)
        tomb = spark.createDataFrame(
            [(v,) for v in victims], "doc_id long"
        )
        ds.retract_docs(spark, sig_path, mem_path, tomb)
        for attempt in range(25):
            try:
                ds.fold_retractions(spark, sig_path, band_path, mem_path)
                break
            except RuntimeError as e:
                msg = str(e)
                assert (
                    "vanished" in msg or "gutted" in msg
                    or "losing the rename" in msg
                ), f"undocumented fold failure: {msg}"
                print(
                    f"  cycle {c} attempt {attempt}: ABORT "
                    f"{msg.splitlines()[0][:90]}"
                )
                aborts += 1
        else:
            raise AssertionError("fold never converged in 25 attempts")
        exp = expected()
        mem = {
            (r["doc_id"], r["gh"], r["group_id"])
            for r in ds.read_table(spark, mem_path).collect()
        }
        want_mem = {(d, doc_gh[d], exp[doc_gh[d]]) for d in alive}
        assert mem == want_mem, (
            f"cycle {c}: members diverged — missing "
            f"{sorted(want_mem - mem)[:5]}, extra {sorted(mem - want_mem)[:5]}"
        )
        sig = {
            (r["gh"], r["group_id"])
            for r in ds.read_table(spark, sig_path)
            .select("gh", "group_id")
            .collect()
        }
        assert sig == set(exp.items()), (
            f"cycle {c}: signature store diverged — missing "
            f"{sorted(set(exp.items()) - sig)[:5]}, extra "
            f"{sorted(sig - set(exp.items()))[:5]}"
        )
        idx = {
            r["group_id"]
            for r in spark.read.parquet(band_path)
            .select("group_id")
            .distinct()
            .collect()
        }
        assert idx == set(exp.values()), (
            f"cycle {c}: index groups diverged — missing "
            f"{sorted(set(exp.values()) - idx)[:5]}, extra "
            f"{sorted(idx - set(exp.values()))[:5]}"
        )
    dt = time.perf_counter() - t0

    stop.set()
    for p in procs:
        p.join(timeout=5)
        assert p.exitcode == 0, f"store racer crashed: {p.exitcode}"
    import glob as _g

    for p in paths:
        assert not os.path.exists(os.path.join(p, storage._FOLD_JOURNAL)), p
        assert not _g.glob(
            os.path.join(p, "**", storage._BFOLD_PREFIX + "*"), recursive=True
        ), p
        assert not _g.glob(
            os.path.join(p, "**", ".bpub-*"), recursive=True
        ), p
        assert not _g.glob(p + ".bfold*"), p
    print(
        f"store-race-stress: GREEN — {cycles} retract→fold cycles over "
        f"the 3-table store vs {n_racers} healing processes in "
        f"{dt:.1f}s, journal sightings={sightings.value}, documented "
        f"aborts={aborts} (members/signatures/index exact after every "
        "cycle, no remnants, no racer crash)",
        flush=True,
    )
    shutil.rmtree(root, ignore_errors=True)


def ivf_racer(paths: list[str], stop, hits) -> None:
    """A query node healing all four IVF artifacts before every
    read, run hot; counts how often a swap window ('.old' present,
    live missing) was actually observed."""
    from fdblog2clickhouse_spark.storage import heal_swap

    while not stop.is_set():
        for p in paths:
            if os.path.exists(p + ".old") and not os.path.exists(p):
                with hits.get_lock():
                    hits.value += 1
            heal_swap(p)  # must never raise


def ivf_main() -> None:
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 24
    n_racers = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.session import get_spark
    from fdblog2clickhouse_spark.operators import ann_store
    from fdblog2clickhouse_spark.operators.dedup import _quantized

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="ivf_race_")
    cb = os.path.join(root, "codebook")
    lists = os.path.join(root, "lists")

    qn = _quantized(spark, "/root/testdata/sf0.001").cache()
    base = qn.where(F.pmod("vec_id", F.lit(10)) != 0)
    base.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).coalesce(1).write.parquet(cb)
    ann_store._assign(base, spark.read.parquet(cb), 1).select(
        F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
    ).write.parquet(lists)
    ann_store.train_pq_codebook(spark, base, cb, lists)
    ann_store.reencode_ivf_codes(spark, base, cb, lists)
    codes = ann_store.ivf_codes_path(lists)
    pq_cb = ann_store.pq_codebook_path(cb)

    stream_ids = sorted(
        r["vec_id"]
        for r in qn.where(F.pmod("vec_id", F.lit(10)) == 0)
        .select("vec_id")
        .collect()
    )
    base_ids = {
        r["vec_id"] for r in base.select("vec_id").collect()
    }
    # slice the held-out vectors into n_batches micro-batches
    # (round-robin so every batch is non-empty while any ids remain)
    slices = [stream_ids[i::n_batches] for i in range(n_batches)]

    stop = mp.Event()
    hits = mp.Value("i", 0)
    paths = [lists, codes, cb, pq_cb]
    procs = [
        mp.Process(target=ivf_racer, args=(paths, stop, hits), daemon=True)
        for _ in range(n_racers)
    ]
    for p in procs:
        p.start()

    inserted: set = set()
    compactions = 0
    redeliveries = 0
    t0 = time.perf_counter()
    prev_slice: list = []
    for b in range(n_batches):
        if b % 3 == 2 and prev_slice:
            ids, redelivery = prev_slice, True
            redeliveries += 1
        else:
            ids, redelivery = slices[b], False
            prev_slice = ids
        if not ids:
            continue
        batch = qn.join(
            spark.createDataFrame([(i,) for i in ids], "vec_id long"),
            "vec_id",
            "left_semi",
        )
        r = ann_store.ivf_insert_batch(
            spark, batch, cb, lists, compact_trigger_files=2
        )
        if redelivery:
            assert r["vectors"] == 0 and r["skipped"] == len(ids), (
                f"batch {b}: redelivery not idempotent: {r}"
            )
        else:
            assert r["vectors"] == len(set(ids) - inserted), (
                f"batch {b}: {r} for {len(ids)} fresh ids"
            )
            inserted.update(ids)
        compactions += bool(r["compacted"])
        want = base_ids | inserted
        got_l = {
            x["n_id"]
            for x in spark.read.parquet(lists).select("n_id").collect()
        }
        assert got_l == want, (
            f"batch {b}: lists diverged — missing "
            f"{sorted(want - got_l)[:5]}, extra {sorted(got_l - want)[:5]}"
        )
        got_c = {
            x["vec_id"]
            for x in spark.read.parquet(codes)
            .select("vec_id")
            .distinct()
            .collect()
        }
        assert got_c == want, (
            f"batch {b}: codes incoherent — missing "
            f"{sorted(want - got_c)[:5]}, extra {sorted(got_c - want)[:5]}"
        )
    dt = time.perf_counter() - t0

    stop.set()
    for p in procs:
        p.join(timeout=5)
        assert p.exitcode == 0, f"ivf racer crashed: {p.exitcode}"
    import glob as _g

    for p in paths:
        assert not os.path.exists(p + ".old"), p
        assert not os.path.exists(p + ".staging"), p
    assert not _g.glob(os.path.join(root, ".trash-*")), "trash leaked"
    qn.unpersist()
    print(
        f"ivf-race-stress: GREEN — {n_batches} insert micro-batches "
        f"({redeliveries} redeliveries, {compactions} auto-compactions "
        f"at trigger=2) vs {n_racers} healing processes in {dt:.1f}s, "
        f"swap windows observed={hits.value} (lists+codes exact and "
        "coherent after every batch, redeliveries appended nothing, "
        "no remnants, no racer crash)",
        flush=True,
    )
    shutil.rmtree(root, ignore_errors=True)


def crash_child() -> None:
    """The fold writer that will be SIGKILLed: loop real granular
    folds over the shared table, one victim batch per fold, touching
    `ready` once the session is up (so the parent's kill timer only
    starts when fold work does) and appending each batch index to
    `progress` AFTER its fold returns. The journal-present swap
    window is widened to ~1 s by wrapping `_fold_swap_loop` —
    a tool-side patch of the child's own process, so the parent's
    kill has a realistic chance of landing between the journal write
    and the journal removal (the state only a DEAD writer can
    leave)."""
    import json
    import time as _t

    path, batches_file, progress_file, ready_file = sys.argv[2:6]

    from fdblog2clickhouse_spark.session import get_spark
    from fdblog2clickhouse_spark.operators import dedup_store as ds

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    with open(batches_file) as f:
        batches = json.load(f)

    orig = storage._fold_swap_loop

    def slow_swap(*a, **k):
        _t.sleep(1.0)
        return orig(*a, **k)

    storage._fold_swap_loop = slow_swap
    with open(ready_file, "w") as f:
        f.write("ready")
    for idx, victims in enumerate(batches):
        tomb = spark.createDataFrame(
            [(v,) for v in victims], "doc_id long"
        )
        ds._fold_table_granular(
            spark, path, os.path.dirname(path) + "/nosuch", None, tomb
        )
        with open(progress_file, "a") as f:
            f.write(f"{idx}\n")
            f.flush()
            os.fsync(f.fileno())


def crash_main() -> None:
    import json
    import random
    import signal
    import subprocess

    kills = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    rng = random.Random(18)

    from fdblog2clickhouse_spark.session import get_spark
    from fdblog2clickhouse_spark.operators import dedup_store as ds

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="crash_race_")
    path = os.path.join(root, "tbl")
    n0 = 512
    df = spark.createDataFrame(
        [(i, f"g{i}") for i in range(n0)], "doc_id long, gh string"
    )
    ds.write_table(df, path, "overwrite", key="doc_id", buckets=8)

    alive = set(range(n0))
    batches = [[2 * k, 2 * k + 1] for k in range(8 * kills)]
    i = 0
    in_window = 0
    t0 = time.perf_counter()
    for k in range(kills):
        bf = os.path.join(root, f"batches_{k}.json")
        pf = os.path.join(root, f"progress_{k}")
        rf = os.path.join(root, f"ready_{k}")
        with open(bf, "w") as f:
            json.dump(batches[i:], f)
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "crash-child",
             path, bf, pf, rf],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            start_new_session=True,  # killpg takes the JVM down too
        )
        while not os.path.exists(rf):
            time.sleep(0.05)
            assert child.poll() is None, "crash child died before ready"
        # odd kills: TARGETED — poll for the journal and kill the
        # instant it appears, guaranteeing the dead-pid-with-journal
        # recovery is exercised every other kill (still a real
        # SIGKILL; the ~1 s widened window makes the poll reliable).
        # even kills: random landing past the cold first fold
        # (session-warm ~5-8 s), anywhere in the fold lifecycle.
        j = os.path.join(path, storage._FOLD_JOURNAL)
        if k % 2 == 1:
            deadline = time.perf_counter() + 60
            while not os.path.exists(j):
                time.sleep(0.005)
                assert time.perf_counter() < deadline, (
                    "journal never appeared for a targeted kill"
                )
                assert child.poll() is None, "child exited early"
        else:
            time.sleep(rng.uniform(4.0, 15.0))
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        j_seen = os.path.exists(os.path.join(path, storage._FOLD_JOURNAL))
        in_window += j_seen
        done = []
        if os.path.exists(pf):
            with open(pf) as f:
                done = [int(x) for x in f.read().split()]
        for idx in done:
            alive.difference_update(batches[i + idx])
        i += len(done)
        # the next maintenance pass: heal must roll a DEAD writer's
        # journal back immediately (no 10 s liveness wait)
        th = time.perf_counter()
        storage.heal_table_fold(path)
        heal_dt = time.perf_counter() - th
        assert heal_dt < 5, f"kill {k}: dead-writer heal took {heal_dt:.1f}s"
        assert not os.path.exists(os.path.join(path, storage._FOLD_JOURNAL))
        # re-run the interrupted batch's fold (idempotent: partially
        # swapped partitions converge) and verify exact content
        if i < len(batches):
            tomb = spark.createDataFrame(
                [(v,) for v in batches[i]], "doc_id long"
            )
            ds._fold_table_granular(
                spark, path, os.path.join(root, "nosuch"), None, tomb
            )
            alive.difference_update(batches[i])
            i += 1
        got = sorted(
            r["doc_id"]
            for r in ds.read_table(spark, path).select("doc_id").collect()
        )
        assert got == sorted(alive), (
            f"kill {k}: row divergence — missing "
            f"{sorted(set(alive) - set(got))[:5]}, extra "
            f"{sorted(set(got) - set(alive))[:5]} (journal at kill: "
            f"{j_seen}, child completed {len(done)} folds)"
        )
        print(
            f"  kill {k}: child completed {len(done)} folds, journal "
            f"on disk at kill={j_seen}, heal {heal_dt * 1000:.0f} ms, "
            "re-run converged exact",
            flush=True,
        )
    dt = time.perf_counter() - t0

    import glob as _g

    assert not os.path.exists(os.path.join(path, storage._FOLD_JOURNAL))
    assert not _g.glob(
        os.path.join(path, "**", storage._BFOLD_PREFIX + "*"), recursive=True
    )
    assert not _g.glob(path + ".bfold*")  # re-run's entry reaped orphans
    print(
        f"crash-race-stress: GREEN — {kills} SIGKILLs of a live fold "
        f"writer in {dt:.1f}s, {in_window} landed with the journal on "
        "disk (dead-pid immediate rollback), every recovery converged "
        "to exact content, no remnants",
        flush=True,
    )
    shutil.rmtree(root, ignore_errors=True)


def crash_store_child() -> None:
    """The lifecycle writer that will be SIGKILLed: loop real
    retract_docs → fold_retractions cycles, appending each cycle
    index to `progress` only after BOTH completed. The per-table
    journal windows are widened (~0.4 s each) so targeted kills can
    land inside them."""
    import json
    import time as _t

    root, batches_file, progress_file, ready_file = sys.argv[2:6]
    sig_path = os.path.join(root, "signatures")
    band_path = os.path.join(root, "bands")
    mem_path = os.path.join(root, "members")

    from fdblog2clickhouse_spark.session import get_spark
    from fdblog2clickhouse_spark.operators import dedup_store as ds

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    with open(batches_file) as f:
        batches = json.load(f)

    orig = storage._fold_swap_loop

    def slow_swap(*a, **k):
        _t.sleep(0.4)
        return orig(*a, **k)

    storage._fold_swap_loop = slow_swap
    with open(ready_file, "w") as f:
        f.write("ready")
    for idx, victims in enumerate(batches):
        tomb = spark.createDataFrame(
            [(v,) for v in victims], "doc_id long"
        )
        ds.retract_docs(spark, sig_path, mem_path, tomb)
        ds.fold_retractions(spark, sig_path, band_path, mem_path)
        with open(progress_file, "a") as f:
            f.write(f"{idx}\n")
            f.flush()
            os.fsync(f.fileno())


def crash_store_main() -> None:
    import json
    import random
    import signal
    import subprocess

    kills = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    rng = random.Random(1818)

    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.session import get_spark
    from fdblog2clickhouse_spark.operators import dedup_store as ds
    from fdblog2clickhouse_spark.sources.tables import table

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="crash_store_")
    sig_path = os.path.join(root, "signatures")
    band_path = os.path.join(root, "bands")
    mem_path = os.path.join(root, "members")

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", F.col("text")
    )
    g = ds.rep_group_frame(docs).cache()
    reps = ds.rep_reps(g)
    ds.write_table(
        ds.rep_signature_frame(reps), sig_path, "overwrite", key="gh"
    )
    ds.write_banded_index(
        ds.read_table(spark, sig_path), band_path, "overwrite"
    )
    ds.write_table(
        g.select("doc_id", "gh")
        .join(reps.select("gh", "group_id"), "gh")
        .select("doc_id", "gh", "group_id"),
        mem_path,
        "overwrite",
        key="doc_id",
    )
    doc_gh = {
        r["doc_id"]: r["gh"] for r in g.select("doc_id", "gh").collect()
    }
    g.unpersist()
    alive = set(doc_gh)
    ids0 = sorted(alive)
    batches = [ids0[2 * k : 2 * k + 2] for k in range(4 * kills)]

    journals = [
        os.path.join(p, storage._FOLD_JOURNAL)
        for p in (sig_path, band_path, mem_path)
    ]

    def expected():
        groups = {}
        for d in alive:
            gh = doc_gh[d]
            groups[gh] = min(groups.get(gh, d), d)
        return groups

    def verify(tag):
        exp = expected()
        mem = {
            (r["doc_id"], r["gh"], r["group_id"])
            for r in ds.read_table(spark, mem_path).collect()
        }
        want_mem = {(d, doc_gh[d], exp[doc_gh[d]]) for d in alive}
        assert mem == want_mem, (
            f"{tag}: members diverged — missing "
            f"{sorted(want_mem - mem)[:5]}, extra "
            f"{sorted(mem - want_mem)[:5]}"
        )
        sig = {
            (r["gh"], r["group_id"])
            for r in ds.read_table(spark, sig_path)
            .select("gh", "group_id")
            .collect()
        }
        assert sig == set(exp.items()), f"{tag}: signature store diverged"
        idx = {
            r["group_id"]
            for r in spark.read.parquet(band_path)
            .select("group_id")
            .distinct()
            .collect()
        }
        assert idx == set(exp.values()), f"{tag}: index groups diverged"
        for sp in (
            ds.tombstones_path(mem_path),
            ds.gdelta_path(sig_path),
            ds.gdelta_keys_path(sig_path),
        ):
            assert not os.path.isdir(sp), f"{tag}: sidecar not retired: {sp}"

    i = 0
    in_window = 0
    t0 = time.perf_counter()
    for k in range(kills):
        bf = os.path.join(root, f"batches_{k}.json")
        pf = os.path.join(root, f"progress_{k}")
        rf = os.path.join(root, f"ready_{k}")
        with open(bf, "w") as f:
            json.dump(batches[i:], f)
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__),
             "crash-store-child", root, bf, pf, rf],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            start_new_session=True,
        )
        while not os.path.exists(rf):
            time.sleep(0.05)
            assert child.poll() is None, "crash child died before ready"
        if k % 2 == 1:
            deadline = time.perf_counter() + 90
            while not any(os.path.exists(j) for j in journals):
                time.sleep(0.005)
                assert time.perf_counter() < deadline, (
                    "no fold journal appeared for a targeted kill"
                )
                assert child.poll() is None, "child exited early"
        else:
            time.sleep(rng.uniform(3.0, 14.0))
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        j_seen = [os.path.basename(os.path.dirname(j))
                  for j in journals if os.path.exists(j)]
        in_window += bool(j_seen)
        done = []
        if os.path.exists(pf):
            with open(pf) as f:
                done = [int(x) for x in f.read().split()]
        for idx_ in done:
            alive.difference_update(batches[i + idx_])
        i += len(done)
        # the documented recovery: re-run the retraction (a no-op for
        # ids already retracted) and the fold, in the parent
        if i < len(batches):
            tomb = spark.createDataFrame(
                [(v,) for v in batches[i]], "doc_id long"
            )
            ds.retract_docs(spark, sig_path, mem_path, tomb)
            ds.fold_retractions(spark, sig_path, band_path, mem_path)
            alive.difference_update(batches[i])
            i += 1
        verify(f"kill {k}")
        print(
            f"  kill {k}: child completed {len(done)} cycles, journals "
            f"at kill={j_seen or 'none'}, re-run converged exact",
            flush=True,
        )
    dt = time.perf_counter() - t0

    import glob as _g

    for p in (sig_path, band_path, mem_path):
        assert not os.path.exists(os.path.join(p, storage._FOLD_JOURNAL)), p
        assert not _g.glob(
            os.path.join(p, "**", storage._BFOLD_PREFIX + "*"), recursive=True
        ), p
        assert not _g.glob(
            os.path.join(p, "**", ".bpub-*"), recursive=True
        ), p
        assert not _g.glob(p + ".bfold*"), p
    print(
        f"crash-store-race-stress: GREEN — {kills} SIGKILLs of a live "
        f"retract→fold lifecycle writer in {dt:.1f}s, {in_window} "
        "landed with a fold journal on disk, every re-run recovery "
        "converged (members/signatures/index exact, sidecars retired, "
        "no remnants)",
        flush=True,
    )
    shutil.rmtree(root, ignore_errors=True)


def crash_ivf_child() -> None:
    """The insert-stream writer that will be SIGKILLed: loop real
    ivf_insert_batch micro-batches (auto-compact at trigger 2),
    appending each batch index to `progress` after the kernel
    returns."""
    import json

    root, batches_file, progress_file, ready_file = sys.argv[2:6]
    cb = os.path.join(root, "codebook")
    lists = os.path.join(root, "lists")

    from pyspark.sql import functions as F  # noqa: F401

    from fdblog2clickhouse_spark.session import get_spark
    from fdblog2clickhouse_spark.operators import ann_store
    from fdblog2clickhouse_spark.operators.dedup import _quantized

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qn = _quantized(spark, "/root/testdata/sf0.001").cache()
    qn.count()
    with open(batches_file) as f:
        batches = json.load(f)

    # widen the lists-appended-codes-missing window to ~1.2 s (the
    # kernel's crash state that only an insert stream can leave):
    # _ivfpq_codes runs between the two appends — a tool-side patch
    # of this child's own process, product code untouched
    import time as _t

    orig_codes = ann_store._ivfpq_codes

    def slow_codes(*a, **k):
        _t.sleep(1.2)
        return orig_codes(*a, **k)

    ann_store._ivfpq_codes = slow_codes
    with open(ready_file, "w") as f:
        f.write("ready")
    for idx, ids in enumerate(batches):
        batch = qn.join(
            spark.createDataFrame([(i,) for i in ids], "vec_id long"),
            "vec_id",
            "left_semi",
        )
        ann_store.ivf_insert_batch(
            spark, batch, cb, lists, compact_trigger_files=2
        )
        with open(progress_file, "a") as f:
            f.write(f"{idx}\n")
            f.flush()
            os.fsync(f.fileno())


def crash_ivf_main() -> None:
    import json
    import random
    import signal
    import subprocess

    kills = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    rng = random.Random(99)

    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.session import get_spark
    from fdblog2clickhouse_spark.operators import ann_store
    from fdblog2clickhouse_spark.operators.dedup import _quantized

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="crash_ivf_")
    cb = os.path.join(root, "codebook")
    lists = os.path.join(root, "lists")

    qn = _quantized(spark, "/root/testdata/sf0.001").cache()
    base = qn.where(F.pmod("vec_id", F.lit(10)) != 0)
    base.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).coalesce(1).write.parquet(cb)
    ann_store._assign(base, spark.read.parquet(cb), 1).select(
        F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
    ).write.parquet(lists)
    ann_store.train_pq_codebook(spark, base, cb, lists)
    ann_store.reencode_ivf_codes(spark, base, cb, lists)
    codes = ann_store.ivf_codes_path(lists)
    pq_cb = ann_store.pq_codebook_path(cb)
    paths = [lists, codes, cb, pq_cb]

    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    stream_ids = sorted(
        r["vec_id"]
        for r in qn.where(F.pmod("vec_id", F.lit(10)) == 0)
        .select("vec_id")
        .collect()
    )
    n_batches = 4 * kills
    batches = [stream_ids[j::n_batches] for j in range(n_batches)]

    from fdblog2clickhouse_spark.storage import heal_swap

    def vec_ids(path, col):
        return {
            r[col]
            for r in spark.read.parquet(path).select(col).distinct().collect()
        }

    delivered: set = set()
    i = 0
    half_inserted = 0
    mid_swap = 0
    t0 = time.perf_counter()
    for k in range(kills):
        bf = os.path.join(root, f"batches_{k}.json")
        pf = os.path.join(root, f"progress_{k}")
        rf = os.path.join(root, f"ready_{k}")
        with open(bf, "w") as f:
            json.dump(batches[i:], f)
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__),
             "crash-ivf-child", root, bf, pf, rf],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            start_new_session=True,
        )
        while not os.path.exists(rf):
            time.sleep(0.05)
            assert child.poll() is None, "crash child died before ready"
        time.sleep(rng.uniform(1.0, 8.0))
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        # classify the state death left, BEFORE healing
        swapped = [
            os.path.basename(p)
            for p in paths
            if os.path.exists(p + ".old") and not os.path.exists(p)
        ]
        mid_swap += bool(swapped)
        for p in paths:
            heal_swap(p)
        lists_now = vec_ids(lists, "n_id")
        codes_now = vec_ids(codes, "vec_id")
        gap = lists_now - codes_now
        half_inserted += bool(gap)
        done = []
        if os.path.exists(pf):
            with open(pf) as f:
                done = [int(x) for x in f.read().split()]
        for idx_ in done:
            delivered.update(batches[i + idx_])
        i += len(done)
        # the at-least-once recovery: REDELIVER the in-flight batch
        # through the same kernel (idempotent anti-joins fill the
        # lists/codes gaps, append nothing twice)
        if i < len(batches):
            ids = batches[i]
            batch = qn.join(
                spark.createDataFrame([(x,) for x in ids], "vec_id long"),
                "vec_id",
                "left_semi",
            )
            ann_store.ivf_insert_batch(
                spark, batch, cb, lists, compact_trigger_files=2
            )
            delivered.update(ids)
            i += 1
        want = base_ids | delivered
        got_l = vec_ids(lists, "n_id")
        got_c = vec_ids(codes, "vec_id")
        assert got_l == want, (
            f"kill {k}: lists diverged — missing "
            f"{sorted(want - got_l)[:5]}, extra {sorted(got_l - want)[:5]}"
        )
        assert got_c == want, (
            f"kill {k}: codes incoherent after redelivery — missing "
            f"{sorted(want - got_c)[:5]}, extra {sorted(got_c - want)[:5]}"
        )
        # lists must also be row-exact (no duplicate assignment rows
        # from a replayed append)
        n_rows = spark.read.parquet(lists).count()
        assert n_rows == len(want), (
            f"kill {k}: duplicate lists rows — {n_rows} rows for "
            f"{len(want)} vec_ids"
        )
        print(
            f"  kill {k}: child completed {len(done)} batches, state at "
            f"death: mid-swap={swapped or 'no'}, half-inserted gap="
            f"{len(gap)}, redelivery converged exact",
            flush=True,
        )
    dt = time.perf_counter() - t0
    for p in paths:
        assert not os.path.exists(p + ".old"), p
        assert not os.path.exists(p + ".staging"), p
    qn.unpersist()
    print(
        f"crash-ivf-race-stress: GREEN — {kills} SIGKILLs of a live "
        f"insert stream in {dt:.1f}s ({half_inserted} left the "
        f"half-inserted lists-without-codes state, {mid_swap} died "
        "mid-swap), every redelivery recovery converged to exact, "
        "coherent, duplicate-free lists+codes; no remnants",
        flush=True,
    )
    shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    n_swaps = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    n_racers = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from fdblog2clickhouse_spark.storage import _swap_aside

    root = tempfile.mkdtemp(prefix="race_stress_")
    path = os.path.join(root, "tbl")
    os.makedirs(path)
    with open(os.path.join(path, "gen.txt"), "w") as f:
        f.write("-1")

    stop = mp.Event()
    hits = mp.Value("i", 0)
    procs = [
        mp.Process(target=racer, args=(path, stop, hits), daemon=True)
        for _ in range(n_racers)
    ]
    for p in procs:
        p.start()

    aborts = 0
    t0 = time.perf_counter()
    for gen in range(n_swaps):
        staging = path + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        with open(os.path.join(staging, "gen.txt"), "w") as f:
            f.write(str(gen))
        try:
            _swap_aside(path, staging)
        except RuntimeError:
            # documented second-writer spelling: both complete, re-run
            # converges. (Reachable only if racers chain-heal through
            # all 16 retries — astronomically unlikely but legal.)
            aborts += 1
            assert os.path.isdir(path) and os.path.isdir(staging)
            _swap_aside(path, staging)
        with open(os.path.join(path, "gen.txt")) as f:
            got = f.read()
        assert got == str(gen), (got, gen)
        assert not os.path.exists(path + ".old")
    dt = time.perf_counter() - t0

    stop.set()
    for p in procs:
        p.join(timeout=5)
        assert p.exitcode == 0, f"racer crashed: {p.exitcode}"
    print(
        f"race-stress: GREEN — {n_swaps} swaps vs {n_racers} healing "
        f"processes in {dt:.1f}s, races_hit={hits.value}, "
        f"retry-exhaustion aborts={aborts} (every swap left exact "
        "content, no remnants, no racer crash)",
        flush=True,
    )
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "fold":
        fold_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "store":
        store_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "ivf":
        ivf_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "crash":
        crash_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "crash-child":
        crash_child()
    elif len(sys.argv) > 1 and sys.argv[1] == "crash-store":
        crash_store_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "crash-store-child":
        crash_store_child()
    elif len(sys.argv) > 1 and sys.argv[1] == "crash-ivf":
        crash_ivf_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "crash-ivf-child":
        crash_ivf_child()
    else:
        main()
