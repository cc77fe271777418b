"""Crash-consistent table commits: how every persisted table in the
package is replaced on disk.

The dedup and ANN stores, their retraction sidecars, the rollup /
upsert state sinks and the MergeTree table all publish new content
through one of two shapes:

* WHOLE-TABLE SWAP — `stage(path)` names an empty staging dir, the
  caller writes the complete new table there, `publish(path)` renames
  the live dir aside to `path + '.old'`, renames the staging dir into
  place, and only then deletes the aside. `commit(path, write)` is
  the three steps in one call. Used where every file changes: the
  retraction sidecars, the state sinks, the IVF codebooks and a
  refresh's lists, and a store table's re-bucket
  (`tables.bucket_table`).
* JOURNALED PARTITION SWAP — `stage_partitions(path)` names a
  per-attempt staging dir, the caller writes replacement hive
  partitions there, and `publish_partitions` swaps exactly those
  partition dirs in under a journal kept inside the table; every
  other partition stays byte-invariant. Used, through
  `tables.rewrite_partitions`, by a store table's retraction fold and
  its compaction, and by the MergeTree table's optimize.

INVARIANT: at every instant `path` or `path + '.old'` holds a
complete table — and, inside a journaled partition swap, each named
partition or its '.bfold-' aside holds a complete partition. Readers
restore the invariant's missing half before they plan a read
(`heal_swap` for the whole-table swap, `heal_table_fold` for the
partition swap), so a crash at any point leaves the old or the new
table visible, never a mix and never nothing.

ONE MAINTAINER, MANY READERS: each table takes its writes from one
process at a time. Readers in other processes may heal concurrently
with that writer; both sides absorb the resulting rename races with
bounded retries (`heal_swap`, `_swap_aside`, `_restore_aside`,
`_fold_swap_loop`), pinned by tools/race_stress.py. A second writer
is out of contract: it aborts with the live table intact, and the
maintenance pass converges on re-run.

Staging, aside and trash names all live beside or inside the table
under a '.' prefix (or a '_' prefix for marker files), which parquet
listing skips, so no reader ever sees them.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid

STAGING = ".staging"

# The journaled partition swap's marker (leading '_' — parquet
# listing skips it) lists the partition dirs mid-swap; each dir is
# renamed aside to a '.bfold-'-prefixed sibling (leading '.' —
# likewise invisible) before its staged replacement renames in, so
# `heal_table_fold` can always roll a partition back or drop a
# completed swap's remnant. Hot read paths pay one stat() on the
# journal.
_FOLD_JOURNAL = "_fold_inflight.json"
_BFOLD_PREFIX = ".bfold-"


def write_json(path: str, obj) -> None:
    """Write a small JSON marker atomically (tmp + rename): readers
    stat and parse markers on hot paths, so they must never see a
    half-written file."""
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.rename(path + ".tmp", path)


# ------------------------------------------------ whole-table swap


def stage(path: str) -> str:
    """Prepare a whole-table rewrite of `path`: heal a crashed swap,
    drop any superseded '.old' remnant, and return the (now absent)
    staging dir the caller writes the complete new table into."""
    heal_swap(path)
    _claim_rmtree(path + ".old")
    staging = path + STAGING
    shutil.rmtree(staging, ignore_errors=True)
    return staging


def publish(path: str) -> None:
    """Swap the complete staging dir `stage(path)` named over
    `path`."""
    _swap_aside(path, path + STAGING)


def commit(path: str, write) -> None:
    """Replace the table at `path` with what `write(staging_dir)`
    writes: stage, write, publish."""
    write(stage(path))
    publish(path)


def read_sidecar(spark, path: str):
    """Sidecar read: None when absent or holding no parquet yet (a
    crashed first write) — callers treat both as 'no retractions'.
    Heals FIRST (self-review r14): a sidecar seen only at '.old'
    would read as 'no retractions', readmitting takedowns and losing
    the earlier tombstones on the next rewrite."""
    from pyspark.errors import AnalysisException

    heal_swap(path)
    if not os.path.isdir(path):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def _pid_alive(pid: int) -> bool:
    """Same-host process liveness (signal 0): True on EPERM (alive,
    not ours), False only when the pid is gone."""
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return False


def _claim_rmtree(d: str) -> None:
    """Delete a dir ANOTHER process may concurrently rename content
    INTO (asides, '.old' remnants, retired sidecars). An in-place
    rmtree's file walk can unlink FRESH content a racing rename just
    moved into the path, gutting a dir someone then publishes as
    complete (the r18 fold stress's loss chain). So atomically CLAIM
    the dir by renaming it to a unique dot-prefixed trash name, then
    delete the claim. Losing the claim race means someone else owns
    the deletion. Crash-leaked trash is invisible to readers and
    reaped by `_clear_orphan_fold_staging`."""
    parent, leaf = os.path.split(d.rstrip("/"))
    trash = os.path.join(
        parent, f".trash-{leaf}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    )
    try:
        os.rename(d, trash)
    except OSError:
        return
    shutil.rmtree(trash, ignore_errors=True)


def heal_swap(path: str) -> None:
    """Complete a crash-interrupted swap: if only path+'.old' exists
    it is the complete table — restore it. Runs BEFORE any read plan
    over `path` (planning over the missing path raises
    PATH_NOT_FOUND).

    RACE-TOLERANT (ADVICE r17): a reader's heal can fire inside the
    maintainer's swap window and lose the restore race to the
    maintainer or another healer, as ENOENT or ENOTEMPTY — and a
    point-in-time guard is itself racy, since the writer may already
    have re-asided `path` for its next swap (the TOCTOU
    tools/race_stress.py caught). So re-evaluate the precondition
    and retry; a failure that persists across 8 observations of a
    stable (old ∧ ¬path) state is a real filesystem error and
    surfaces. The maintainer's side of the race is `_swap_aside`'s
    retry."""
    old = path + ".old"
    for _ in range(8):
        if not (os.path.exists(old) and not os.path.exists(path)):
            return  # nothing to heal (or someone else already did)
        try:
            os.rename(old, path)
            return
        except OSError:
            continue  # raced — re-check the precondition
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)  # stable state + still failing: surface it


def retire_sidecar(path: str) -> None:
    """Remove a FOLDED sidecar with its swap remnants: a stale
    '.old' would be resurrected by the next heal_swap as live state
    — a long-retired tombstone set coming back (self-review r14)."""
    for p in (path, path + ".old", path + STAGING):
        _claim_rmtree(p)


def _swap_aside(live: str, staging: str | None, aside: str | None = None) -> None:
    """Publish a complete `staging` dir over `live`: rename live to
    `aside` (default '.old'), staging into place, then claim the
    aside; `staging=None` retires `live` instead. A reader heal in
    another process that fires between the two renames restores the
    superseded table into `live` (ENOTEMPTY); staging is still
    complete, so re-aside and retry (ADVICE r17) — and a retire
    re-checks that no heal resurrected `live`. Each retry consumes
    one reader's one-shot heal; exhausting the retries means a
    SECOND WRITER keeps re-creating `live` (out of contract), and
    the swap raises with live and staging both complete."""
    aside = aside or live + ".old"
    for _ in range(16):
        if os.path.exists(live):
            os.rename(live, aside)
        if staging is None:
            _claim_rmtree(aside)
            if not os.path.exists(live):
                return
            continue  # racing heal resurrected the retired dir
        try:
            os.rename(staging, live)
        except OSError:
            if os.path.isdir(staging) and os.path.exists(live):
                continue  # racing heal restored aside→live: re-aside
            raise
        _claim_rmtree(aside)
        return
    raise RuntimeError(
        f"swap of {live!r} kept losing the rename race — a second "
        "maintainer process is writing the same table (the contract "
        "is ONE); the live table is intact — stop the other writer "
        "and re-run"
    )


# --------------------------------------- journaled partition swap


def stage_partitions(path: str) -> str:
    """Prepare a journaled partition swap of `path`: reap crash
    leftovers no journal names, and return a fresh staging dir for
    the replacement partitions (hive layout, same partition columns
    as the table). Heal first (`heal_table_fold`) — a present
    journal makes this a no-op cleanup."""
    _clear_orphan_fold_staging(path)
    return _fold_staging_path(path)


def heal_table_fold(path: str) -> None:
    """Complete or roll back a crash-interrupted journaled partition
    swap (`publish_partitions`). The journal names the partition
    dirs that were mid-swap: an aside ('.bfold-<leaf>') paired with
    a MISSING live dir is the complete pre-swap partition — restore
    it (rolling back is always safe for the callers: a retraction
    fold retires its sidecars only after the whole fold succeeds,
    and a compaction's pre-swap partition holds the same rows); an
    aside beside a present live dir is a completed swap's remnant —
    drop it. No journal = one stat call, so every read path affords
    the check. A reader whose already-built scan raced a swap sees
    FileNotFound and retries the read, the standard rename-swap
    caveat.

    An UNREADABLE journal is recovered, not raised (ADVICE r16): the
    journal is written atomically and only after staging is
    complete, so no live partition was touched yet — drop journal
    and staging, and restore-or-drop any aside found by glob (a
    remnant of an earlier heal)."""
    j = os.path.join(path, _FOLD_JOURNAL)
    if not os.path.exists(j):
        return
    try:
        with open(j) as f:
            jd = json.load(f)
        rels = jd["dirs"]
        if not isinstance(rels, list):
            raise ValueError("journal dirs is not a list")
    except FileNotFoundError:
        # the exists()→open() window raced the live writer (or
        # another healer) removing the journal — the swap completed;
        # nothing to heal (tools/race_stress.py fold mode)
        return
    except (json.JSONDecodeError, KeyError, ValueError, TypeError):
        jd = None
    if jd is not None:
        # LIVE-WRITER DISCRIMINATION (r18): rolling back a LIVE
        # writer aborts useful work and, under many hot readers,
        # livelocks it. While the journal's pid is alive, WAIT for
        # its swap phase to finish (journal removed, typically ms);
        # roll back only for a dead writer or, after the bounded
        # wait, a hung one. Pid liveness is same-host; a multi-host
        # deployment needs a lease service in its place.
        pid = jd.get("pid")
        if pid and _pid_alive(int(pid)):
            for _ in range(200):  # ≤ 10 s: swap phases are ms-scale
                time.sleep(0.05)
                if not os.path.exists(j):
                    return  # the live writer finished its swap phase
                try:
                    with open(j) as f:
                        jd2 = json.load(f)
                    if jd2.get("pid") != pid:
                        # a different writer owns the journal now —
                        # restart against the fresh state
                        return heal_table_fold(path)
                except (FileNotFoundError, json.JSONDecodeError):
                    return
            # fall through: writer hung (or pid confusion) — roll back
    if jd is None:
        # corrupt journal: no swap has happened — drop journal +
        # staging, restore any aside found on disk (missing live →
        # it IS the partition; live present → stale remnant)
        for aside in glob.glob(
            os.path.join(path, "**", _BFOLD_PREFIX + "*"), recursive=True
        ):
            parent, leaf = os.path.split(aside)
            live = os.path.join(parent, leaf[len(_BFOLD_PREFIX):])
            _restore_aside(aside, live)
        _claim_rmtree(path + ".bfold")
        _remove_quiet(j)
        return
    for rel in rels:
        parent, leaf = os.path.split(rel)
        live = os.path.join(path, rel)
        aside = os.path.join(path, parent, _BFOLD_PREFIX + leaf)
        _restore_aside(aside, live)
    # remove ONLY the staging dir THIS journal names (r18 stress
    # finding): a healer acting on a stale journal must never fire
    # its rmtree into a later attempt's staging. Legacy journals
    # (no 'staging' key) used the fixed '.bfold' name.
    stg = jd.get("staging")
    _claim_rmtree(
        os.path.join(os.path.dirname(path), stg)
        if stg
        else path + ".bfold"
    )
    _remove_quiet(j)


def _restore_aside(aside: str, live: str) -> None:
    """Restore one partition aside, tolerating concurrent healers and
    the live writer (ADVICE r17): if `live` appears or `aside`
    vanishes, the partition already holds a complete state. Retried
    like `heal_swap`; a failure on a stable state surfaces."""
    for _ in range(8):
        if not os.path.isdir(aside):
            return
        if os.path.isdir(live):
            _claim_rmtree(aside)
            return
        try:
            os.rename(aside, live)
            return
        except OSError:
            continue  # raced — re-check
    if os.path.isdir(aside) and not os.path.isdir(live):
        os.rename(aside, live)


def _remove_quiet(p: str) -> None:
    """os.remove tolerating a concurrent healer/writer having removed
    the file first (two readers may heal the same journal)."""
    try:
        os.remove(p)
    except FileNotFoundError:
        pass


def _fold_staging_path(path: str) -> str:
    """A UNIQUE staging dir per swap attempt, named in its journal:
    with a fixed name, a healer acting on an EARLIER attempt's
    journal could delete a LATER attempt's staging mid-write (r18
    stress finding)."""
    return f"{path}.bfold-{os.getpid()}-{uuid.uuid4().hex[:8]}"


def _clear_orphan_fold_staging(path: str) -> None:
    """Writer-side entry cleanup, run only BEFORE staging: remove
    staging dirs no journal names, orphaned publish-handoff dirs
    ('.bpub-*': their live partition still holds the pre-swap
    content) and crash-leaked claim trash."""
    if os.path.exists(os.path.join(path, _FOLD_JOURNAL)):
        return  # a journal exists: heal first, don't guess
    for d in glob.glob(path + ".bfold*"):
        shutil.rmtree(d, ignore_errors=True)
    for d in glob.glob(os.path.join(path, "**", ".bpub-*"), recursive=True):
        shutil.rmtree(d, ignore_errors=True)
    for d in glob.glob(os.path.join(path, "**", ".trash-*"), recursive=True):
        shutil.rmtree(d, ignore_errors=True)
    parent, leaf = os.path.split(path.rstrip("/"))
    for d in glob.glob(os.path.join(parent, f".trash-{leaf}*")):
        shutil.rmtree(d, ignore_errors=True)


def publish_partitions(
    path: str, staging: str, rels: list[str], emptied=frozenset()
) -> None:
    """Swap staged partition dirs into the live table under the
    journal. `staging` (fully written before any live state is
    touched) holds the new content of exactly the partitions named
    by `rels` (relative dirs like 'pb=3' or 'yyyymm=202001'); a rel
    in `emptied` has its live dir retired instead. The CALLER
    computes `emptied` from the new frame's own
    lineage, never from the staging dir, so a racing healer's
    tampering with staging can at worst abort the swap, never turn a
    partition into a retire (r18 stress finding). Partitions not in
    `rels` stay byte-invariant. On ANY failure the writer rolls its
    own attempt back (asides restored, staging + journal gone), so
    no journal outlives an abort."""
    # snapshot each staged partition's file set BEFORE the journal
    # exists (until then no healer touches staging): a healer rolling
    # this swap back deletes staging, and a half-deleted staged
    # partition must abort the swap, not be published
    # (`_fold_swap_loop` verifies against this snapshot)
    staged_files = {
        rel: sorted(os.listdir(os.path.join(staging, rel)))
        for rel in rels
        if rel not in emptied
    }
    j = os.path.join(path, _FOLD_JOURNAL)
    write_json(
        j,
        {
            "dirs": rels,
            "emptied": sorted(emptied),
            "staging": os.path.basename(staging),
            # writer liveness (r18): healers WAIT out a live writer's
            # swap phase instead of rolling it back — rollback is for
            # dead/hung writers
            "pid": os.getpid(),
        },
    )
    try:
        _fold_swap_loop(path, staging, rels, emptied, staged_files)
    except BaseException:
        # writer-side rollback, so NO journal survives this abort
        # (a stale journal let a healer clean a FUTURE attempt's
        # staging). Already-swapped rels keep their complete new
        # content; the rest get their pre-swap content back.
        for rel in rels:
            parent, leaf = os.path.split(rel)
            _restore_aside(
                os.path.join(path, parent, _BFOLD_PREFIX + leaf),
                os.path.join(path, rel),
            )
            shutil.rmtree(
                os.path.join(path, parent, ".bpub-" + leaf),
                ignore_errors=True,
            )
        shutil.rmtree(staging, ignore_errors=True)
        _remove_quiet(j)
        raise
    shutil.rmtree(staging, ignore_errors=True)
    _remove_quiet(j)


def _fold_swap_loop(
    path: str,
    staging: str,
    rels: list[str],
    emptied,
    staged_files: dict[str, list[str]],
) -> None:
    for rel in rels:
        parent, leaf = os.path.split(rel)
        live = os.path.join(path, rel)
        aside = os.path.join(path, parent, _BFOLD_PREFIX + leaf)
        _claim_rmtree(aside)
        if rel in emptied:
            _swap_aside(live, None, aside)
            continue
        # PUBLISH HANDOFF (r18 stress finding): a racing heal's
        # rollback can half-delete a staged dir, and once published a
        # concurrent heal would take (aside ∧ live) for a completed
        # swap and drop the only pre-swap copy. So move the staged
        # dir OUT of the healer-deletable staging tree first, verify
        # the private copy against the snapshot, and only then touch
        # `live`: a published live dir is ALWAYS complete, which is
        # what makes the healer's 'live present ⇒ aside is a
        # remnant' rule safe.
        pub = os.path.join(path, parent, ".bpub-" + leaf)
        shutil.rmtree(pub, ignore_errors=True)
        staged = os.path.join(staging, rel)
        try:
            os.rename(staged, pub)
        except OSError:
            if not os.path.isdir(staged):
                raise RuntimeError(
                    f"staging for {rel!r} vanished mid-swap — a "
                    "reader's heal_table_fold in another process "
                    "rolled this swap back. The table is intact; "
                    "re-run"
                )
            raise
        if sorted(os.listdir(pub)) != staged_files[rel]:
            shutil.rmtree(pub, ignore_errors=True)
            raise RuntimeError(
                f"staging for {rel!r} was gutted mid-swap by a "
                "reader's heal_table_fold in another process — the "
                "live partition was never touched; re-run"
            )
        _swap_aside(live, pub, aside)
