"""CLI entrypoint with the reference's operational surface.

Mirrors trace-converter.py's modes (trace-converter.py:94-107:
``--print-schema``, ``--create-schema``, ``--delete-logs``, plus a
trace file argument) and entrypoint.sh's watch loop
(entrypoint.sh:18-29: inotifywait on $LOG_DIR) — Spark-first:

  trace-convert --print-schema            →  print-schema
  trace-convert --create-schema           →  create-schema
  trace-convert [--delete-logs] f.json    →  ingest [--delete-logs] PATH
  entrypoint.sh watch loop                →  watch [--once] LOG_DIR
  SummingMergeTree view on the insert     →  watch --rollup OUT LOG_DIR

Connection config comes from the same env vars the reference reads
(CLICKHOUSE_ADDR/DB/TABLE/USER/PASS, trace-converter.py:11-17).
``--spool-dir`` makes every mode a dry run writing payload files
instead of POSTing (air-gapped testing).
"""

from __future__ import annotations

import argparse
import sys

from .sinks.clickhouse import MAX_FILES_PER_INSERT, TRACE_COLUMNS, ClickHouseHttpSink, mergetree_ddl


def _sink(args) -> ClickHouseHttpSink:
    return ClickHouseHttpSink(spool_dir=args.spool_dir)


def _spark():
    from .session import get_spark

    spark = get_spark("trace-convert")
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cmd_print_schema(args) -> int:
    table = args.table or _sink(args).table or "trace"
    print(mergetree_ddl(table, TRACE_COLUMNS))
    return 0


def cmd_create_schema(args) -> int:
    ddl = _sink(args).create_schema(TRACE_COLUMNS)
    if args.spool_dir:
        print(ddl)
    return 0


# wire field → deployed sink column (trace-converter.py:85-93 names)
_WIRE_TO_SINK = {
    "Severity": "severity",
    "Machine": "machine",
    "LogGroup": "log_group",
    "Time": "time",
    "Type": "type",
    "ID": "id",
}


def cmd_alter_schema(args) -> int:
    """Print the ALTER TABLE migration from the deployed trace schema
    to what the rotated logs actually contain. The logs are read with
    schema INFERENCE on purpose — the declared-schema ingest path
    silently ignores unknown fields, and this command exists to
    surface exactly those (a new field the producer started logging).
    Known wire columns keep their deployed spec (hand-tuned
    codecs/types are never clobbered by derivation); the diff
    reports NEW fields (positioned ADD COLUMN, snake_cased, type
    from inference) and removed ones (DROP only behind
    --drop-removed). No output and exit 0 when the column sets agree
    — scriptable as a deploy gate before rolling a log-format
    change. A new field whose inferred type has no ClickHouse
    mapping prints an `-- UNMAPPABLE` diagnostic naming the column
    and exits 2 (gate fails closed, no traceback)."""
    import dataclasses
    import re

    from pyspark.sql.types import StructType

    from .sinks.clickhouse import alter_ddl, spark_schema_to_columns

    spark = _spark()
    raw = spark.read.json(args.path)  # inference: see docstring
    deployed_by = {c.name: c for c in TRACE_COLUMNS}
    desired = []
    unmappable: list[str] = []
    for f in raw.schema.fields:
        sink_name = _WIRE_TO_SINK.get(
            f.name, re.sub(r"(?<!^)(?=[A-Z])", "_", f.name).lower()
        )
        old = deployed_by.get(sink_name)
        if old is not None:
            desired.append(old)
        else:
            try:
                derived = spark_schema_to_columns(StructType([f]))[0]
            except ValueError as e:
                # a new field whose inferred type has no ClickHouse
                # mapping (nested object in a rotation, etc.) must be
                # a clean diagnostic + nonzero exit — this command is
                # a scriptable deploy gate, not a traceback generator.
                unmappable.append(f"-- UNMAPPABLE new field {f.name!r}: {e}")
                continue
            desired.append(dataclasses.replace(derived, name=sink_name))
    tbl = args.table or _sink(args).table or "trace"
    stmts = alter_ddl(tbl, TRACE_COLUMNS, desired, drop_removed=args.drop_removed)
    for s in stmts:
        print(s)
    for s in unmappable:
        print(s)
    return 2 if unmappable else 0


def _reread_path(uri: str) -> str:
    """A path string that DataFrameReader resolves back to the file
    `uri` names: percent-escapes decoded, glob characters escaped."""
    import re
    from urllib.parse import unquote, urlparse

    u = urlparse(uri)
    path = re.sub(r"([{}\[\]*?\\])", r"\\\1", unquote(u.path))
    return f"{u.scheme}://{u.netloc}{path}"


def _local_paths(uris: list[str]) -> list[str]:
    """Local paths of `file:` URIs. Any other scheme is refused: a
    remote file cannot be removed with os.remove, and a local file
    of the same path is unrelated data."""
    from urllib.parse import unquote, urlparse

    paths = []
    for uri in uris:
        u = urlparse(uri)
        if u.scheme != "file":
            raise SystemExit(f"ingest --delete-logs: {uri} is not a local file")
        paths.append(unquote(u.path))
    return paths


def cmd_ingest(args) -> int:
    """Read trace JSON (file or dir), normalize, insert — in groups of
    MAX_FILES_PER_INSERT files, so the driver holds one group's JSON
    text at a time. --delete-logs removes each group's files right
    after its insert succeeded (local files only, checked before any
    insert)."""
    import os

    from .sources.trace_json import read_trace_batch
    from .streaming.ingest import normalize_trace

    spark = _spark()
    files = sorted(read_trace_batch(spark, args.path).inputFiles())
    local = _local_paths(files) if args.delete_logs else []
    sink = _sink(args)
    n = 0
    for i in range(0, len(files), MAX_FILES_PER_INSERT):
        group = [_reread_path(u) for u in files[i : i + MAX_FILES_PER_INSERT]]
        n += sink.insert(normalize_trace(read_trace_batch(spark, group)))
        # the reference removes the source file after a 200
        # (trace-converter.py:129-130)
        for path in local[i : i + MAX_FILES_PER_INSERT]:
            os.remove(path)
    print(f"ingested rows: {n}")
    return 0


def cmd_watch(args) -> int:
    """The inotify loop, Spark-native: file-source stream + foreachBatch
    into the ClickHouse sink. --once drains what exists and exits
    (AvailableNow); otherwise runs until interrupted — or until the
    completion-file sentinel appears (--completion-file /
    $WATCH_COMPLETION_FILE, ≙ entrypoint.sh:22-24: the simulation
    harness drops `sim-completed` and the watch loop drains remaining
    logs and exits cleanly). --rollup OUT also folds each micro-batch
    into the SummingMergeTree-style rollup parquet at OUT in the same
    query, so a checkpoint that ran without it is refused.
    --delete-logs removes each micro-batch's files after its commit,
    the last batch's once the stream ended cleanly."""
    import os
    import time

    from .sinks.rollup import foreach_batch_rollup, read_rollup
    from .streaming.ingest import (
        delete_last_batch,
        glob_name_guard,
        insert_and_rollup,
        normalize_trace,
        read_trace_stream,
        unfolded_batches,
    )

    if args.rollup and (gap := unfolded_batches(args.checkpoint, args.rollup)):
        raise SystemExit(f"watch --rollup: {gap}")
    spark = _spark()
    stream = normalize_trace(
        read_trace_stream(
            spark,
            args.log_dir,
            delete_logs=args.delete_logs,
            # bounds the driver memory of each micro-batch's insert;
            # AvailableNow (--once) honours it too
            max_files_per_trigger=MAX_FILES_PER_INSERT,
        )
    )
    hook = _sink(args).foreach_batch()
    if args.rollup:
        hook = insert_and_rollup(hook, foreach_batch_rollup(args.rollup))
    writer = (
        stream.writeStream.foreachBatch(glob_name_guard(args.log_dir, hook))
        .option("checkpointLocation", args.checkpoint)
    )
    sentinel = not args.once and (args.completion_file or os.environ.get("WATCH_COMPLETION_FILE"))
    q = (writer.trigger(availableNow=True) if args.once else writer).start()
    while sentinel and q.isActive and not os.path.exists(sentinel):
        time.sleep(0.5)
    if sentinel and q.isActive:
        q.processAllAvailable()  # drain what arrived before the sentinel
        q.stop()
    q.awaitTermination()
    if sentinel:
        print(f"watch: completion file {sentinel} seen, exiting")
    if args.delete_logs:
        delete_last_batch(spark, args.checkpoint)
    if args.rollup and args.once:  # OUT exists once a batch folded
        n = read_rollup(spark, args.rollup).count() if os.path.isdir(args.rollup) else 0
        print(f"rollup cells: {n}")
    return 0


def cmd_optimize(args) -> int:
    """`OPTIMIZE TABLE ... FINAL` analog: compact each month of a
    MergeTree-style parquet table that holds more than one file (one
    per streamed micro-batch) into one sorted file — the background
    part-merge, invoked off the ingest path. All dirty months are
    rewritten by one Spark write and published by one journaled
    partition swap; single-file months stay byte-identical."""
    from .sinks.mergetree import optimize_mergetree

    spark = _spark()
    stats = optimize_mergetree(spark, args.path, time_col=args.time_col)
    print(stats)
    return 0


_DOC_SCHEMA = "doc_id long, text string"


def _store_source(spark, args, path: str):
    """A rep-store command's input for its family: JSON-lines docs
    (doc_id, text) for the text store, an embeddings parquet
    (vec_id, embedding) for the vector store."""
    from .operators.dedup_store import TEXT

    if args.family is TEXT:
        return spark.read.schema(_DOC_SCHEMA).json(path)
    return spark.read.parquet(path)


def cmd_build_store(args) -> int:
    """`build-store` / `build-vstore`: bootstrap a REPRESENTATIVE
    store (operators/dedup_store.py rep pre-pass) of the family bound
    by the subcommand — the backfill step before the admit loop runs.
    Identical content (token stream, or quantized vector) collapses
    to one group BEFORE any signature is computed: one signature row
    per distinct content (group_id, gh, s0..s15, bk0..bk3 MinHash, or
    group_id, gh, bv0..bv5 sign bands), a membership side table at
    `<store>_members` with one (doc_id, gh, group_id) row per doc,
    and the band index at `<store>_bands`. Degenerate buckets never
    reach the admission band join and the store grows O(distinct
    contents) (VERDICT r9/r10 item #1). All three tables are
    key-bucketed (dedup_store.py's layout block), so every admit
    reads only the buckets its batch's keys hash into; bucket counts
    size themselves from the row counts."""
    from .operators.dedup_store import (
        banded_path,
        bootstrap_rep_store,
        members_path,
        rep_store_frames,
    )
    from .operators.tables import read_table

    spark = _spark()
    # cache the corpus group frame: the store write and the members
    # join both draw on it — without the cache the most expensive
    # pass (corpus read + group hash of every doc) runs twice on a
    # backfill corpus.
    g = args.family.group_frame(_store_source(spark, args, args.source)).cache()
    bootstrap_rep_store(
        spark,
        *rep_store_frames(g, args.family),
        args.store,
        banded_path(args.store),
        members_path(args.store),
        family=args.family,
    )
    n_groups = read_table(spark, args.store).count()
    n_docs = read_table(spark, members_path(args.store)).count()
    g.unpersist()
    print(f"{args.cmd.removeprefix('build-')} groups: {n_groups} members: {n_docs}")
    return 0


def _evidence_partition(evidence: str | None, batch: str) -> str | None:
    """The rotation-scoped evidence partition under --evidence:
    batch_key = md5 of the batch path, so a redelivery overwrites
    exactly its own partition (the exactly-once spelling in
    cmd_admit's docstring). None when --evidence is unset."""
    import hashlib
    import os

    if not evidence:
        return None
    key = hashlib.md5(os.path.abspath(batch).encode()).hexdigest()[:12]
    return os.path.join(evidence, f"batch_key={key}")


def _pairs_note(spark, stats: dict, ev_part: str | None, n_pairs: int) -> str:
    """rotation_pairs display: on the full-redelivery skip path
    write_evidence never ran, but the rotation's evidence partition
    STANDS (that is the skip path's whole point) — report its real
    count as '(kept)' instead of a misleading 0 (ADVICE r11). A
    missing partition (evidence flag newly added) honestly reports
    0."""
    import os

    if not stats.get("scored") and ev_part is not None and os.path.isdir(ev_part):
        # a partition dir left by a crashed write can exist with no
        # parquet files; the skip path must stay a no-op, so report 0
        # instead of letting the count read crash it (ADVICE r12)
        from pyspark.errors import AnalysisException

        try:
            return f"{spark.read.parquet(ev_part).count()} (kept)"
        except AnalysisException:
            return "0 (kept)"
    return str(n_pairs)


def _require_layout(store: str, ivf: bool = False) -> None:
    """Exit naming the table and its build command when a rep store's
    tables (an IVF index's lists and codes, with `ivf`) are not all in
    the current layout — file checks only, so no Spark session starts
    and nothing is written."""
    from .operators.ann_store import require_ivf_tables
    from .operators.dedup_store import banded_path, members_path
    from .operators.tables import StoreLayoutError, require_tables

    try:
        if ivf:
            require_ivf_tables(store)
        else:
            require_tables(store, banded_path(store), members_path(store))
    except StoreLayoutError as e:
        raise SystemExit(str(e)) from None


def _is_ivf_lists(path: str) -> bool:
    """Whether compact-store was handed an IVF inverted-lists table,
    from files only (a data file's columns), so a flat lists table is
    refused naming build-ivfpq, not build-store."""
    import glob
    import os

    import pyarrow.parquet as pq

    from .storage import heal_swap

    heal_swap(path)
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return bool(files) and "list_id" in pq.read_schema(files[0]).names


def cmd_admit(args) -> int:
    """`admit` / `admit-vectors`: one admission batch against the
    REPRESENTATIVE store of the family bound by the subcommand:
    collapse the rotation to distinct contents, score only NEW
    content groups (plus a rescore of store groups the rotation
    touched) against the store, append the new groups' signatures
    and every new doc's membership row. Known content never reaches
    the band join and never grows the signature store — a rotation
    of 90 boilerplate copies costs one group row (VERDICT r9/r10
    item #1). Group-level evidence (da, db, jaccard | cosine) +
    membership reconstruct every doc-level pair (dedup_store.py
    block comment proves the expansion exact); evidence is a SET —
    read it with DISTINCT, since a group touched by several
    rotations deterministically re-emits its pairs. `--corpus` /
    `--vectors` must cover the candidates (the verify side re-reads
    them; the store persists signatures only — the index/payload
    split).

    EXACTLY-ONCE under crash-retry / at-least-once delivery, by one
    mechanism: the rotation's scoring is a DETERMINISTIC function of
    (batch content, store state), and every step is idempotent in
    this order:
    1. evidence partition (`batch_key=md5(batch path)`) is written
       with OVERWRITE semantics. A retry rescores ALL the rotation's
       groups — not just unseen docs — so the rewrite is always the
       complete partition, never a remainder (this deletes the r10
       merge/staging path and its rmtree-rename crash window +
       staging-glob double-count, ADVICE r10);
    2. signature append adds only groups whose gh is absent from the
       store read — a partially-committed prior append just shifts
       those groups from "new" to "touched/rescored", same output;
    3. membership append adds only docs absent from the members
       table.
    Full redelivery of a completed rotation (no member-new docs)
    skips everything — the previous partition stands, and would be
    byte-identical if regenerated anyway."""
    from .operators.dedup_store import (
        banded_path,
        members_path,
        rep_admission_step,
    )

    _require_layout(args.store)
    family = args.family
    spark = _spark()
    g_batch = family.group_frame(_store_source(spark, args, args.batch)).cache()
    n_batch = g_batch.count()

    # a group id IS its rep's doc_id, so the verify side is the
    # corpus's group frame, pruned to the candidate reps BEFORE the
    # feature computation (at 100 TB the corpus read is the cost).
    feats_for = family.feats_for(
        family.group_frame(_store_source(spark, args, args.corpus))
    )

    n_pairs = 0
    ev_part = _evidence_partition(args.evidence, args.batch)

    def write_evidence(verified) -> None:
        # rotation-scoped stats only: a global evidence total would
        # read + distinct the WHOLE history on every admit (review
        # finding, round 11); within one rotation pairs are unique,
        # so the partition count is the distinct pair count.
        nonlocal n_pairs
        if ev_part:
            verified.write.mode("overwrite").parquet(ev_part)
            n_pairs = spark.read.parquet(ev_part).count()
        else:
            n_pairs = verified.count()

    stats = rep_admission_step(
        spark,
        g_batch,
        args.store,
        banded_path(args.store),
        members_path(args.store),
        feats_for,
        write_evidence,
        family=family,
        threshold=args.threshold,
        skip_when_no_new_docs=True,
        apply_appends=not args.no_append,
    )
    g_batch.unpersist()
    appended = bool(not args.no_append and stats.get("scored"))
    print(
        f"{args.cmd}: batch_{args.unit}={n_batch} new_docs={stats['new_docs']} "
        f"groups={stats['groups']} new_groups={stats['new_groups']} "
        f"rotation_pairs={_pairs_note(spark, stats, ev_part, n_pairs)} "
        f"appended={appended}"
    )
    return 0


def cmd_compact_store(args) -> int:
    """OPTIMIZE FINAL — the one maintenance pass of both persisted
    stores: a rep store (`<store>_members` / `<store>_bands`
    siblings) or an IVF index (an inverted-lists table and its
    `<lists>_codes` sibling). Any other dir, a flat signature store
    included, or a table not in the current layout is refused, naming
    its build command, before any Spark job. Then, for every bucketed
    table of the store: retraction sidecars are folded first,
    rewriting only the buckets they touch; each table is re-bucketed
    UP past the soak-measured rows/bucket knee (VERDICT r15 #3); each
    bucket holding more than one file is compacted to one, sorted by
    the table's key (text stores by bk0, vector stores by bv0 — ADVICE
    r12), through the journaled partition swap the fold uses."""
    import glob
    import os

    from .operators.ann_store import fold_ivf_tombstones, ivf_codes_path
    from .operators.dedup_store import (
        _INDEX_KEY,
        banded_path,
        fold_retractions,
        members_path,
    )
    from .operators.tables import compact_table, maybe_rebucket_table, read_table

    ivf = _is_ivf_lists(args.store)
    _require_layout(args.store, ivf=ivf)
    spark = _spark()
    # fold retraction sidecars FIRST, so the compaction below
    # rewrites the folded tables and the tombstones/deltas are
    # retired in the same maintenance pass (the retraction contract:
    # a retracted id becomes re-admittable only here)
    if ivf:
        codes = ivf_codes_path(args.store)
        tables = [("lists", args.store, "list_id")] + (
            [("codes", codes, "vec_id")] if os.path.isdir(codes) else []
        )
        fold = fold_ivf_tombstones(spark, args.store)
        parts = "lists:{lists_parts}/codes:{codes_parts}"
    else:
        cols = read_table(spark, args.store).columns
        sig_col = "bv0" if "bv0" in cols else "bk0"
        members, bands = members_path(args.store), banded_path(args.store)
        tables = [
            ("store", args.store, sig_col),
            ("members", members, "group_id"),
            ("bands", bands, _INDEX_KEY),
        ]
        fold = fold_retractions(spark, args.store, bands, members)
        parts = "sig:{sig_parts}/index:{index_parts}/mem:{mem_parts}"
    notes = []
    if fold["folded"]:
        notes.append("retractions_folded=true fold_parts=" + parts.format(**fold))
    # the re-bucket decision, AFTER the fold (so the row count
    # reflects retired tombstones) and BEFORE compaction (a re-bucket
    # leaves one file per partition, so the compactor then no-ops)
    for label, p, _ in tables:
        rb = maybe_rebucket_table(spark, p)
        if rb["rebucketed"]:
            notes.append(
                f"{label}_rebucketed={rb['buckets_before']}->"
                f"{rb['buckets_after']} (rows={rb['rows']})"
            )
    befores = [compact_table(spark, p, sort_col=c) for _, p, c in tables]
    after = len(glob.glob(os.path.join(args.store, "pb=*", "*.parquet")))
    msg = f"compacted: files_before={befores[0]} files_after={after}"
    for (label, _, _), n in zip(tables[1:], befores[1:]):
        msg += f" {label}_files_before={n}"
    print(" ".join([msg, *notes]))
    return 0


def _retract_ids_frame(spark, args):
    """--ids parquet path (any single id column) and/or repeated
    --id literals → one (doc_id) frame."""
    from pyspark.sql import functions as F

    frames = []
    if args.ids:
        f = spark.read.parquet(args.ids)
        col = "doc_id" if "doc_id" in f.columns else f.columns[0]
        frames.append(f.select(F.col(col).cast("long").alias("doc_id")))
    if args.id:
        frames.append(
            spark.createDataFrame([(int(i),) for i in args.id], "doc_id long")
        )
    if not frames:
        raise SystemExit("retract: pass --ids PARQUET and/or --id N")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def cmd_retract(args) -> int:
    """Take docs (or vectors — the rep store layout is
    family-agnostic) OUT of a rep store: tombstone their membership,
    drop groups they empty, re-elect groups whose founding rep they
    remove (deterministic: min surviving member id). Costs
    O(retracted), never O(store) — the physical tables are untouched;
    readers compose the sidecars and `compact-store` folds + retires
    them. A retracted id cannot be re-admitted until that fold (the
    takedown-wins rule)."""
    from .operators.dedup_store import members_path, retract_docs

    _require_layout(args.store)
    spark = _spark()
    stats = retract_docs(
        spark,
        args.store,
        members_path(args.store),
        _retract_ids_frame(spark, args),
    )
    print(
        f"retracted: docs={stats['retracted']} "
        f"dropped_groups={stats['dropped_groups']} "
        f"reelected={stats['reelected']}"
    )
    return 0


def cmd_retract_vectors(args) -> int:
    """The IVF sibling of `retract`: take vectors out of a persisted
    inverted-lists table. O(retracted), never O(index) — a tombstone
    sidecar beside the lists; every reader composes it
    (live_ivf_lists) and the next compact-store / refresh-ivf folds
    and retires it. The codebook keeps its centroids; run
    probe-recall / refresh-ivf afterwards if the deletion is large
    enough to drift recall."""
    from .operators.ann_store import retract_ivf_vectors

    _require_layout(args.lists, ivf=True)
    spark = _spark()
    stats = retract_ivf_vectors(spark, args.lists, _retract_ids_frame(spark, args))
    print(f"retracted: tombstones_total={stats['tombstoned']}")
    return 0


def cmd_list_queries(args) -> int:
    from . import operators

    oracle = operators.all_oracle_sql()
    for name in sorted(operators.all_queries()):
        kind = "oracle" if name in oracle else "rows-only"
        print(f"{name}\t{kind}")
    return 0


def cmd_refresh_ivf(args) -> int:
    """Retrain a persisted IVF index's codebook against the current
    corpus (`refresh_ivf_centroids`): one exact Lloyd iteration +
    full reassignment, crash-safe double swap. The reindex sibling
    of compact-store: compaction keeps the lists READABLE fast,
    refresh keeps them RIGHT as the insert stream drifts away from
    the build-time codebook (recall decays silently otherwise —
    measured in SCALE.md; probe cadence via ann_recall_eval-style
    recall checks). The balance pass after the refresh is automatic
    (VERDICT r16 #3, `maybe_split_ivf_lists`): when the live max list
    size crosses the soak-derived trigger (8192 rows/list — the last
    measured point of the r16 search slope inside the 2× bar), lists
    are 2-means split down to the 2048-row target (empty list ids
    recycled first), so a skew-drifted corpus cannot grow one
    corpus-sized list that nprobe=1 searches then scan whole.
    `--train-pq` retrains and persists the residual PQ codebook
    beside the coarse one after the refresh (`train_pq_codebook`) —
    the build-time artifact IVF-PQ queries read instead of training
    in-query."""
    from .operators.ann_store import (
        maybe_split_ivf_lists,
        refresh_ivf_centroids,
        train_pq_codebook,
    )
    from .operators.dedup import quantize

    _require_layout(args.lists, ivf=True)
    spark = _spark()
    qn = quantize(spark.read.parquet(args.vectors))
    stats = refresh_ivf_centroids(spark, qn, args.codebook, args.lists)
    msg = (
        f"refreshed: lists={stats['n_lists']} moved={stats['moved']} "
        f"max_list={stats['max_list_before']}->{stats['max_list_after']}"
    )
    ms = maybe_split_ivf_lists(spark, qn, args.codebook, args.lists)
    if ms["triggered"]:
        msg += (
            f" auto_split={ms['split']} reseeded={ms['reseeded']}"
            f" rounds={ms['rounds']}"
            f" max_list_after_split={ms['max_list_after']}"
        )
    if args.train_pq:
        # refresh/split retrain an EXISTING artifact themselves (the
        # freshness rule); the flag bootstraps it the first time
        import os

        from .operators.ann_store import pq_codebook_path

        pq = pq_codebook_path(args.codebook)
        if not os.path.isdir(pq):
            pq = train_pq_codebook(spark, qn, args.codebook, args.lists)
        msg += f" pq_codebook={pq}"
    print(msg)
    return 0


def cmd_probe_recall(args) -> int:
    """Measure a persisted IVF index's top-k recall against exact
    brute force on a deterministic query sample — the drift probe
    that decides WHEN to run refresh-ivf (`ivf_recall_probe`). Run
    it on the refresh cadence: recall near 1.0 means the codebook
    still fits the corpus; a drop means inserts have drifted and a
    refresh is due. The probe is read-only."""
    from .operators.ann_store import ivf_recall_probe
    from .operators.dedup import quantize

    _require_layout(args.lists, ivf=True)
    spark = _spark()
    r = ivf_recall_probe(
        spark,
        quantize(spark.read.parquet(args.vectors)),
        args.codebook,
        args.lists,
        n_queries=args.queries,
        topk=args.topk,
        nprobe=args.nprobe,
    )
    frac = f" ({r['hits'] / r['total']:.3f})" if r["total"] else ""
    print(f"recall: hits={r['hits']} total={r['total']}{frac}")
    return 0


def cmd_build_ivfpq(args) -> int:
    """Build the FOUR-artifact persisted IVF-PQ index from an
    embeddings parquet — the operational path to the prebuilt-
    codebook query node (`ivfpq_store_search_plan`, the 2.0×-
    measured shape in SCALE.md): <index>/codebook (coarse
    centroids), <index>/lists (vec_id → list assignments),
    <index>/codebook_pq (residual PQ codebook, trained on the build
    corpus), <index>/lists_codes (one PQ code row per vector per
    subspace). Coarse seeds are the --centroids lowest vec_ids —
    corpus points, deterministic; run `refresh-ivf` after the build
    for the Lloyd iteration that makes residuals tight (SCALE.md:
    corpus-point centroids leave residuals larger than the raw
    vectors; ONE refresh recovers flat-PQ recall — the lift
    `ann_ivfpq_refresh_recall` pins in the driver). The lists and
    codes are key-bucketed tables, the layout the IVF commands need."""
    import os

    from pyspark.sql import functions as F

    from .operators.ann_store import (
        assign_lists,
        ivf_codes_path,
        reencode_ivf_codes,
        train_pq_codebook,
    )
    from .operators.dedup import quantize

    spark = _spark()
    qn = quantize(spark.read.parquet(args.vectors)).cache()
    cb_path = os.path.join(args.index, "codebook")
    lists_path = os.path.join(args.index, "lists")
    cent = qn.orderBy("vec_id").limit(args.centroids).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    )
    cent.coalesce(1).write.mode("overwrite").parquet(cb_path)
    assign_lists(spark, qn, cb_path, lists_path)
    train_pq_codebook(spark, qn, cb_path, lists_path)
    n = reencode_ivf_codes(spark, qn, cb_path, lists_path)
    qn.unpersist()
    print(
        f"ivfpq index: vectors={n} centroids={args.centroids} "
        f"codes={ivf_codes_path(lists_path)} "
        "(run refresh-ivf for the Lloyd pass that tightens residuals)"
    )
    return 0


def cmd_insert_vectors(args) -> int:
    """Insert a vector batch into a persisted IVF(-PQ) index purely
    through the persisted codebooks — assignment appended to the
    lists, and (when the index carries a codes table) residual PQ
    codes encoded against the persisted PQ codebook and appended
    beside them. Codebooks are never retrained by an insert (that is
    refresh-ivf's job); encode-at-insert ≡ rebuild is the
    driver-pinned equivalence (`ann_ivfpq_store_search`). Inserts
    are IDEMPOTENT under redelivery (VERDICT r16 #1): a retried run
    of the same batch appends nothing twice — already-present
    vec_ids are reported as skipped. An insert only appends; folding,
    re-bucketing and compaction are compact-store's job."""
    from .operators.ann_store import ivf_insert_batch
    from .operators.dedup import quantize

    _require_layout(args.lists, ivf=True)
    spark = _spark()
    qn_b = quantize(spark.read.parquet(args.batch)).cache()
    try:
        r = ivf_insert_batch(spark, qn_b, args.codebook, args.lists)
    except RuntimeError as e:
        # keep the CLI's error contract: one clean line, no traceback
        # (ADVICE r16 — the incoherent-artifact refusal used to be a
        # SystemExit here before the kernel unification)
        raise SystemExit(str(e))
    msg = f"inserted: vectors={r['vectors']}"
    if r["skipped"]:
        msg += f" skipped={r['skipped']} (already indexed)"
    if r["codes_appended"]:
        msg += " codes=appended"
    qn_b.unpersist()
    print(msg)
    return 0


def cmd_search_ivfpq(args) -> int:
    """Query a persisted IVF-PQ index through the four on-disk
    artifacts (`ivfpq_store_search_plan` — the production query
    node; no training, no raw-vector scan beyond the query set).
    Queries are the --queries lowest vec_ids of --vectors."""
    from .operators.ann_store import ivf_codes_path, ivfpq_store_search_plan
    from .operators.dedup import quantize

    _require_layout(args.lists, ivf=True)
    spark = _spark()
    qn = quantize(spark.read.parquet(args.vectors))
    queries = qn.orderBy("vec_id").limit(args.queries)
    out = ivfpq_store_search_plan(
        spark,
        queries,
        args.codebook,
        args.lists,
        ivf_codes_path(args.lists),
        nprobe=args.nprobe,
    )
    rows = out.orderBy("q_id", "rank").collect()
    for r in rows:
        print(
            f"q={r['q_id']} rank={r['rank']} n={r['n_id']} "
            f"list={r['list_id']} d={r['approx_dist']}"
        )
    print(f"search: queries={args.queries} rows={len(rows)}")
    return 0


def cmd_query(args) -> int:
    """Run one registered operator against a testdata dir and print
    the result — the 'traditional OLAP SQL queries' consumer surface
    (reference README.md:10), one command away."""
    from . import operators

    queries = operators.all_queries()
    if args.name not in queries:
        print(f"unknown query {args.name!r}; see list-queries", file=sys.stderr)
        return 2
    spark = _spark()
    df = queries[args.name](spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="trace-convert")
    p.add_argument("--spool-dir", default=None, help="dry run: write payloads here")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("print-schema")
    sp.add_argument("--table", default=None)
    sp.set_defaults(fn=cmd_print_schema)

    sc = sub.add_parser("create-schema")
    sc.set_defaults(fn=cmd_create_schema)

    sa = sub.add_parser("alter-schema")
    sa.add_argument("path", help="trace JSON file/dir to derive the produced schema from")
    sa.add_argument("--table", default=None)
    sa.add_argument("--drop-removed", action="store_true")
    sa.set_defaults(fn=cmd_alter_schema)

    si = sub.add_parser("ingest")
    si.add_argument("path")
    si.add_argument("--delete-logs", action="store_true")
    si.set_defaults(fn=cmd_ingest)

    sw = sub.add_parser("watch")
    sw.add_argument("log_dir")
    sw.add_argument("--once", action="store_true")
    sw.add_argument("--delete-logs", action="store_true")
    sw.add_argument("--checkpoint", default="/tmp/trace-convert-ckpt")
    sw.add_argument(
        "--completion-file",
        default=None,
        help="exit cleanly when this file appears (default: $WATCH_COMPLETION_FILE)",
    )
    sw.add_argument("--rollup", metavar="OUT", help="also fold each batch into the rollup at OUT")
    sw.set_defaults(fn=cmd_watch)

    so = sub.add_parser("optimize")
    so.add_argument("path")
    so.add_argument("--time-col", default="time")
    so.set_defaults(fn=cmd_optimize)

    from .operators.dedup_store import TEXT, VECTOR

    sb = sub.add_parser("build-store")
    sb.add_argument("source", metavar="docs",
                    help="JSON-lines doc corpus (doc_id, text)")
    sb.add_argument("store", help="signature-store parquet path")
    sb.set_defaults(fn=cmd_build_store, family=TEXT)

    sm = sub.add_parser("admit")
    sm.add_argument("batch", help="JSON-lines batch of new docs")
    sm.add_argument("store", help="signature-store parquet path")
    sm.add_argument("--corpus", required=True,
                    help="JSON-lines docs covering candidate texts (verify side)")
    sm.add_argument("--evidence", default=None,
                    help="append verified pairs to this parquet path")
    sm.add_argument("--threshold", type=float, default=None,
                    help="Jaccard threshold (default: the family constant)")
    sm.add_argument("--no-append", action="store_true",
                    help="score only; do not grow the store")
    sm.set_defaults(fn=cmd_admit, family=TEXT, unit="docs")

    sbv = sub.add_parser("build-vstore")
    sbv.add_argument("source", metavar="vectors",
                     help="embeddings parquet (vec_id, embedding)")
    sbv.add_argument("store", help="hyperplane-store parquet path")
    sbv.set_defaults(fn=cmd_build_store, family=VECTOR)

    smv = sub.add_parser("admit-vectors")
    smv.add_argument("batch", help="vectors parquet batch (vec_id, embedding)")
    smv.add_argument("store", help="hyperplane-store parquet path")
    smv.add_argument("--vectors", dest="corpus", required=True,
                     help="embeddings parquet covering candidate vectors "
                          "(verify side)")
    smv.add_argument("--evidence", default=None,
                     help="write verified group pairs under this parquet path")
    smv.add_argument("--threshold", type=float, default=None,
                     help="cosine threshold (default: the family constant)")
    smv.add_argument("--no-append", action="store_true",
                     help="score only; do not grow the store")
    smv.set_defaults(fn=cmd_admit, family=VECTOR, unit="vecs")

    sk = sub.add_parser("compact-store")
    sk.add_argument("store")
    sk.set_defaults(fn=cmd_compact_store)

    sr = sub.add_parser("retract")
    sr.add_argument("store", help="rep-store signatures parquet path "
                                  "(text or vector family)")
    sr.add_argument("--ids", default=None,
                    help="parquet of ids to retract (doc_id column, or "
                         "the first column)")
    sr.add_argument("--id", action="append", default=None,
                    help="literal id to retract (repeatable)")
    sr.set_defaults(fn=cmd_retract)

    srv = sub.add_parser("retract-vectors")
    srv.add_argument("lists", help="persisted IVF inverted-lists parquet path")
    srv.add_argument("--ids", default=None,
                     help="parquet of vec ids to retract")
    srv.add_argument("--id", action="append", default=None,
                     help="literal vec id to retract (repeatable)")
    srv.set_defaults(fn=cmd_retract_vectors)

    sv = sub.add_parser("refresh-ivf")
    sv.add_argument("codebook", help="persisted codebook parquet path")
    sv.add_argument("lists", help="persisted inverted-lists parquet path")
    sv.add_argument("--vectors", required=True,
                    help="embeddings parquet (vec_id, embedding) covering "
                         "every indexed vector")
    sv.add_argument("--train-pq", action="store_true",
                    help="retrain + persist the residual PQ codebook "
                         "beside the coarse codebook (<codebook>_pq)")
    sv.set_defaults(fn=cmd_refresh_ivf)

    sp = sub.add_parser("probe-recall")
    sp.add_argument("codebook", help="persisted codebook parquet path")
    sp.add_argument("lists", help="persisted inverted-lists parquet path")
    sp.add_argument("--vectors", required=True,
                    help="embeddings parquet (vec_id, embedding) covering "
                         "every indexed vector")
    sp.add_argument("--queries", type=int, default=50,
                    help="query sample size (lowest vec_ids; default 50)")
    sp.add_argument("--topk", type=int, default=10)
    sp.add_argument("--nprobe", type=int, default=4)
    sp.set_defaults(fn=cmd_probe_recall)

    sbi = sub.add_parser("build-ivfpq")
    sbi.add_argument("vectors", help="embeddings parquet (vec_id, embedding)")
    sbi.add_argument("index", help="index root dir (codebook/ lists/ "
                                   "codebook_pq/ lists_codes/ are written "
                                   "under it)")
    sbi.add_argument("--centroids", type=int, default=16,
                     help="coarse centroid count (lowest vec_ids as "
                          "seeds; refresh-ivf runs the Lloyd pass)")
    sbi.set_defaults(fn=cmd_build_ivfpq)

    siv = sub.add_parser("insert-vectors")
    siv.add_argument("batch", help="vectors parquet batch (vec_id, embedding)")
    siv.add_argument("codebook", help="persisted coarse codebook path")
    siv.add_argument("lists", help="persisted inverted-lists path")
    siv.set_defaults(fn=cmd_insert_vectors)

    ssq = sub.add_parser("search-ivfpq")
    ssq.add_argument("codebook", help="persisted coarse codebook path")
    ssq.add_argument("lists", help="persisted inverted-lists path")
    ssq.add_argument("--vectors", required=True,
                     help="embeddings parquet supplying the query vectors")
    ssq.add_argument("--queries", type=int, default=5,
                     help="query sample size (lowest vec_ids)")
    ssq.add_argument("--nprobe", type=int, default=4)
    ssq.set_defaults(fn=cmd_search_ivfpq)

    sl = sub.add_parser("list-queries")
    sl.set_defaults(fn=cmd_list_queries)

    sq = sub.add_parser("query")
    sq.add_argument("name")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sq.add_argument("--limit", type=int, default=20)
    sq.set_defaults(fn=cmd_query)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
