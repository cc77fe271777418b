"""CLI entrypoint with the reference's operational surface.

Mirrors trace-converter.py's modes (trace-converter.py:94-107:
``--print-schema``, ``--create-schema``, ``--delete-logs``, plus a
trace file argument) and entrypoint.sh's watch loop
(entrypoint.sh:18-29: inotifywait on $LOG_DIR) — Spark-first:

  trace-convert --print-schema            →  print-schema
  trace-convert --create-schema           →  create-schema
  trace-convert [--delete-logs] f.json    →  ingest [--delete-logs] PATH
  entrypoint.sh watch loop                →  watch [--once] LOG_DIR

Connection config comes from the same env vars the reference reads
(CLICKHOUSE_ADDR/DB/TABLE/USER/PASS, trace-converter.py:11-17).
``--spool-dir`` makes every mode a dry run writing payload files
instead of POSTing (air-gapped testing).
"""

from __future__ import annotations

import argparse
import sys

from .sinks.clickhouse import TRACE_COLUMNS, ClickHouseHttpSink, mergetree_ddl


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


def cmd_ingest(args) -> int:
    """One batch: read trace JSON (file or dir), normalize, insert."""
    from pyspark.sql import functions as F

    from .sources.trace_json import read_trace_batch
    from .streaming.ingest import normalize_trace

    spark = _spark()
    df = normalize_trace(read_trace_batch(spark, args.path))
    sink = _sink(args)
    sink.insert(df)
    if args.delete_logs:
        # the reference removes the source file after a 200
        # (trace-converter.py:129-130)
        import glob as _glob
        import os as _os

        for f in _glob.glob(f"{args.path}/*.json") or [args.path]:
            if _os.path.isfile(f):
                _os.remove(f)
    print(f"ingested rows: {df.count()}")
    return 0


def cmd_watch(args) -> int:
    """The inotify loop, Spark-native: file-source stream + foreachBatch
    into the ClickHouse sink. --once drains what exists and exits
    (AvailableNow); otherwise runs until interrupted — or until the
    completion-file sentinel appears (--completion-file /
    $WATCH_COMPLETION_FILE, ≙ entrypoint.sh:22-24: the simulation
    harness drops `sim-completed` and the watch loop drains remaining
    logs and exits cleanly)."""
    import os
    import time

    from .streaming.ingest import normalize_trace, read_trace_stream

    spark = _spark()
    stream = normalize_trace(
        read_trace_stream(spark, args.log_dir, delete_logs=args.delete_logs)
    )
    sink = _sink(args)
    writer = (
        stream.writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", args.checkpoint)
    )
    sentinel = args.completion_file or os.environ.get("WATCH_COMPLETION_FILE")
    if args.once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    elif sentinel:
        q = writer.start()
        while q.isActive and not os.path.exists(sentinel):
            time.sleep(0.5)
        if q.isActive:
            q.processAllAvailable()  # drain what arrived before the sentinel
            q.stop()
        q.awaitTermination()
        print(f"watch: completion file {sentinel} seen, exiting")
    else:
        q = writer.start()
        q.awaitTermination()
    return 0


def cmd_rollup(args) -> int:
    """Maintain the SummingMergeTree-style rollup table from a log
    dir (the materialized-view consumer of the ingest loop): stream
    rotated trace logs, merge each micro-batch into the rollup
    parquet at OUT. --once drains and exits."""
    from pyspark.sql import functions as F

    from .sinks.rollup import foreach_batch_rollup, read_rollup
    from .streaming.ingest import normalize_trace, read_trace_stream

    spark = _spark()
    rows = normalize_trace(
        read_trace_stream(spark, args.log_dir, delete_logs=args.delete_logs)
    ).select(
        "time",
        "severity",
        "type",
        # the reference's trace schema carries no numeric measure;
        # the rollup still tracks exact event counts per cell.
        F.lit(0).cast("long").alias("value_c"),
    )
    writer = (
        rows.writeStream.foreachBatch(foreach_batch_rollup(args.out))
        .option("checkpointLocation", args.checkpoint)
    )
    q = writer.trigger(availableNow=True).start() if args.once else writer.start()
    q.awaitTermination()
    if args.once:
        n = read_rollup(spark, args.out).count()
        print(f"rollup cells: {n}")
    return 0


def cmd_optimize(args) -> int:
    """`OPTIMIZE TABLE ... FINAL` analog: compact a MergeTree-style
    parquet table's per-partition small files (one per streamed
    micro-batch) into sorted files — the background part-merge,
    invoked off the ingest path."""
    from .sinks.mergetree import optimize_mergetree

    spark = _spark()
    stats = optimize_mergetree(
        spark,
        args.path,
        time_col=args.time_col,
        target_files_per_partition=args.target_files,
    )
    print(stats)
    return 0


_DOC_SCHEMA = "doc_id long, text string"


def cmd_build_store(args) -> int:
    """Bootstrap the signature store from a document corpus
    (JSON-lines rotations, doc_id + text) — the backfill step before
    the `admit` loop runs. The store is the REPRESENTATIVE store
    (operators/dedup_store.py rep pre-pass): one signature row per
    distinct token stream (group_id, gh, s0..s15, bk0..bk3) plus a
    membership side table at `<store>_members` with one
    (doc_id, gh, group_id) row per doc. Byte-identical boilerplate
    collapses here, before any signature is computed, so degenerate
    buckets never reach the admission band join and the store grows
    O(distinct contents) (VERDICT r9/r10 item #1)."""
    from pyspark.sql import functions as F

    from .operators.dedup_store import (
        banded_path,
        members_path,
        read_table,
        rep_group_frame,
        rep_reps,
        rep_signature_frame,
        write_banded_index,
        write_table,
    )

    spark = _spark()
    # cache the corpus group frame and the rep aggregate: the store
    # write, the banded index, and the members join all draw on them
    # — without the cache the most expensive pass (JSON read +
    # tokenize + md5 of every doc) runs twice on a backfill corpus.
    g = rep_group_frame(spark.read.schema(_DOC_SCHEMA).json(args.docs)).cache()
    reps = rep_reps(g).cache()
    # gh/doc_id-bucketed layouts (VERDICT r14): admit's flat-store
    # classification scan and members anti-join prune to the batch's
    # key buckets instead of reading the whole store per step.
    write_table(
        rep_signature_frame(reps), args.store, "overwrite", key="gh",
        buckets=args.buckets,
    )
    # the band-partitioned index at <store>_bands: admit's store-side
    # read prunes to the batch's (band, kb) partitions instead of
    # scanning the whole store (VERDICT r10 item #4)
    write_banded_index(
        read_table(spark, args.store), banded_path(args.store), "overwrite",
        sized_from=args.store,
    )
    write_table(
        g.select("doc_id", "gh")
        .join(reps.select("gh", "group_id"), "gh")
        .select("doc_id", "gh", "group_id"),
        members_path(args.store),
        "overwrite",
        key="doc_id",
        buckets=args.buckets,
    )
    n_groups = read_table(spark, args.store).count()
    n_docs = read_table(spark, members_path(args.store)).count()
    g.unpersist(), reps.unpersist()
    print(f"store groups: {n_groups} members: {n_docs}")
    return 0


def _vector_qn(spark, path: str):
    """Vectors parquet (vec_id, embedding) → quantized (vec_id, q,
    nq) — dedup._quantized's spelling over an arbitrary path
    (dedup.py itself is byte-pinned until its r13 window rotation,
    so the two-expression quantization is spelled here)."""
    from pyspark.sql import functions as F

    from .operators.dedup import _QUANT

    emb = spark.read.parquet(path)
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _QUANT, 0).cast("long"),
    )
    return emb.select("vec_id", q.alias("q")).withColumn(
        "nq",
        F.aggregate(
            F.transform(F.col("q"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def cmd_build_vstore(args) -> int:
    """Bootstrap the VECTOR representative store from an embeddings
    parquet — the hyperplane sibling of build-store: byte-identical
    vectors collapse to one group (gh = md5 of the quantized
    component stream) BEFORE any signature is computed, one
    (group_id, gh, bv0..bv5) sign-band row per distinct vector, a
    `<store>_members` table mapping every vec_id, and the int-keyed
    `<store>_bands` pruning index."""
    from pyspark.sql import functions as F

    from .operators.dedup_store import (
        _EMB_KEY_COLS,
        banded_path,
        emb_rep_group_frame,
        emb_rep_reps,
        emb_rep_signature_frame,
        members_path,
        read_table,
        write_banded_index,
        write_table,
    )

    spark = _spark()
    g = emb_rep_group_frame(_vector_qn(spark, args.vectors)).cache()
    reps = emb_rep_reps(g).cache()
    write_table(
        emb_rep_signature_frame(spark, reps), args.store, "overwrite",
        key="gh", buckets=args.buckets,
    )
    write_banded_index(
        read_table(spark, args.store),
        banded_path(args.store),
        "overwrite",
        key_cols=_EMB_KEY_COLS,
        sized_from=args.store,
    )
    write_table(
        g.select("doc_id", "gh")
        .join(reps.select("gh", "group_id"), "gh")
        .select("doc_id", "gh", "group_id"),
        members_path(args.store),
        "overwrite",
        key="doc_id",
        buckets=args.buckets,
    )
    n_groups = read_table(spark, args.store).count()
    n_docs = read_table(spark, members_path(args.store)).count()
    g.unpersist(), reps.unpersist()
    print(f"vstore groups: {n_groups} members: {n_docs}")
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


def cmd_admit_vectors(args) -> int:
    """One VECTOR admission batch against the rep store — the
    hyperplane sibling of `admit`, running the SAME shared step
    (rep_admission_step: deterministic full-rotation rescore,
    idempotent three-table appends, '(kept)' redelivery reporting)
    with the vector family's band keys, signature builder, and
    exact-cosine verify. Evidence is GROUP-level (da, db, cosine) —
    member pairs reconstruct through `<store>_members`, exactly like
    the text path. `--vectors` must cover candidate vectors (the
    verify side re-reads raw embeddings; the store persists
    signatures only — the index/payload split)."""
    from pyspark.sql import functions as F

    from .operators.dedup_store import (
        _COSINE_THRESHOLD,
        _EMB_KEY_COLS,
        banded_path,
        cosine_on_candidates_nullsafe,
        emb_rep_group_frame,
        emb_rep_reps,
        emb_rep_signature_frame,
        members_path,
        rep_admission_step,
    )

    spark = _spark()
    thr = args.threshold if args.threshold is not None else _COSINE_THRESHOLD
    g_batch = emb_rep_group_frame(_vector_qn(spark, args.batch)).cache()
    n_batch = g_batch.count()

    def feats_for(cand_ids):
        return (
            _vector_qn(spark, args.vectors)
            .withColumnRenamed("vec_id", "doc_id")
            .join(cand_ids, "doc_id", "left_semi")
            .select(F.col("doc_id").alias("vec_id"), "q", "nq")
        )

    def verify(cand, feats):
        v = cosine_on_candidates_nullsafe(
            cand.select(F.col("da").alias("va"), F.col("db").alias("vb")),
            feats,
            thr,
        )
        return v.select(
            F.col("va").alias("da"), F.col("vb").alias("db"), "cosine"
        )

    n_pairs = 0
    ev_part = _evidence_partition(args.evidence, args.batch)

    def write_evidence(verified) -> None:
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
        skip_when_no_new_docs=True,
        apply_appends=not args.no_append,
        key_cols=_EMB_KEY_COLS,
        rep_builder=lambda g: emb_rep_signature_frame(spark, emb_rep_reps(g)),
        verify=verify,
    )
    g_batch.unpersist()
    appended = bool(not args.no_append and stats.get("scored"))
    print(
        f"admit-vectors: batch_vecs={n_batch} new_docs={stats['new_docs']} "
        f"groups={stats['groups']} new_groups={stats['new_groups']} "
        f"rotation_pairs={_pairs_note(spark, stats, ev_part, n_pairs)} "
        f"appended={appended}"
    )
    return 0


def cmd_admit(args) -> int:
    """One admission batch against the REPRESENTATIVE store: collapse
    the rotation to distinct token streams, score only NEW content
    groups (plus a rescore of store groups the rotation touched)
    against the store, append the new groups' signatures and every
    new doc's membership row. Known content never reaches the band
    join and never grows the signature store — a rotation of 90
    boilerplate copies costs one group row (VERDICT r9/r10 item #1).
    Group-level evidence + membership reconstruct every doc-level
    pair (dedup_store.py block comment proves the expansion exact);
    evidence is a SET — read it with DISTINCT, since a group touched
    by several rotations deterministically re-emits its pairs.

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
    from pyspark.sql import functions as F

    from .operators.dedup_store import (
        banded_path,
        members_path,
        rep_admission_step,
        rep_group_frame,
        shingle_frame,
    )

    spark = _spark()
    batch = spark.read.schema(_DOC_SCHEMA).json(args.batch)
    g_batch = rep_group_frame(batch).cache()
    n_batch = g_batch.count()

    # a group id IS its rep's doc_id, so --corpus (which must cover
    # candidate docs' text) serves the verify side, pruned to the
    # candidate reps BEFORE the shingle computation (at 100 TB the
    # corpus read is the cost).
    def feats_for(cand_ids):
        corpus = spark.read.schema(_DOC_SCHEMA).json(args.corpus).join(
            cand_ids, "doc_id", "left_semi"
        )
        return shingle_frame(corpus).select("doc_id", F.col("sh").alias("fs"))

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
        threshold=args.threshold,
        skip_when_no_new_docs=True,
        apply_appends=not args.no_append,
    )
    g_batch.unpersist()
    appended = bool(not args.no_append and stats.get("scored"))
    print(
        f"admit: batch_docs={n_batch} new_docs={stats['new_docs']} "
        f"groups={stats['groups']} new_groups={stats['new_groups']} "
        f"rotation_pairs={_pairs_note(spark, stats, ev_part, n_pairs)} "
        f"appended={appended}"
    )
    return 0


def cmd_compact_store(args) -> int:
    """OPTIMIZE FINAL for an append-accumulating store: merge the
    one-file-group-per-batch appends into sort-keyed files. Default
    sort key is derived from the store schema (text stores sort by
    bk0, vector stores by bv0 — ADVICE r12); pass
    `--sort-col list_id` to compact an IVF inverted-lists table
    (`compact_ivf_lists` semantics — same crash-safe swap). When the
    store has a banded index sibling (`<store>_bands`, the rep-store
    layout), its per-partition append files are compacted in the same
    pass, and so is the `<store>_members` table (one file-group per
    admit, read on every admit's doc anti-join and every evidence
    expansion — the layout's largest table, ADVICE r11). Pass
    `--buckets N` to also RE-BUCKET the banded index to a new
    partition count (rebucket_banded_index — the migration path for
    a store built at the small default). Key-bucketed flat-store and
    members tables are re-bucketed UP automatically when their
    rows/bucket crosses the soak-measured knee (VERDICT r15 #3 —
    `maybe_rebucket_table`; disable with --no-auto-rebucket), and a
    banded index whose bucket count falls below the store's new one
    is re-bucketed to match in the same pass."""
    import os

    from .operators.dedup_store import (
        banded_path,
        compact_banded_index,
        compact_signature_store,
        fold_retractions,
        maybe_rebucket_table,
        members_path,
        rebucket_banded_index,
    )
    from .storage import heal_swap

    spark = _spark()
    # fold retraction sidecars FIRST, so the compaction below rewrites
    # the folded tables and the tombstones/deltas are retired in the
    # same maintenance pass (the retraction contract: a retracted id
    # becomes re-admittable only here)
    fold = fold_retractions(
        spark, args.store, banded_path(args.store), members_path(args.store)
    )
    # the automatic re-bucket decision, AFTER the fold (so the row
    # count reflects retired tombstones) and BEFORE compaction (a
    # re-bucket leaves one file per partition, so the compactors
    # no-op on a freshly re-bucketed table)
    rebucket_notes = []
    if not args.no_auto_rebucket:
        rb_kw = {}
        if args.rebucket_trigger is not None:
            rb_kw["trigger_rows"] = args.rebucket_trigger
            rb_kw["target_rows"] = max(1, args.rebucket_trigger // 4)
        for label, p in (
            ("store", args.store),
            ("members", members_path(args.store)),
        ):
            if not os.path.isdir(p):
                continue
            rb = maybe_rebucket_table(spark, p, **rb_kw)
            if rb["rebucketed"]:
                rebucket_notes.append(
                    f"{label}_rebucketed={rb['buckets_before']}->"
                    f"{rb['buckets_after']} (rows={rb['rows']})"
                )
            if label == "store" and rb["rebucketed"]:
                # the banded index rides the store's decision: its
                # rows/partition is the same groups/buckets arithmetic
                # (n_bands × groups over n_bands × buckets), and the
                # r12 sweep measured over-bucketing penalty-free on
                # the pruned read — so keep its granularity aligned,
                # UP only (a manual --buckets below still wins)
                from .operators.dedup_store import banded_layout

                bands_p = banded_path(args.store)
                b_lay = banded_layout(bands_p)
                if b_lay is not None and b_lay["buckets"] < rb["buckets_after"]:
                    re = rebucket_banded_index(
                        spark, args.store, bands_p, rb["buckets_after"]
                    )
                    rebucket_notes.append(
                        f"bands_rebucketed={re['buckets_before']}->"
                        f"{re['buckets_after']} (aligned)"
                    )
    sort_col = args.sort_col
    if sort_col is None:
        # derive the flat-store sort key from the schema: a text
        # signature store carries bk0, a build-vstore store carries
        # bv0 (ADVICE r12 — the bk0 literal default raised
        # AnalysisException on vector stores). Heal a crash-
        # interrupted compaction swap BEFORE the schema read, or the
        # re-run that is supposed to repair it raises PATH_NOT_FOUND
        # here instead of reaching the compactor's own healer
        # (self-review r13 finding #3).
        heal_swap(args.store)
        from .operators.dedup_store import read_table

        # read_table, not a raw parquet read: a bucketed store hides
        # its pb partition column, and an EMPTY bucketed store (no
        # data files) is readable only through the marker schema
        cols = set(read_table(spark, args.store).columns)
        sort_col = "bk0" if "bk0" in cols else ("bv0" if "bv0" in cols else "list_id")
    if sort_col == "list_id":
        # an IVF inverted-lists table: compact_ivf_lists is the fold
        # point — ONE rewrite compacts the live view, folds a codes
        # sibling, and retires the vec_id tombstone sidecar. The
        # message is built from what the pass ACTUALLY did (its
        # return), never from a pre-call sidecar-dir probe (ADVICE
        # r14: an empty crash-remnant dir used to print folded=true
        # without folding, and a fold that RAISED the file count was
        # reported as min(before, target)).
        from .operators.ann_store import compact_ivf_lists

        r = compact_ivf_lists(spark, args.store, n_files=args.target_files)
        msg = (
            f"compacted: files_before={r['files_before']} "
            f"files_after={r['files_after']}"
        )
        if r["folded"]:
            msg += " retractions_folded=true"
    else:
        import glob

        before = compact_signature_store(
            spark, args.store, sort_col=sort_col, n_files=args.target_files
        )
        # real post-pass count (bucketed stores keep files under
        # pb=*/ partition dirs), not min(before, target)
        after = len(
            glob.glob(os.path.join(args.store, "*.parquet"))
        ) + len(glob.glob(os.path.join(args.store, "pb=*", "*.parquet")))
        msg = f"compacted: files_before={before} files_after={after}"
        if fold["folded"]:
            # -1 = legacy full rewrite, else partitions rewritten
            msg += (
                " retractions_folded=true"
                f" fold_parts=sig:{fold['sig_parts']}"
                f"/index:{fold['index_parts']}/mem:{fold['mem_parts']}"
            )
    members = members_path(args.store)
    if os.path.isdir(members):
        m_before = compact_signature_store(
            spark, members, sort_col="group_id", n_files=args.target_files
        )
        msg += f" members_files_before={m_before}"
    bands = banded_path(args.store)
    if os.path.isdir(bands):
        if args.buckets is not None:
            re = rebucket_banded_index(spark, args.store, bands, args.buckets)
            msg += (
                f" bands_rebucketed={re['buckets_before']}"
                f"->{re['buckets_after']}"
            )
        b_before = compact_banded_index(spark, bands)
        msg += f" bands_files_before={b_before}"
    elif args.buckets is not None:
        # --buckets on a store with no banded index (an IVF lists
        # table, or a flat store whose index was never built) would
        # otherwise be ignored silently — say so
        msg += " buckets_ignored=no_banded_index"
    if rebucket_notes:
        msg += " " + " ".join(rebucket_notes)
    print(msg)
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
    recall checks). `--max-list N` adds the balance pass after the
    refresh: over-budget lists are 2-means split (recycling empty
    list ids first — the reseed), so a skew-drifted corpus cannot
    grow one corpus-sized list that nprobe=1 searches then scan
    whole (`split_ivf_lists`). WITHOUT --max-list the split decision
    is AUTOMATIC (VERDICT r16 #3, `maybe_split_ivf_lists`): when the
    live max list size crosses the soak-derived trigger (8192
    rows/list — the last measured point of the r16 search slope
    inside the 2× bar), lists are split down to the 2048-row target;
    disable with --no-auto-split, override the trigger with
    --split-trigger N (target = N/4) — combining --split-trigger
    with either --max-list or --no-auto-split is an error, not a
    silent drop (ADVICE r17). `--train-pq` retrains and
    persists the residual PQ codebook beside the coarse one after
    the refresh (`train_pq_codebook`) — the build-time artifact
    IVF-PQ queries read instead of training in-query."""
    from .operators.ann_store import (
        maybe_split_ivf_lists,
        refresh_ivf_centroids,
        split_ivf_lists,
        train_pq_codebook,
    )

    # --split-trigger tunes the AUTOMATIC split decision, which
    # --max-list (manual split) and --no-auto-split each disable —
    # silently dropping the flag would let a user believe their
    # tuned trigger is live (ADVICE r17)
    if args.split_trigger is not None:
        if args.max_list is not None:
            raise SystemExit(
                "refresh-ivf: --split-trigger conflicts with --max-list "
                "(--max-list runs the manual split pass, which ignores "
                "the automatic trigger) — pass one or the other"
            )
        if args.no_auto_split:
            raise SystemExit(
                "refresh-ivf: --split-trigger conflicts with "
                "--no-auto-split (the trigger tunes the automatic split "
                "that flag disables) — drop one"
            )
    spark = _spark()
    qn = _vector_qn(spark, args.vectors)
    stats = refresh_ivf_centroids(spark, qn, args.codebook, args.lists)
    msg = (
        f"refreshed: lists={stats['n_lists']} moved={stats['moved']} "
        f"max_list={stats['max_list_before']}->{stats['max_list_after']}"
    )
    if args.max_list is not None:
        sp = split_ivf_lists(spark, qn, args.codebook, args.lists, args.max_list)
        msg += (
            f" split={sp['split']} reseeded={sp['reseeded']}"
            f" max_list_after_split={sp['max_list_after']}"
        )
    elif not args.no_auto_split:
        ms_kw = {}
        if args.split_trigger is not None:
            ms_kw["trigger_rows"] = args.split_trigger
            ms_kw["target_rows"] = max(1, args.split_trigger // 4)
        ms = maybe_split_ivf_lists(
            spark, qn, args.codebook, args.lists, **ms_kw
        )
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

    spark = _spark()
    r = ivf_recall_probe(
        spark,
        _vector_qn(spark, args.vectors),
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
    `ann_ivfpq_refresh_recall` pins in the driver)."""
    import os

    from pyspark.sql import functions as F

    from .operators.ann_store import (
        _assign,
        ivf_codes_path,
        reencode_ivf_codes,
        train_pq_codebook,
    )

    spark = _spark()
    qn = _vector_qn(spark, args.vectors).cache()
    cb_path = os.path.join(args.index, "codebook")
    lists_path = os.path.join(args.index, "lists")
    cent = qn.orderBy("vec_id").limit(args.centroids).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    )
    cent.coalesce(1).write.mode("overwrite").parquet(cb_path)
    _assign(qn, spark.read.parquet(cb_path), 1).select(
        F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
    ).write.mode("overwrite").parquet(lists_path)
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
    vec_ids are reported as skipped."""
    from .operators.ann_store import ivf_insert_batch

    spark = _spark()
    qn_b = _vector_qn(spark, args.batch).cache()
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
    if r["compacted"]:
        msg += " lists=auto-compacted"
    qn_b.unpersist()
    print(msg)
    return 0


def cmd_search_ivfpq(args) -> int:
    """Query a persisted IVF-PQ index through the four on-disk
    artifacts (`ivfpq_store_search_plan` — the production query
    node; no training, no raw-vector scan beyond the query set).
    Queries are the --queries lowest vec_ids of --vectors."""
    from .operators.ann_store import ivf_codes_path, ivfpq_store_search_plan

    spark = _spark()
    qn = _vector_qn(spark, args.vectors)
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


def cmd_bucket_store(args) -> int:
    """Migrate a rep store's flat signature table and members table
    to the key-bucketed layout (or to a NEW bucket count) — the
    scan-bound migration for stores built before the bucketed layout
    (VERDICT r14: the admission step's last O(store) reads were the
    flat-store gh scan and the members doc_id projection; bucketing
    both bounds every per-step read by the batch's bucket
    footprint). Crash-safe rename-aside swap per table; admission
    evidence is invariant (the bucket is a pure pruning key)."""
    import os

    from .operators.dedup_store import bucket_table, members_path

    spark = _spark()
    r = bucket_table(spark, args.store, "gh", args.buckets)
    msg = f"store buckets: {r['buckets_before']}->{r['buckets_after']}"
    mem = members_path(args.store)
    if os.path.isdir(mem):
        rm = bucket_table(spark, mem, "doc_id", args.buckets)
        msg += f" members buckets: {rm['buckets_before']}->{rm['buckets_after']}"
    print(msg)
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
    sw.set_defaults(fn=cmd_watch)

    sr = sub.add_parser("rollup")
    sr.add_argument("log_dir")
    sr.add_argument("out")
    sr.add_argument("--once", action="store_true")
    sr.add_argument("--delete-logs", action="store_true")
    sr.add_argument("--checkpoint", default="/tmp/trace-rollup-ckpt")
    sr.set_defaults(fn=cmd_rollup)

    so = sub.add_parser("optimize")
    so.add_argument("path")
    so.add_argument("--time-col", default="time")
    so.add_argument("--target-files", type=int, default=1)
    so.set_defaults(fn=cmd_optimize)

    sb = sub.add_parser("build-store")
    sb.add_argument("docs", help="JSON-lines doc corpus (doc_id, text)")
    sb.add_argument("store", help="signature-store parquet path")
    sb.add_argument("--buckets", type=int, default=None,
                    help="key-bucket count for the flat store (gh) and "
                         "members (doc_id) layouts — admission reads "
                         "prune to the batch's buckets (default 16; "
                         "size to batch_keys << buckets at scale)")
    sb.set_defaults(fn=cmd_build_store)

    sm = sub.add_parser("admit")
    sm.add_argument("batch", help="JSON-lines batch of new docs")
    sm.add_argument("store", help="signature-store parquet path")
    sm.add_argument("--corpus", required=True,
                    help="JSON-lines docs covering candidate texts (verify side)")
    sm.add_argument("--evidence", default=None,
                    help="append verified pairs to this parquet path")
    sm.add_argument("--threshold", type=float, default=0.5)
    sm.add_argument("--no-append", action="store_true",
                    help="score only; do not grow the store")
    sm.set_defaults(fn=cmd_admit)

    sbv = sub.add_parser("build-vstore")
    sbv.add_argument("vectors", help="embeddings parquet (vec_id, embedding)")
    sbv.add_argument("store", help="hyperplane-store parquet path")
    sbv.add_argument("--buckets", type=int, default=None,
                     help="key-bucket count for the flat store (gh) and "
                          "members (doc_id) layouts (default 16)")
    sbv.set_defaults(fn=cmd_build_vstore)

    smv = sub.add_parser("admit-vectors")
    smv.add_argument("batch", help="vectors parquet batch (vec_id, embedding)")
    smv.add_argument("store", help="hyperplane-store parquet path")
    smv.add_argument("--vectors", required=True,
                     help="embeddings parquet covering candidate vectors "
                          "(verify side)")
    smv.add_argument("--evidence", default=None,
                     help="write verified group pairs under this parquet path")
    smv.add_argument("--threshold", type=float, default=None,
                     help="cosine threshold (default: the family constant)")
    smv.add_argument("--no-append", action="store_true",
                     help="score only; do not grow the store")
    smv.set_defaults(fn=cmd_admit_vectors)

    sk = sub.add_parser("compact-store")
    sk.add_argument("store")
    sk.add_argument("--target-files", type=int, default=1)
    sk.add_argument("--sort-col", default=None,
                    help="sort key for the flat-store pass (default: "
                         "derived from the store schema — bk0 for a text "
                         "signature store, bv0 for a vector store; pass "
                         "list_id for IVF lists)")
    sk.add_argument("--buckets", type=int, default=None,
                    help="re-bucket the banded index to this partition "
                         "count (migration: a store built at 16 buckets "
                         "gains pruning granularity without a rebuild)")
    sk.add_argument("--no-auto-rebucket", action="store_true",
                    help="skip the automatic rows/bucket check that "
                         "re-buckets the flat store and members tables "
                         "up when they cross the measured knee")
    sk.add_argument("--rebucket-trigger", type=int, default=None,
                    help="rows/bucket that triggers the automatic "
                         "re-bucket (default: the soak-derived knee, "
                         "4096)")
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
    sv.add_argument("--max-list", type=int, default=None,
                    help="after the refresh, split lists larger than this "
                         "(2-means, empty ids recycled first); overrides "
                         "the automatic split decision")
    sv.add_argument("--no-auto-split", action="store_true",
                    help="skip the automatic max-list check that splits "
                         "over-budget lists when they cross the measured "
                         "search-slope trigger")
    sv.add_argument("--split-trigger", type=int, default=None,
                    help="rows/list that triggers the automatic split "
                         "(default: the soak-derived 8192; target = "
                         "trigger/4)")
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

    sbk = sub.add_parser("bucket-store")
    sbk.add_argument("store", help="rep-store signatures parquet path")
    sbk.add_argument("--buckets", type=int, required=True,
                     help="new key-bucket count for the flat store and "
                          "members layouts")
    sbk.set_defaults(fn=cmd_bucket_store)

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
