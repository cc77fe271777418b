"""Signature-store lifecycle tests (operators/dedup_store.py).

The driver oracle proves sequential-two-batch ≡ one-shot-union on
the real corpus; these tests pin the lifecycle MECHANICS the oracle
can't see — that batch 2's matches really come from signatures
batch 1 APPENDED to the on-disk store, that store×store pairs are
never emitted, and that the store ends holding every doc seen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fdblog2clickhouse_spark import storage
from fdblog2clickhouse_spark.operators import ann_store, dedup_store, tables
from tests.oracle import compare
from tests.test_ann_store import _tree


def _write_ivf_lists(spark, path, rows):
    """(list_id, n_id) rows → an inverted-lists table, built the
    package's way (key-bucketed on list_id)."""
    tables.write_table(
        spark.createDataFrame(rows, "list_id long, n_id long"),
        path,
        "overwrite",
        key="list_id",
    )


def test_store_admission_matches_oracle(spark, sf_oracle):
    df = dedup_store.dedup_store_admission(spark, sf_oracle)
    compare(df, dedup_store._STORE_ADMISSION_SQL, sf_oracle)


_DOCS = [
    # base (doc_id % 10 not in {0, 5})
    (1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
    (2, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
    (3, "kilo lima mike november oscar papa quebec romeo sierra tango"),
    # batch 1 (doc_id % 10 == 0)
    (40, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
    (50, "uniform victor whiskey xray yankee zulu gamma beta epsilon theta"),
    # batch 2 (doc_id % 10 == 5): 45 duplicates a BATCH-1 doc only —
    # its pair can exist only if batch 2 read batch 1's appended
    # signatures from the store.
    (45, "uniform victor whiskey xray yankee zulu gamma beta epsilon theta"),
    (25, "solo document with no duplicate partner anywhere in corpus"),
]


@pytest.fixture()
def tiny_sf(spark, tmp_path):
    d = spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in _DOCS],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    d.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_lifecycle_mechanics(spark, tiny_sf):
    out = dedup_store.dedup_store_admission(spark, tiny_sf)
    pairs = {(r["da"], r["db"]) for r in out.collect()}
    # batch1 doc 40 vs both base copies; batch2 doc 45 vs batch1 doc
    # 50 — the store-append evidence.
    assert (45, 50) in pairs, "batch 2 did not see batch 1's appended signatures"
    assert (1, 40) in pairs and (2, 40) in pairs
    # base×base dup (1, 2) must NOT be admission evidence
    assert (1, 2) not in pairs
    # nothing matches the solo docs
    assert not any(25 in p or 3 in p for p in pairs)
    # canonical ordering
    assert all(da < db for da, db in pairs)


def test_store_holds_every_doc_seen(spark, tiny_sf):
    """The op's store under its own scratch dir is the rep store:
    membership holds every doc seen, the signatures one row per
    distinct token stream."""
    dedup_store.dedup_store_admission(spark, tiny_sf)
    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path

    root = scratch_path("minhash_store")
    members = tables.read_table(spark, root + "/members")
    assert sorted(r["doc_id"] for r in members.collect()) == [
        1, 2, 3, 25, 40, 45, 50,
    ]
    store = tables.read_table(spark, root + "/signatures")
    assert sorted(r["group_id"] for r in store.collect()) == [1, 3, 25, 50]
    assert store.columns == (
        ["group_id", "gh"] + [f"s{i}" for i in range(16)]
        + [f"bk{b}" for b in range(4)]
    )


def test_rerun_overwrites_scratch(spark, tiny_sf):
    """Two runs must not double-append (the scratch wipe): identical
    results both times."""
    a = sorted(map(tuple, dedup_store.dedup_store_admission(spark, tiny_sf).collect()))
    b = sorted(map(tuple, dedup_store.dedup_store_admission(spark, tiny_sf).collect()))
    assert a == b


def test_embedding_store_admission_matches_oracle(spark, sf_oracle):
    df = dedup_store.embedding_store_admission(spark, sf_oracle)
    compare(df, dedup_store._EMB_STORE_ADMISSION_SQL, sf_oracle)


def test_embedding_store_rerun_and_store_contents(spark, sf_oracle):
    """Rerun idempotence (scratch wipe) + the persisted vector rep
    store ends with every vector in membership and one sign-band
    signature row per distinct quantized vector."""
    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path

    a = sorted(
        map(tuple, dedup_store.embedding_store_admission(spark, sf_oracle).collect())
    )
    b = sorted(
        map(tuple, dedup_store.embedding_store_admission(spark, sf_oracle).collect())
    )
    assert a == b
    from fdblog2clickhouse_spark.sources.tables import table

    root = scratch_path("hyperplane_store")
    members = tables.read_table(spark, root + "/members")
    assert members.count() == table(spark, sf_oracle, "embeddings").count()
    store = tables.read_table(spark, root + "/signatures")
    assert store.count() == members.select("gh").distinct().count()
    assert store.columns == ["group_id", "gh"] + [f"bv{b}" for b in range(6)]


def test_streaming_store_admission_tiny_pairs(spark, tiny_sf):
    from fdblog2clickhouse_spark.streaming.rep_admission import (
        streaming_store_admission,
    )

    pairs = {
        (r["da"], r["db"]) for r in streaming_store_admission(spark, tiny_sf).collect()
    }
    assert (45, 50) in pairs and (1, 40) in pairs and (2, 40) in pairs
    assert (1, 2) not in pairs


# ------------------- representative (exact-dedup pre-pass) lifecycle

def test_rep_admission_matches_oracle(spark, sf_oracle):
    """The rep-store lifecycle against the UNCHANGED one-shot union
    oracle of the uncapped op — the hash match proves the exact-dedup
    pre-pass + membership expansion is semantics-preserving."""
    df = dedup_store.dedup_store_rep_admission(spark, sf_oracle)
    compare(df, dedup_store.ORACLE["dedup_store_rep_admission"], sf_oracle)


def test_rep_admission_tiny_mechanics(spark, tiny_sf):
    """Same crafted corpus as the lifecycle test: the persisted store
    holds one row per DISTINCT token stream and membership records
    the collapses."""
    import os

    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path

    out = dedup_store.dedup_store_rep_admission(spark, tiny_sf)
    pairs = {(r["da"], r["db"]) for r in out.collect()}
    assert pairs == {(1, 40), (2, 40), (45, 50)}

    root = scratch_path("rep_store")
    store = spark.read.parquet(os.path.join(root, "signatures"))
    assert sorted(r["group_id"] for r in store.collect()) == [1, 3, 25, 50]
    members = {
        r["doc_id"]: r["group_id"]
        for r in spark.read.parquet(os.path.join(root, "members")).collect()
    }
    assert members == {1: 1, 2: 1, 3: 3, 40: 1, 50: 50, 45: 50, 25: 25}


def test_rep_admission_touched_group_rescore(spark, tmp_path):
    """The expansion-completeness case the rescore exists for: doc 30
    (batch 1) is an exact dup of BASE doc 1, whose group near-dups
    base group {2} — a pure base×base group pair the original store
    build never scored. Admitting 30 must rescore the touched group,
    so (2, 30) appears with the cross-group jaccard while (1, 2)
    stays excluded (both base)."""
    t_a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    d = spark.createDataFrame(
        [
            (1, t_a, "en", "s", len(t_a)),
            (2, t_a + " mike november", "en", "s", len(t_a) + 14),
            (30, t_a, "en", "s", len(t_a)),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    d.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = dedup_store.dedup_store_rep_admission(spark, str(tmp_path))
    pairs = {(r["da"], r["db"]): r["jaccard"] for r in out.collect()}
    assert set(pairs) == {(1, 30), (2, 30)}
    assert pairs[(1, 30)] == 1.0
    assert 0.5 <= pairs[(2, 30)] < 1.0


def test_rep_admission_mega_bucket_store_linear(spark, tmp_path):
    """The point of the pre-pass: 90 identical docs (past the bulk
    ops' _LSH_BUCKET_CAP of 64, spread over base and both batches),
    whose admission contract is quadratic BY OUTPUT, still produce
    the full all-qualifying-pairs output, which the one-shot oracle
    matches, but the kernel's persisted state is O(distinct contents)
    — ONE signature row, zero group-level evidence rows."""
    import os

    import numpy as np
    import pandas as pd

    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path

    text = "mega bucket boilerplate sentence repeated verbatim in every copy"
    n = 90
    ids = list(range(1, n + 1))
    pd.DataFrame(
        {
            "doc_id": np.array(ids, dtype=np.int64),
            "text": [text] * n,
            "lang": ["en"] * n,
            "source": ["s"] * n,
            "n_chars": np.array([len(text)] * n, dtype=np.int64),
        }
    ).to_parquet(str(tmp_path / "documents.parquet"), index=False)

    out = dedup_store.dedup_store_rep_admission(spark, str(tmp_path))
    pairs = {(r["da"], r["db"]) for r in out.collect()}
    base = [i for i in ids if i % 10 not in (0, 5)]
    expect = {
        (a, b)
        for a in ids
        for b in ids
        if a < b and not (a in base and b in base)
    }
    assert pairs == expect
    assert len(pairs) == n * (n - 1) // 2 - len(base) * (len(base) - 1) // 2
    compare(out, dedup_store._STORE_ADMISSION_SQL, str(tmp_path))

    root = scratch_path("rep_store")
    assert spark.read.parquet(os.path.join(root, "signatures")).count() == 1
    assert spark.read.parquet(os.path.join(root, "evidence")).count() == 0
    assert spark.read.parquet(os.path.join(root, "members")).count() == n


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# small vocab → generated corpora are dense with exact dups AND
# partial-overlap near-dups, the regimes the rep collapse and the
# touched-group rescore must keep equivalent under
_VOCAB = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
          "golf", "hotel"]
_doc_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),  # doc_id: forces slice mix
        st.lists(st.sampled_from(_VOCAB), min_size=3, max_size=9),
    ),
    min_size=2,
    max_size=12,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_doc_strategy)
def test_rep_equals_uncapped_property(spark, tmp_path_factory, docs):
    """Randomized equivalence: for ARBITRARY small corpora (dense
    with exact dups and near-dups across all three arrival slices),
    the representative lifecycle must match the uncapped one-shot
    oracle on the same corpus under the driver's strict rules.
    Catches collapse / rescore / expansion edge cases no crafted
    corpus pins."""
    import os

    p = tmp_path_factory.mktemp("rep_prop")
    rows = [(i, " ".join(ws)) for i, ws in docs]
    d = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    d.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(p), "documents.parquet")
    )
    compare(
        dedup_store.dedup_store_rep_admission(spark, str(p)),
        dedup_store._STORE_ADMISSION_SQL,
        str(p),
    )


def test_rep_admission_step_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a COMMITTED batch
    through the shared step must be a no-op (skip path — the members
    anti-join finds nothing new), and replaying a PARTIALLY-committed
    one must converge without duplicate store/member rows (review
    finding, round 11: the streaming copy had lost the anti-join)."""
    import os

    from pyspark.sql import functions as F

    t_a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    base = spark.createDataFrame([(1, t_a)], "doc_id long, text string")
    g_base = dedup_store.rep_group_frame(base)
    sig = str(tmp_path / "sig")
    bands = str(tmp_path / "bands")
    mem = str(tmp_path / "mem")
    ev = str(tmp_path / "ev")
    dedup_store.bootstrap_rep_store(
        spark, *dedup_store.rep_store_frames(g_base), sig, bands, mem
    )

    batch = dedup_store.rep_group_frame(
        spark.createDataFrame(
            [(10, t_a + " mike november")], "doc_id long, text string"
        )
    )

    def feats_for(cand_ids):
        allg = dedup_store.rep_group_frame(
            spark.createDataFrame(
                [(1, t_a), (10, t_a + " mike november")],
                "doc_id long, text string",
            )
        )
        from fdblog2clickhouse_spark.functions.text import shingles_expr

        return allg.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id",
            F.array_distinct(F.expr(shingles_expr("t", 3))).alias("fs"),
        )

    writer = lambda v: v.write.mode("append").parquet(ev)  # noqa: E731
    s1 = dedup_store.rep_admission_step(
        spark, batch, sig, bands, mem, feats_for, writer,
        skip_when_no_new_docs=True,
    )
    assert s1 == {"new_docs": 1, "groups": 1, "new_groups": 1, "scored": True}
    # replay of the committed batch: pure no-op
    s2 = dedup_store.rep_admission_step(
        spark, batch, sig, bands, mem, feats_for, writer,
        skip_when_no_new_docs=True,
    )
    assert s2["scored"] is False
    assert sorted(
        r["group_id"] for r in spark.read.parquet(sig).collect()
    ) == [1, 10]
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(mem).collect()
    ) == [1, 10]
    assert sorted(
        (r["da"], r["db"]) for r in spark.read.parquet(ev).collect()
    ) == [(1, 10)]


def test_rep_signature_frame_equals_exploded_form(spark, sf_oracle):
    """rep_signature_frame inlines the in-row MinHash expressions
    (dedup._minhash_sig_inrow's shape) with gh carried through —
    this pins the two spellings byte-identical per group, so a
    drift in either copy of the permutation constants/expression
    breaks here, not silently in store contents. (The helper itself
    is not reused because generalizing it would touch dedup.py,
    whose greens are byte-pinned; the sync guard lives here
    instead.)"""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.sources.tables import table

    g = dedup_store.rep_group_frame(
        table(spark, sf_oracle, "documents").select("doc_id", "text")
    )
    reps = dedup_store.rep_reps(g)
    inrow = dedup_store.rep_signature_frame(reps).drop("gh")
    exploded = dedup_store.signature_frame(
        reps.select(
            F.col("group_id").alias("doc_id"),
            F.array_distinct(
                F.expr(
                    __import__(
                        "fdblog2clickhouse_spark.functions.text",
                        fromlist=["shingles_expr"],
                    ).shingles_expr("t", 3)
                )
            ).alias("sh"),
        )
    ).withColumnRenamed("doc_id", "group_id")
    assert sorted(map(tuple, inrow.collect())) == sorted(
        map(tuple, exploded.collect())
    )


def test_banded_bucket_layout_is_persisted(spark, tmp_path):
    """The band index's bucket partition values are a function of the
    bucket count it was BUILT with; readers and appenders must honor
    the persisted layout, not in-process sizing — otherwise a changed
    sizing rule against an old index silently prunes to the wrong
    partitions (review finding, round 11)."""
    d = spark.createDataFrame(
        [
            (i, f"doc {i} words alpha{i} beta{i} gamma{i} delta{i}")
            for i in range(1, 15)
        ],
        "doc_id long, text string",
    )
    sigs = dedup_store.rep_signature_frame(
        dedup_store.rep_reps(dedup_store.rep_group_frame(d))
    )
    bands = str(tmp_path / "bands")
    dedup_store.write_banded_index(sigs, bands, "overwrite")
    # fresh builds auto-size from their own rows (r18): 14 groups × 4
    # bands → the 2-bucket floor
    built = tables.table_layout(bands)["buckets"]
    assert built == tables._auto_buckets(4 * sigs.count())

    gb = dedup_store.rep_group_frame(
        spark.createDataFrame(
            [(100, "doc 7 words alpha7 beta7 gamma7 delta7")],
            "doc_id long, text string",
        )
    )
    batch = dedup_store.rep_signature_frame(dedup_store.rep_reps(gb))

    orig = tables._BUILD_ROWS_PER_BUCKET
    try:
        # a sizing rule that would pick a far larger count for a NEW
        # build — existing index reads and appends must keep working
        tables._BUILD_ROWS_PER_BUCKET = 1
        got = {
            r["id"]
            for r in dedup_store.pruned_store_rows(spark, bands, batch).collect()
        }
        assert 7 in got, "pruned read bucketed with the wrong layout"
        dedup_store.write_banded_index(batch, bands, "append")
        assert tables.table_layout(bands)["buckets"] == built  # kept
        got2 = {
            r["id"]
            for r in dedup_store.pruned_store_rows(spark, bands, batch).collect()
        }
        assert 7 in got2 and 100 in got2
    finally:
        tables._BUILD_ROWS_PER_BUCKET = orig

    # compaction keeps the layout marker
    tables.compact_table(spark, bands, sort_col=dedup_store._INDEX_KEY)
    assert tables.table_layout(bands)["buckets"] == built


def test_pruned_store_rows_missing_index_raises_and_restores(spark, tmp_path):
    """A LOST band index must fail loudly (scoring against an
    implicitly-empty store side would silently drop every
    store×batch pair); a crash-interrupted compaction swap (.old
    present, path missing) is restored transparently."""
    import os

    import pytest

    d = spark.createDataFrame(
        [(i, f"doc {i} words alpha{i} beta{i} gamma{i}") for i in range(1, 9)],
        "doc_id long, text string",
    )
    sigs = dedup_store.rep_signature_frame(
        dedup_store.rep_reps(dedup_store.rep_group_frame(d))
    )
    bands = str(tmp_path / "bands")
    dedup_store.write_banded_index(sigs, bands, "overwrite")
    batch = sigs.limit(2)

    # crash window: renamed aside, swap unfinished → restored
    os.rename(bands, bands + ".old")
    rows = dedup_store.pruned_store_rows(spark, bands, batch)
    assert rows.count() > 0
    assert os.path.exists(bands) and not os.path.exists(bands + ".old")

    # genuinely lost → loud failure naming the table, not silent empty
    import shutil

    shutil.rmtree(bands)
    with pytest.raises(tables.StoreLayoutError, match="build-store"):
        dedup_store.pruned_store_rows(spark, bands, batch)


def test_streaming_rep_admission_matches_oracle_and_batch(spark, sf_oracle):
    """The streaming rep lifecycle (4 micro-batches, store + banded
    index + members growing under the stream) must hash-match the
    one-shot oracle AND byte-equal both batch spellings — slicing
    invariance, the rep collapse, and the pruned reads pinned at
    once."""
    from fdblog2clickhouse_spark.streaming.rep_admission import (
        streaming_rep_admission,
    )

    df = streaming_rep_admission(spark, sf_oracle)
    compare(df, dedup_store.ORACLE["dedup_store_rep_admission"], sf_oracle)
    streamed = sorted(map(tuple, df.collect()))
    batch_rep = sorted(
        map(tuple, dedup_store.dedup_store_rep_admission(spark, sf_oracle).collect())
    )
    assert streamed == batch_rep


def test_streaming_rep_admission_tiny_and_store_state(spark, tiny_sf):
    """Crafted-corpus mechanics + the persisted end state: the rep
    store holds one row per distinct token stream, membership maps
    every doc, and the banded index covers every group."""
    import os

    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path
    from fdblog2clickhouse_spark.streaming.rep_admission import (
        streaming_rep_admission,
    )

    pairs = {
        (r["da"], r["db"])
        for r in streaming_rep_admission(spark, tiny_sf).collect()
    }
    assert pairs == {(1, 40), (2, 40), (45, 50)}
    root = scratch_path("rep_admission_stream")
    store = spark.read.parquet(os.path.join(root, "signatures"))
    got = sorted(r["group_id"] for r in store.collect())
    # whichever of 45/50 ARRIVES first founds their shared group —
    # rotation file order is not doc_id order; the output pairs above
    # are invariant to that choice (the point of the oracle), the
    # group id deliberately is not.
    assert got in ([1, 3, 25, 45], [1, 3, 25, 50])
    g4550 = got[-1]
    members = {
        r["doc_id"]: r["group_id"]
        for r in spark.read.parquet(os.path.join(root, "members")).collect()
    }
    assert members == {
        1: 1, 2: 1, 3: 3, 40: 1, 50: g4550, 45: g4550, 25: 25,
    }
    bands = spark.read.parquet(os.path.join(root, "bands"))
    assert {r["group_id"] for r in bands.select("group_id").collect()} == set(
        got
    )


def _rep_store_rows(spark, root):
    """Each table of the rep store under `root` as a multiset of
    rows, every group id replaced by its member doc ids: which of two
    identical docs founds their group depends on arrival order."""
    from collections import Counter

    groups = {}
    for r in tables.read_table(spark, root + "/members").collect():
        groups.setdefault(r["group_id"], set()).add(r["doc_id"])
    groups = {g: frozenset(docs) for g, docs in groups.items()}

    def canon(r):
        return tuple(
            groups[v] if k == "group_id" else tuple(v) if isinstance(v, list) else v
            for k, v in sorted(r.asDict().items())
        )

    return {
        t: Counter(canon(r) for r in tables.read_table(spark, f"{root}/{t}").collect())
        for t in ("signatures", "bands", "members")
    }


def test_streaming_rep_admission_smoke(spark, tiny_sf):
    """Two micro-batches through the streaming rep admission: a batch
    replayed from the checkpoint changes no file of the store or its
    evidence, and the store equals the batch lifecycle's."""
    import os

    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path
    from fdblog2clickhouse_spark.streaming.rep_admission import (
        drain_rep_admission,
        stream_rep_admission,
    )

    text = dict(_DOCS)
    # two slices, so two rotations: the batch lifecycle's batch 1
    # (40, 50) and batch 2 (45, 25), each beside base docs
    order = [1, 40, 50, 2, 3, 45, 25]
    source = spark.createDataFrame(
        spark.sparkContext.parallelize([(i, text[i]) for i in order], 2),
        "doc_id long, text string",
    )
    out = stream_rep_admission(spark, source, dedup_store.TEXT, "rep_admission_smoke")
    assert {(r["da"], r["db"]) for r in out.collect()} == {(1, 40), (2, 40), (45, 50)}

    root = scratch_path("rep_admission_smoke")
    commits = root + "/rotations_ckpt/commits"
    assert sorted(n for n in os.listdir(commits) if n.isdigit()) == ["0", "1"]

    def files():
        got = {}
        for t in ("signatures", "bands", "members", "evidence"):
            for d, _, names in os.walk(os.path.join(root, t)):
                for n in names:
                    with open(os.path.join(d, n), "rb") as f:
                        got[os.path.relpath(os.path.join(d, n), root)] = f.read()
        return got

    before = files()
    # the last batch ran but its commit was lost: the restart replays it
    for n in ("1", ".1.crc"):
        if os.path.exists(os.path.join(commits, n)):
            os.remove(os.path.join(commits, n))
    drain_rep_admission(
        spark, source.schema, dedup_store.TEXT, root, dedup_store.TEXT.group_frame(source)
    )
    assert os.path.exists(os.path.join(commits, "1"))
    assert files() == before

    dedup_store.dedup_store_rep_admission(spark, tiny_sf)
    assert _rep_store_rows(spark, root) == _rep_store_rows(spark, scratch_path("rep_store"))


def test_banded_index_compaction_preserves_pruned_reads(spark, tmp_path):
    """OPTIMIZE FINAL for the band index: after appends leave
    multiple files per partition (including crash-leaked DUPLICATE
    rows), compaction must collapse each partition to one file,
    retire the duplicates, and leave every pruned read's result
    byte-identical. Also pins the crash window: a simulated crash
    between the rename-aside and the swap is restored on the next
    call."""
    import glob
    import os

    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [
            (i, f"doc {i} words alpha{i} beta{i} gamma{i} delta{i}")
            for i in range(1, 20)
        ],
        "doc_id long, text string",
    )
    sigs = dedup_store.rep_signature_frame(
        dedup_store.rep_reps(dedup_store.rep_group_frame(d))
    )
    bands = str(tmp_path / "bands")
    dedup_store.write_banded_index(sigs, bands, "overwrite")
    dedup_store.write_banded_index(sigs.limit(5), bands, "append")
    dedup_store.write_banded_index(sigs.limit(5), bands, "append")  # dup rows

    batch = sigs.limit(3)
    before = sorted(
        map(tuple, dedup_store.pruned_store_rows(spark, bands, batch).collect())
    )
    n_files = len(glob.glob(os.path.join(bands, "pb=*", "*.parquet")))

    def compact():
        return tables.compact_table(
            spark, bands, sort_col=dedup_store._INDEX_KEY
        )

    got = compact()
    assert got == n_files
    per_dir = [
        len(glob.glob(os.path.join(p, "*.parquet")))
        for p in glob.glob(os.path.join(bands, "pb=*"))
    ]
    assert per_dir and max(per_dir) == 1
    # duplicates retired permanently: raw row count equals distinct
    raw = spark.read.parquet(bands)
    assert raw.count() == raw.dropDuplicates().count()
    after = sorted(
        map(tuple, dedup_store.pruned_store_rows(spark, bands, batch).collect())
    )
    assert after == before
    # idempotent when already compact
    assert compact() == len(per_dir)

    # a crashed re-bucket's window: index renamed aside, new copy
    # not yet in place — compaction heals it before its listing
    os.rename(bands, bands + ".old")
    assert not os.path.exists(bands)
    compact()
    assert sorted(
        map(tuple, dedup_store.pruned_store_rows(spark, bands, batch).collect())
    ) == before


def test_pruned_store_read_has_partition_filters(spark, tmp_path):
    """The band index's store-side read must PRUNE: the scan plan
    carries non-empty PartitionFilters on its bucket column, so partitions
    the batch's band keys cannot match are never opened — the
    admit-side scaling fix (VERDICT r10 item #4). Also pins the
    functional contract: the pruned read returns a superset of the
    exact-(band, band_key) matches and nothing outside the batch's
    bucket footprint."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.plans.audit import formatted_plan

    d = spark.createDataFrame(
        [
            (i, f"doc {i} unique words alpha{i} beta{i} gamma{i} delta{i}")
            for i in range(1, 30)
        ],
        "doc_id long, text string",
    )
    g = dedup_store.rep_group_frame(d)
    sigs = dedup_store.rep_signature_frame(dedup_store.rep_reps(g))
    store = str(tmp_path / "store")
    sigs.write.parquet(store)
    bands = str(tmp_path / "bands")
    dedup_store.write_banded_index(
        spark.read.parquet(store), bands, "overwrite", buckets=16
    )

    gb = dedup_store.rep_group_frame(
        spark.createDataFrame(
            [(100, "doc 1 unique words alpha1 beta1 gamma1 delta1")],
            "doc_id long, text string",
        )
    )
    batch = dedup_store.rep_signature_frame(dedup_store.rep_reps(gb))
    pruned = dedup_store.pruned_store_rows(spark, bands, batch)
    plan = formatted_plan(pruned)
    assert "PartitionFilters: []" not in plan, plan
    assert "PartitionFilters:" in plan and "pb" in plan, plan

    # the exact-dup doc's group must be found through the pruned read
    # (completeness: pruning is a superset of exact matches) ...
    assert 1 in {r["id"] for r in pruned.collect()}
    # ... while actually skipping rows outside the batch's footprint
    full = spark.read.parquet(bands).count()
    assert pruned.count() < full, "pruned read did not skip any partitions"


# ----------------- embedding_store_rep_admission (vector rep store)


def _write_embeddings(spark, sf_dir, rows):
    """rows: [(vec_id, [float components])] → the embeddings table
    shape `_quantized` reads (vec_id, embedding array<float>,
    label)."""
    import os

    spark.createDataFrame(
        [(i, [float(x) for x in emb], 0) for i, emb in rows],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )


def test_embedding_rep_admission_matches_oracle(spark, sf_oracle):
    """The vector rep lifecycle vs the uncapped one-shot union SQL —
    the hash match proves the quantized-vector-hash pre-pass
    semantics-preserving."""
    df = dedup_store.embedding_store_rep_admission(spark, sf_oracle)
    compare(df, dedup_store.ORACLE["embedding_store_rep_admission"], sf_oracle)


def test_embedding_rep_mega_bucket_store_linear(spark, tmp_path):
    """The vector sibling of the text mega-bucket pin (VERDICT r11
    #1): 90 byte-identical vectors — the degenerate sign-band bucket
    that made the uncapped kernel quadratic — still produce the full
    all-qualifying-pairs OUTPUT, but the persisted store holds ONE
    signature row, the kernel sees zero group-level pairs, and every
    emitted pair carries the oracle's self-cosine arithmetic (NOT a
    1.0 literal: sqrt-of-rounded-square need not be exact)."""
    import math
    import os

    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path

    n = 90
    ids = list(range(1, n + 1))
    # q = [1, 2, -3, 1] → nq = 15; sqrt(15)² = 15.000000000000002, so
    # the self-cosine is provably ≠ 1.0 — the arithmetic the
    # expansion must reproduce.
    emb = [0.0001, 0.0002, -0.0003, 0.0001]
    _write_embeddings(spark, str(tmp_path), [(i, emb) for i in ids])

    out = dedup_store.embedding_store_rep_admission(spark, str(tmp_path))
    pairs = {(r["va"], r["vb"]): r["cosine"] for r in out.collect()}
    base = [i for i in ids if i % 10 not in (0, 5)]
    expect = {
        (a, b)
        for a in ids
        for b in ids
        if a < b and not (a in base and b in base)
    }
    assert set(pairs) == expect
    nq = 15.0
    self_cos = nq / (math.sqrt(nq) * math.sqrt(nq))
    assert self_cos != 1.0
    assert all(v == self_cos for v in pairs.values())

    root = scratch_path("hyperplane_rep_store")
    assert spark.read.parquet(os.path.join(root, "signatures")).count() == 1
    assert spark.read.parquet(os.path.join(root, "evidence")).count() == 0
    assert spark.read.parquet(os.path.join(root, "members")).count() == n


def test_embedding_rep_tiny_mechanics(spark, tmp_path):
    """Crafted corpus: an exact-dup group spanning base and both
    batches, a batch-only near-dup pair, a zero vector (null
    self-cosine — excluded on both engines), and a solo vector."""
    docs = [
        (1, [0.01, 0.02, 0.03, 0.04]),     # base; group A
        (30, [0.01, 0.02, 0.03, 0.04]),    # batch1; group A copy
        (45, [0.01, 0.02, 0.03, 0.04]),    # batch2; group A copy
        (2, [0.01, 0.02, 0.03, 0.041]),    # base; near-dup of A
        (25, [0.0, 0.0, 0.0, 0.0]),        # batch2; zero vector
        (35, [0.0, 0.0, 0.0, 0.0]),        # batch2; zero twin: null cos
        (3, [-0.04, 0.03, -0.02, 0.01]),   # base; solo
    ]
    _write_embeddings(spark, str(tmp_path), docs)
    out = dedup_store.embedding_store_rep_admission(spark, str(tmp_path))
    got = {(r["va"], r["vb"]) for r in out.collect()}
    # group A within-pairs with ≥1 non-base side + near-dup pairs
    # inherited through membership; never the base×base (1, 2) pair;
    # never the zero-vector pair (null cosine fails the threshold).
    assert (1, 30) in got and (1, 45) in got and (30, 45) in got
    assert (2, 30) in got and (2, 45) in got
    assert (1, 2) not in got
    assert not any(25 in p or 35 in p or 3 in p for p in got)
    compare(out, dedup_store._EMB_STORE_ADMISSION_SQL, str(tmp_path))


_vec_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),  # vec_id: slice mix
        st.lists(st.integers(min_value=-3, max_value=3), min_size=4, max_size=4),
    ),
    min_size=2,
    max_size=12,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_vec_strategy)
def test_emb_rep_equals_uncapped_property(spark, tmp_path_factory, vecs):
    """Randomized equivalence for the VECTOR store: on arbitrary small
    corpora dense with exact-dup vectors (tiny component alphabet),
    near-dups, and zero vectors, the rep lifecycle must match the
    uncapped one-shot oracle on the same corpus."""
    p = tmp_path_factory.mktemp("emb_rep_prop")
    _write_embeddings(
        spark, str(p), [(i, [k / 10000.0 for k in q]) for i, q in vecs]
    )
    compare(
        dedup_store.embedding_store_rep_admission(spark, str(p)),
        dedup_store._EMB_STORE_ADMISSION_SQL,
        str(p),
    )


# ------------------------------ banded-index re-bucket migration


def test_rebucket_banded_index_preserves_pruned_reads(spark, tmp_path):
    """The bucket-count migration (VERDICT r11 #3), on the band
    index: a store built small must be able to GAIN pruning
    granularity without invalidating the index — the marker updated
    atomically with the data (it rides in the staging dir through the
    same rename-aside swap as the compactors) and the pruned-read
    plan still carrying PartitionFilters at the larger count. Raw
    pruned-read equality is deliberately NOT the invariant — a finer
    layout prunes MORE (fewer bucket-collision rows), which is the
    migration's point — the admission contract is: the candidate set
    (exact band-key matches) is byte-identical, and the new read is
    a subset of the old superset."""
    import glob
    import os

    from fdblog2clickhouse_spark.plans.audit import formatted_plan

    def cands(bands, batch):
        rows = dedup_store.store_band_rows(batch, id_col="group_id")
        return sorted(
            map(
                tuple,
                dedup_store.candidates_from_rows(
                    dedup_store.pruned_store_rows(spark, bands, batch),
                    rows,
                    4,
                ).collect(),
            )
        )

    d = spark.createDataFrame(
        [
            (i, f"doc {i} unique words alpha{i} beta{i} gamma{i} delta{i}")
            for i in range(1, 40)
        ],
        "doc_id long, text string",
    )
    sigs = dedup_store.rep_signature_frame(
        dedup_store.rep_reps(dedup_store.rep_group_frame(d))
    )
    bands = str(tmp_path / "bands")
    dedup_store.write_banded_index(sigs, bands, "overwrite")
    # crash-leaked duplicate rows: the pruned read's dropDuplicates
    # absorbs them across the re-bucket
    dedup_store.write_banded_index(sigs.limit(4), bands, "append")
    # fresh builds auto-size (r18): a test-sized store gets the floor
    assert tables.table_layout(bands)["buckets"] == 2

    # batch: NEW ids carrying exact-dup texts of three store docs —
    # guaranteed band-key matches so the candidate pin is non-vacuous
    batch = dedup_store.rep_signature_frame(
        dedup_store.rep_reps(
            dedup_store.rep_group_frame(
                spark.createDataFrame(
                    [
                        (
                            100 + i,
                            f"doc {i} unique words alpha{i} beta{i} "
                            f"gamma{i} delta{i}",
                        )
                        for i in (1, 7, 13)
                    ],
                    "doc_id long, text string",
                )
            )
        )
    )
    def pruned_rows(bands, batch):
        return {
            (r["id"], tuple(r["ks"]), r["band"], r["band_key"])
            for r in dedup_store.pruned_store_rows(spark, bands, batch).collect()
        }

    rows_before = pruned_rows(bands, batch)
    cands_before = cands(bands, batch)
    assert cands_before, "batch produced no candidates — test is vacuous"

    got = tables.bucket_table(spark, bands, 256)
    assert got == {"buckets_before": 2, "buckets_after": 256}
    assert tables.table_layout(bands) == {
        "buckets": 256, "key": dedup_store._INDEX_KEY,
    }
    pruned = dedup_store.pruned_store_rows(spark, bands, batch)
    # finer layout prunes MORE, never less — and candidates survive
    assert pruned_rows(bands, batch) <= rows_before
    assert cands(bands, batch) == cands_before
    plan = formatted_plan(pruned)
    assert "PartitionFilters: []" not in plan, plan
    assert "PartitionFilters:" in plan and "pb" in plan, plan
    # higher granularity actually materialized in the hive layout
    pbs = {
        int(p.rsplit("pb=", 1)[1])
        for p in glob.glob(os.path.join(bands, "pb=*"))
    }
    assert max(pbs) >= 16, "no bucket value beyond the old bucket range"

    # no-op at the same count
    assert tables.bucket_table(spark, bands, 256) == {
        "buckets_before": 256,
        "buckets_after": 256,
    }

    # crash window: index renamed aside, new copy not yet in place —
    # the next call restores the complete .old index first
    os.rename(bands, bands + ".old")
    assert not os.path.exists(bands)
    tables.bucket_table(spark, bands, 64)
    assert tables.table_layout(bands)["buckets"] == 64
    assert cands(bands, batch) == cands_before

    # a marker-less (crashed-build) index refuses the migration
    os.remove(os.path.join(bands, tables._TBL_META))
    with pytest.raises(tables.StoreLayoutError, match="build-store"):
        tables.bucket_table(spark, bands, 256)


def test_streaming_emb_rep_matches_oracle_and_batch(spark, sf_oracle):
    """The VECTOR streaming rep lifecycle (4 micro-batches of
    quantized vectors, hyperplane store + int-keyed banded index +
    members growing under the stream) must hash-match the uncapped
    one-shot oracle AND byte-equal both batch spellings — slicing
    invariance, the vector rep collapse, the pruned reads, and the
    self-cosine expansion pinned at once."""
    from fdblog2clickhouse_spark.streaming.rep_admission import (
        streaming_embedding_rep_admission,
    )

    df = streaming_embedding_rep_admission(spark, sf_oracle)
    compare(df, dedup_store.ORACLE["embedding_store_admission"], sf_oracle)
    streamed = sorted(map(tuple, df.collect()))
    batch_rep = sorted(
        map(
            tuple,
            dedup_store.embedding_store_rep_admission(spark, sf_oracle).collect(),
        )
    )
    assert streamed == batch_rep


def test_streaming_emb_rep_mega_bucket_store_linear(spark, tmp_path):
    """90 byte-identical vectors arriving ACROSS micro-batches: the
    persisted hyperplane store still ends at ONE signature row, the
    membership table maps every arrival, evidence stays empty, and
    the expansion emits every qualifying pair with the oracle's
    self-cosine arithmetic — the online mode of the vector
    mega-bucket pin."""
    import math
    import os

    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path
    from fdblog2clickhouse_spark.streaming.rep_admission import (
        streaming_embedding_rep_admission,
    )

    n = 90
    ids = list(range(1, n + 1))
    emb = [0.0001, 0.0002, -0.0003, 0.0001]
    _write_embeddings(spark, str(tmp_path), [(i, emb) for i in ids])

    out = streaming_embedding_rep_admission(spark, str(tmp_path))
    pairs = {(r["va"], r["vb"]): r["cosine"] for r in out.collect()}
    base = [i for i in ids if i % 10 not in (0, 5)]
    expect = {
        (a, b)
        for a in ids
        for b in ids
        if a < b and not (a in base and b in base)
    }
    assert set(pairs) == expect
    nq = 15.0
    self_cos = nq / (math.sqrt(nq) * math.sqrt(nq))
    assert all(v == self_cos for v in pairs.values())

    root = scratch_path("emb_rep_admission_stream")
    assert spark.read.parquet(os.path.join(root, "signatures")).count() == 1
    assert spark.read.parquet(os.path.join(root, "evidence")).count() == 0
    assert spark.read.parquet(os.path.join(root, "members")).count() == n


def test_rebucket_banded_index_vector_family(spark, tmp_path):
    """The migration is family-agnostic: a VECTOR store's band index
    (int sign-band keys, one band hash per (band, band_key))
    re-buckets 2 → 64 with the candidate set invariant."""
    rows = [(i, [0.001 * i, -0.002 * i, 0.003, 0.0005 * (i % 7)]) for i in range(1, 40)]
    _write_embeddings(spark, str(tmp_path), rows)
    from fdblog2clickhouse_spark.operators.dedup import _quantized

    g = dedup_store.emb_rep_group_frame(_quantized(spark, str(tmp_path)))
    sigs = dedup_store.emb_rep_signature_frame(dedup_store.rep_reps(g, "q"))
    bands = str(tmp_path / "vbands")
    dedup_store.write_banded_index(
        sigs, bands, "overwrite", key_cols=dedup_store._EMB_KEY_COLS
    )
    # auto-sized fresh build (r18): test-sized store → the floor
    assert tables.table_layout(bands)["buckets"] == 2

    batch = sigs.limit(5)

    def cands():
        rows_ = dedup_store.store_band_rows(
            batch, dedup_store._EMB_KEY_COLS, id_col="group_id"
        )
        return sorted(
            map(
                tuple,
                dedup_store.candidates_from_rows(
                    dedup_store.pruned_store_rows(
                        spark, bands, batch, dedup_store._EMB_KEY_COLS
                    ),
                    rows_,
                    len(dedup_store._EMB_KEY_COLS),
                ).collect(),
            )
        )

    before = cands()
    assert before, "vector batch produced no candidates — test is vacuous"
    got = tables.bucket_table(spark, bands, 64)
    assert got == {"buckets_before": 2, "buckets_after": 64}
    assert tables.table_layout(bands)["buckets"] == 64
    assert cands() == before


def test_emb_group_hash_injective_over_nulls(spark):
    """ADVICE r12: the group hash must distinguish [1,NULL,2] from
    [1,2] — concat_ws silently drops NULL elements, so each element
    is sentinel-coalesced first. An EMPTY vector is not eligible at
    all (the group-frame-level rule, self-review r13 #4: it can
    produce no band rows and membership would re-classify it as new
    content forever)."""
    qn = spark.createDataFrame(
        [
            (1, [1, None, 2], 0),
            (2, [1, 2], 0),
            (3, [None], 0),
            (4, [], 0),
        ],
        "vec_id long, q array<long>, nq long",
    )
    g = dedup_store.emb_rep_group_frame(qn)
    hashes = {r["doc_id"]: r["gh"] for r in g.collect()}
    assert set(hashes) == {1, 2, 3}  # the empty vector is excluded
    assert len(set(hashes.values())) == 3


def test_emb_rep_signature_skips_empty_vectors(spark):
    """ADVICE r12: an empty q must emit NO signature row (the
    exploded builder and the oracle emit no band rows for it), not
    an all-bits-set signature that generates spurious candidates."""
    qn = spark.createDataFrame(
        [(1, [], 0), (2, [1000, -2000, 3000, 500], 14_250_000)],
        "vec_id long, q array<long>, nq long",
    )
    g = dedup_store.emb_rep_group_frame(qn)
    sigs = dedup_store.emb_rep_signature_frame(dedup_store.rep_reps(g, "q"))
    rows = sigs.collect()
    assert [r["group_id"] for r in rows] == [2]


# ------------------------------------------------------ retraction

_RETRACT_DOCS = [
    # group A: identical trio, rep = 1 (min)
    (1, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
    (2, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
    (11, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
    # group B: singleton
    (3, "kilo lima mike november oscar papa quebec romeo sierra tango"),
    # group C: pair, rep = 4
    (4, "uniform victor whiskey xray yankee zulu gamma beta epsilon theta"),
    (14, "uniform victor whiskey xray yankee zulu gamma beta epsilon theta"),
]


def _build_rep_store(spark, tmp_path):
    """Base store over _RETRACT_DOCS via the same bootstrap the proof
    ops use. Returns (sig, bands, mem) paths."""
    d = spark.createDataFrame(_RETRACT_DOCS, "doc_id long, text string")
    sig = str(tmp_path / "signatures")
    bands = str(tmp_path / "bands")
    mem = str(tmp_path / "members")
    dedup_store.bootstrap_rep_store(
        spark,
        *dedup_store.rep_store_frames(dedup_store.rep_group_frame(d)),
        sig, bands, mem,
    )
    return sig, bands, mem


def _ids(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "doc_id long")


def test_retract_reelects_and_drops(spark, tmp_path):
    """Retracting group A's founding rep re-elects min survivor;
    retracting a whole group drops it from the live store."""
    sig, bands, mem = _build_rep_store(spark, tmp_path)
    stats = dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1, 3))
    assert stats == {"retracted": 2, "dropped_groups": 1, "reelected": 1}

    live_m = dedup_store.live_members(spark, mem, sig)
    rows = {(r["doc_id"], r["group_id"]) for r in live_m.collect()}
    assert rows == {(2, 2), (11, 2), (4, 4), (14, 4)}  # A relabeled to 2, B gone

    live_s = dedup_store.live_store_sigs(spark, sig)
    assert {r["group_id"] for r in live_s.collect()} == {2, 4}

    # physical tables untouched (sidecar design): raw reads unchanged
    assert spark.read.parquet(mem).count() == 6
    assert {r["group_id"] for r in spark.read.parquet(sig).collect()} == {1, 3, 4}


def test_retract_is_idempotent_and_composes(spark, tmp_path):
    """Re-retracting already-gone ids is a no-op; a second retraction
    that takes the RE-ELECTED rep composes onto the stored id (the
    gdelta chain collapses to stored -> latest)."""
    sig, bands, mem = _build_rep_store(spark, tmp_path)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1))
    again = dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1))
    assert again == {"retracted": 0, "dropped_groups": 0, "reelected": 0}

    # now retract the re-elected rep (2): group A must re-elect 11
    stats = dedup_store.retract_docs(spark, sig, mem, _ids(spark, 2))
    assert stats["reelected"] == 1
    live_m = dedup_store.live_members(spark, mem, sig)
    assert {(r["doc_id"], r["group_id"]) for r in live_m.collect()} == {
        (11, 11), (3, 3), (4, 4), (14, 4),
    }
    gd = spark.read.parquet(dedup_store.gdelta_path(sig)).collect()
    # the chained entry rewrites stored → latest AND keeps an entry
    # for the retired effective id 2 itself — members rows appended
    # under the live id between the two retractions carry 2
    # physically (self-review r13 finding #1)
    assert {(r["group_id"], r["new_group_id"]) for r in gd} == {(1, 11), (2, 11)}

    # retract the LAST survivor: the chained entry becomes a drop
    stats = dedup_store.retract_docs(spark, sig, mem, _ids(spark, 11))
    assert stats["dropped_groups"] == 1
    assert dedup_store.live_store_sigs(spark, sig).count() == 2  # B, C


def test_retracted_id_cannot_readmit_until_fold(spark, tmp_path):
    """The takedown-wins rule: a tombstoned doc_id anti-joins as
    'already seen' in the admission step until fold_retractions
    retires the tombstone with the physical row."""
    from pyspark.sql import functions as F

    sig, bands, mem = _build_rep_store(spark, tmp_path)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 3))

    batch = spark.createDataFrame(
        [(3, "kilo lima mike november oscar papa quebec romeo sierra tango")],
        "doc_id long, text string",
    )
    g_batch = dedup_store.rep_group_frame(batch)
    feats = dedup_store.TEXT.feats_for(g_batch)
    sink = []
    stats = dedup_store.rep_admission_step(
        spark, g_batch, sig, bands, mem, feats,
        lambda v: sink.append(v.count()),
        skip_when_no_new_docs=True,
    )
    assert stats["new_docs"] == 0  # tombstone blocks re-admission

    fold = dedup_store.fold_retractions(spark, sig, bands, mem)
    assert fold["folded"] is True
    import os

    assert not os.path.isdir(dedup_store.tombstones_path(mem))
    assert not os.path.isdir(dedup_store.gdelta_path(sig))
    # physical tables now ARE the live views
    assert spark.read.parquet(mem).count() == 5
    assert spark.read.parquet(sig).count() == 2

    stats = dedup_store.rep_admission_step(
        spark, g_batch, sig, bands, mem, feats,
        lambda v: sink.append(v.count()),
    )
    assert stats["new_docs"] == 1  # admits fresh after the fold
    assert dedup_store.live_members(spark, mem, sig).where(
        F.col("doc_id") == 3
    ).count() == 1


def test_retraction_fold_preserves_pruned_reads(spark, tmp_path):
    """After a re-election + fold, the band index (folded at its
    persisted layout) serves exactly the live groups with the new
    ids, and the layout marker survives."""
    sig, bands, mem = _build_rep_store(spark, tmp_path)
    lay_before = tables.table_layout(bands)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1, 3))
    dedup_store.fold_retractions(spark, sig, bands, mem)
    assert tables.table_layout(bands) == lay_before

    batch_sigs = spark.read.parquet(sig)  # probe with the store itself
    got = dedup_store.pruned_store_rows(spark, bands, batch_sigs)
    assert {r["id"] for r in got.collect()} == {2, 4}


def test_retract_ivf_vectors(spark, tmp_path):
    """IVF retraction is O(retracted): the physical lists table is
    byte-untouched (no rewrite, VERDICT r13 #2), the tombstone
    sidecar carries the takedown, live_ivf_lists composes it, and
    fold_ivf_tombstones rewrites the touched buckets + retires the
    sidecar."""
    import os

    lists = str(tmp_path / "lists")
    _write_ivf_lists(spark, lists, [(0, 1), (0, 2), (1, 3), (1, 4)])
    files_before = _tree(lists)

    stats = ann_store.retract_ivf_vectors(spark, lists, _ids(spark, 2, 3, 99))
    assert stats == {"tombstoned": 3}  # 99 tombstones too (never indexed)
    # physical table untouched — the whole point of the sidecar
    assert _tree(lists) == files_before
    assert tables.read_table(spark, lists).count() == 4
    live = {
        (r["list_id"], r["n_id"])
        for r in ann_store.live_ivf_lists(spark, lists).collect()
    }
    assert live == {(0, 1), (1, 4)}

    # a second retraction composes (sidecar union), still no rewrite
    stats = ann_store.retract_ivf_vectors(spark, lists, _ids(spark, 1, 2))
    assert stats == {"tombstoned": 4}
    assert _tree(lists) == files_before
    assert {
        (r["list_id"], r["n_id"])
        for r in ann_store.live_ivf_lists(spark, lists).collect()
    } == {(1, 4)}

    # fold: touched buckets rewritten, sidecar retired, live view unchanged
    assert ann_store.fold_ivf_tombstones(spark, lists)["folded"] is True
    assert not os.path.isdir(ann_store.ivf_tombstones_path(lists))
    assert {
        (r["list_id"], r["n_id"])
        for r in tables.read_table(spark, lists).collect()
    } == {(1, 4)}
    # idempotent: folding again is a no-op
    assert ann_store.fold_ivf_tombstones(spark, lists) == {"folded": False}


def test_rep_admission_redelivered_tombstoned_doc(spark, tmp_path):
    """ADVICE r13 (high): a redelivered RETRACTED doc whose group was
    dropped must not found a group — and a genuinely NEW doc with
    identical content arriving in the same batch must admit LIVE
    under its own id, not a dead one. Before the tombstone guard, the
    retracted doc's id (the batch min) became the new group id:
    either resurrected takedown content or routed the new doc's
    member row to a retired gdelta key (permanent silent loss)."""
    from pyspark.sql import functions as F

    sig, bands, mem = _build_rep_store(spark, tmp_path)
    # retract doc 3 — group C (singleton) drops entirely
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 3))

    # redeliver 3 alongside a NEW doc 30 with IDENTICAL content,
    # before any fold
    txt = "kilo lima mike november oscar papa quebec romeo sierra tango"
    batch = spark.createDataFrame(
        [(3, txt), (30, txt)], "doc_id long, text string"
    )
    g_batch = dedup_store.rep_group_frame(batch)
    feats = dedup_store.TEXT.feats_for(g_batch)
    stats = dedup_store.rep_admission_step(
        spark, g_batch, sig, bands, mem, feats, lambda v: v.count()
    )
    # only the new doc admits; the group id is 30 (the tombstoned 3
    # can neither found nor join groups)
    assert stats["new_docs"] == 1
    live_m = dedup_store.live_members(spark, mem, sig)
    assert {
        (r["doc_id"], r["group_id"])
        for r in live_m.where(F.col("doc_id").isin(3, 30)).collect()
    } == {(30, 30)}
    assert (
        dedup_store.live_store_sigs(spark, sig)
        .where(F.col("group_id") == 30)
        .count()
        == 1
    )
    # no live signature keyed by the retracted id survives
    assert (
        dedup_store.live_store_sigs(spark, sig)
        .where(F.col("group_id") == 3)
        .count()
        == 0
    )

    # fold retires the sidecars; the new doc's membership SURVIVES
    # the fold (the old bug physically deleted it) and 3 stays out
    dedup_store.fold_retractions(spark, sig, bands, mem)
    m = spark.read.parquet(mem)
    assert m.where(F.col("doc_id") == 30).count() == 1
    assert m.where(F.col("doc_id") == 3).count() == 0


def test_fold_refuses_markerless_banded_index(spark, tmp_path):
    """ADVICE r13: an index WITHOUT the layout marker (crashed
    overwrite build, or an index in a layout no code writes any more)
    must fail the fold loudly, naming the table and build-store —
    folding past it would retire the gdelta while stale band rows
    keyed by retired ids stay behind unfiltered. A MISSING index dir
    is refused the same way."""
    import os
    import shutil

    import pytest

    sig, bands, mem = _build_rep_store(spark, tmp_path)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1))
    os.remove(os.path.join(bands, tables._TBL_META))
    with pytest.raises(tables.StoreLayoutError, match=f"{bands}.*build-store"):
        dedup_store.fold_retractions(spark, sig, bands, mem)
    # sidecars still stand — nothing was retired
    assert os.path.isdir(dedup_store.gdelta_path(sig))

    shutil.rmtree(bands)
    with pytest.raises(tables.StoreLayoutError, match="is missing"):
        dedup_store.fold_retractions(spark, sig, bands, mem)
    assert os.path.isdir(dedup_store.gdelta_path(sig))


def test_retraction_oracle_parity(spark, sf_oracle):
    for name in ("dedup_store_retraction", "embedding_store_retraction"):
        compare(dedup_store.QUERIES[name](spark, sf_oracle),
                dedup_store.ORACLE[name], sf_oracle)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_doc_strategy)
def test_retraction_equals_never_admitted_property(spark, tmp_path_factory, docs):
    """Randomized retract-then-admit ≡ never-admitted, pure Spark (no
    oracle): the retraction lifecycle on the FULL corpus must produce
    byte-identical final-batch evidence to the same lifecycle on the
    pre-filtered SURVIVING corpus — where the retraction slice is
    empty by construction, so that run IS the never-admitted
    lifecycle. Arbitrary id mixes exercise rep re-elections, whole-
    group drops, retractions of docs in every arrival slice, and the
    no-op retraction, none of which a crafted corpus pins all at
    once."""
    import os

    def write_sf(p, rows):
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars int",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(str(p), "documents.parquet")
        )

    def retracted(i):
        return i % 7 == dedup_store._RETRACT_REM and i % 10 != dedup_store._BATCH1_REM

    rows = [(i, " ".join(ws)) for i, ws in docs]
    p_full = tmp_path_factory.mktemp("retr_prop_full")
    p_surv = tmp_path_factory.mktemp("retr_prop_surv")
    write_sf(p_full, rows)
    write_sf(p_surv, [(i, t) for i, t in rows if not retracted(i)])

    full = sorted(
        map(tuple, dedup_store.dedup_store_retraction(spark, str(p_full)).collect())
    )
    surv = sorted(
        map(tuple, dedup_store.dedup_store_retraction(spark, str(p_surv)).collect())
    )
    assert full == surv


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=_vec_strategy)
def test_emb_retraction_equals_never_admitted_property(
    spark, tmp_path_factory, vecs
):
    """The vector sibling of the retraction property — adds the
    self-cosine expansion over live membership (within-group pairs
    whose groups shrank under retraction) and zero vectors to the
    randomized surface."""
    def retracted(i):
        return i % 7 == dedup_store._RETRACT_REM and i % 10 != dedup_store._BATCH1_REM

    rows = [(i, [k / 10000.0 for k in q]) for i, q in vecs]
    p_full = tmp_path_factory.mktemp("emb_retr_full")
    p_surv = tmp_path_factory.mktemp("emb_retr_surv")
    _write_embeddings(spark, str(p_full), rows)
    _write_embeddings(spark, str(p_surv), [(i, q) for i, q in rows if not retracted(i)])

    full = sorted(
        map(
            tuple,
            dedup_store.embedding_store_retraction(spark, str(p_full)).collect(),
        )
    )
    surv = sorted(
        map(
            tuple,
            dedup_store.embedding_store_retraction(spark, str(p_surv)).collect(),
        )
    )
    assert full == surv


def test_retract_admit_retract_follows_late_members(spark, tmp_path):
    """Self-review r13 finding #1: a member admitted AFTER a
    re-election carries the then-live group id physically; when that
    re-elected rep is itself retracted, the late member must follow
    the group to the next rep instead of stranding in a phantom
    group with no signature row."""
    sig, bands, mem = _build_rep_store(spark, tmp_path)
    # retract founding rep 1 → group A = {2, 11} re-elected to 2
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1))

    # admit doc 21 with group A's exact content: membership row is
    # written under the LIVE id 2
    batch = spark.createDataFrame(
        [(21, _RETRACT_DOCS[0][1])], "doc_id long, text string"
    )
    g_batch = dedup_store.rep_group_frame(batch)
    dedup_store.rep_admission_step(
        spark, g_batch, sig, bands, mem,
        dedup_store.TEXT.feats_for(g_batch),
        lambda v: v.count(),
    )
    assert dedup_store.live_members(spark, mem, sig).where(
        "doc_id = 21 AND group_id = 2"
    ).count() == 1

    # retract the re-elected rep 2: the group {11, 21} re-elects 11,
    # and doc 21 (physical key 2) must follow
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 2))
    live = {
        (r["doc_id"], r["group_id"])
        for r in dedup_store.live_members(spark, mem, sig).collect()
    }
    assert (21, 11) in live and (11, 11) in live
    # the live store has a signature row for 11's group — no phantom
    assert dedup_store.live_store_sigs(spark, sig).where(
        "group_id = 11"
    ).count() == 1
    # and the fold persists the same state
    dedup_store.fold_retractions(spark, sig, bands, mem)
    folded = {
        (r["doc_id"], r["group_id"])
        for r in spark.read.parquet(mem).collect()
    }
    assert (21, 11) in folded and (11, 11) in folded


def test_fold_heals_crashed_swap_before_reading(spark, tmp_path):
    """Self-review r13 finding #2: a fold (or sidecar write) that
    crashed mid-rename leaves only path+'.old'; re-running
    fold_retractions must heal it instead of raising PATH_NOT_FOUND
    while building the live-view read plan."""
    import os

    sig, bands, mem = _build_rep_store(spark, tmp_path)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1))
    # simulate the crash window: members renamed aside, not replaced
    os.rename(mem, mem + ".old")
    fold = dedup_store.fold_retractions(spark, sig, bands, mem)
    assert fold["folded"] is True
    live = {
        (r["doc_id"], r["group_id"]) for r in spark.read.parquet(mem).collect()
    }
    assert live == {(2, 2), (11, 2), (3, 3), (4, 4), (14, 4)}


def test_compact_cli_heals_crashed_swap_before_sort_derivation(
    spark, tmp_path, capsys
):
    """Self-review r13 finding #3: compact-store's schema-derived
    sort key must heal a crash-interrupted swap (here a re-bucket's,
    the signature table left only at '.old') BEFORE reading the store
    schema, or the re-run that is supposed to repair the crash dies
    on PATH_NOT_FOUND."""
    import json
    import os

    from fdblog2clickhouse_spark import cli

    docs = tmp_path / "docs.json"
    docs.write_text("".join(
        json.dumps({"doc_id": i, "text": f"doc {i} alpha{i} beta{i} gamma{i}"}) + "\n"
        for i in range(10)
    ))
    p = str(tmp_path / "store")
    assert cli.main(["build-store", str(docs), p]) == 0
    os.rename(p, p + ".old")
    assert cli.main(["compact-store", p]) == 0
    assert "compacted:" in capsys.readouterr().out
    assert tables.read_table(spark, p).count() == 10
    assert not os.path.exists(p + ".old")


def test_streaming_admission_composes_mid_stream_retraction(spark, tmp_path):
    """The streaming cell of the retraction matrix: a takedown lands
    between two drain cycles of the foreachBatch admit loop (the
    operational shape — retractions run while the stream is idle or
    restarting). The second cycle's micro-batches must classify and
    score through the gdelta-composed store exactly like the batch
    paths: evidence lands on the re-elected rep, the dropped group
    is invisible, and the tombstoned id cannot re-admit."""
    import json
    import os

    from pyspark.sql import functions as F

    sig, bands, mem = _build_rep_store(spark, tmp_path)
    corpus_rows = list(_RETRACT_DOCS) + [
        (40, _RETRACT_DOCS[0][1]),              # exact dup of group A
        (50, _RETRACT_DOCS[4][1] + " extra"),   # near-dup of C's content
        (60, _RETRACT_DOCS[3][1] + " extra"),   # near-dup of DROPPED B
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    g_all = dedup_store.rep_group_frame(corpus).cache()

    from fdblog2clickhouse_spark.functions.text import shingles_expr

    evidence = str(tmp_path / "evidence")

    def feats_for(cand_ids):
        return g_all.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id",
            F.array_distinct(F.expr(shingles_expr("t", 3))).alias("fs"),
        )

    def drain(rot_dir, ckpt):
        def admit(batch_df, batch_id):
            dedup_store.rep_admission_step(
                batch_df.sparkSession,
                dedup_store.rep_group_frame(batch_df),
                sig, bands, mem,
                feats_for,
                lambda v: v.write.mode("append").parquet(evidence),
                skip_when_no_new_docs=True,
            )

        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(rot_dir)
            .writeStream.foreachBatch(admit)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def write_rot(name, rows):
        d = tmp_path / name
        os.makedirs(d)
        with open(d / "r.json", "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        return str(d)

    # cycle 1: nothing controversial
    drain(write_rot("rot_a", [(40, _RETRACT_DOCS[0][1])]),
          str(tmp_path / "ckpt_a"))

    # takedown between cycles: group A's founding rep + ALL of group
    # B's original member (4 remains, 14 retracted → re-election);
    # also retract 3 entirely (group drop)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1, 3, 4))

    # cycle 2: 50 near-dups group C (rep re-elected to 14), 60
    # near-dups the DROPPED group B (must find nothing — the dropped
    # group's bands and sigs are invisible), and a redelivered 3
    # must not resurrect
    drain(
        write_rot("rot_b", [(50, _RETRACT_DOCS[4][1] + " extra"),
                            (60, _RETRACT_DOCS[3][1] + " extra"),
                            (3, _RETRACT_DOCS[3][1])]),
        str(tmp_path / "ckpt_b"),
    )
    live = dedup_store.live_members(spark, mem, sig)
    assert live.where("doc_id = 3").count() == 0
    assert live.where("doc_id = 1").count() == 0

    pairs = {
        (r["da"], r["db"])
        for r in dedup_store.expand_group_evidence(
            spark, evidence, mem, sig_path=sig
        ).collect()
    }
    # 50 scored vs group C through the RE-ELECTED rep 14 (4 is gone);
    # 60's content-match with retracted B yields NO ghost; expansion
    # emits only live members
    assert (14, 50) in pairs
    assert not any(60 in p for p in pairs)
    assert not any(1 in p or 3 in p or 4 in p for p in pairs)
    g_all.unpersist()


def test_retract_rerun_after_crashed_sidecar_swap_keeps_old_tombstones(
    spark, tmp_path
):
    """Self-review r14: a retract re-run after a crash that left only
    <tombstones>.old must COMPOSE with the earlier tombstones, not
    rebuild the sidecar from this run's ids alone (the unhealed read
    returned None and the writer's own healer then restored the old
    set only to delete it — permanent tombstone loss)."""
    import os

    sig, bands, mem = _build_rep_store(spark, tmp_path)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 3))
    tomb = dedup_store.tombstones_path(mem)
    # crash inside storage.commit: live dir renamed aside, staging lost
    os.rename(tomb, tomb + ".old")

    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 4))
    got = {
        r["doc_id"]
        for r in spark.read.parquet(tomb).collect()
    }
    assert got == {3, 4}  # 3 survived the crash-recovery
    live = dedup_store.live_members(spark, mem, sig)
    assert live.where(live["doc_id"].isin(3, 4)).count() == 0


def test_live_ivf_lists_heals_crashed_sidecar_swap(spark, tmp_path):
    """Self-review r14: every IVF reader must see the tombstones even
    when a crashed swap left only the sidecar's .old dir."""
    import os

    lists = str(tmp_path / "lists")
    _write_ivf_lists(spark, lists, [(0, 1), (0, 2), (1, 3)])
    ann_store.retract_ivf_vectors(spark, lists, _ids(spark, 2))
    tomb = ann_store.ivf_tombstones_path(lists)
    os.rename(tomb, tomb + ".old")

    live = {
        r["n_id"] for r in ann_store.live_ivf_lists(spark, lists).collect()
    }
    assert live == {1, 3}  # the takedown still filters


def test_sidecar_retirement_removes_swap_remnants(spark, tmp_path):
    """Self-review r14: retiring a folded sidecar must also remove a
    stale .old left by a storage.commit that crashed before its final
    cleanup — the next heal would otherwise resurrect long-retired
    tombstones and silently delete re-inserted rows."""
    import os

    lists = str(tmp_path / "lists")
    _write_ivf_lists(spark, lists, [(0, 1), (0, 2)])
    ann_store.retract_ivf_vectors(spark, lists, _ids(spark, 1))
    tomb = ann_store.ivf_tombstones_path(lists)
    # simulate the crashed final-cleanup state: tomb AND a stale .old
    spark.createDataFrame([(2,)], "vec_id long").write.parquet(tomb + ".old")

    assert ann_store.fold_ivf_tombstones(spark, lists)["folded"] is True
    assert not os.path.isdir(tomb)
    assert not os.path.exists(tomb + ".old")
    # vec 2 (re-insertable content) is NOT ghost-filtered afterwards
    assert {
        r["n_id"] for r in ann_store.live_ivf_lists(spark, lists).collect()
    } == {2}


# --------------- key-bucketed flat store + members layout (round 15)
#
# VERDICT r14: the admission step's last O(store) reads were the flat
# signature store's gh scan and the members doc_id projection. The
# bucketed layout bounds both by the batch's bucket footprint; these
# tests pin the layout marker discipline, the pruned read's
# exactness AND its physical read bound, the refusal of layouts no
# code writes, the re-bucket swap, and compaction/fold layout
# preservation.


def _bucket_vals(ds, keys, col, buckets):
    expr = tables._tbl_pb_expr(keys.schema[col].dataType, col, buckets)
    return sorted(
        r[0] for r in keys.select(expr.alias("pb")).distinct().collect()
    )


def test_bucketed_table_roundtrip_and_pruned_read(spark, tmp_path):
    """write_table persists the layout marker, read_table hides the
    bucket column, and pruned_table (a) returns exactly the rows a
    full-scan semi-join needs and (b) physically opens ONLY the
    batch keys' partition dirs — the read bound is in inputFiles,
    not just the plan text."""
    import os

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    path = str(tmp_path / "sigs")
    df = spark.createDataFrame(
        [(i, f"gh{i}") for i in range(200)], "group_id long, gh string"
    )
    tables.write_table(df, path, "overwrite", key="gh", buckets=8)
    assert tables.table_layout(path) == {"buckets": 8, "key": "gh"}
    full = tables.read_table(spark, path)
    assert sorted(full.columns) == ["gh", "group_id"]
    assert full.count() == 200

    keys = spark.createDataFrame([("gh3",), ("gh17",)], "gh string")
    pr = tables.pruned_table(spark, path, keys)
    got = {
        (r["group_id"], r["gh"])
        for r in pr.join(keys, "gh", "left_semi").collect()
    }
    assert got == {(3, "gh3"), (17, "gh17")}
    # physical bound: every opened file lives in a selected bucket dir
    vals = _bucket_vals(ds, keys, "gh", 8)
    assert 0 < len(vals) <= 2
    for f in pr.inputFiles():
        assert any(f"/pb={v}/" in f for v in vals), f
    # and NOT the whole table (8 buckets of 200 uniform keys are all
    # populated; the prune must open at most |vals| of them)
    opened = {f.split("/pb=")[1].split("/")[0] for f in pr.inputFiles()}
    assert len(opened) <= len(vals)


def test_pruned_table_refuses_markerless_table(spark, tmp_path):
    """A table without the layout marker (the flat layout no code
    writes any more) is refused by every rep-store read and write,
    naming the table and build-store, and is left as it was."""
    import pytest

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    path = str(tmp_path / "flat")
    df = spark.createDataFrame(
        [(i, f"gh{i}") for i in range(20)], "group_id long, gh string"
    )
    df.write.parquet(path)
    keys = spark.createDataFrame([("gh3",)], "gh string")
    for call in (
        lambda: tables.table_layout(path),
        lambda: tables.pruned_table(spark, path, keys),
        lambda: tables.batch_bucket_vals(keys, [(path, "gh")]),
        lambda: tables.write_table(df, path, "append"),
        lambda: tables.bucket_table(spark, path, 4),
    ):
        with pytest.raises(tables.StoreLayoutError, match=f"{path}.*build-store"):
            call()
    assert spark.read.parquet(path).count() == 20


def test_auto_buckets_sizing():
    """Build-time bucket sizing (r18): smallest power of two keeping
    rows/bucket ≤ _BUILD_ROWS_PER_BUCKET, floored at 2, capped at
    _REBUCKET_MAX — so a small bootstrap writes few partition dirs
    (the measured write-overhead fix) while a huge one still bounds
    rows/bucket, and neither trips maybe_rebucket_table's 4096-row
    trigger on its first maintenance pass."""
    from fdblog2clickhouse_spark.operators import dedup_store as ds

    per = tables._BUILD_ROWS_PER_BUCKET
    assert tables._auto_buckets(0) == 2
    assert tables._auto_buckets(2 * per) == 2
    assert tables._auto_buckets(2 * per + 1) == 4
    assert tables._auto_buckets(16 * per) == 16
    assert tables._auto_buckets(10**12) == tables._REBUCKET_MAX
    # every sized build starts under the rebucket trigger
    for rows in (1, 5_000, 100_000, 10**7):
        b = tables._auto_buckets(rows)
        assert rows / b <= tables._REBUCKET_TRIGGER_ROWS or b == tables._REBUCKET_MAX


def test_write_table_build_auto_sizes_buckets(spark, tmp_path):
    """A fresh keyed build with no explicit bucket count derives it
    from the frame's own rows (one persist+count, then the write);
    appends keep honoring the auto-sized persisted layout."""
    from fdblog2clickhouse_spark.operators import dedup_store as ds

    path = str(tmp_path / "auto_sigs")
    df = spark.createDataFrame(
        [(i, f"gh{i}") for i in range(50)], "group_id long, gh string"
    )
    tables.write_table(df, path, "overwrite", key="gh")
    lay = tables.table_layout(path)
    assert lay["buckets"] == tables._auto_buckets(50) == 2
    # the build frame is left unpersisted (no cache leak)
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    # marker carries the exact row count (rebucket gate reads it free)
    assert tables._marker_rows(path) == 50
    tables.write_table(
        spark.createDataFrame([(99, "gh99")], "group_id long, gh string"),
        path,
        "append",
    )
    assert tables.table_layout(path)["buckets"] == 2
    assert tables.read_table(spark, path).count() == 51


def test_batch_bucket_vals_matches_per_table_collects(spark, tmp_path):
    """The combined one-job footprint collect (r18) returns exactly
    the bucket ids `pruned_table`'s own per-table collect derives —
    same marker-derived expression."""
    from fdblog2clickhouse_spark.operators import dedup_store as ds

    mem = str(tmp_path / "members")
    sig = str(tmp_path / "sigs")
    mems = spark.createDataFrame(
        [(i, f"gh{i % 7}", i) for i in range(40)],
        "doc_id long, gh string, group_id long",
    )
    sigs = spark.createDataFrame(
        [(i, f"gh{i}") for i in range(12)], "group_id long, gh string"
    )
    tables.write_table(mems, mem, "overwrite", key="doc_id", buckets=8)
    tables.write_table(sigs, sig, "overwrite", key="gh", buckets=4)

    batch = spark.createDataFrame(
        [(3, "gh3"), (11, "gh11"), (25, "gh25")], "doc_id long, gh string"
    )
    got = tables.batch_bucket_vals(batch, [(mem, "doc_id"), (sig, "gh")])
    # reference: what pruned_table's internal collect computes
    for vals, (path, kc) in zip(got, [(mem, "doc_id"), (sig, "gh")]):
        pb = tables._tbl_pb_expr(
            batch.schema[kc].dataType, kc, tables.table_layout(path)["buckets"]
        )
        ref = sorted(
            r[0]
            for r in batch.select(pb.alias("v")).distinct().collect()
            if r[0] is not None
        )
        assert vals == ref
    # and the pruned read fed with the precomputed vals matches the
    # self-collected one
    a = tables.pruned_table(spark, mem, batch.select("doc_id"), vals=got[0])
    b = tables.pruned_table(spark, mem, batch.select("doc_id"))
    assert sorted(r["doc_id"] for r in a.collect()) == sorted(
        r["doc_id"] for r in b.collect()
    )


def test_write_table_append_honors_persisted_layout(spark, tmp_path):
    """Appends bucket with the MARKER's layout (never in-process
    defaults)."""
    import glob
    import os

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    path = str(tmp_path / "sigs")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"gh{i}") for i in range(lo, hi)], "group_id long, gh string"
    )
    tables.write_table(mk(0, 50), path, "overwrite", key="gh", buckets=4)
    tables.write_table(mk(50, 80), path, "append")
    assert tables.table_layout(path) == {"buckets": 4, "key": "gh"}
    assert tables.read_table(spark, path).count() == 80
    # no stray top-level files: every row lives under a pb dir
    assert glob.glob(os.path.join(path, "*.parquet")) == []


def test_bucket_table_migration_and_rebucket(spark, tmp_path):
    """Re-bucket to a new count and back to the same one: rows
    invariant, the swap leaves no .old remnant, the same count is a
    no-op, and pruned reads stay exact at the new layout."""
    import os

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    path = str(tmp_path / "members")
    df = spark.createDataFrame(
        [(i, f"gh{i % 7}", i % 7) for i in range(100)],
        "doc_id long, gh string, group_id long",
    )
    tables.write_table(df, path, "overwrite", key="doc_id", buckets=8)
    r2 = tables.bucket_table(spark, path, 32)
    assert r2 == {"buckets_before": 8, "buckets_after": 32}
    assert tables.table_layout(path) == {"buckets": 32, "key": "doc_id"}
    assert tables.read_table(spark, path).count() == 100
    assert not os.path.exists(path + ".old")
    assert tables.bucket_table(spark, path, 32) == {
        "buckets_before": 32, "buckets_after": 32,
    }
    keys = spark.createDataFrame([(13,), (77,)], "doc_id long")
    got = {
        r["doc_id"]
        for r in tables.pruned_table(spark, path, keys)
        .join(keys, "doc_id", "left_semi")
        .collect()
    }
    assert got == {13, 77}


def test_compact_table_rewrites_only_multifile_buckets(spark, tmp_path):
    """compact_table compacts WITHIN each pb partition, and only the
    partitions holding more than one file: the marker's layout
    survives, the rows are the same, a crash-leaked duplicate row is
    retired, every partition holds one file after, single-file
    partitions are byte-identical, and the marker's row count equals
    the footer count. A second compaction changes nothing."""
    import glob
    import os

    path = str(tmp_path / "sigs")
    mk = lambda ids: spark.createDataFrame(
        [(i, f"gh{i}", f"bk{i % 3}") for i in ids],
        "group_id long, gh string, bk0 string",
    )
    tables.write_table(mk(range(40)), path, "overwrite", key="gh", buckets=8)
    # two appends touching at most three buckets; the second leaks a
    # duplicate of a built row
    tables.write_table(mk([40, 41]), path, "append")
    tables.write_table(mk([42, 7]), path, "append")
    before = {tuple(r) for r in tables.read_table(spark, path).collect()}
    tables._set_marker_rows(path, 44)  # what the re-bucket gate counts

    def per_dir():
        return {
            os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
            for d in glob.glob(os.path.join(path, "pb=*"))
        }

    counts = per_dir()
    single = [d for d, n in counts.items() if n == 1]
    assert max(counts.values()) > 1 and single
    trees = {d: _tree(os.path.join(path, d)) for d in single}
    assert tables.compact_table(spark, path, sort_col="bk0") == sum(counts.values())
    assert tables.table_layout(path) == {"buckets": 8, "key": "gh"}
    assert set(per_dir().values()) == {1}
    for d in single:
        assert _tree(os.path.join(path, d)) == trees[d], d
    rows = tables.read_table(spark, path).collect()
    assert len(rows) == 43 and {tuple(r) for r in rows} == before
    assert tables._marker_rows(path) == tables._footer_rows(path) == 43

    tree = _tree(path)
    assert tables.compact_table(spark, path, sort_col="bk0") == len(counts)
    assert _tree(path) == tree


def test_fold_retractions_preserves_bucketed_layout(spark, tmp_path):
    """fold_retractions' full rewrites go through the layout-
    preserving swap: after a retract + fold, both tables keep their
    markers, the tombstoned doc is physically gone, and the pruned
    admission reads still work."""
    import os

    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    docs = spark.createDataFrame(
        [(i, f"w{i} alpha beta gamma delta") for i in range(1, 9)],
        "doc_id long, text string",
    )
    sig = str(tmp_path / "sigs")
    band = str(tmp_path / "bands")
    mem = str(tmp_path / "members")
    g = ds.rep_group_frame(docs)
    reps = ds.rep_reps(g)
    tables.write_table(
        ds.rep_signature_frame(reps), sig, "overwrite", key="gh", buckets=4
    )
    ds.write_banded_index(tables.read_table(spark, sig), band, "overwrite")
    tables.write_table(
        g.select("doc_id", "gh")
        .join(reps.select("gh", "group_id"), "gh")
        .select("doc_id", "gh", "group_id"),
        mem,
        "overwrite",
        key="doc_id",
        buckets=4,
    )
    ds.retract_docs(
        spark, sig, mem, spark.createDataFrame([(3,)], "doc_id long")
    )
    fold = ds.fold_retractions(spark, sig, band, mem)
    assert fold["folded"] is True
    # granular under the bucketed layout: ONE bucket per table holds
    # the retracted singleton's rows
    assert fold["sig_parts"] == 1 and fold["mem_parts"] == 1
    assert 1 <= fold["index_parts"] <= 4
    assert tables.table_layout(sig) == {"buckets": 4, "key": "gh"}
    assert tables.table_layout(mem) == {"buckets": 4, "key": "doc_id"}
    assert not os.path.exists(sig + ".old") and not os.path.exists(mem + ".old")
    m = tables.read_table(spark, mem)
    assert m.where(F.col("doc_id") == 3).count() == 0
    assert m.count() == 7
    keys = spark.createDataFrame([(5,)], "doc_id long")
    assert (
        tables.pruned_table(spark, mem, keys).where(F.col("doc_id") == 5).count()
        == 1
    )


def test_integral_bucketing_survives_strided_id_spaces(spark, tmp_path):
    """Snowflake-style id spaces (low bits zero — here every id a
    multiple of 64) collapse under raw pmod bucketing: with 8
    buckets, pmod(64k, 8) = 0 for every row, so the 'pruned' read
    degenerates to a full scan of one mega-partition. The xxh64
    variant spreads them; pruned reads still return exactly the
    matching rows."""
    from fdblog2clickhouse_spark.operators import dedup_store as ds

    path = str(tmp_path / "strided")
    df = spark.createDataFrame(
        [(i * 64, f"g{i}") for i in range(64)], "doc_id long, gh string"
    )
    tables.write_table(df, path, "overwrite", key="doc_id", buckets=8)
    import glob
    import os

    dirs = glob.glob(os.path.join(path, "pb=*"))
    assert len(dirs) > 4, f"strided ids collapsed into {len(dirs)} buckets"
    keys = spark.createDataFrame([(128,), (640,)], "doc_id long")
    got = sorted(
        r["doc_id"]
        for r in tables.pruned_table(spark, path, keys)
        .join(keys, "doc_id", "left_semi")
        .collect()
    )
    assert got == [128, 640]


def test_pre_xxh64_marker_is_refused(spark, tmp_path):
    """A marker WITHOUT the pb field names the raw-pmod bucket
    expression no code writes any more: reads, appends and
    re-bucketing refuse it naming the table and build-store (never
    guessing the expression), and leave the table as it was."""
    import json
    import os

    import pytest

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    path = str(tmp_path / "old_marker")
    df = spark.createDataFrame(
        [(i, f"g{i}") for i in range(40)], "doc_id long, gh string"
    )
    tables.write_table(df, path, "overwrite", key="doc_id", buckets=4)
    with open(os.path.join(path, tables._TBL_META), "w") as f:
        json.dump(
            {"buckets": 4, "key": "doc_id", "schema": df.schema.json()}, f
        )
    keys = spark.createDataFrame([(7,), (22,)], "doc_id long")
    for call in (
        lambda: tables.pruned_table(spark, path, keys),
        lambda: tables.write_table(df, path, "append"),
        lambda: tables.bucket_table(spark, path, 8),
        lambda: tables.maybe_rebucket_table(spark, path),
        lambda: tables.compact_table(spark, path, sort_col="doc_id"),
    ):
        with pytest.raises(tables.StoreLayoutError, match=f"{path}.*build-store"):
            call()
    assert spark.read.parquet(path).count() == 40


def test_admission_step_heals_crashed_maintenance_swap(spark, tmp_path):
    """A fold/rebucket interrupted between its two renames leaves a
    table only at path+'.old'; the NEXT caller is usually an
    admission step, not a maintenance re-run — the step must heal
    before reading (the read_sidecar rule applied to the main
    tables) instead of dying on PATH_NOT_FOUND."""
    import os

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(40)],
        "doc_id long, text string",
    )
    g_all = ds.rep_group_frame(docs)
    g_base = g_all.where(ds._base_pred(F.col("doc_id")))
    reps = ds.rep_reps(g_base)
    sig = str(tmp_path / "sigs")
    band = str(tmp_path / "bands")
    mem = str(tmp_path / "members")
    tables.write_table(ds.rep_signature_frame(reps), sig, "overwrite", key="gh")
    ds.write_banded_index(tables.read_table(spark, sig), band, "overwrite")
    tables.write_table(
        g_base.select("doc_id", "gh")
        .join(reps.select("gh", "group_id"), "gh")
        .select("doc_id", "gh", "group_id"),
        mem,
        "overwrite",
        key="doc_id",
    )
    # simulate the crash window: table renamed aside, swap-in not done
    os.rename(sig, sig + ".old")
    os.rename(mem, mem + ".old")

    from fdblog2clickhouse_spark.functions.text import shingles_expr

    def feats_for(cand_ids):
        return g_all.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id",
            F.array_distinct(F.expr(shingles_expr("t", 3))).alias("fs"),
        )

    batch = g_all.where(ds._slice(F.col("doc_id"), ds._BATCH1_REM))
    out = ds.rep_admission_step(
        spark, batch, sig, band, mem, feats_for, lambda v: v.count()
    )
    assert out["new_docs"] > 0
    assert os.path.isdir(sig) and os.path.isdir(mem)
    assert not os.path.isdir(sig + ".old") and not os.path.isdir(mem + ".old")

def _build_bucketed_rep_store(spark, tmp_path, buckets=4, extra_docs=24):
    """_build_rep_store at explicit bucket counts, padded with
    `extra_docs` singleton docs so several buckets carry rows the
    fold must NOT touch. The index gets 4× the buckets (4 band rows
    per group: the same rows per bucket as the other two tables)."""
    docs = list(_RETRACT_DOCS) + [
        (100 + i, f"pad{i} one two three four five six seven eight nine")
        for i in range(extra_docs)
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    g = dedup_store.rep_group_frame(d)
    reps = dedup_store.rep_reps(g)
    sig = str(tmp_path / "signatures")
    bands = str(tmp_path / "bands")
    mem = str(tmp_path / "members")
    tables.write_table(
        dedup_store.rep_signature_frame(reps), sig, "overwrite",
        key="gh", buckets=buckets,
    )
    dedup_store.write_banded_index(
        tables.read_table(spark, sig), bands, "overwrite",
        buckets=4 * buckets,
    )
    tables.write_table(
        g.select("doc_id", "gh")
        .join(reps.select("gh", "group_id"), "gh")
        .select("doc_id", "gh", "group_id"),
        mem,
        "overwrite",
        key="doc_id",
        buckets=buckets,
    )
    return sig, bands, mem


def _partition_snapshot(path):
    """(relative file, size, mtime_ns) per partition dir — byte-
    invariance evidence for untouched partitions."""
    import glob
    import os

    snap = {}
    for d in glob.glob(os.path.join(path, "**", "*.parquet"),
                       recursive=True):
        rel = os.path.relpath(d, path)
        st = os.stat(d)
        snap.setdefault(os.path.dirname(rel), []).append(
            (os.path.basename(rel), st.st_size, st.st_mtime_ns)
        )
    return {k: sorted(v) for k, v in snap.items()}


def test_granular_fold_equivalence_and_byte_invariance(spark, tmp_path):
    """VERDICT r15 #2: the partition-granular fold materializes
    exactly the live view (same rows as the sidecar-composed reads
    it replaces) while leaving every partition WITHOUT affected rows
    byte-identical — the property that makes fold cost track the
    retracted set instead of the bucket count."""
    sig, bands, mem = _build_bucketed_rep_store(spark, tmp_path)
    # rep retraction (re-election) + whole-group drop + plain member
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1, 3, 14))
    live_s = {
        tuple(r)
        for r in dedup_store.live_store_sigs(spark, sig).collect()
    }
    live_m = {
        tuple(r) for r in dedup_store.live_members(spark, mem, sig).collect()
    }
    snap_sig = _partition_snapshot(sig)
    snap_mem = _partition_snapshot(mem)
    snap_band = _partition_snapshot(bands)

    fold = dedup_store.fold_retractions(spark, sig, bands, mem)
    assert fold["folded"] is True
    assert fold["sig_parts"] >= 1 and fold["mem_parts"] >= 1
    assert fold["index_parts"] >= 1

    # physical tables now ARE the pre-fold live views
    assert {
        tuple(r) for r in tables.read_table(spark, sig).collect()
    } == live_s
    assert {
        tuple(r) for r in tables.read_table(spark, mem).collect()
    } == live_m
    # untouched partitions byte-invariant (size AND mtime)
    for path, before in ((sig, snap_sig), (mem, snap_mem), (bands, snap_band)):
        after = _partition_snapshot(path)
        untouched_before = {
            k: v for k, v in before.items() if k in after and v == after[k]
        }
        rewritten = [k for k in before if before[k] != after.get(k)]
        assert untouched_before, f"every partition of {path} was rewritten"
        assert len(rewritten) <= {
            sig: fold["sig_parts"],
            mem: fold["mem_parts"],
            bands: fold["index_parts"],
        }[path]
    # the pruned admission read serves exactly the folded store's
    # live groups (probe with the store itself — every group's own
    # band keys select its partitions)
    got = dedup_store.pruned_store_rows(
        spark, bands, tables.read_table(spark, sig)
    )
    live_gids = {
        r["group_id"]
        for r in tables.read_table(spark, sig)
        .select("group_id")
        .collect()
    }
    assert {r["id"] for r in got.collect()} == live_gids


def test_granular_fold_tombstone_only_skips_sig_and_index(spark, tmp_path):
    """Retracting a NON-rep member of a surviving group writes a
    tombstone and a zero-row gdelta: the sig store and banded index
    are already physically correct, so the fold must leave BOTH
    entirely untouched (sig_parts == index_parts == 0) and rewrite
    only the members bucket holding the tombstoned doc."""
    sig, bands, mem = _build_bucketed_rep_store(spark, tmp_path)
    # doc 2: group A member, rep 1 survives, no re-election, no drop
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 2))
    snap_sig = _partition_snapshot(sig)
    snap_band = _partition_snapshot(bands)
    fold = dedup_store.fold_retractions(spark, sig, bands, mem)
    assert fold["folded"] is True
    assert fold["sig_parts"] == 0 and fold["index_parts"] == 0
    assert fold["mem_parts"] == 1
    assert _partition_snapshot(sig) == snap_sig
    assert _partition_snapshot(bands) == snap_band
    m = tables.read_table(spark, mem)
    assert m.where(m["doc_id"] == 2).count() == 0


def test_granular_fold_partial_crash_converges(spark, tmp_path):
    """A fold that crashes between the sig-store pass and the
    members pass leaves a consistent state (sidecars still stand, so
    every live view composes them over the half-folded tables) and a
    re-run CONVERGES: the already-folded table's affected-key scan
    finds nothing and rewrites zero partitions."""
    from pyspark.sql import functions as F

    sig, bands, mem = _build_bucketed_rep_store(spark, tmp_path)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1, 3))
    live_m = {
        tuple(r) for r in dedup_store.live_members(spark, mem, sig).collect()
    }
    # partial fold: sig only (the crash point after the first table)
    gd = spark.read.parquet(dedup_store.gdelta_path(sig))
    gd_keys = gd.select("group_id").distinct()
    assert tables._fold_table_granular(
        spark, sig, [(gd_keys, "group_id")], dedup_store._gdelta_fold(spark, sig)
    ) >= 1
    # live views still correct mid-crash (gdelta applies as no-op to
    # the already-folded sig rows)
    assert {
        tuple(r) for r in dedup_store.live_members(spark, mem, sig).collect()
    } == live_m
    assert (
        dedup_store.live_store_sigs(spark, sig)
        .where(F.col("group_id") == 3)
        .count()
        == 0
    )
    # re-run: sig pass finds nothing left, the rest completes
    fold = dedup_store.fold_retractions(spark, sig, bands, mem)
    assert fold["folded"] is True
    assert fold["sig_parts"] == 0  # converged — nothing re-rewritten
    assert fold["mem_parts"] >= 1
    assert {
        tuple(r) for r in tables.read_table(spark, mem).collect()
    } == live_m


def test_fold_crash_mid_swap_rerun_converges(spark, tmp_path, monkeypatch):
    """The crash-store family's fast check (tools/race_stress.py
    crash-store runs it with SIGKILLs): a fold that fails inside a
    table's journaled partition swap, with the journal on disk and
    one partition already swapped, is re-run, and the three tables
    then equal a never-crashed fold's, with no journal, aside,
    staging or sidecar left."""
    import glob
    import os
    import shutil

    crashed = _build_bucketed_rep_store(
        spark, tmp_path / "crashed", buckets=2, extra_docs=8
    )
    dedup_store.retract_docs(spark, crashed[0], crashed[2], _ids(spark, 1, 3))
    # the never-crashed twin: a byte copy of the retracted store
    shutil.copytree(tmp_path / "crashed", tmp_path / "clean")
    clean = tuple(str(tmp_path / "clean" / os.path.basename(p)) for p in crashed)
    dedup_store.fold_retractions(spark, *clean)

    def rows(paths):
        return [
            sorted(
                tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in tables.read_table(spark, p).collect()
            )
            for p in paths
        ]

    orig = storage._fold_swap_loop
    seen = []

    def crash_once(path, staging, rels, emptied, staged_files):
        if seen:
            return orig(path, staging, rels, emptied, staged_files)
        seen.append(path)
        assert os.path.exists(os.path.join(path, storage._FOLD_JOURNAL))
        orig(path, staging, rels[:1], emptied, staged_files)
        raise RuntimeError("injected crash mid-swap")

    monkeypatch.setattr(storage, "_fold_swap_loop", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        dedup_store.fold_retractions(spark, *crashed)
    assert seen
    assert dedup_store.fold_retractions(spark, *crashed)["folded"] is True

    assert rows(crashed) == rows(clean)
    sig, _, mem = crashed
    for side in (
        dedup_store.tombstones_path(mem),
        dedup_store.gdelta_path(sig),
        dedup_store.gdelta_keys_path(sig),
    ):
        assert not os.path.exists(side), side
    root = str(tmp_path / "crashed")
    left = [
        f
        for pat in (storage._FOLD_JOURNAL, ".bfold*", ".bpub-*", ".trash-*",
                    "*.bfold*", "*.old", storage.STAGING)
        for f in glob.glob(os.path.join(root, "**", pat), recursive=True)
    ]
    assert left == []


def test_heal_table_fold_crash_windows(spark, tmp_path):
    """The per-bucket swap's two crash windows: (a) live dir renamed
    aside, replacement not yet in place — heal restores the aside
    (roll-back is safe: sidecars outlive the fold); (b) swap
    completed but aside not yet removed — heal drops the remnant.
    Readers (read_table / pruned_table) heal before planning, so
    neither window can silently drop a bucket's rows."""
    import glob
    import json
    import os
    import shutil

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"g{i}") for i in range(32)], "doc_id long, gh string"
    )
    tables.write_table(df, path, "overwrite", key="doc_id", buckets=4)
    total = tables.read_table(spark, path).count()
    part = os.path.basename(glob.glob(os.path.join(path, "pb=*"))[0])

    # (a) mid-swap: live renamed aside, journal present
    os.rename(
        os.path.join(path, part),
        os.path.join(path, storage._BFOLD_PREFIX + part),
    )
    with open(os.path.join(path, storage._FOLD_JOURNAL), "w") as f:
        json.dump({"dirs": [part]}, f)
    # a raw read WOULD drop the bucket's rows; read_table heals first
    assert tables.read_table(spark, path).count() == total
    assert os.path.isdir(os.path.join(path, part))
    assert not os.path.exists(os.path.join(path, storage._FOLD_JOURNAL))

    # (b) completed swap, aside remnant left behind
    shutil.copytree(
        os.path.join(path, part),
        os.path.join(path, storage._BFOLD_PREFIX + part),
    )
    with open(os.path.join(path, storage._FOLD_JOURNAL), "w") as f:
        json.dump({"dirs": [part]}, f)
    keys = spark.createDataFrame([(1,)], "doc_id long")
    assert tables.pruned_table(spark, path, keys).count() >= 1
    assert not os.path.isdir(os.path.join(path, storage._BFOLD_PREFIX + part))
    assert tables.read_table(spark, path).count() == total


def test_maybe_rebucket_table_decision(spark, tmp_path, monkeypatch):
    """VERDICT r15 #3: the maintenance pass re-buckets UP when
    rows/bucket crosses the trigger, straight to the target ratio's
    power of two; under the trigger it no-ops; a marker-less table is
    refused, never auto-migrated."""
    from fdblog2clickhouse_spark.operators import dedup_store as ds

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"g{i}") for i in range(64)], "doc_id long, gh string"
    )
    tables.write_table(df, path, "overwrite", key="doc_id", buckets=2)
    before = {tuple(r) for r in tables.read_table(spark, path).collect()}

    # under the trigger: no-op
    monkeypatch.setattr(tables, "_REBUCKET_TRIGGER_ROWS", 64)
    monkeypatch.setattr(tables, "_REBUCKET_TARGET_ROWS", 16)
    rb = tables.maybe_rebucket_table(spark, path)
    assert rb == {
        "rebucketed": False, "rows": 64,
        "buckets_before": 2, "buckets_after": 2,
    }

    # over the trigger: jump to the target ratio
    monkeypatch.setattr(tables, "_REBUCKET_TRIGGER_ROWS", 16)
    monkeypatch.setattr(tables, "_REBUCKET_TARGET_ROWS", 4)
    rb = tables.maybe_rebucket_table(spark, path)
    assert rb["rebucketed"] is True
    assert rb["buckets_before"] == 2 and rb["buckets_after"] == 16
    assert tables.table_layout(path)["buckets"] == 16
    assert {tuple(r) for r in tables.read_table(spark, path).collect()} == before
    keys = spark.createDataFrame([(7,)], "doc_id long")
    assert tables.pruned_table(spark, path, keys).where("doc_id = 7").count() == 1

    # marker-less table: refused
    import pytest

    flat = str(tmp_path / "flat")
    df.write.parquet(flat)
    with pytest.raises(tables.StoreLayoutError, match="build-store"):
        tables.maybe_rebucket_table(spark, flat)

def test_heal_table_fold_banded_index_reader(spark, tmp_path):
    """The band index's crash window: a granular index fold that
    died between its two renames leaves a bucket partition only
    at its '.bfold-' aside — pruned_store_rows must heal before
    planning or the batch's candidates from that partition silently
    vanish (a missing dir is skipped by the explicit-dir listing)."""
    import glob
    import json
    import os

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    sig, bands, mem = _build_bucketed_rep_store(spark, tmp_path)
    batch_sigs = tables.read_table(spark, sig)
    want = {
        r["id"] for r in ds.pruned_store_rows(spark, bands, batch_sigs).collect()
    }
    assert want  # probe with the store itself: every group answers

    # crash state: one bucket dir renamed aside, journal present
    pb_dir = glob.glob(os.path.join(bands, "pb=*"))[0]
    parent, leaf = os.path.split(pb_dir)
    rel = leaf
    os.rename(pb_dir, os.path.join(parent, storage._BFOLD_PREFIX + leaf))
    with open(os.path.join(bands, storage._FOLD_JOURNAL), "w") as f:
        json.dump({"dirs": [rel]}, f)

    got = {
        r["id"] for r in ds.pruned_store_rows(spark, bands, batch_sigs).collect()
    }
    assert got == want  # healed before planning — nothing vanished
    assert os.path.isdir(pb_dir)
    assert not os.path.exists(os.path.join(bands, storage._FOLD_JOURNAL))


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    retract=st.lists(
        st.sampled_from([1, 2, 3, 4, 11, 14, 100, 101, 102, 103]),
        min_size=1,
        max_size=6,
        unique=True,
    )
)
def test_granular_fold_matches_live_views_property(spark, tmp_path_factory, retract):
    """Property: for ANY retraction set over the bucketed store, the
    partition-granular fold materializes exactly the pre-fold live
    views (drops, re-elections, chained relabels included) and
    leaves no sidecars — i.e. granular fold ≡ the live views the
    full rewrite used to materialize, across the whole retraction
    semantics space, not just the hand-picked cases."""
    tmp_path = tmp_path_factory.mktemp("gfoldprop")
    sig, bands, mem = _build_bucketed_rep_store(spark, tmp_path, extra_docs=6)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, *retract))
    live_s = {
        tuple(r) for r in dedup_store.live_store_sigs(spark, sig).collect()
    }
    live_m = {
        tuple(r) for r in dedup_store.live_members(spark, mem, sig).collect()
    }
    fold = dedup_store.fold_retractions(spark, sig, bands, mem)
    assert fold["folded"] is True
    assert {
        tuple(r) for r in tables.read_table(spark, sig).collect()
    } == live_s
    assert {
        tuple(r) for r in tables.read_table(spark, mem).collect()
    } == live_m
    import os

    assert not os.path.isdir(dedup_store.tombstones_path(mem))
    assert not os.path.isdir(dedup_store.gdelta_path(sig))
    # the index serves exactly the live groups after the granular fold
    got = dedup_store.pruned_store_rows(
        spark, bands, tables.read_table(spark, sig)
    )
    assert {r["id"] for r in got.collect()} == {
        r["group_id"]
        for r in tables.read_table(spark, sig).select("group_id").collect()
    }


def test_heal_table_fold_corrupt_journal(spark, tmp_path):
    """ADVICE r16 (medium): heal runs on EVERY read path, so an
    unreadable journal (the writer crashed inside the journal write,
    pre-atomic-rename) must be recovered, not raise JSONDecodeError
    forever. Recovery = drop journal + staging, restore asides found
    by glob (missing live → the aside IS the partition; live present
    → stale remnant, dropped)."""
    import glob
    import os
    import shutil

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"g{i}") for i in range(32)], "doc_id long, gh string"
    )
    tables.write_table(df, path, "overwrite", key="doc_id", buckets=4)
    total = tables.read_table(spark, path).count()
    parts = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(path, "pb=*"))
    )

    # (1) truncated journal, no swap started: staging remnant dropped
    with open(os.path.join(path, storage._FOLD_JOURNAL), "w") as f:
        f.write('{"dirs": ["pb=')  # the mid-write crash
    os.makedirs(path + ".bfold/pb=0", exist_ok=True)
    assert tables.read_table(spark, path).count() == total
    assert not os.path.exists(os.path.join(path, storage._FOLD_JOURNAL))
    assert not os.path.exists(path + ".bfold")

    # (2) corrupt journal + an aside whose live dir is missing (an
    # EARLIER completed heal's leftovers): restored by glob
    os.rename(
        os.path.join(path, parts[0]),
        os.path.join(path, storage._BFOLD_PREFIX + parts[0]),
    )
    # (3) ... and an aside whose live dir is present: dropped
    shutil.copytree(
        os.path.join(path, parts[1]),
        os.path.join(path, storage._BFOLD_PREFIX + parts[1]),
    )
    with open(os.path.join(path, storage._FOLD_JOURNAL), "w") as f:
        f.write("not json at all")
    assert tables.read_table(spark, path).count() == total
    assert os.path.isdir(os.path.join(path, parts[0]))
    assert not os.path.exists(
        os.path.join(path, storage._BFOLD_PREFIX + parts[0])
    )
    assert not os.path.exists(
        os.path.join(path, storage._BFOLD_PREFIX + parts[1])
    )
    assert not os.path.exists(os.path.join(path, storage._FOLD_JOURNAL))
    assert tables.read_table(spark, path).count() == total


def test_granular_fold_journal_written_atomically(spark, tmp_path, monkeypatch):
    """The journal write itself goes through tmp + rename (ADVICE
    r16): at no instant does a partially-written _fold_inflight.json
    exist under its live name. Pinned by intercepting json.dump to
    assert the open file's name is the tmp name."""
    import json as json_mod
    import os

    from fdblog2clickhouse_spark.operators import dedup_store as ds

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"g{i}") for i in range(32)], "doc_id long, gh string"
    )
    tables.write_table(df, path, "overwrite", key="doc_id", buckets=4)

    seen = []
    real_dump = json_mod.dump

    def spy(obj, fh, *a, **k):
        seen.append(fh.name)
        return real_dump(obj, fh, *a, **k)

    monkeypatch.setattr(json_mod, "dump", spy)
    # drive the rewrite primitive directly: stage a copy of the
    # table and swap one partition under the journal
    import shutil

    staging = storage._fold_staging_path(path)
    live0 = [p for p in os.listdir(path) if p.startswith("pb=")][0]
    shutil.copytree(path, staging, ignore=shutil.ignore_patterns("_*"))
    # r18 signature: the caller passes the semantic emptied set
    tables._publish_fold(path, staging, [live0], set())
    assert seen and all(n.endswith(".tmp") for n in seen)
    # the journal and both marker row-count writes went through the spy
    meta_tmp = os.path.join(path, tables._TBL_META) + ".tmp"
    assert seen.count(meta_tmp) == 2
    assert not os.path.exists(os.path.join(path, storage._FOLD_JOURNAL))


def test_gdelta_keys_recorded_accumulated_retired(spark, tmp_path):
    """VERDICT r16 #5: retract_docs records the (gh, doc_id) bucket
    keys of every changed group's member beside the gdelta; a second
    retraction accumulates; the fold retires the sidecar with the
    gdelta."""
    import os

    sig, bands, mem = _build_bucketed_rep_store(spark, tmp_path)
    keys_p = dedup_store.gdelta_keys_path(sig)

    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1))  # re-elect A
    assert os.path.isdir(keys_p)
    k1 = spark.read.parquet(keys_p)
    # A's members at retract time: docs 1, 2, 11 — one gh
    assert {r["doc_id"] for r in k1.collect()} == {1, 2, 11}
    assert k1.select("gh").distinct().count() == 1

    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 3))  # drop B
    k2 = spark.read.parquet(keys_p)
    assert {r["doc_id"] for r in k2.collect()} == {1, 2, 11, 3}
    assert k2.select("gh").distinct().count() == 2

    fold = dedup_store.fold_retractions(spark, sig, bands, mem)
    assert fold["folded"] is True
    assert not os.path.exists(keys_p)
    assert not os.path.exists(dedup_store.gdelta_path(sig))


def test_fold_keys_fast_path_skips_table_scans(spark, tmp_path, monkeypatch):
    """With the bucket-key sidecar present, the granular fold's
    discovery never reads the raw tables whole: read_table is not
    called at all (discovery = recorded keys → candidate partitions
    → exact scan WITHIN them; the index's band hashes come from the
    PRUNED sig read), and the result still materializes exactly the live
    views."""
    sig, bands, mem = _build_bucketed_rep_store(spark, tmp_path)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1, 3, 14))
    live_s = {
        tuple(r) for r in dedup_store.live_store_sigs(spark, sig).collect()
    }
    live_m = {
        tuple(r) for r in dedup_store.live_members(spark, mem, sig).collect()
    }

    real = tables.read_table
    calls = []

    def spy(spark_, path_):
        calls.append(path_)
        return real(spark_, path_)

    # the fold reads through both modules: dedup_store's own calls
    # and the granular fold's discovery in `tables`
    monkeypatch.setattr(dedup_store, "read_table", spy)
    monkeypatch.setattr(tables, "read_table", spy)
    fold = dedup_store.fold_retractions(spark, sig, bands, mem)
    monkeypatch.undo()
    assert fold["folded"] is True
    assert fold["sig_parts"] >= 1 and fold["index_parts"] >= 1
    assert calls == [], f"fast path read tables whole: {calls}"
    assert {
        tuple(r) for r in tables.read_table(spark, sig).collect()
    } == live_s
    assert {
        tuple(r) for r in tables.read_table(spark, mem).collect()
    } == live_m


def test_gdelta_without_keys_sidecar_is_refused(spark, tmp_path):
    """A gdelta without its bucket-key sidecar is a sidecar pair no
    code writes any more (retract_docs writes keys first and the fold
    retires them last): a further retraction and the fold both refuse
    it, naming build-store, and leave the sidecars as they were."""
    import os
    import shutil

    import pytest

    sig, bands, mem = _build_bucketed_rep_store(spark, tmp_path)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1))
    keys_p = dedup_store.gdelta_keys_path(sig)
    shutil.rmtree(keys_p)

    with pytest.raises(tables.StoreLayoutError, match="build-store"):
        dedup_store.retract_docs(spark, sig, mem, _ids(spark, 3))
    with pytest.raises(tables.StoreLayoutError, match="build-store"):
        dedup_store.fold_retractions(spark, sig, bands, mem)
    assert not os.path.exists(keys_p)
    assert os.path.isdir(dedup_store.gdelta_path(sig))
    assert os.path.isdir(dedup_store.tombstones_path(mem))


def test_fold_index_falls_back_when_dropped_sigs_already_folded(
    spark, tmp_path
):
    """The one crash state where deriving band hashes from the sig
    store would LEAK: sig fold completed (dropped group's sig rows
    gone), index fold not, re-run. The recorded gh then has no sig
    rows left — the index fold must detect that and fall back to its
    scan, so the dropped group's index rows still leave disk."""
    sig, bands, mem = _build_bucketed_rep_store(spark, tmp_path)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 3))  # drop B
    gd = spark.read.parquet(dedup_store.gdelta_path(sig))
    gd_keys = gd.select("group_id").distinct()
    # the crash: sig folded, index not
    assert tables._fold_table_granular(
        spark, sig, [(gd_keys, "group_id")], dedup_store._gdelta_fold(spark, sig)
    ) >= 1
    assert (
        spark.read.parquet(bands).where("group_id = 3").count() > 0
    )  # the would-be leak

    fold = dedup_store.fold_retractions(spark, sig, bands, mem)
    assert fold["folded"] is True
    assert fold["index_parts"] >= 1  # the scan fallback found them
    assert spark.read.parquet(bands).where("group_id = 3").count() == 0


# ---------------- maintainer-vs-reader race machinery (ADVICE r17 /
# VERDICT r17 #2): swaps retry through racing reader heals; heals
# tolerate losing their own races; folds abort-then-converge, never
# losing rows, when a cross-process heal rolls them back mid-flight.


def _mkdir_with(path, name, content):
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write(content)


def test_swap_aside_survives_racing_heal(tmp_path, monkeypatch):
    """A reader's heal_swap firing inside the writer's swap window
    (between rename(live→old) and rename(staging→live)) restores the
    superseded table; the writer's `_swap_aside` retries through it
    instead of aborting (ADVICE r17)."""
    import os

    live = str(tmp_path / "tbl")
    staging = live + ".staging"
    _mkdir_with(live, "a.txt", "old")
    _mkdir_with(staging, "b.txt", "new")

    real_rename = os.rename
    fired = []

    def racing(src, dst):
        real_rename(src, dst)
        if src == live and dst == live + ".old" and not fired:
            fired.append(1)
            storage.heal_swap(live)  # the reader in another process

    monkeypatch.setattr(os, "rename", racing)
    storage._swap_aside(live, staging)
    assert fired  # the race actually happened
    assert os.listdir(live) == ["b.txt"]
    assert not os.path.exists(live + ".old")
    assert not os.path.exists(staging)


def test_second_writer_aborts_not_corrupts_swap_aside(tmp_path, monkeypatch):
    """A PERSISTENT racer (a second writer re-creating the live dir
    every time — out of contract) exhausts the bounded retry: the
    swap raises with the live table AND staging both complete, and a
    re-run after the racer stops converges."""
    import os

    import pytest

    live = str(tmp_path / "tbl")
    staging = live + ".staging"
    _mkdir_with(live, "a.txt", "old")
    _mkdir_with(staging, "b.txt", "new")

    real_rename = os.rename

    def always_racing(src, dst):
        real_rename(src, dst)
        if src == live and dst == live + ".old":
            storage.heal_swap(live)

    monkeypatch.setattr(os, "rename", always_racing)
    with pytest.raises(RuntimeError, match="second"):
        storage._swap_aside(live, staging)
    # abort, not corruption: both complete
    assert os.listdir(live) == ["a.txt"]
    assert os.listdir(staging) == ["b.txt"]

    monkeypatch.setattr(os, "rename", real_rename)
    storage._swap_aside(live, staging)
    assert os.listdir(live) == ["b.txt"]
    assert not os.path.exists(staging)


def test_heal_swap_tolerates_losing_race(tmp_path, monkeypatch):
    """heal_swap's restore rename can lose to the writer completing
    its swap between heal's existence check and its rename — if the
    live path exists afterwards there is nothing to heal (no
    raise)."""
    import os

    path = str(tmp_path / "tbl")
    old = path + ".old"
    _mkdir_with(old, "a.txt", "old")

    real_rename = os.rename

    def lose(src, dst):
        if src == old and dst == path:
            # the writer's rename(staging→live) landed first
            _mkdir_with(path, "b.txt", "new")
            raise OSError(39, "Directory not empty")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", lose)
    storage.heal_swap(path)  # must not raise
    assert os.listdir(path) == ["b.txt"]


def test_fold_aborts_cleanly_when_reader_heal_rolls_back(
    spark, tmp_path, monkeypatch
):
    """A cross-process reader's heal_table_fold firing mid-fold rolls
    the fold back (restores asides, clears staging+journal). The fold
    writer must ABORT with the table intact — in particular it must
    NOT mistake the vanished staging for 'the fold emptied these
    partitions' and retire live rows (the ADVICE r17 data-loss mode
    the explicit journal 'emptied' list closes) — and a re-run must
    converge."""
    import os

    import pytest

    sig, bands, mem = _build_bucketed_rep_store(spark, tmp_path)
    dedup_store.retract_docs(spark, sig, mem, _ids(spark, 1, 3))
    live_s = {
        tuple(r) for r in dedup_store.live_store_sigs(spark, sig).collect()
    }
    live_m = {
        tuple(r) for r in dedup_store.live_members(spark, mem, sig).collect()
    }

    real_rename = os.rename
    fired = []

    def racing(src, dst):
        real_rename(src, dst)
        if storage._BFOLD_PREFIX in os.path.basename(dst) and not fired:
            # the reader in another process: full heal of the TABLE
            # whose partition is mid-swap (walk up from the aside to
            # the dir holding the fold journal)
            d = os.path.dirname(dst)
            while d and not os.path.exists(
                os.path.join(d, storage._FOLD_JOURNAL)
            ):
                nd = os.path.dirname(d)
                if nd == d:
                    return
                d = nd
            fired.append(1)
            storage.heal_table_fold(d)

    monkeypatch.setattr(os, "rename", racing)
    with pytest.raises(RuntimeError, match="vanished|losing the rename"):
        dedup_store.fold_retractions(spark, sig, bands, mem)
    assert fired
    monkeypatch.setattr(os, "rename", real_rename)

    # abort, not data loss: sidecars still stand, live views intact,
    # no aside dirs or journals left anywhere
    assert {
        tuple(r) for r in dedup_store.live_store_sigs(spark, sig).collect()
    } == live_s
    assert {
        tuple(r) for r in dedup_store.live_members(spark, mem, sig).collect()
    } == live_m
    import glob

    for p in (sig, bands, mem):
        assert not glob.glob(
            os.path.join(p, "**", storage._BFOLD_PREFIX + "*"),
            recursive=True,
        )
        assert not os.path.exists(
            os.path.join(p, storage._FOLD_JOURNAL)
        )

    # converge on re-run
    fold = dedup_store.fold_retractions(spark, sig, bands, mem)
    assert fold["folded"] is True
    assert {
        tuple(r) for r in dedup_store.live_store_sigs(spark, sig).collect()
    } == live_s
    assert {
        tuple(r) for r in dedup_store.live_members(spark, mem, sig).collect()
    } == live_m


def test_fold_emptied_partition_not_resurrected_by_racing_heal(
    spark, tmp_path, monkeypatch
):
    """The emptied-partition branch's race: the fold retires a
    partition whose rows were all tombstoned; a racing heal can
    resurrect the aside into the live dir before the writer's rmtree
    lands. The writer re-checks and re-retires — the fold must never
    REPORT success while the partition still holds its unfolded
    rows."""
    import glob
    import os

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"g{i}") for i in range(32)], "doc_id long, gh string"
    )
    tables.write_table(df, path, "overwrite", key="doc_id", buckets=4)
    # tombstone EVERY doc in one physical bucket → the fold empties it
    part_dir = sorted(glob.glob(os.path.join(path, "pb=*")))[0]
    part = os.path.basename(part_dir)
    victims = spark.read.parquet(part_dir).select("doc_id")
    n_victims = victims.count()
    assert n_victims > 0
    survivors = 32 - n_victims

    real_rename = os.rename
    fired = []

    def racing(src, dst):
        real_rename(src, dst)
        if storage._BFOLD_PREFIX in os.path.basename(dst) and not fired:
            fired.append(1)
            # narrow racer: just the aside restore (heal_table_fold's
            # per-partition rule), not the full staging rollback —
            # the resurrection window specifically
            storage._restore_aside(dst, os.path.join(path, part))

    monkeypatch.setattr(os, "rename", racing)
    n = tables._fold_table_granular(spark, path, [(victims, "doc_id")])
    monkeypatch.setattr(os, "rename", real_rename)
    assert fired
    assert n == 1
    assert not os.path.isdir(part_dir)  # retired, not resurrected
    assert tables.read_table(spark, path).count() == survivors


def test_marker_row_cache_lifecycle(spark, tmp_path, monkeypatch):
    """VERDICT r17 #5: the layout marker caches the EXACT row count
    where writers know it for free — set by full rewrites (footer
    metadata), invalidated by appends, adjusted O(retracted) by the
    granular fold, re-derived+persisted by the gate's count()
    fallback — so `maybe_rebucket_table` usually reads a number
    instead of scanning the store."""
    import glob
    import os

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"g{i}") for i in range(32)], "doc_id long, gh string"
    )
    tables.write_table(df, path, "overwrite", key="doc_id", buckets=4)
    assert tables._marker_rows(path) == 32  # build sets it

    # append invalidates
    extra = spark.createDataFrame(
        [(100 + i, f"x{i}") for i in range(8)], "doc_id long, gh string"
    )
    tables.write_table(extra, path, "append")
    assert tables._marker_rows(path) is None

    # the gate's fallback counts once and re-persists
    monkeypatch.setattr(tables, "_REBUCKET_TRIGGER_ROWS", 1000)
    monkeypatch.setattr(tables, "_REBUCKET_TARGET_ROWS", 100)
    rb = tables.maybe_rebucket_table(spark, path)
    assert rb["rows"] == 40
    assert tables._marker_rows(path) == 40

    # the gate itself now reads the marker (no scan): poison the
    # cache deliberately and observe the gate believe it
    tables._set_marker_rows(path, 7)
    rb = tables.maybe_rebucket_table(spark, path)
    assert rb["rows"] == 7
    tables._set_marker_rows(path, 40)

    # granular fold adjusts by exactly the folded delta
    part_dir = sorted(glob.glob(os.path.join(path, "pb=*")))[0]
    victims = spark.read.parquet(part_dir).select("doc_id").limit(2)
    n_victims = victims.count()
    assert tables._fold_table_granular(spark, path, [(victims, "doc_id")]) >= 1
    assert tables._marker_rows(path) == 40 - n_victims
    assert tables.read_table(spark, path).count() == 40 - n_victims

    # full rewrite (rebucket) resets it exactly
    tables.bucket_table(spark, path, 8)
    assert tables._marker_rows(path) == 40 - n_victims


def test_compaction_preserves_marker_row_cache(spark, tmp_path):
    """compact_table adjusts the marker's cached row count by the
    footer counts of the buckets it rewrote — the count stays EXACT
    (measured at 1 M rows the marker read saves ~0.9 s of count() per
    maintenance gate call)."""
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"g{i}", i) for i in range(64)],
        "doc_id long, gh string, bk0 long",
    )
    tables.write_table(df, path, "overwrite", key="doc_id", buckets=4)
    assert tables._marker_rows(path) == 64
    # accumulate appends (invalidates), then restore the known count
    tables.write_table(
        spark.createDataFrame(
            [(100 + i, f"x{i}", i) for i in range(16)],
            "doc_id long, gh string, bk0 long",
        ),
        path, "append",
    )
    assert tables._marker_rows(path) is None
    tables._set_marker_rows(path, 80)
    tables.compact_table(spark, path, sort_col="bk0")
    assert tables._marker_rows(path) == 80  # footer deltas, no Spark job
    assert tables.read_table(spark, path).count() == 80


def test_heal_rolls_back_dead_writer_promptly(tmp_path):
    """A fold journal whose writer pid is DEAD is a crash — heal
    rolls it back immediately (no liveness wait): aside restored,
    journal and the journal-NAMED staging gone."""
    import json
    import os
    import subprocess
    import time

    path = str(tmp_path / "tbl")
    os.makedirs(os.path.join(path, storage._BFOLD_PREFIX + "pb=0"))
    with open(
        os.path.join(path, storage._BFOLD_PREFIX + "pb=0", "a.parquet"),
        "w",
    ) as f:
        f.write("x")
    stg = os.path.basename(storage._fold_staging_path(path))
    os.makedirs(os.path.join(str(tmp_path), stg))
    dead = subprocess.Popen(["true"])
    dead.wait()
    with open(os.path.join(path, storage._FOLD_JOURNAL), "w") as f:
        json.dump(
            {"dirs": ["pb=0"], "emptied": [], "staging": stg,
             "pid": dead.pid},
            f,
        )
    t0 = time.perf_counter()
    storage.heal_table_fold(path)
    elapsed = time.perf_counter() - t0
    assert elapsed < 5, elapsed  # no 10s liveness wait for a dead pid
    assert os.path.isdir(os.path.join(path, "pb=0"))  # aside restored
    assert not os.path.exists(
        os.path.join(path, storage._FOLD_JOURNAL)
    )
    assert not os.path.isdir(os.path.join(str(tmp_path), stg))


def test_heal_waits_out_live_fold_writer(tmp_path):
    """A journal whose writer pid is ALIVE is an in-flight fold —
    heal WAITS for the swap phase instead of rolling it back: when
    the journal clears, heal returns without having restored the
    aside (the live writer owns it)."""
    import json
    import os
    import threading
    import time

    path = str(tmp_path / "tbl")
    aside = os.path.join(path, storage._BFOLD_PREFIX + "pb=0")
    os.makedirs(aside)
    j = os.path.join(path, storage._FOLD_JOURNAL)
    with open(j, "w") as f:
        json.dump(
            {"dirs": ["pb=0"], "emptied": [],
             "staging": "tbl.bfold-x", "pid": os.getpid()},
            f,
        )

    def finish_fold():
        time.sleep(0.8)
        os.remove(j)  # the live writer completes its swap phase

    t = threading.Thread(target=finish_fold)
    t.start()
    t0 = time.perf_counter()
    storage.heal_table_fold(path)
    elapsed = time.perf_counter() - t0
    t.join()
    assert 0.7 <= elapsed < 9, elapsed  # waited, didn't time out
    # no rollback happened: the aside is untouched
    assert os.path.isdir(aside)
    assert not os.path.exists(j)


def test_claim_rmtree_is_atomic_against_reuse(tmp_path):
    """_claim_rmtree claims the dir by rename before deleting, so a
    concurrent rename of fresh content INTO the old path can never
    be gutted by the deleter's walk (the r18 fold-stress loss
    chain). After a claim, re-creating the path and filling it is
    safe while the delete proceeds."""
    import os

    d = str(tmp_path / "victim")
    os.makedirs(d)
    with open(os.path.join(d, "old.txt"), "w") as f:
        f.write("old")
    storage._claim_rmtree(d)
    assert not os.path.exists(d)
    # reuse the path immediately — nothing can delete this content
    os.makedirs(d)
    with open(os.path.join(d, "new.txt"), "w") as f:
        f.write("new")
    assert os.listdir(d) == ["new.txt"]
    # claiming a missing dir is a quiet no-op
    storage._claim_rmtree(str(tmp_path / "nope"))


def test_clear_orphan_fold_staging_rules(tmp_path):
    """Writer-entry cleanup reaps exactly the three crash-leaked
    shapes — journal-less fold staging, publish-handoff dirs, and
    claim-trash — and refuses to guess while a journal exists
    (heal first, then clean)."""
    import json
    import os

    path = str(tmp_path / "tbl")
    os.makedirs(os.path.join(path, "pb=0"))

    def mk(*rel):
        d = os.path.join(*rel)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "x"), "w") as f:
            f.write("x")
        return d

    stg = mk(path + ".bfold-123-abc")
    legacy = mk(path + ".bfold")
    pub = mk(path, "pb=0", ".bpub-f0")
    tr_in = mk(path, ".trash-.bfold-pb=0-9-def")
    tr_out = mk(str(tmp_path), ".trash-tbl-9-def")

    # a journal exists: nothing is touched
    j = os.path.join(path, storage._FOLD_JOURNAL)
    with open(j, "w") as f:
        json.dump({"dirs": []}, f)
    storage._clear_orphan_fold_staging(path)
    for d in (stg, legacy, pub, tr_in, tr_out):
        assert os.path.isdir(d), d

    # no journal: all five reaped, live partition untouched
    os.remove(j)
    storage._clear_orphan_fold_staging(path)
    for d in (stg, legacy, pub, tr_in, tr_out):
        assert not os.path.exists(d), d
    assert os.path.isdir(os.path.join(path, "pb=0"))
