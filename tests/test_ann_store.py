"""Persisted IVF index lifecycle tests (operators/ann_store.py)."""

from __future__ import annotations

from fdblog2clickhouse_spark import storage
from fdblog2clickhouse_spark.operators import ann_store, similarity
from fdblog2clickhouse_spark.operators.tables import read_table, write_table
from tests.oracle import compare


def _write_lists(df, path):
    """Build an inverted-lists table the way the package does: a
    key-bucketed table on list_id."""
    write_table(df, path, "overwrite", key="list_id")


def _tree(path):
    """{relative path: bytes} of every data file under a table dir."""
    import glob
    import os

    return {
        os.path.relpath(f, path): open(f, "rb").read()
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }


def test_store_search_matches_oracle(spark, sf_oracle):
    compare(
        ann_store.ann_ivf_store_search(spark, sf_oracle),
        ann_store.ORACLE["ann_ivf_store_search"],
        sf_oracle,
    )


def test_store_search_equals_in_memory_ivf(spark, sf_oracle):
    """The disk-roundtripped, incrementally-inserted index must
    produce byte-identical search results to the one-shot in-memory
    plan (`ann_ivf_topk`) — the insert ≡ rebuild equivalence at the
    DataFrame level, independent of the DuckDB oracle."""
    via_store = sorted(
        map(tuple, ann_store.ann_ivf_store_search(spark, sf_oracle).collect())
    )
    in_memory = sorted(
        map(tuple, similarity.ann_ivf_topk(spark, sf_oracle).collect())
    )
    assert via_store == in_memory


def test_lists_table_covers_every_vector(spark, sf_oracle):
    """After build + insert the lists table holds exactly one
    assignment row per corpus vector."""
    import os

    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path

    ann_store.ann_ivf_store_search(spark, sf_oracle)
    from fdblog2clickhouse_spark.sources.tables import table

    lists = read_table(spark, os.path.join(scratch_path("ivf_store"), "lists"))
    n = table(spark, sf_oracle, "embeddings").count()
    assert lists.count() == n
    assert lists.select("n_id").distinct().count() == n


def test_ivf_lists_compaction_preserves_search(spark, sf_oracle):
    """compact-store is OPTIMIZE FINAL for the inverted lists: after
    build + incremental insert leave several files in a bucket, the
    pass leaves one list_id-sorted file per bucket without changing a
    single assignment row — so re-running the query-node search plan
    against the compacted table returns byte-identical results. This
    is the invariance pin `ivf_store_search_plan`'s docstring
    promises."""
    import glob
    import os

    from fdblog2clickhouse_spark import cli
    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path

    before = sorted(
        map(tuple, ann_store.ann_ivf_store_search(spark, sf_oracle).collect())
    )
    root = scratch_path("ivf_store")
    lists_path = os.path.join(root, "lists")
    parts = glob.glob(os.path.join(lists_path, "pb=*"))
    counts = [len(glob.glob(os.path.join(d, "*.parquet"))) for d in parts]
    assert max(counts) > 1, "expected one file per bucket per write"
    rows_before = sorted(map(tuple, read_table(spark, lists_path).collect()))

    assert cli.main(["compact-store", lists_path]) == 0
    for d in parts:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1
    assert sorted(map(tuple, read_table(spark, lists_path).collect())) == rows_before

    after = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(
                spark,
                _quantized(spark, sf_oracle),
                os.path.join(root, "codebook"),
                lists_path,
            ).collect(),
        )
    )
    assert after == before


def test_ivfpq_matches_oracle_and_restricts_to_probed_lists(spark, sf_oracle):
    """Composition correctness: every IVF-PQ result's list_id is one
    of its query's probed lists (the pruning actually happened), and
    the full result hash-matches the composed oracle."""
    from pyspark.sql import functions as F
    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.operators.similarity import _CENTROID_IDS, _N_PROBE, _N_QUERIES

    df = ann_store.ann_ivfpq_topk(spark, sf_oracle)
    compare(df, ann_store.ORACLE["ann_ivfpq_topk"], sf_oracle)

    qn = _quantized(spark, sf_oracle)
    cent = qn.where(F.col("vec_id").isin(_CENTROID_IDS)).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    )
    probes = {
        (r["v_id"], r["c_id"])
        for r in ann_store._assign(
            qn.where(F.col("vec_id") < _N_QUERIES), cent, _N_PROBE
        ).collect()
    }
    for r in df.collect():
        assert (r["q_id"], r["list_id"]) in probes


def test_ivfpq_plan_broadcasts_and_no_cartesian(spark, sf_smoke):
    """Asserted on the LAZY plan (_ivfpq_plan): the public operator
    materializes its result to scratch so it can release the corpus
    cache (ADVICE r9), which leaves only a parquet scan in the
    returned frame's plan."""
    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.plans import formatted_plan

    plan = formatted_plan(
        ann_store._ivfpq_plan(spark, _quantized(spark, sf_smoke))
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


# ------------------------------------------- IVF centroid refresh


def test_refresh_recall_matches_oracle(spark, sf_oracle):
    df = ann_store.ann_ivf_refresh_recall(spark, sf_oracle)
    compare(df, ann_store.ORACLE["ann_ivf_refresh_recall"], sf_oracle)


def _refresh_fixture_qn(spark):
    """Three clusters in 4-dim quant space, crafted so a drifted
    cluster C STRADDLES the stale A/B decision boundary (half assigns
    to each list) — the silent-recall-loss mode `refresh_ivf_centroids`
    exists for. One Lloyd step provably unifies C into a single list
    (the A-list centroid is dragged to the C direction by C's 6-vs-2
    majority, while B's 14 members keep its centroid home)."""
    rows = []
    for i in range(2):  # A ≈ e1 (ids 200-201) — deliberately small
        rows.append((200 + i, [1000, 3 + i, 0, 0]))
    for i in range(14):  # B ≈ e2 (ids 300-313) — the heavy cluster
        rows.append((300 + i, [3 + i, 1000, 0, 0]))
    for i in range(12):  # C on the A/B bisector (ids 400-411)
        # side asymmetry (±10) ≫ the per-vector uniqueness nudge (i,
        # ≤11 in dim 2): same-side dot advantage (20² = 400) dominates
        # the worst norm penalty (11² = 121 on ~1e6), so brute top-8
        # is cleanly 5 same-side + 3 cross-side for every C query
        side = [715, 695] if i % 2 == 0 else [695, 715]
        rows.append((400 + i, side + [i, 0]))
    return spark.createDataFrame(
        [(v, q, sum(x * x for x in q)) for v, q in rows],
        "vec_id long, q array<long>, nq long",
    )


def _ivf_hit_sets(spark, qn, cb_path, lists_path, query_ids, topk):
    """nprobe=1 IVF top-k through the on-disk index + exact top-k,
    as (q_id, n_id) sets — the crafted test controls its own probe
    and k so the straddle scenario stays provable."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    queries = qn.where(F.col("vec_id").isin(query_ids))
    probes = ann_store._assign(
        queries, read_table(spark, cb_path), 1
    ).select(F.col("v_id").alias("q_id"), F.col("c_id").alias("probe_list"))
    lists = read_table(spark, lists_path)
    qv = queries.select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    nv = qn.select(
        F.col("vec_id").alias("n_id"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    ivf = (
        nv.join(lists, "n_id")
        .join(probes, F.col("list_id") == F.col("probe_list"))
        .where(F.col("n_id") != F.col("q_id"))
        .join(qv, "q_id")
        .select("q_id", "n_id", similarity._cosine_cols())
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
    )
    brute = (
        nv.join(qv, F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", similarity._cosine_cols())
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
    )
    to_set = lambda df: {(r["q_id"], r["n_id"]) for r in df.collect()}  # noqa: E731
    return to_set(ivf), to_set(brute)


def test_refresh_recovers_straddled_cluster_recall(spark, tmp_path):
    """End-to-end recall recovery: before refresh the straddled C
    cluster is split across the A and B lists, so an nprobe=1 C query
    sees only its own half (recall 10/16); after one refresh C is
    unified in a single list and recall is exact (16/16). Also pins
    the stats dict: exactly the 6 B-side C members move, and no list
    ends empty."""
    import os

    qn = _refresh_fixture_qn(spark)
    cb = str(tmp_path / "codebook")
    li = str(tmp_path / "lists")
    qn.where(qn.vec_id.isin([200, 300])).selectExpr(
        "vec_id AS c_id", "q", "nq"
    ).coalesce(1).write.parquet(cb)
    ann_store.assign_lists(spark, qn, cb, li)

    ivf0, brute = _ivf_hit_sets(spark, qn, cb, li, [400, 401], 8)
    assert len(brute) == 16
    assert len(ivf0 & brute) == 10  # each query finds only its half

    stats = ann_store.refresh_ivf_centroids(spark, qn, cb, li)
    assert stats["n_lists"] == 2
    assert stats["moved"] == 6  # the B-side C half crosses to A's list
    assert stats["max_list_after"] == 14  # A-list: 2 A + 12 C

    ivf1, brute1 = _ivf_hit_sets(spark, qn, cb, li, [400, 401], 8)
    assert brute1 == brute  # ground truth is refresh-invariant
    assert ivf1 & brute == brute  # full recall recovered


def test_refresh_crash_repair_is_deterministic(spark, tmp_path):
    """The double-swap crash story: a crash between the codebook and
    lists swaps (new codebook over old lists) or inside a swap (.old
    present, live dir missing) must be repaired by simply re-running
    the refresh, converging to the same end state as a clean run."""
    import os
    import shutil

    qn = _refresh_fixture_qn(spark)

    def build(root):
        cb, li = os.path.join(root, "codebook"), os.path.join(root, "lists")
        qn.where(qn.vec_id.isin([200, 300])).selectExpr(
            "vec_id AS c_id", "q", "nq"
        ).coalesce(1).write.parquet(cb)
        ann_store.assign_lists(spark, qn, cb, li)
        return cb, li

    def state(cb, li):
        cents = sorted(
            (r["c_id"], tuple(r["q"])) for r in read_table(spark, cb).collect()
        )
        lists = sorted(
            (r["n_id"], r["list_id"]) for r in read_table(spark, li).collect()
        )
        return cents, lists

    cb_a, li_a = build(str(tmp_path / "clean"))
    ann_store.refresh_ivf_centroids(spark, qn, cb_a, li_a)
    want = state(cb_a, li_a)

    # crash BETWEEN the swaps: codebook already new, lists still old
    cb_b, li_b = build(str(tmp_path / "midswap"))
    old_lists = sorted(
        (r["n_id"], r["list_id"]) for r in read_table(spark, li_b).collect()
    )
    ann_store.refresh_ivf_centroids(spark, qn, cb_b, li_b)
    # rewind the lists side only (new codebook over old lists)
    shutil.rmtree(li_b)
    _write_lists(
        spark.createDataFrame(
            [(n, l) for n, l in old_lists], "n_id long, list_id long"
        ),
        li_b,
    )
    ann_store.refresh_ivf_centroids(spark, qn, cb_b, li_b)
    assert state(cb_b, li_b) == want

    # crash INSIDE a swap: live dir renamed aside, staging gone
    cb_c, li_c = build(str(tmp_path / "inswap"))
    os.rename(cb_c, cb_c + ".old")
    ann_store.refresh_ivf_centroids(spark, qn, cb_c, li_c)
    assert state(cb_c, li_c) == want


def _skew_fixture_qn(spark):
    """One hot cluster (30 members, two sub-lobes along dims 3/4) on
    list H plus a tiny cold cluster on list B plus an EMPTY list E —
    the skewed-drift shape `split_ivf_lists` exists for."""
    rows = []
    for i in range(15):  # hot lobe 1 (ids 100-114)
        rows.append((100 + i, [1000, 0, 50 + i, 0]))
    for i in range(15):  # hot lobe 2 (ids 200-214)
        rows.append((200 + i, [1000, 0, 0, 50 + i]))
    for i in range(3):  # cold cluster (ids 300-302)
        rows.append((300 + i, [0, 1000, i, 0]))
    return spark.createDataFrame(
        [(v, q, sum(x * x for x in q)) for v, q in rows],
        "vec_id long, q array<long>, nq long",
    )


def _skew_index(spark, tmp_path, qn):
    import os

    cb = str(tmp_path / "codebook")
    li = str(tmp_path / "lists")
    cents = [
        (7000, [1000, 0, 25, 25]),  # H: catches both hot lobes
        (8000, [0, 1000, 0, 0]),    # B: the cold cluster
        (9000, [-1000, -1000, 0, 0]),  # E: empty, catches nothing
    ]
    spark.createDataFrame(
        [(c, q, sum(x * x for x in q)) for c, q in cents],
        "c_id long, q array<long>, nq long",
    ).coalesce(1).write.parquet(cb)
    ann_store.assign_lists(spark, qn, cb, li)
    return cb, li


def test_split_ivf_lists_bounds_hot_list_and_reseeds(spark, tmp_path):
    """The hot 30-member list splits into its two lobes; child 2
    recycles the EMPTY list's id (the reseed); the cold list's rows
    and centroid are byte-identical (search invariance where the
    list set is untouched)."""
    qn = _skew_fixture_qn(spark)
    cb, li = _skew_index(spark, tmp_path, qn)
    sizes0 = {
        r["list_id"]: r["count"]
        for r in read_table(spark, li).groupBy("list_id").count().collect()
    }
    assert sizes0 == {7000: 30, 8000: 3}
    cold_rows0 = {
        (r["n_id"], r["list_id"])
        for r in read_table(spark, li).where("list_id = 8000").collect()
    }
    cold_cent0 = read_table(spark, cb).where("c_id = 8000").collect()

    stats = ann_store.split_ivf_lists(spark, qn, cb, li, max_list=20)
    assert stats["split"] == 1
    assert stats["reseeded"] == 1  # child 2 took the empty id 9000
    assert stats["max_list_after"] <= 20

    sizes1 = {
        r["list_id"]: r["count"]
        for r in read_table(spark, li).groupBy("list_id").count().collect()
    }
    assert sizes1[8000] == 3
    assert sizes1[7000] + sizes1[9000] == 30
    assert max(sizes1[7000], sizes1[9000]) <= 20
    # the two lobes separate exactly
    lobe = {
        r["n_id"]: r["list_id"]
        for r in read_table(spark, li).where("list_id <> 8000").collect()
    }
    assert len({lobe[100 + i] for i in range(15)}) == 1
    assert len({lobe[200 + i] for i in range(15)}) == 1
    assert lobe[100] != lobe[200]
    # untouched list: rows AND centroid identical
    assert {
        (r["n_id"], r["list_id"])
        for r in read_table(spark, li).where("list_id = 8000").collect()
    } == cold_rows0
    assert read_table(spark, cb).where("c_id = 8000").collect() == cold_cent0
    # every list id still has a centroid; no id vanished
    assert {r["c_id"] for r in read_table(spark, cb).collect()} == {
        7000, 8000, 9000,
    }


def test_split_ivf_lists_skips_degenerate_and_under_budget(spark, tmp_path):
    """A list of identical vectors cannot be split (child 2 empty) —
    left whole; an index with nothing over budget is a no-op."""
    qn = spark.createDataFrame(
        [(i, [500, 500, 0, 0], 500000) for i in range(10)],
        "vec_id long, q array<long>, nq long",
    )
    cb, li = _skew_index(spark, tmp_path, qn)
    before = sorted(map(tuple, read_table(spark, li).collect()))
    stats = ann_store.split_ivf_lists(spark, qn, cb, li, max_list=4)
    assert stats["split"] == 0
    assert sorted(map(tuple, read_table(spark, li).collect())) == before

    stats = ann_store.split_ivf_lists(spark, qn, cb, li, max_list=100)
    assert stats == {"split": 0, "reseeded": 0, "max_list_after": None}


# ------------------------------------------- IVF retraction sidecar


def test_store_search_composes_tombstones(spark, sf_oracle):
    """VERDICT r13 #2: a takedown must be invisible to the persisted
    index's search WITHOUT a physical rewrite — retract_ivf_vectors
    writes only the tombstone sidecar, ivf_store_search_plan composes
    it (results identical to an index that never held the vectors),
    and compact-store's fold rewrites only the buckets holding the
    victims and retires the sidecar."""
    import os

    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.operators.ann_store import (
        ivf_tombstones_path,
        retract_ivf_vectors,
    )
    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path

    before = ann_store.ann_ivf_store_search(spark, sf_oracle).collect()
    root = scratch_path("ivf_store")
    cb_path, lists_path = os.path.join(root, "codebook"), os.path.join(root, "lists")
    qn = _quantized(spark, sf_oracle).cache()

    # retract two vectors that actually appear as neighbors — the
    # invariance claim is then non-vacuous
    victims = sorted({r["n_id"] for r in before})[:2]
    files_before = _tree(lists_path)
    ids = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    retract_ivf_vectors(spark, lists_path, ids)
    assert _tree(lists_path) == files_before  # NO rewrite

    got = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(
                spark, qn, cb_path, lists_path
            ).collect(),
        )
    )
    assert all(r[1] not in victims for r in got)  # n_id never a victim

    # expected: the same plan over a physically-filtered lists copy
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        lists2 = os.path.join(td, "lists")
        raw = read_table(spark, lists_path)
        _write_lists(raw.where(~raw["n_id"].isin(victims)), lists2)
        want = sorted(
            map(
                tuple,
                ann_store.ivf_store_search_plan(
                    spark, qn, cb_path, lists2
                ).collect(),
            )
        )
    assert got == want

    # the fold point: compact-store folds + retires, search unchanged
    from fdblog2clickhouse_spark import cli

    assert cli.main(["compact-store", lists_path]) == 0
    assert not os.path.isdir(ivf_tombstones_path(lists_path))
    folded = read_table(spark, lists_path)
    assert folded.where(folded["n_id"].isin(victims)).count() == 0
    after = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(
                spark, qn, cb_path, lists_path
            ).collect(),
        )
    )
    assert after == got
    qn.unpersist()


def test_split_raises_on_uncovered_vectors(spark, tmp_path):
    """ADVICE r13: a LIVE indexed vector missing from qn used to
    vanish silently from the rewritten lists — now the coverage
    precondition is enforced."""
    import pytest

    qn = _skew_fixture_qn(spark)
    cb, li = _skew_index(spark, tmp_path, qn)
    with pytest.raises(ValueError, match="does not cover"):
        ann_store.split_ivf_lists(
            spark, qn.where(qn.vec_id != 100), cb, li, max_list=20
        )


def test_split_ignores_tombstoned_vectors(spark, tmp_path):
    """A TOMBSTONED vector needs no qn coverage (it is dead): the
    split gates/assigns on the live view, and the retracted row is
    physically dropped from the rewritten split list while the
    sidecar keeps filtering untouched lists."""
    from fdblog2clickhouse_spark.operators.ann_store import retract_ivf_vectors

    qn = _skew_fixture_qn(spark)
    cb, li = _skew_index(spark, tmp_path, qn)
    ids = spark.createDataFrame([(100,)], "doc_id long")
    retract_ivf_vectors(spark, li, ids)

    stats = ann_store.split_ivf_lists(
        spark, qn.where(qn.vec_id != 100), cb, li, max_list=20
    )
    assert stats["split"] == 1
    # the retracted row is gone from the (rewritten) hot list
    assert read_table(spark, li).where("n_id = 100").count() == 0
    sizes = {
        r["list_id"]: r["count"]
        for r in read_table(spark, li).groupBy("list_id").count().collect()
    }
    assert sizes[8000] == 3
    assert sizes[7000] + sizes[9000] == 29  # 30 hot members − 1 retracted


def test_refresh_folds_tombstones(spark, tmp_path):
    """refresh_ivf_centroids rewrites live members only, so it
    doubles as a fold point: the sidecar is retired and the retracted
    vector is physically gone."""
    import os

    from fdblog2clickhouse_spark.operators.ann_store import (
        ivf_tombstones_path,
        retract_ivf_vectors,
    )

    qn = _refresh_fixture_qn(spark)
    cb = str(tmp_path / "codebook")
    li = str(tmp_path / "lists")
    qn.where(qn.vec_id.isin([200, 300])).selectExpr(
        "vec_id AS c_id", "q", "nq"
    ).coalesce(1).write.parquet(cb)
    ann_store.assign_lists(spark, qn, cb, li)

    ids = spark.createDataFrame([(305,)], "doc_id long")
    retract_ivf_vectors(spark, li, ids)
    ann_store.refresh_ivf_centroids(spark, qn, cb, li)
    assert not os.path.isdir(ivf_tombstones_path(li))
    assert read_table(spark, li).where("n_id = 305").count() == 0
    # every other vector is still indexed exactly once
    assert read_table(spark, li).count() == qn.count() - 1


# ------------------------------------------- persisted PQ codebook


def test_train_pq_codebook_matches_in_plan_training(spark, sf_oracle):
    """The build-time artifact (`train_pq_codebook` over the
    persisted index) is row-identical to the in-plan training the
    oracle proof uses — persisting the codebook changes WHERE
    training runs, never what it computes (VERDICT r13 #4)."""
    import os

    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path

    ann_store.ann_ivf_store_search(spark, sf_oracle)  # (re)build index
    root = scratch_path("ivf_store")
    qn = _quantized(spark, sf_oracle).cache()
    path = ann_store.train_pq_codebook(
        spark, qn, os.path.join(root, "codebook"), os.path.join(root, "lists")
    )
    assert path == os.path.join(root, "codebook_pq")
    got = sorted(
        (r["sub"], r["code"], tuple(r["carr"]))
        for r in read_table(spark, path).collect()
    )
    _, _, _, _, resid = ann_store._ivfpq_parts(qn)
    want = sorted(
        (r["sub"], r["code"], tuple(r["carr"]))
        for r in ann_store._ivfpq_train(resid).collect()
    )
    qn.unpersist()
    assert got == want


def test_refresh_retrains_persisted_pq_codebook(spark, sf_oracle):
    """Self-review r14: a persisted PQ codebook encodes residuals
    against the CURRENT centroids — refresh_ivf_centroids must
    retrain it (stale geometry would reproduce the measured
    recall-collapse silently)."""
    import os

    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path

    ann_store.ann_ivf_store_search(spark, sf_oracle)  # (re)build index
    root = scratch_path("ivf_store")
    cb_p, li_p = os.path.join(root, "codebook"), os.path.join(root, "lists")
    qn = _quantized(spark, sf_oracle).cache()

    pq_p = ann_store.train_pq_codebook(spark, qn, cb_p, li_p)
    rows0 = sorted(
        (r["sub"], r["code"], tuple(r["carr"]))
        for r in read_table(spark, pq_p).collect()
    )
    ann_store.refresh_ivf_centroids(spark, qn, cb_p, li_p)
    rows1 = sorted(
        (r["sub"], r["code"], tuple(r["carr"]))
        for r in read_table(spark, pq_p).collect()
    )
    # the Lloyd step moved the centroids, so the residual geometry —
    # and with it the trained codebook — changed
    assert rows1 != rows0
    # and the artifact equals a fresh training against the refreshed
    # index: refresh left it exactly as fresh as train_pq_codebook
    ann_store.train_pq_codebook(spark, qn, cb_p, li_p)
    rows2 = sorted(
        (r["sub"], r["code"], tuple(r["carr"]))
        for r in read_table(spark, pq_p).collect()
    )
    qn.unpersist()
    assert rows1 == rows2


def test_compact_store_leaves_compact_ivf_index_untouched(
    spark, tmp_path, capsys
):
    """compact-store on an IVF index whose buckets each hold one file
    and with no pending sidecar rewrites nothing: every file is
    byte-identical. With a sidecar, it folds the takedown and retires
    the sidecar, and each bucket still holds one file."""
    import glob
    import os

    from fdblog2clickhouse_spark import cli
    from fdblog2clickhouse_spark.operators.ann_store import (
        ivf_tombstones_path,
        retract_ivf_vectors,
    )

    lists = str(tmp_path / "lists")
    _write_lists(
        spark.createDataFrame(
            [(1, 10), (0, 11), (1, 12)], "list_id long, n_id long"
        ),
        lists,
    )
    files0 = _tree(lists)
    assert cli.main(["compact-store", lists]) == 0
    out = capsys.readouterr().out
    assert "retractions_folded" not in out and "rebucketed" not in out
    assert _tree(lists) == files0  # untouched

    ids = spark.createDataFrame([(12,)], "doc_id long")
    retract_ivf_vectors(spark, lists, ids)
    assert cli.main(["compact-store", lists]) == 0
    assert "retractions_folded=true" in capsys.readouterr().out
    assert not os.path.isdir(ivf_tombstones_path(lists))
    assert {
        (r["list_id"], r["n_id"]) for r in read_table(spark, lists).collect()
    } == {(1, 10), (0, 11)}
    for d in glob.glob(os.path.join(lists, "pb=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1


def test_ivfpq_store_search_matches_oracle(spark, sf_oracle):
    """The persisted-index IVF-PQ lifecycle (build 4 artifacts →
    encode-insert through them → disk-only query) hash-matches the
    one-shot spelling with the trainer restricted to the base slice
    — encode-at-insert ≡ rebuild plus the artifact roundtrip."""
    compare(
        ann_store.ann_ivfpq_store_search(spark, sf_oracle),
        ann_store.ORACLE["ann_ivfpq_store_search"],
        sf_oracle,
    )


def test_ivfpq_store_search_composes_tombstones(spark, sf_oracle):
    """The disk-only IVF-PQ query honors a pending takedown: after
    retract_ivf_vectors, no tombstoned vector appears as a neighbor,
    with zero index rewrite."""
    import os

    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.operators.ann_store import retract_ivf_vectors
    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path
    from fdblog2clickhouse_spark.operators.similarity import _N_QUERIES
    from pyspark.sql import functions as F

    before = ann_store.ann_ivfpq_store_search(spark, sf_oracle).collect()
    root = scratch_path("ivfpq_store")
    lists_path = os.path.join(root, "lists")
    victims = sorted({r["n_id"] for r in before})[:2]
    files_before = _tree(lists_path)
    ids = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    retract_ivf_vectors(spark, lists_path, ids)
    assert _tree(lists_path) == files_before  # no rewrite

    qn = _quantized(spark, sf_oracle)
    got = ann_store.ivfpq_store_search_plan(
        spark,
        qn.where(F.col("vec_id") < _N_QUERIES).select("vec_id", "q", "nq"),
        os.path.join(root, "codebook"),
        lists_path,
        ann_store.ivf_codes_path(lists_path),
    ).collect()
    assert got, "query returned nothing"
    assert all(r["n_id"] not in victims for r in got)


# ------------------- PQ codes table as a lifecycle citizen (round 15)
#
# VERDICT r14 / ADVICE r14: a takedown must remove the taken-down
# vectors' DERIVED representations (codes), and a geometry retrain
# (refresh/split) must re-encode the persisted codes or the stored
# codes and the query LUT become ADC-incoherent.


def _toy_codes_index(spark, tmp_path):
    import os

    lists = str(tmp_path / "lists")
    codes = ann_store.ivf_codes_path(lists)
    _write_lists(
        spark.createDataFrame(
            [(10, 0), (11, 0), (12, 1)], "n_id long, list_id long"
        ),
        lists,
    )
    write_table(
        spark.createDataFrame(
            [(v, s, (v + s) % 4) for v in (10, 11, 12) for s in (0, 1)],
            "vec_id long, sub int, code int",
        ),
        codes,
        "overwrite",
        key="vec_id",
    )
    return lists, codes


def test_compact_folds_takedown_into_codes(spark, tmp_path, capsys):
    """compact-store's fold covers the taken-down vectors' derived
    representation too: their codes rows leave with the lists rows,
    and the sidecar is retired."""
    import os

    from fdblog2clickhouse_spark import cli
    from fdblog2clickhouse_spark.operators.ann_store import (
        ivf_tombstones_path,
        retract_ivf_vectors,
    )

    lists, codes = _toy_codes_index(spark, tmp_path)
    retract_ivf_vectors(
        spark, lists, spark.createDataFrame([(12,)], "doc_id long")
    )
    assert cli.main(["compact-store", lists]) == 0
    out = capsys.readouterr().out
    assert "retractions_folded=true fold_parts=lists:1/codes:1" in out, out
    assert "codes_files_before=" in out
    assert not os.path.isdir(ivf_tombstones_path(lists))
    assert {
        r["n_id"] for r in read_table(spark, lists).collect()
    } == {10, 11}
    assert {
        r["vec_id"] for r in read_table(spark, codes).collect()
    } == {10, 11}  # the takedown removed the derived representation too


def test_fold_ivf_tombstones_folds_codes(spark, tmp_path):
    """The granular fold rewrites only the buckets holding a
    tombstoned id — in the codes, the buckets its vec_id hashes to —
    and reports the partitions it rewrote."""
    import os

    from fdblog2clickhouse_spark.operators.ann_store import (
        fold_ivf_tombstones,
        retract_ivf_vectors,
    )

    lists, codes = _toy_codes_index(spark, tmp_path)
    retract_ivf_vectors(
        spark, lists, spark.createDataFrame([(11,)], "doc_id long")
    )
    assert fold_ivf_tombstones(spark, lists) == {
        "folded": True, "lists_parts": 1, "codes_parts": 1,
    }
    assert {
        r["vec_id"] for r in read_table(spark, codes).collect()
    } == {10, 12}
    assert fold_ivf_tombstones(spark, lists) == {"folded": False}
    assert not os.path.isdir(ann_store.ivf_tombstones_path(lists))


def _tiny_vectors(spark, ids):
    """Deterministic 4-dim quantized vectors (vec_id, q, nq)."""
    import random

    def vec(vid):
        r = random.Random(vid * 2654435761 % 2**31)
        return [r.randint(-1000, 1000) for _ in range(4)]

    return spark.createDataFrame(
        [(i, vec(i), sum(x * x for x in vec(i))) for i in ids],
        "vec_id long, q array<long>, nq long",
    )


def _tiny_index(spark, tmp_path, base_ids):
    """A four-list IVF index over `_tiny_vectors`: a flat one-file
    codebook and the bucketed lists, built the package's way."""
    from pyspark.sql import functions as F

    cb = str(tmp_path / "codebook")
    lists = str(tmp_path / "lists")
    _tiny_vectors(spark, range(9000, 9004)).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).coalesce(1).write.parquet(cb)
    ann_store.assign_lists(spark, _tiny_vectors(spark, base_ids), cb, lists)
    return cb, lists


def test_ivf_maintenance_smoke(spark, tmp_path, capsys):
    """The IVF lifecycle's fast default-tier check: build, insert the
    same batch twice, retract, compact-store, search. The replay
    appends nothing; the fold rewrites only the bucket holding the
    retracted vector (every other partition dir is byte-identical);
    the sidecar is gone; and search equals an index built from the
    live vectors alone."""
    import glob
    import os

    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark import cli

    all_ids = list(range(40))
    cb, lists = _tiny_index(spark, tmp_path, all_ids[:30])
    batch = _tiny_vectors(spark, all_ids[30:])
    assert ann_store.ivf_insert_batch(spark, batch, cb, lists)["vectors"] == 10
    r = ann_store.ivf_insert_batch(spark, batch, cb, lists)
    assert r == {"vectors": 0, "skipped": 10, "codes_appended": False}

    assert cli.main(["compact-store", lists]) == 0  # one file per bucket
    capsys.readouterr()
    parts = sorted(glob.glob(os.path.join(lists, "pb=*")))
    assert len(parts) >= 2, "the fixture needs an untouched bucket"
    before = {d: _tree(d) for d in parts}

    victim = 3
    (victim_part,) = [
        d for d in parts
        if spark.read.parquet(d).where(F.col("n_id") == victim).count()
    ]
    assert cli.main(["retract-vectors", lists, "--id", str(victim)]) == 0
    assert cli.main(["compact-store", lists]) == 0
    assert "fold_parts=lists:1/codes:0" in capsys.readouterr().out
    assert not os.path.isdir(ann_store.ivf_tombstones_path(lists))
    for d in parts:
        if d != victim_part:
            assert _tree(d) == before[d], d

    live = [i for i in all_ids if i != victim]
    model = tmp_path / "model"
    model.mkdir()
    _, model_lists = _tiny_index(spark, model, live)
    qn = _tiny_vectors(spark, all_ids)
    got = ann_store.ivf_store_search_plan(spark, qn, cb, lists)
    want = ann_store.ivf_store_search_plan(spark, qn, cb, model_lists)
    got, want = sorted(map(tuple, got.collect())), sorted(map(tuple, want.collect()))
    assert got and got == want
    assert sorted(map(tuple, read_table(spark, lists).collect())) == sorted(
        map(tuple, read_table(spark, model_lists).collect())
    )


def test_ivf_commands_refuse_flat_tables(spark, tmp_path):
    """Every IVF command exits naming the table and build-ivfpq when
    the lists table has no layout marker — a flat table the package
    no longer writes — before any Spark job, and leaves it as it
    was."""
    import pytest

    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark import cli

    cb, lists = _tiny_index(spark, tmp_path, range(20))
    flat = str(tmp_path / "flat")
    read_table(spark, lists).coalesce(1).write.parquet(flat)
    vecs = str(tmp_path / "vecs")
    _tiny_vectors(spark, range(20, 24)).select(
        "vec_id", F.col("q").cast("array<float>").alias("embedding")
    ).write.parquet(vecs)
    files = _tree(flat)

    sc = spark.sparkContext
    sc.setJobGroup("test-ivf-flat-refusal", "IVF layout refusal")
    try:
        for argv in (
            ["insert-vectors", vecs, cb, flat],
            ["refresh-ivf", cb, flat, "--vectors", vecs],
            ["retract-vectors", flat, "--id", "1"],
            ["compact-store", flat],
            ["search-ivfpq", cb, flat, "--vectors", vecs],
            ["probe-recall", cb, flat, "--vectors", vecs],
        ):
            with pytest.raises(SystemExit, match=f"{flat} .*build-ivfpq"):
                cli.main(argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert sc.statusTracker().getJobIdsForGroup("test-ivf-flat-refusal") == []
    assert _tree(flat) == files


def test_refresh_reencodes_persisted_codes(spark, sf_smoke, tmp_path):
    """After refresh_ivf_centroids the codes table must equal a fresh
    encode against the NEW lists + centroids + retrained PQ codebook
    — byte-exact, and a retracted vector's codes leave with the same
    pass (the re-encode covers live members only)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.operators.ann_store import retract_ivf_vectors

    qn = _quantized(spark, sf_smoke).cache()
    cb = str(tmp_path / "codebook")
    lists = str(tmp_path / "lists")
    codes = ann_store.ivf_codes_path(lists)
    qn.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).coalesce(1).write.parquet(cb)
    ann_store.assign_lists(spark, qn, cb, lists)
    ann_store.train_pq_codebook(spark, qn, cb, lists)
    ann_store.reencode_ivf_codes(spark, qn, cb, lists)
    codes0 = {tuple(r) for r in read_table(spark, codes).collect()}

    victim = qn.agg(F.max("vec_id")).first()[0]
    retract_ivf_vectors(
        spark, lists, spark.createDataFrame([(victim,)], "doc_id long")
    )
    ann_store.refresh_ivf_centroids(spark, qn, cb, lists)

    got = {tuple(r) for r in read_table(spark, codes).collect()}
    assert got != codes0  # geometry changed → codes changed
    assert all(r[0] != victim for r in got)  # takedown's codes are gone

    # expected: fresh encode against the post-refresh artifacts
    centv = read_table(spark, cb).select("c_id", F.col("q").alias("cq"))
    resid = (
        qn.join(
            read_table(spark, lists).withColumnRenamed("n_id", "vec_id"),
            "vec_id",
        )
        .join(broadcast(centv), F.col("list_id") == F.col("c_id"))
        .select(
            "vec_id",
            F.zip_with(F.col("q"), F.col("cq"), lambda x, y: x - y).alias("q"),
        )
    )
    pq_cb = read_table(spark, ann_store.pq_codebook_path(cb))
    want = {
        tuple(r) for r in ann_store._ivfpq_codes(resid, pq_cb).collect()
    }
    qn.unpersist()
    assert got == want


def test_refresh_rejects_codes_without_pq_codebook(spark, sf_smoke, tmp_path):
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.operators.dedup import _quantized

    qn = _quantized(spark, sf_smoke)
    cb = str(tmp_path / "codebook")
    lists = str(tmp_path / "lists")
    qn.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).coalesce(1).write.parquet(cb)
    ann_store.assign_lists(spark, qn, cb, lists)
    ann_store.train_pq_codebook(spark, qn, cb, lists)
    ann_store.reencode_ivf_codes(spark, qn, cb, lists)
    shutil.rmtree(ann_store.pq_codebook_path(cb))
    with pytest.raises(RuntimeError, match="incoherent"):
        ann_store.refresh_ivf_centroids(spark, qn, cb, lists)


def test_filtered_search_matches_oracle(spark, sf_oracle):
    compare(
        ann_store.ann_ivf_filtered_search(spark, sf_oracle),
        ann_store.ORACLE["ann_ivf_filtered_search"],
        sf_oracle,
    )


def test_filtered_search_prefilters_and_composes_tombstones(
    spark, sf_oracle, tmp_path
):
    """Every returned neighbor passes the predicate (pre-filter —
    a post-filter could also violate this only by returning fewer
    rows, so additionally pin that a retraction through the vec_id
    tombstone sidecar is composed by the FILTERED plan like every
    other lists reader: retracting a returned neighbor removes it
    without any index rewrite."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.operators.ann_store import retract_ivf_vectors

    qn = _quantized(spark, sf_oracle).cache()
    cb = str(tmp_path / "codebook")
    lists = str(tmp_path / "lists")
    qn.where(
        F.col("vec_id").isin(similarity._CENTROID_IDS)
    ).select(F.col("vec_id").alias("c_id"), "q", "nq").coalesce(1).write.parquet(cb)
    ann_store.assign_lists(spark, qn, cb, lists)
    allowed = qn.where(
        F.col("label") < ann_store._FILTER_LABEL_MAX
    ).select(F.col("vec_id").alias("n_id"))
    out = ann_store.ivf_store_filtered_search_plan(
        spark, qn, allowed, cb, lists
    )
    rows = out.collect()
    assert rows, "filtered search returned nothing"
    allowed_ids = {r["n_id"] for r in allowed.collect()}
    assert {r["n_id"] for r in rows} <= allowed_ids

    victim = rows[0]["n_id"]
    retract_ivf_vectors(
        spark, lists,
        spark.createDataFrame([(victim,)], "doc_id long"),
    )
    after = ann_store.ivf_store_filtered_search_plan(
        spark, qn, allowed, cb, lists
    ).collect()
    qn.unpersist()
    assert victim not in {r["n_id"] for r in after}


def test_filtered_plan_shape_no_cartesian(spark, sf_smoke, tmp_path):
    """The filtered search plan must keep the IVF query node's
    shape: no cartesian blow-up, probes/queries broadcast, and the
    allowed-id restriction spelled as a semi-join (LeftSemi) so the
    filter never widens the candidate set."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.plans import formatted_plan

    qn = _quantized(spark, sf_smoke)
    cb = str(tmp_path / "codebook")
    lists = str(tmp_path / "lists")
    qn.where(
        F.col("vec_id").isin(similarity._CENTROID_IDS)
    ).select(F.col("vec_id").alias("c_id"), "q", "nq").coalesce(1).write.parquet(cb)
    ann_store.assign_lists(spark, qn, cb, lists)
    allowed = qn.where(
        F.col("label") < ann_store._FILTER_LABEL_MAX
    ).select(F.col("vec_id").alias("n_id"))
    plan = formatted_plan(
        ann_store.ivf_store_filtered_search_plan(spark, qn, allowed, cb, lists)
    )
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def _build_ivfpq_fixture(spark, sf_smoke, tmp_path):
    """A small on-disk IVF-PQ index over the smoke corpus's base
    slice (vec_id % 10 != 0), leaving the % 10 == 0 slice as the
    insert batch — the redelivery tests' shared fixture."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.operators.dedup import _quantized

    qn = _quantized(spark, sf_smoke).cache()
    cb = str(tmp_path / "codebook")
    lists = str(tmp_path / "lists")
    base = qn.where(F.pmod("vec_id", F.lit(10)) != 0)
    base.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("c_id"), "q", "nq"
    ).coalesce(1).write.parquet(cb)
    ann_store.assign_lists(spark, base, cb, lists)
    ann_store.train_pq_codebook(spark, base, cb, lists)
    ann_store.reencode_ivf_codes(spark, base, cb, lists)
    batch = qn.where(F.pmod("vec_id", F.lit(10)) == 0)
    return qn, cb, lists, batch


def _files(path):
    import glob
    import os

    return sorted(
        os.path.relpath(f, path)
        for f in glob.glob(path + "/**/*.parquet", recursive=True)
    )


def _rows(spark, path):
    return sorted(map(tuple, read_table(spark, path).collect()))


def test_ivf_insert_idempotent_redelivery(spark, sf_smoke, tmp_path):
    """VERDICT r16 #2: foreachBatch is at-least-once, so inserting
    the SAME batch twice must end byte-identical to once — the
    replay appends no lists row, no codes row, and (since empty
    appends are skipped entirely) no parquet file."""
    qn, cb, lists, batch = _build_ivfpq_fixture(spark, sf_smoke, tmp_path)
    codes = ann_store.ivf_codes_path(lists)

    r1 = ann_store.ivf_insert_batch(spark, batch, cb, lists)
    assert r1["vectors"] > 0 and r1["skipped"] == 0
    assert r1["codes_appended"] is True
    lf, cf = _files(lists), _files(codes)
    lr, cr = _rows(spark, lists), _rows(spark, codes)

    r2 = ann_store.ivf_insert_batch(spark, batch, cb, lists)
    assert r2 == {
        "vectors": 0, "skipped": r1["vectors"], "codes_appended": True,
    }
    assert _files(lists) == lf and _files(codes) == cf
    assert _rows(spark, lists) == lr and _rows(spark, codes) == cr

    # coherent after the replay: codes cover every listed vector
    li = read_table(spark, lists)
    assert (
        read_table(spark, codes).select("vec_id").distinct().count()
        == li.count()
    )
    # and compressed search still answers with the batch's vectors
    got = ann_store.ivfpq_store_search_plan(spark, qn, cb, lists, codes)
    answered = {r["n_id"] for r in got.collect()}
    streamed = {r["vec_id"] for r in batch.select("vec_id").collect()}
    assert answered & streamed
    qn.unpersist()


def test_ivf_insert_repairs_crash_between_appends(spark, sf_smoke, tmp_path):
    """The half-inserted window: a crash AFTER the lists append but
    BEFORE the codes append leaves listed vectors with no codes —
    invisible to compressed search. The replay must NOT double-append
    their lists rows, and MUST encode exactly the missing codes."""
    from pyspark.sql import functions as F

    qn, cb, lists, batch = _build_ivfpq_fixture(spark, sf_smoke, tmp_path)
    codes = ann_store.ivf_codes_path(lists)

    # simulate the crash: assignment rows land, codes never do
    ann_store.assign_lists(spark, batch, cb, lists, "append")
    n_half = read_table(spark, lists).count()
    n_batch = batch.count()
    assert (
        read_table(spark, codes).select("vec_id").distinct().count()
        == n_half - n_batch
    )

    r = ann_store.ivf_insert_batch(spark, batch, cb, lists)
    assert r == {
        "vectors": 0, "skipped": n_batch, "codes_appended": True,
    }
    assert read_table(spark, lists).count() == n_half
    # coherence restored: every listed vector has codes again
    assert (
        read_table(spark, codes).select("vec_id").distinct().count()
        == n_half
    )
    # and the repaired codes are byte-identical to a clean insert's:
    # encode-at-insert ≡ rebuild, so re-encoding the whole corpus
    # against the same codebooks reproduces them
    repaired = _rows(spark, codes)
    import shutil

    shutil.rmtree(codes)
    ann_store.reencode_ivf_codes(spark, qn, cb, lists)
    assert _rows(spark, codes) == repaired
    qn.unpersist()


def test_ivf_insert_refuses_incoherent_before_any_write(
    spark, sf_smoke, tmp_path
):
    """ADVICE r16: the codes-without-codebook refusal must run
    BEFORE the lists append — the old ordering appended the batch's
    lists rows and THEN raised, so the refusal itself created the
    incoherence it refused (and a retry duplicated the rows)."""
    import shutil

    import pytest

    qn, cb, lists, batch = _build_ivfpq_fixture(spark, sf_smoke, tmp_path)
    codes = ann_store.ivf_codes_path(lists)
    shutil.rmtree(ann_store.pq_codebook_path(cb))
    lf, lr = _files(lists), _rows(spark, lists)
    cf = _files(codes)
    with pytest.raises(RuntimeError, match="incoherent"):
        ann_store.ivf_insert_batch(spark, batch, cb, lists)
    assert _files(lists) == lf and _rows(spark, lists) == lr
    assert _files(codes) == cf
    qn.unpersist()


def test_ivf_insert_respects_pending_tombstones(spark, sf_smoke, tmp_path):
    """A retracted vec_id stays retracted until the next fold even
    if the feed redelivers it (the dedup admission's raw anti-join
    contract, now shared by the vector store): the insert anti-joins
    RAW lists, so a tombstoned-but-unfolded row blocks re-insertion;
    after the fold the id admits fresh."""
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.operators.ann_store import (
        fold_ivf_tombstones,
        retract_ivf_vectors,
    )

    qn, cb, lists, batch = _build_ivfpq_fixture(spark, sf_smoke, tmp_path)
    r1 = ann_store.ivf_insert_batch(spark, batch, cb, lists)
    assert r1["vectors"] > 0

    victim = batch.orderBy("vec_id").limit(1)
    vid = victim.first()["vec_id"]
    retract_ivf_vectors(
        spark, lists, victim.select(F.col("vec_id").alias("doc_id"))
    )
    # redelivery while the tombstone is pending: skipped, not revived
    r2 = ann_store.ivf_insert_batch(spark, batch, cb, lists)
    assert r2["vectors"] == 0 and r2["skipped"] == r1["vectors"]
    from fdblog2clickhouse_spark.operators.ann_store import live_ivf_lists

    assert live_ivf_lists(spark, lists).where(
        F.col("n_id") == vid
    ).count() == 0

    # after the fold the id may be admitted fresh
    fold_ivf_tombstones(spark, lists)
    r3 = ann_store.ivf_insert_batch(spark, batch, cb, lists)
    assert r3["vectors"] == 1 and r3["skipped"] == r1["vectors"] - 1
    assert live_ivf_lists(spark, lists).where(
        F.col("n_id") == vid
    ).count() == 1
    qn.unpersist()


def test_maybe_split_ivf_lists_decision(spark, tmp_path, monkeypatch):
    """VERDICT r16 #3: the maintenance pass splits when the live max
    list size crosses the trigger, down to the target; under the
    trigger it no-ops (byte-untouched); degenerate over-budget lists
    stop the loop instead of spinning."""
    qn = _skew_fixture_qn(spark)
    cb, li = _skew_index(spark, tmp_path, qn)
    before = sorted(map(tuple, read_table(spark, li).collect()))

    # under the trigger: no-op, nothing rewritten
    def thresholds(trigger, target):
        monkeypatch.setattr(ann_store, "_SPLIT_TRIGGER_ROWS", trigger)
        monkeypatch.setattr(ann_store, "_SPLIT_TARGET_ROWS", target)

    thresholds(64, 16)
    ms = ann_store.maybe_split_ivf_lists(spark, qn, cb, li)
    assert ms["triggered"] is False and ms["rounds"] == 0
    assert ms["max_list_before"] == 30
    assert sorted(map(tuple, read_table(spark, li).collect())) == before

    # over the trigger: split down to the target (possibly multiple
    # rounds — a child can exceed the budget)
    thresholds(20, 5)
    ms = ann_store.maybe_split_ivf_lists(spark, qn, cb, li)
    assert ms["triggered"] is True and ms["split"] >= 1
    assert ms["max_list_after"] <= 20
    sizes = {
        r["list_id"]: r["count"]
        for r in read_table(spark, li).groupBy("list_id").count().collect()
    }
    assert max(sizes.values()) == ms["max_list_after"]

    # degenerate: identical vectors can't split — loop stops, no spin
    qn2 = spark.createDataFrame(
        [(i, [500, 500, 0, 0], 500000) for i in range(10)],
        "vec_id long, q array<long>, nq long",
    )
    cb2, li2 = _skew_index(spark, tmp_path / "deg", qn2)
    thresholds(4, 2)
    ms = ann_store.maybe_split_ivf_lists(spark, qn2, cb2, li2)
    assert ms["triggered"] is True and ms["rounds"] == 1
    assert ms["split"] == 0 and ms["max_list_after"] == 10


def test_refresh_ivf_cli_auto_split_growth(spark, tmp_path, capsys, monkeypatch):
    """The growth scenario end to end: an
    index whose hot list crossed the (test-scaled) trigger gets its
    lists split by the refresh-ivf maintenance pass automatically,
    the report line says so, and full-coverage search results are
    unchanged (probing every list makes the candidate set
    split-invariant, so ranking is too)."""
    import os

    from fdblog2clickhouse_spark import cli
    from fdblog2clickhouse_spark.operators.dedup import _QUANT

    qn = _skew_fixture_qn(spark)
    cb, li = _skew_index(spark, tmp_path, qn)
    # the raw embeddings the CLI quantizes back to exactly qn
    vecs = str(tmp_path / "vecs")
    from pyspark.sql import functions as F

    qn.select(
        "vec_id",
        F.transform(
            "q", lambda x: x.cast("double") / F.lit(float(_QUANT))
        ).alias("embedding"),
    ).coalesce(1).write.parquet(vecs)

    n_lists_before = read_table(spark, cb).count()
    search0 = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(
                spark, qn, cb, li, nprobe=32
            ).collect(),
        )
    )

    # test-scaled thresholds (trigger 16 rows/list, target 4)
    monkeypatch.setattr(ann_store, "_SPLIT_TRIGGER_ROWS", 16)
    monkeypatch.setattr(ann_store, "_SPLIT_TARGET_ROWS", 4)
    rc = cli.main(["refresh-ivf", cb, li, "--vectors", vecs])
    assert rc == 0
    out = capsys.readouterr().out
    assert "auto_split=" in out and "max_list_after_split=" in out

    sizes = {
        r["list_id"]: r["count"]
        for r in read_table(spark, li).groupBy("list_id").count().collect()
    }
    assert max(sizes.values()) <= 16  # bounded: under the trigger
    assert read_table(spark, cb).count() > n_lists_before
    search1 = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(
                spark, qn, cb, li, nprobe=32
            ).collect(),
        )
    )
    # full coverage ⇒ candidate set is every vector, before and after
    # — but list_id is part of the output row; compare on the stable
    # columns (q_id, n_id, cosine, rank)
    strip = lambda rows: [
        (r[0], r[1], r[3], r[4]) for r in rows
    ]
    assert strip(search1) == strip(search0)

    # under the trigger now: a second pass still refreshes (that is
    # its job — a Lloyd step may move vectors between the children)
    # but the SPLIT decision no-ops and the bound holds
    rc = cli.main(["refresh-ivf", cb, li, "--vectors", vecs])
    assert rc == 0
    out = capsys.readouterr().out
    assert "auto_split=" not in out
    sizes = {
        r["list_id"]: r["count"]
        for r in read_table(spark, li).groupBy("list_id").count().collect()
    }
    assert max(sizes.values()) <= 16


import pytest as _pytest


@_pytest.mark.parametrize("seed", [7, 23, 61])
def test_ivf_lifecycle_random_ops_match_model(spark, tmp_path, seed):
    """Randomized lifecycle property (the IVF analog of the dedup
    store's fold-matches-live-views property): a seeded random
    sequence of insert / REPLAY / retract / fold / compact-store ops
    against the persisted index must leave live_ivf_lists exactly
    equal to a driver-side reference model (set of live vec_ids,
    each assigned by the same fixed codebook) — replays never
    duplicate, tombstones hide until a fold, folds/compactions never
    lose or resurrect a row, and file-count maintenance is
    invisible to the live view."""
    import os
    import random

    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark import cli
    from fdblog2clickhouse_spark.operators.ann_store import (
        fold_ivf_tombstones,
        live_ivf_lists,
        retract_ivf_vectors,
    )

    rng = random.Random(seed)
    d = 4

    def vec(vid):
        r = random.Random(vid * 2654435761 % 2**31)
        return [r.randint(-1000, 1000) for _ in range(d)]

    cb = str(tmp_path / "codebook")
    lists = str(tmp_path / "lists")
    cents = [(9000 + i, [1000 * (1 if i % 2 == 0 else -1) * (i + 1) % 1700,
                         500 * i - 750, 0, 0]) for i in range(4)]
    spark.createDataFrame(
        [(c, q, sum(x * x for x in q)) for c, q in cents],
        "c_id long, q array<long>, nq long",
    ).coalesce(1).write.parquet(cb)

    def frame(ids):
        rows = [(i, vec(i), sum(x * x for x in vec(i))) for i in ids]
        return spark.createDataFrame(
            rows, "vec_id long, q array<long>, nq long"
        )

    # seed the index with an initial base
    base_ids = list(range(100, 130))
    ann_store.assign_lists(spark, frame(base_ids), cb, lists)

    live = set(base_ids)       # the model: ids visible to readers
    tombstoned = set()         # retracted, pending fold
    next_id = 200
    last_batch = None
    for _ in range(12):
        op = rng.choice(["insert", "replay", "retract", "fold", "compact"])
        if op == "insert":
            n = rng.randint(1, 8)
            ids = list(range(next_id, next_id + n))
            # sprinkle in some already-known ids: replays/overlaps
            ids += rng.sample(sorted(live), min(2, len(live)))
            next_id += n
            ann_store.ivf_insert_batch(spark, frame(ids), cb, lists)
            last_batch = ids
            live |= set(ids) - tombstoned  # tombstoned ids stay hidden
        elif op == "replay" and last_batch:
            ann_store.ivf_insert_batch(spark, frame(last_batch), cb, lists)
            live |= set(last_batch) - tombstoned
        elif op == "retract" and live:
            victims = set(rng.sample(sorted(live), min(3, len(live))))
            retract_ivf_vectors(
                spark, lists,
                spark.createDataFrame(
                    [(v,) for v in victims], "doc_id long"
                ),
            )
            live -= victims
            tombstoned |= victims
        elif op == "fold":
            fold_ivf_tombstones(spark, lists)
            tombstoned = set()  # folded: ids may re-admit fresh
        elif op == "compact":
            # the maintenance pass: fold, re-bucket, compact
            assert cli.main(["compact-store", lists]) == 0
            tombstoned = set()

        got = {
            (r["n_id"], r["list_id"])
            for r in live_ivf_lists(spark, lists).collect()
        }
        want = {
            (r["v_id"], r["c_id"])
            for r in ann_store._assign(
                frame(sorted(live)), read_table(spark, cb), 1
            ).collect()
        }
        assert got == want, f"divergence after {op} (seed {seed})"


def test_ivf_insert_heals_crashed_swap_first(spark, sf_smoke, tmp_path):
    """A maintenance swap that crashed mid-rename leaves lists (or
    codes) only at path+'.old'. The insert kernel must heal BEFORE its
    reads and existence checks: un-healed, the lists read raises (or
    an append forks a fresh table beside the real one), and the
    codes-dir check silently classifies a codes-bearing index as
    lists-only — streamed vectors invisible to compressed search."""
    import os

    from pyspark.sql import functions as F

    qn, cb, lists, batch = _build_ivfpq_fixture(spark, sf_smoke, tmp_path)
    codes = ann_store.ivf_codes_path(lists)

    # the crash state: both tables renamed aside, nothing live
    os.rename(lists, lists + ".old")
    os.rename(codes, codes + ".old")

    r = ann_store.ivf_insert_batch(spark, batch, cb, lists)
    assert r["vectors"] == batch.count() and r["codes_appended"] is True
    assert not os.path.exists(lists + ".old") or os.path.isdir(lists)
    # healed + coherent: every listed vector (base + batch) has codes
    li = read_table(spark, lists)
    assert (
        read_table(spark, codes).select("vec_id").distinct().count()
        == li.count()
    )
    # and the base rows survived (no forked fresh table)
    base_ids = {
        r["vec_id"]
        for r in qn.where(F.pmod("vec_id", F.lit(10)) != 0)
        .select("vec_id")
        .collect()
    }
    assert base_ids <= {r["n_id"] for r in li.collect()}
    qn.unpersist()


def test_search_plans_heal_crashed_swaps(spark, sf_smoke, tmp_path):
    """The query nodes heal a crash-interrupted maintenance swap on
    every artifact they read: with codebook / codes / PQ codebook
    renamed aside (the mid-rename crash state), both search plans
    still answer — and identically to the pre-crash state."""
    import os

    qn, cb, lists, batch = _build_ivfpq_fixture(spark, sf_smoke, tmp_path)
    codes = ann_store.ivf_codes_path(lists)
    pq = ann_store.pq_codebook_path(cb)

    want_ivf = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(spark, qn, cb, lists).collect(),
        )
    )
    want_pq = sorted(
        map(
            tuple,
            ann_store.ivfpq_store_search_plan(
                spark, qn, cb, lists, codes
            ).collect(),
        )
    )

    os.rename(cb, cb + ".old")
    got = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(spark, qn, cb, lists).collect(),
        )
    )
    assert got == want_ivf and os.path.isdir(cb)

    for p in (cb, codes, pq):
        os.rename(p, p + ".old")
    got = sorted(
        map(
            tuple,
            ann_store.ivfpq_store_search_plan(
                spark, qn, cb, lists, codes
            ).collect(),
        )
    )
    assert got == want_pq
    assert os.path.isdir(cb) and os.path.isdir(codes) and os.path.isdir(pq)
    qn.unpersist()


def test_swap_survives_racing_heal(spark, sf_smoke, tmp_path, monkeypatch):
    """MAINTAINER CONTRACT (module docstring / ADVICE r17): a query
    node in another process whose heal_swap fires inside a
    re-bucket's whole-table swap window — restoring the superseded
    lists between rename(live→old) and rename(staging→live) — is
    absorbed by the swap's bounded retry. The re-bucket COMPLETES
    (old behavior: ENOTEMPTY abort) and search results are
    unchanged."""
    import os

    from fdblog2clickhouse_spark.operators.tables import bucket_table, table_layout

    qn, cb, lists, batch = _build_ivfpq_fixture(spark, sf_smoke, tmp_path)
    ann_store.ivf_insert_batch(spark, batch, cb, lists)
    want = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(spark, qn, cb, lists).collect(),
        )
    )

    real_rename = os.rename
    fired = []

    def racing(src, dst):
        real_rename(src, dst)
        if src == lists and dst == lists + ".old" and not fired:
            fired.append(1)
            storage.heal_swap(lists)  # the query node's heal

    buckets = 2 * table_layout(lists)["buckets"]
    monkeypatch.setattr(os, "rename", racing)
    bucket_table(spark, lists, buckets)
    monkeypatch.setattr(os, "rename", real_rename)
    assert fired and table_layout(lists)["buckets"] == buckets  # it rewrote
    assert not os.path.exists(lists + ".old")
    assert not os.path.exists(lists + ".staging")
    got = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(spark, qn, cb, lists).collect(),
        )
    )
    assert got == want
    qn.unpersist()


def test_second_writer_aborts_not_corrupts(spark, sf_smoke, tmp_path, monkeypatch):
    """MAINTAINER CONTRACT: a second WRITER re-creating the live
    lists on every retry (out of contract) exhausts `_swap_aside`'s
    bounded retry — a re-bucket's whole-table swap ABORTS with the
    live table and the staging dir both complete (searches still
    answer, identically), and re-running once the other writer stops
    converges."""
    import os

    import pytest

    from fdblog2clickhouse_spark.operators.tables import bucket_table, table_layout

    qn, cb, lists, batch = _build_ivfpq_fixture(spark, sf_smoke, tmp_path)
    ann_store.ivf_insert_batch(spark, batch, cb, lists)
    want = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(spark, qn, cb, lists).collect(),
        )
    )

    real_rename = os.rename

    def always_racing(src, dst):
        real_rename(src, dst)
        if src == lists and dst == lists + ".old":
            storage.heal_swap(lists)

    buckets = 2 * table_layout(lists)["buckets"]
    monkeypatch.setattr(os, "rename", always_racing)
    with pytest.raises(RuntimeError, match="second"):
        bucket_table(spark, lists, buckets)
    monkeypatch.setattr(os, "rename", real_rename)
    assert table_layout(lists)["buckets"] == buckets // 2

    # abort, not corruption: the live index answers unchanged
    got = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(spark, qn, cb, lists).collect(),
        )
    )
    assert got == want
    # converge once the other writer stops
    bucket_table(spark, lists, buckets)
    assert table_layout(lists)["buckets"] == buckets  # it rewrote
    got = sorted(
        map(
            tuple,
            ann_store.ivf_store_search_plan(spark, qn, cb, lists).collect(),
        )
    )
    assert got == want
    qn.unpersist()


def test_rerank_recovers_adc_ranking_error(spark, sf_oracle):
    """The refinement contract: exact re-rank of the ADC top-pool
    can only improve recall against exact truth (same candidates,
    better scores), and every rerank result must come FROM the ADC
    pool — the refinement never widens the candidate set."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.operators.similarity import _N_QUERIES

    qn = _quantized(spark, sf_oracle).cache()
    k = ann_store._IVF_TOPK

    # exact truth (quantized-domain L2, self excluded)
    qs = qn.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qa"),
        F.col("nq").alias("na"),
    )
    pairs = qn.select(
        F.col("vec_id").alias("n_id"), F.col("q").alias("qb"),
        F.col("nq").alias("nb"),
    ).join(F.broadcast(qs), F.col("n_id") != F.col("q_id"))
    dexpr = (
        F.col("na")
        - 2 * F.aggregate(
            F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
            F.lit(0).cast("long"), lambda a, x: a + x,
        )
        + F.col("nb")
    )
    w = Window.partitionBy("q_id").orderBy(dexpr.asc(), F.col("n_id").asc())
    truth = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k).select("q_id", "n_id").cache()
    )
    n_truth = truth.count()

    pool = ann_store._ivfpq_plan(spark, qn, k=ann_store._RERANK_POOL).cache()
    adc_top = pool.where(F.col("rank") <= k).select("q_id", "n_id")
    queries = qn.where(F.col("vec_id") < _N_QUERIES).select(
        "vec_id", "q", "nq"
    )
    rr = ann_store._exact_rerank(pool, queries, qn, k).cache()

    # every rerank hit came from the pool
    assert rr.join(
        pool.select("q_id", "n_id"), ["q_id", "n_id"], "left_anti"
    ).count() == 0
    # recall(rerank) >= recall(plain ADC) against exact truth
    adc_recall = truth.join(adc_top, ["q_id", "n_id"], "left_semi").count()
    rr_recall = truth.join(
        rr.select("q_id", "n_id"), ["q_id", "n_id"], "left_semi"
    ).count()
    assert rr_recall >= adc_recall, (rr_recall, adc_recall, n_truth)
    # shape: exactly k rows per query that HAS >= k pool candidates
    per_q = {r["q_id"]: r["cnt"] for r in
             rr.groupBy("q_id").agg(F.count("*").alias("cnt")).collect()}
    assert all(c <= k for c in per_q.values())
    pool.unpersist()
    rr.unpersist()
    qn.unpersist()
