"""Physical-plan shape guards (SURVEY §3 scale laws).

Correctness tests can pass with a plan that would collapse at 100 TB;
these tests pin the plan properties that matter at scale: dimension
joins stay broadcast, filters reach the parquet scan, projections
prune columns, and nothing degenerates into a cartesian product or a
row-at-a-time Python eval in the hot path.
"""

from __future__ import annotations

import pytest

from fdblog2clickhouse_spark import operators
from fdblog2clickhouse_spark.plans import formatted_plan


def _plan(spark, name, sf_dir) -> str:
    return formatted_plan(operators.all_queries()[name](spark, sf_dir))


BROADCAST_QUERIES = ["tpch_q3", "tpch_q5", "tpch_q7", "tpch_q8", "tpch_q10", "tpch_q14"]


@pytest.mark.parametrize("name", BROADCAST_QUERIES)
def test_dim_joins_broadcast(spark, sf_smoke, name):
    plan = _plan(spark, name, sf_smoke)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join\n{plan}"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"


def test_q6_filter_pushdown(spark, sf_smoke):
    plan = _plan(spark, "tpch_q6", sf_smoke)
    assert "PushedFilters: [" in plan
    # at least one real pushed filter (not just the empty list)
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line and "[]" not in line
    ]
    assert pushed, f"q6 filters not pushed to scan\n{plan}"


def test_q6_column_pruning(spark, sf_smoke):
    plan = _plan(spark, "tpch_q6", sf_smoke)
    reads = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert reads, plan
    # q6 needs only shipdate/discount/quantity/extendedprice
    assert all(line.count(",") <= 3 for line in reads), f"q6 over-reads columns\n{plan}"


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q1",
        "severity_rollup",
        "dedup_exact",
        "token_count",
        "events_per_minute",
    ],
)
def test_no_python_eval_in_hot_path(spark, sf_smoke, name):
    """Pure-SQL operators must stay JVM-side: no BatchEvalPython
    (row-at-a-time UDF) nodes anywhere in their plans."""
    plan = _plan(spark, name, sf_smoke)
    assert "BatchEvalPython" not in plan, f"{name}: python UDF in hot path\n{plan}"


def test_partial_aggregation_present(spark, sf_smoke):
    """Map-side combine before the shuffle on the big aggregations."""
    for name in ["tpch_q1", "dedup_exact", "severity_rollup"]:
        plan = _plan(spark, name, sf_smoke)
        assert "partial" in plan.lower(), f"{name}: no partial aggregation\n{plan}"


def test_bucketed_join_no_exchange(spark, sf_smoke, tmp_path):
    """Facts written bucketed on the join key must join WITHOUT any
    exchange — the co-located join path that makes orders⋈lineitem
    survive 100 TB. (Broadcast is disabled for the check so the plan
    can't cheat; bucket-pruned SortMergeJoin must appear.)"""
    from fdblog2clickhouse_spark.plans import formatted_plan
    from fdblog2clickhouse_spark.sinks.bucketed import bucketed_join, write_bucketed
    from fdblog2clickhouse_spark.sources.tables import table

    write_bucketed(
        table(spark, sf_smoke, "orders"), "b_orders", "o_orderkey", n_buckets=4
    )
    l = table(spark, sf_smoke, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(l, "b_lineitem", "o_orderkey", n_buckets=4)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, f"bucketed join still shuffles\n{plan}"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_minhash_single_fact_shuffle(spark, sf_smoke):
    """The MinHash signature must shuffle signatures, not shingles:
    exactly one hash-aggregate pair (partial+final) feeding the band
    explode, and no re-computation per band (no unionAll fan-out)."""
    plan = _plan(spark, "dedup_minhash_lsh", sf_smoke)
    assert "Union" not in plan, f"band fan-out reintroduced unionAll\n{plan}"


@pytest.mark.parametrize(
    "name",
    [
        "hll_distinct_users",
        "cms_heavy_hitters",
        "value_histogram",
        "value_quantile_hist",
        "minute_anomaly_zscore",
        "funnel_conversion",
        "user_path_transitions",
        "events_pivot_usertype",
        "events_sliding_windows",
        "quality_repetition",
        "pii_detect",
        "knn_classify",
    ],
)
def test_r2_ops_stay_jvm_side(spark, sf_smoke, name):
    """Round-2 operators are pure column algebra: no Python eval, no
    cartesian products in any plan."""
    plan = _plan(spark, name, sf_smoke)
    assert "BatchEvalPython" not in plan, f"{name}: python UDF\n{plan}"
    assert "CartesianProduct" not in plan, f"{name}: cartesian\n{plan}"


def test_sketches_bounded_shuffle(spark, sf_smoke):
    """Sketch aggregates must combine map-side: every aggregate in the
    HLL/CMS plans is a partial+final pair, so the shuffle payload is
    registers/cells, not events."""
    for name in ("hll_distinct_users", "cms_heavy_hitters"):
        plan = _plan(spark, name, sf_smoke)
        assert "partial" in plan.lower(), f"{name}: no partial agg\n{plan}"


@pytest.mark.parametrize(
    "name",
    [
        "market_basket_pairs",
        "bpe_pair_stats",
        "chunk_dedup",
        "events_decay_score",
        "embedding_kmeans",
        "cluster_balanced_sample",
        "user_recent_events",
        "churned_users",
        "events_unpivot_measures",
        "nation_activity_fullouter",
        "orders_percent_rank",
        "tpch_q2",
        "tpch_q11",
        "tpch_q16",
        "tpch_q20",
        "doc_lang_kmeans",
        "doc_rarity_score",
        "ann_filtered_topk",
    ],
)
def test_r2c_ops_stay_jvm_side(spark, sf_smoke, name):
    """Round-2 continuation operators are pure column algebra: no
    Python eval, no cartesian products."""
    plan = _plan(spark, name, sf_smoke)
    assert "BatchEvalPython" not in plan, f"{name}: python UDF\n{plan}"
    assert "CartesianProduct" not in plan, f"{name}: cartesian\n{plan}"


def test_decay_score_has_no_window(spark, sf_smoke):
    """events_decay_score's design point: the variable-weight trailing
    frame is a bounded explode + re-aggregate, NOT a window — windows
    serialize per-key and can't apply per-row weights."""
    plan = _plan(spark, "events_decay_score", sf_smoke)
    assert "Window" not in plan, f"decay fell back to a window\n{plan}"
    assert "partial" in plan.lower(), f"decay lost map-side combine\n{plan}"


def test_kmeans_estep_broadcasts(spark, sf_smoke):
    """The K=8 centroid side of both Lloyd E-steps must broadcast —
    assignment never shuffles the vector table."""
    plan = _plan(spark, "embedding_kmeans", sf_smoke)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_churn_compiles_to_anti_join(spark, sf_smoke):
    """EXCEPT DISTINCT must become a left-anti join on the distinct
    projections, not a sort-based set difference."""
    plan = _plan(spark, "churned_users", sf_smoke)
    assert "LeftAnti" in plan, f"EXCEPT not an anti join\n{plan}"


def test_knn_broadcasts_queries(spark, sf_smoke):
    """The held-out query side must broadcast — the candidate scan
    never shuffles on the pair join."""
    plan = _plan(spark, "knn_classify", sf_smoke)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "max_concurrent_events",
        "user_value_deltas",
        "events_moving_avg",
        "benchmark_decontam",
        "domain_mixture_sample",
        "token_collocations",
        "ann_radius_count",
        "ann_recall_eval",
        "embedding_covariance",
    ],
)
def test_r2d_ops_stay_jvm_side(spark, sf_smoke, name):
    """Continuation operators are pure column algebra: no Python
    eval, no cartesian products (the totals cross-joins must come in
    as broadcast nested-loop over one-row sides, never a cartesian)."""
    plan = _plan(spark, name, sf_smoke)
    assert "BatchEvalPython" not in plan, f"{name}: python UDF\n{plan}"
    assert "CartesianProduct" not in plan, f"{name}: cartesian\n{plan}"


def test_partitioning_independence_odd_parallelism(spark, sf_oracle):
    """SCALE.md's partitioning-independence claim, pinned: the ops
    with the most partition-sensitive machinery (iterative CC,
    LSH band joins, blocked BLAS) must stay value-identical to the
    oracle under a deliberately odd shuffle width (7) — results may
    never depend on how rows happen to land."""
    import fdblog2clickhouse_spark.operators.dedup as dd

    from .oracle import compare

    import fdblog2clickhouse_spark.operators.lm as lmod
    import fdblog2clickhouse_spark.operators.spans as spn
    import fdblog2clickhouse_spark.operators.training as tr

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        for name in ("dedup_cluster_labels", "dedup_minhash_lsh",
                     "dedup_ngram_jaccard"):
            compare(dd.QUERIES[name](spark, sf_oracle), dd.ORACLE[name], sf_oracle)
        # r9 additions with window/island/scan machinery
        for mod, name in (
            (spn, "dup_span_stats"),
            (spn, "dup_span_dedup"),
            (spn, "dup_span_apply"),
            (lmod, "doc_bigram_fluency"),
            (tr, "pack_manifest"),
        ):
            compare(mod.QUERIES[name](spark, sf_oracle), mod.ORACLE[name], sf_oracle)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_filtered_ann_pushes_predicate(spark, sf_smoke):
    """ann_filtered_topk is PRE-filtering: the lang predicate must
    reach the documents parquet scan (pushed filter), so at 100 TB
    the distance arithmetic only ever sees the filtered subset."""
    plan = _plan(spark, "ann_filtered_topk", sf_smoke)
    assert "EqualTo(lang,en)" in plan, plan


def test_decontam_broadcasts_eval_grams(spark, sf_smoke):
    """The eval-benchmark gram set must broadcast — a shuffled join
    here would move the whole shuffled corpus at 100 TB."""
    plan = _plan(spark, "benchmark_decontam", sf_smoke)
    assert "BroadcastHashJoin" in plan, plan


def test_no_unbounded_driver_collect():
    """No queries() code path may `.collect()` a data-sized result to
    the driver (driver OOM at 100×). The FOUR allowed sites are all
    bounded by construction: the per-language doc-count collect in
    dedup_ngram_jaccard (#languages rows, a constant), the
    union-find tail in dedup_cluster_labels (count-gated to
    _DRIVER_CC_EDGES = 500k class edges ≈ 8 MB — the cutover that
    replaces scheduler-latency-bound contraction rounds), the
    per-iteration argmax in bpe_train_merges (limit(1) — one row per
    merge, the driver-iterated-trainer pattern shared with
    embedding_kmeans), and the rep store's partition-filter literals
    (≤ buckets rows by the persisted layout). Everything else
    must stay distributed (scalar `.count()` actions are fine;
    `.collect()`/`.toPandas()` are not).

    `.toArrow()` is a driver collect too. Its two allowed sites: the
    ClickHouse insert's JSONEachRow lines (sinks/clickhouse.py),
    bounded by the CLI's MAX_FILES_PER_INSERT rotated files per
    insert, and the bounded state fold (sinks/state.py), whose result
    is one row per value of the state's grain (rollup: yyyymm ×
    severity × type; histogram: type × bin; HLL: type × 64
    registers), whatever the stream's volume."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "fdblog2clickhouse_spark"
    offenders = []
    for p in root.rglob("*.py"):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if "`" in code:  # docstring prose references, not code
                continue
            if any(
                call in code
                for call in (".collect(", ".toPandas(", ".toLocalIterator(", ".toArrow(")
            ):
                offenders.append(f"{p.relative_to(root)}:{i}: {line.strip()}")
    # Allowlist pinned to the EXACT stripped source line (not a
    # substring): a new collect site in dedup.py that merely mentions
    # 'n_docs' or 'ledges' must NOT slip through — it has to be one of
    # these two audited, bounded-by-construction statements verbatim.
    _ALLOWED_LINES = {
        "operators/dedup.py": {
            'd.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).collect()',
            "for row in ledges.collect():",
        },
        "operators/bpe.py": {
            "best = argmax_one_row.collect()",
        },
        # the rep-store tables' partition-filter literal (≤ buckets
        # rows by the persisted layout — round 15), and the granular
        # fold's affected-partition literals (same bound: ≤ buckets
        # distinct pb values — round 16)
        "operators/dedup_store.py": {
            "for r in keys.select(pb.alias(_TBL_PB)).distinct().collect()",
            # _fold_table_granular._pb_vals (r17: the aff scan's
            # spelling, generalized to recorded-keys / candidate
            # frames — still ≤ buckets distinct pb values by layout)
            "for r in df.select(pb.alias(_TBL_PB)).distinct().collect()",
            # the semantic emptied-set (r18: computed from the folded
            # frame's lineage so staging tampering can't reclassify a
            # non-empty partition as emptied) — same bounds as the
            # discovery literals above: ≤ affected pb values
            "for r in folded.select(_TBL_PB).distinct().collect()",
            # r18/r19 single-row stat/footprint aggregations: each is
            # one .agg(...).collect()[0] — exactly ONE row by
            # construction (batch_bucket_vals' combined bucket-id
            # sets, themselves ≤ buckets literals per table; the
            # admission step's combined (groups, new-groups,
            # feats-fill[, new-docs]) crossJoin of single-row aggs;
            # retract_docs' (changes, dropped) pair)
            "row = batch.agg(*exprs).collect()[0]",
            "srow = step_stats.collect()[0]",
            "crow = cstats.collect()[0]",
        },
        # split_ivf_lists' maintenance metadata: per-list counts,
        # empty list ids, and split-list ids — all bounded by the
        # CODEBOOK size (number of lists), never the data
        "operators/ann_store.py": {
            'over = [(r["list_id"], r["count"]) for r in over_rows.collect()]',
            'empties = sorted(r["c_id"] for r in empty_rows.collect())',
            'eff = {r["list_id"] for r in child2_lists.collect()}',
            # r19: refresh_ivf_centroids' combined maintenance stats —
            # a crossJoin of four single-row aggregations, exactly ONE
            # row by construction
            "rrow = rstats.collect()[0]",
        },
        # search-ivfpq's terminal print: ≤ --queries × topk ranked
        # rows by construction (the window caps rank at _IVF_TOPK)
        "cli.py": {
            'rows = out.orderBy("q_id", "rank").collect()',
        },
        "sinks/clickhouse.py": {
            'lines = jsoneachrow(df).toArrow().column("line")',
        },
        "sinks/state.py": {
            "table = combine(rows.coalesce(1)).toArrow()",
        },
    }
    allowed = [
        o
        for o in offenders
        if any(
            f in o and o.split(": ", 1)[1].strip() in lines
            for f, lines in _ALLOWED_LINES.items()
        )
    ]
    assert offenders == allowed, (
        "unbounded driver collect in operator code:\n" + "\n".join(offenders)
    )


def test_ngram_jaccard_multiblock_matches_oracle(spark, sf_oracle):
    """Skew safety: force the per-language sub-block grid to split
    every language (block size 64 ≪ per-language doc counts) and
    assert values are UNCHANGED vs the oracle — proving the
    cross-block path emits exactly the same pairs as the one-task
    shape, so no single task ever needs a whole language."""
    import fdblog2clickhouse_spark.operators.dedup as dd
    from .oracle import compare, run_oracle

    old = dd._JACCARD_BLOCK_DOCS
    dd._JACCARD_BLOCK_DOCS = 64
    try:
        df = dd.dedup_ngram_jaccard(spark, sf_oracle)
        compare(df, dd._DEDUP_NGRAM_SQL, sf_oracle)
    finally:
        dd._JACCARD_BLOCK_DOCS = old
    # the forced grid really was multi-block for the dominant language
    counts = run_oracle(
        "SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1", sf_oracle
    )
    assert (counts["n"].max() + 63) // 64 > 1


def test_containment_multiblock_matches_oracle(spark, sf_oracle):
    """Asymmetric containment under a forced multi-block grid: both
    directions of every cross-block pair must survive the split."""
    import fdblog2clickhouse_spark.operators.dedup as dd
    from .oracle import compare

    old = dd._JACCARD_BLOCK_DOCS
    dd._JACCARD_BLOCK_DOCS = 64
    try:
        df = dd.dedup_containment(spark, sf_oracle)
        compare(df, dd._CONTAINMENT_SQL, sf_oracle)
    finally:
        dd._JACCARD_BLOCK_DOCS = old


def test_embedding_neardup_multiblock_matches_oracle(spark, sf_oracle):
    """Same guarantee for the blocked triangle join: a tiny block
    size (→ many cross-block groups) must not change a single pair."""
    import fdblog2clickhouse_spark.operators.dedup as dd
    from .oracle import compare

    old = dd._NEARDUP_BLOCK_ROWS
    dd._NEARDUP_BLOCK_ROWS = 64
    try:
        df = dd.embedding_neardup(spark, sf_oracle)
        compare(df, dd._EMBEDDING_NEARDUP_SQL, sf_oracle)
    finally:
        dd._NEARDUP_BLOCK_ROWS = old


@pytest.mark.parametrize(
    "name",
    [
        "dedup_jaccard_lsh_verified",
        "dedup_containment_lsh_verified",
        "embedding_neardup_lsh_verified",
    ],
)
def test_lsh_verified_ops_never_build_pair_grid(spark, sf_smoke, name):
    """The composed candidate-gated operators (VERDICT r7 item #1)
    must NEVER fall back to the quadratic all-pairs shapes: no
    Python block kernel (FlatMapGroupsInPandas is the signature of
    the `_lang_block_fanout` / triangle-block grid), no cartesian
    product, no non-broadcast nested loop. Their whole plan is
    JVM-side codegen: LSH band join → feature join → exact score."""
    plan = _plan(spark, name, sf_smoke)
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_lsh_verified_candidates_are_subquadratic(spark, sf_oracle):
    """Complexity check on real data: the candidate stream the
    composed ops score is far smaller than the n²/2 pair space the
    all-pairs baselines enumerate — the property that makes the
    composed path the 100 TB design."""
    import fdblog2clickhouse_spark.operators.dedup as dd
    from fdblog2clickhouse_spark.sources.tables import table

    n_docs = table(spark, sf_oracle, "documents").count()
    hv = (
        dd._doc_shingles(spark, sf_oracle)
        .selectExpr("doc_id", "explode(sh) AS s")
        .selectExpr("doc_id", dd.h32_spark_sql("s") + " AS h")
    )
    n_cand = dd._minhash_band_candidates(hv).count()
    assert n_cand < n_docs * (n_docs - 1) / 2 / 10, (n_cand, n_docs)

    n_vecs = table(spark, sf_oracle, "embeddings").count()
    qn = dd._quantized(spark, sf_oracle)
    n_vcand = dd._hyperplane_band_candidates(spark, qn).count()
    assert n_vcand < n_vecs * (n_vecs - 1) / 2 / 10, (n_vcand, n_vecs)


@pytest.mark.parametrize(
    "name",
    ["sequence_packing", "embedding_int8_quantize", "doc_skyline_select"],
)
def test_training_ops_stay_jvm_side(spark, sf_smoke, name):
    """Training-assembly operators are pure column algebra: no Python
    eval, no cartesian products (quantize's scale join is a broadcast
    nested loop over ONE row, not a cartesian)."""
    plan = _plan(spark, name, sf_smoke)
    assert "BatchEvalPython" not in plan, f"{name}: python UDF\n{plan}"
    assert "CartesianProduct" not in plan, f"{name}: cartesian\n{plan}"


def test_packing_has_no_global_window(spark, sf_smoke):
    """The packing prefix sum must stay parallel: every Window sort in
    the plan is preceded by a hash-partitioning on `bucket` except the
    O(n/bucket) carry scan — i.e. no window partitions the FULL corpus
    into a single sort partition keyed on doc_id alone."""
    from fdblog2clickhouse_spark.operators import training

    plan = training.sequence_packing(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    # the in-bucket scan must be hash-distributed on bucket
    assert "hashpartitioning(bucket" in plan, plan


def test_store_admission_plans_grid_free(spark, sf_smoke):
    """The r9 store-lifecycle admission kernels must stay on the
    banded path: no Python block kernel, no cartesian, no
    non-broadcast nested loop — same contract as the composed
    *_lsh_verified trio, checked on the LAZY admission plan (the
    operators themselves materialize to parquet, so their returned
    frames are just scans; the plan that matters is the band join +
    exact verify)."""
    import fdblog2clickhouse_spark.operators.dedup as dd
    from fdblog2clickhouse_spark.operators import dedup_store as ds
    from fdblog2clickhouse_spark.plans.audit import formatted_plan
    from pyspark.sql import functions as F

    sh = dd._doc_shingles(spark, sf_smoke)
    base = ds.signature_frame(sh.where(ds._base_pred(F.col("doc_id"))))
    batch = ds.signature_frame(sh.where(ds._slice(F.col("doc_id"), 0)))
    cand = ds.admission_candidates(base, batch)
    verified = dd.jaccard_on_candidates(
        cand, sh.select("doc_id", F.col("sh").alias("fs")), 0.5
    )
    plan = formatted_plan(verified)
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan

    qn = dd._quantized(spark, sf_smoke)
    vbase = ds.emb_signature_frame(spark, qn.where(ds._base_pred(F.col("vec_id"))))
    vbatch = ds.emb_signature_frame(spark, qn.where(ds._slice(F.col("vec_id"), 0)))
    vcand = ds.admission_candidates(
        vbase, vbatch, [f"bv{b}" for b in range(6)], id_col="vec_id"
    ).select(F.col("da").alias("va"), F.col("db").alias("vb"))
    vverified = dd.cosine_on_candidates(vcand, qn, dd._COSINE_THRESHOLD)
    vplan = formatted_plan(vverified)
    assert "FlatMapGroupsInPandas" not in vplan, vplan
    assert "CartesianProduct" not in vplan, vplan
    assert "BatchEvalPython" not in vplan, vplan


def test_ivf_store_search_plan(spark, sf_smoke):
    """The persisted-index search plan: codebook joins are broadcast
    (the crossJoin is against a broadcast codebook — never a
    cartesian), candidate work flows through the lists join.
    Asserted on the LAZY search plan (ivf_store_search_plan): the
    operator materializes its result to scratch so it can release
    the corpus cache (ADVICE r9), leaving only a scan behind."""
    import os

    from fdblog2clickhouse_spark.plans.audit import formatted_plan
    from fdblog2clickhouse_spark.operators import ann_store
    from fdblog2clickhouse_spark.operators.dedup import _quantized
    from fdblog2clickhouse_spark.operators.sinkcheck import scratch_path

    ann_store.ann_ivf_store_search(spark, sf_smoke).count()  # builds the index
    root = scratch_path("ivf_store")
    plan = formatted_plan(
        ann_store.ivf_store_search_plan(
            spark, _quantized(spark, sf_smoke), root + "/codebook", root + "/lists"
        )
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_emb_rep_signature_build_has_no_shuffle(spark):
    """The in-row hyperplane signature claim (round 12): one zip_with
    aggregate per plane, band bits folded in-row — the physical plan
    must contain ZERO Exchange nodes (the exploded spelling it
    replaced shuffled twice per build, and this frame is built three
    times per admission lifecycle)."""
    from fdblog2clickhouse_spark.operators import dedup_store
    from fdblog2clickhouse_spark.plans.audit import formatted_plan

    reps = spark.createDataFrame(
        [(1, "g1", [1000] * 64), (2, "g2", [-7] * 64)],
        "group_id long, gh string, q array<long>",
    )
    plan = formatted_plan(dedup_store.emb_rep_signature_frame(reps))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
