"""Similarity search over `embeddings` (SURVEY §2.4).

- ann_topk_bruteforce: exact top-k cosine for a query set. The query
  side is tiny and broadcast; the candidate scan is embarrassingly
  parallel — the right baseline even at 100 TB when the query set is
  small.
- ann_lsh_topk: random-hyperplane LSH. Buckets are computed
  distributively (posexplode + broadcast plane join + partial aggs);
  the pair join shuffles on bucket id only — the scale path when the
  query set is large.
- embedding_norm_stats: per-label vector stats, fully JVM-side.

Hyperplanes are md5-derived integer constants (functions/hashing.py
h32), embedded as literals in both engines — no RNG, reproducible
anywhere. Vectors are integer-quantized (see operators/dedup.py) so
every dot product is exact.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.hashing import h32_spark_sql, h32_sql
from ..sources.tables import table
from .dedup import _QUANT_CTE, _dot, _quantized

_N_PLANES = 8
_DIM = 64
_N_QUERIES = 10
_TOPK = 5
_LSH_TOPK = 3


def _h32_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _planes() -> list[tuple[int, int, int]]:
    """(plane, dim_index, weight) — weights in [-10000, 10000],
    md5-derived, identical constants on both engines."""
    return [
        (p, i, (_h32_py(f"plane|{p}|{i}") % 20001) - 10000)
        for p in range(_N_PLANES)
        for i in range(_DIM)
    ]


def _cosine_cols():
    # try_divide: a zero vector's cosine is NULL (threshold- and
    # order-excluded downstream), matching the DuckDB oracle's x/0 →
    # NULL, where Spark 4's ANSI default would raise at runtime.
    # Bit-identical to / wherever no zero vector appears.
    return F.try_divide(
        _dot("qa", "qb").cast("double"),
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")),
    ).alias("cosine")


_COS_SQL = (
    "CAST(list_sum(list_transform(list_zip({a}.q, {b}.q), p -> p[1] * p[2])) AS DOUBLE)"
    " / (sqrt(CAST({a}.nq AS DOUBLE)) * sqrt(CAST({b}.nq AS DOUBLE)))"
)


# --------------------------------------------- ann_topk_bruteforce

def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    qn = _quantized(spark, sf_dir)
    queries = qn.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    cands = qn.select(
        F.col("vec_id").alias("n_id"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    pairs = cands.join(broadcast(queries), F.col("n_id") != F.col("q_id")).select(
        "q_id", "n_id", _cosine_cols()
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _TOPK)
    )


_ANN_BRUTE_SQL = f"""
WITH {_QUANT_CTE},
queries AS (SELECT * FROM qn WHERE vec_id < {_N_QUERIES}),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         {_COS_SQL.format(a='q', b='c')} AS cosine
  FROM queries q JOIN qn c ON c.vec_id <> q.vec_id
), ranked AS (
  SELECT q_id, n_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS INT) AS rank
  FROM pairs
)
SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= {_TOPK}
"""


# -------------------------------------------------- ann_lsh_topk

def _buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane sign buckets, computed distributively:
    element explode → broadcast join with the (tiny) plane table →
    per-(vec, plane) partial sums → per-vec bit pack. Exact integer
    arithmetic end to end."""
    qn = _quantized(spark, sf_dir)
    pl = spark.createDataFrame(_planes(), "p int, i int, w long")
    el = qn.select("vec_id", F.posexplode("q").alias("i", "v"))
    dots = (
        el.join(broadcast(pl), "i")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("v") * F.col("w")).alias("dot"))
    )
    return dots.groupBy("vec_id").agg(
        F.expr(
            "CAST(sum(CASE WHEN dot >= 0 THEN shiftleft(1, p) ELSE 0 END) AS INT)"
        ).alias("bucket")
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qn = _quantized(spark, sf_dir)
    # `withb` feeds both the broadcast query side and the candidate
    # side. Deliberately NOT cached (r19, measured): the query-side
    # branch is pushdown-cheap (vec_id < _N_QUERIES reaches the scan)
    # and both branches run as concurrent stages of one job; a cache
    # forces the FULL corpus bucketing to materialize behind a
    # barrier before the tiny query side can read — interleaved A/B
    # measured the cached variant slower (1.23-1.48 → 1.53-1.57 s).
    withb = qn.join(_buckets(spark, sf_dir), "vec_id")
    queries = withb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("q").alias("qa"),
        F.col("nq").alias("na"),
        F.col("bucket").alias("qb_bucket"),
    )
    cands = withb.select(
        F.col("vec_id").alias("n_id"),
        F.col("q").alias("qb"),
        F.col("nq").alias("nb"),
        F.col("bucket").alias("nb_bucket"),
    )
    pairs = cands.join(
        broadcast(queries),
        (F.col("nb_bucket") == F.col("qb_bucket")) & (F.col("n_id") != F.col("q_id")),
    ).select("q_id", "n_id", F.col("qb_bucket").alias("bucket"), _cosine_cols())
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _LSH_TOPK)
    )


def _planes_values_sql() -> str:
    return ", ".join(f"({p},{i},{w})" for p, i, w in _planes())


_ANN_LSH_SQL = f"""
WITH {_QUANT_CTE},
planes(p, i, w) AS (VALUES {{PLANES}}),
el AS (
  SELECT vec_id, unnest(q) AS v,
         unnest(generate_series(0, len(q)-1)) AS i
  FROM qn
),
dots AS (
  SELECT vec_id, p, SUM(v * w) AS dot
  FROM el JOIN planes USING (i) GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
  FROM dots GROUP BY 1
),
withb AS (SELECT qn.*, b.bucket FROM qn JOIN buckets b USING (vec_id)),
queries AS (SELECT * FROM withb WHERE vec_id < {_N_QUERIES}),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.bucket AS bucket,
         {_COS_SQL.format(a='q', b='c')} AS cosine
  FROM queries q
  JOIN withb c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
), ranked AS (
  SELECT q_id, n_id, bucket, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS INT) AS rank
  FROM pairs
)
SELECT q_id, n_id, bucket, cosine, rank FROM ranked WHERE rank <= {_LSH_TOPK}
""".replace("{PLANES}", _planes_values_sql())


# ---------------------------------------------------- ann_ivf_topk

_N_CENTROIDS = 8
_N_PROBE = 2
_IVF_TOPK = 3
# Deterministic coarse "codebook": the vectors with these ids act as
# centroids (a k-means++ seed step without RNG — reproducible in both
# engines; at scale the codebook would come from a training job and
# be a broadcast table exactly like this one).
_CENTROID_IDS = list(range(100, 100 + _N_CENTROIDS))


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: every vector is assigned to its
    nearest coarse centroid (broadcast codebook, one row per vector —
    no shuffle); each query probes its nprobe nearest lists and ranks
    only vectors in those lists. At 100 TB the inverted lists are the
    partition key: a query touches nprobe/k of the data instead of
    all of it."""
    qn = _quantized(spark, sf_dir)
    cent = qn.where(F.col("vec_id").isin(_CENTROID_IDS)).select(
        F.col("vec_id").alias("c_id"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    scored = qn.select(
        F.col("vec_id").alias("v_id"), F.col("q").alias("qa"), F.col("nq").alias("na")
    ).crossJoin(broadcast(cent))
    cos = _cosine_cols()
    wa = Window.partitionBy("v_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    assign = (
        scored.select("v_id", "c_id", cos)
        .withColumn("crank", F.row_number().over(wa))
    )
    # Deliberately NOT cached (r19, measured): the probes branch is
    # pushdown-cheap (v_id < _N_QUERIES cuts the window's input at
    # the scan), so the apparent duplication costs one tiny window
    # beside the full lists pass, both running as concurrent stages
    # of one job — a cache of the rank-filtered assignment forced the
    # full pass behind a barrier and measured slower in interleaved
    # A/B (1.04-1.07 → 1.20-1.27 s min-of-3). The persisted-store
    # sibling (`ann_store._ivfpq_parts`) is the shape where caching
    # DOES pay (its lists feed two full-corpus consumers).
    lists = assign.where(F.col("crank") == 1).select(
        F.col("v_id").alias("n_id"), F.col("c_id").alias("list_id")
    )
    probes = assign.where(
        (F.col("v_id") < _N_QUERIES) & (F.col("crank") <= _N_PROBE)
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


_ANN_IVF_SQL = f"""
WITH {_QUANT_CTE},
cent AS (
  SELECT vec_id AS c_id, q, nq FROM qn
  WHERE vec_id IN ({', '.join(map(str, _CENTROID_IDS))})
),
assign AS (
  SELECT v.vec_id AS v_id, c.c_id,
         {_COS_SQL.format(a='v', b='c')} AS cosine,
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
pairs AS (
  SELECT p.q_id, l.n_id, l.list_id,
         {_COS_SQL.format(a='q', b='n')} AS cosine
  FROM lists l
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


# --------------------------------------------- embedding_norm_stats

def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label squared-norm stats over quantized vectors. Exact
    integer aggregation (order-free) → fixed double post-ops."""
    qn = _quantized(spark, sf_dir)
    scale = float(10_000**2)
    agg = qn.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nq").alias("sum_nq"),
        F.min("nq").alias("min_nq"),
        F.max("nq").alias("max_nq"),
    )
    return agg.select(
        "label",
        "n",
        (F.col("sum_nq") / F.col("n") / F.lit(scale)).alias("avg_norm_sq"),
        (F.col("min_nq") / F.lit(scale)).alias("min_norm_sq"),
        (F.col("max_nq") / F.lit(scale)).alias("max_norm_sq"),
    ).orderBy("label")


_NORM_STATS_SQL = f"""
WITH {_QUANT_CTE},
agg AS (
  SELECT label, COUNT(*) AS n, SUM(nq) AS sum_nq,
         MIN(nq) AS min_nq, MAX(nq) AS max_nq
  FROM qn GROUP BY 1
)
SELECT label, n,
       sum_nq / n / 100000000.0 AS avg_norm_sq,
       min_nq / 100000000.0 AS min_norm_sq,
       max_nq / 100000000.0 AS max_norm_sq
FROM agg ORDER BY label
"""


# --------------------------------------------- embedding_centroids

def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, element-wise: posexplode the quantized
    vector and aggregate exact integer sums per (label, position) —
    the single-shuffle k-means M-step. Integer sums are order-free,
    so the centroid is bit-stable however the shuffle lands."""
    qn = _quantized(spark, sf_dir)
    el = qn.select("label", F.posexplode("q").alias("pos", "v"))
    return (
        el.groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
        .select(
            "label",
            "pos",
            "n",
            (F.col("sum_v") / F.col("n") / F.lit(float(10_000))).alias("centroid"),
        )
        .orderBy("label", "pos")
    )


_CENTROIDS_SQL = f"""
WITH {_QUANT_CTE},
el AS (
  SELECT label,
         unnest(generate_series(0, len(q)-1)) AS pos,
         unnest(q) AS v
  FROM qn
)
SELECT label, CAST(pos AS INT) AS pos, COUNT(*) AS n,
       SUM(v) / COUNT(*) / 10000.0 AS centroid
FROM el GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------- stratified_sample

_SAMPLE_PCT = 10  # keep h32(vec_id) % 100 < 10 → deterministic ~10%


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: keep a fixed
    md5-derived slice per label stratum. No RNG, no sampleBy seed
    drift — the same rows are kept on any cluster, any partitioning,
    any run; the per-stratum summary proves the rate lands."""
    qn = _quantized(spark, sf_dir)
    keyed = qn.select(
        "vec_id", "label", F.expr(h32_spark_sql("CAST(vec_id AS STRING)")).alias("hk")
    )
    kept = keyed.where(F.col("hk") % 100 < _SAMPLE_PCT)
    return (
        kept.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("vec_id").alias("min_id"),
            F.max("vec_id").alias("max_id"),
            F.sum("vec_id").alias("id_checksum"),
        )
        .orderBy("label")
    )


_STRATIFIED_SQL = f"""
WITH keyed AS (
  SELECT vec_id, label, {h32_sql('CAST(vec_id AS VARCHAR)')} AS hk
  FROM embeddings
)
SELECT label, COUNT(*) AS n_sampled,
       MIN(vec_id) AS min_id, MAX(vec_id) AS max_id,
       CAST(SUM(vec_id) AS BIGINT) AS id_checksum
FROM keyed WHERE hk % 100 < {_SAMPLE_PCT}
GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------------------ knn_classify

_KNN_K = 5
_KNN_HOLDOUT_MOD = 50  # vec_id % 50 == 0 → held-out query set


def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction for a deterministic held-out slice:
    every `vec_id % 50 == 0` vector is classified by majority vote of
    its 5 nearest (cosine) neighbors among the REMAINING vectors.

    Plan shape: the held-out side is tiny (2% of rows) and broadcast;
    the candidate scan is one parallel pass; top-k is a per-query
    window over ≤ |queries|·|cands| scored pairs; the vote is a
    (q_id, label) count + one more tiny window. At 100 TB the
    brute-force pair scan is replaced by ann_lsh/ann_ivf candidate
    generation — the vote/tiebreak machinery is unchanged.

    Ties are total-ordered everywhere (cosine desc, n_id asc; vote
    count desc, label asc) so the prediction is deterministic under
    any partitioning."""
    qn = _quantized(spark, sf_dir)
    holdout = F.col("vec_id") % _KNN_HOLDOUT_MOD == 0
    queries = qn.where(holdout).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("q").alias("qa"),
        F.col("nq").alias("na"),
    )
    cands = qn.where(~holdout).select(
        F.col("vec_id").alias("n_id"),
        F.col("label").alias("n_label"),
        F.col("q").alias("qb"),
        F.col("nq").alias("nb"),
    )
    pairs = cands.join(broadcast(queries)).select(
        "q_id", "true_label", "n_id", "n_label", _cosine_cols()
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    nn = pairs.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= _KNN_K)
    votes = nn.groupBy("q_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("n_label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .where(F.col("vr") == 1)
        .select(
            "q_id",
            "true_label",
            F.col("n_label").alias("pred_label"),
            F.col("votes").cast("long").alias("votes"),
        )
    )


_KNN_SQL = f"""
WITH {_QUANT_CTE},
queries AS (
  SELECT vec_id AS q_id, label AS true_label, q, nq FROM qn
  WHERE vec_id % {_KNN_HOLDOUT_MOD} = 0
), cands AS (
  SELECT vec_id AS n_id, label AS n_label, q, nq FROM qn
  WHERE vec_id % {_KNN_HOLDOUT_MOD} <> 0
), scored AS (
  SELECT q_id, true_label, n_id, n_label,
         {_COS_SQL.format(a='queries', b='cands')} AS cosine
  FROM queries, cands
), nn AS (
  SELECT q_id, true_label, n_label,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rnk
  FROM scored
), votes AS (
  SELECT q_id, true_label, n_label, COUNT(*) AS votes
  FROM nn WHERE rnk <= {_KNN_K}
  GROUP BY 1, 2, 3
)
SELECT q_id, true_label, n_label AS pred_label, votes
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY votes DESC, n_label ASC) AS vr
  FROM votes
) v WHERE vr = 1
"""


# ------------------------------------------------------ ann_pq_topk

_PQ_SUBS = 8  # subspaces over the 64-dim vectors
_PQ_SUBDIM = _DIM // _PQ_SUBS
_PQ_CODES = 16  # codes per subspace
_PQ_TOPK = 3
_PQ_N_QUERIES = 10


def _pq_train_cb(src: DataFrame) -> DataFrame:
    """Train the PQ codebook: per subspace, ONE exact Lloyd iteration
    of k-means over the subvectors, seeded deterministically with the
    subvectors of vec_id 0.._PQ_CODES-1 (VERDICT r12 #5 — the literal
    md5 codebook left recall on the table). Same determinism recipe
    as `embedding_kmeans`: exact BIGINT distances, code-ascending
    tiebreak, element-wise FLOOR(sum/count) recompute (one IEEE
    divide + floor, identical cross-engine), so the trained codebook
    — and everything scored against it — stays hash-exact. A code
    that attracts no subvectors keeps its seed (the vanished-list
    rule). `src` is any (vec_id, q array<bigint>) frame: the raw
    quantized corpus for flat PQ, the coarse-quantizer RESIDUALS for
    IVF-PQ. Scale shape: E-step is a broadcast join against
    _PQ_SUBS×_PQ_CODES = 128 seed rows; M-step is one shuffle keyed
    on (sub, code, pos) with map-side combine; output is 128 rows —
    broadcast wherever it is consumed."""
    sv = src.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1))).alias("sub"),
        "q",
    ).select(
        "vec_id",
        "sub",
        F.expr(f"slice(q, sub * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})").alias("sv"),
    )
    seeds = sv.where(F.col("vec_id") < _PQ_CODES).select(
        "sub", F.col("vec_id").cast("int").alias("code"), F.col("sv").alias("seed")
    )
    d = sv.join(broadcast(seeds), "sub").select(
        "vec_id",
        "sub",
        "code",
        "sv",
        F.aggregate(
            F.zip_with(F.col("sv"), F.col("seed"), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("d2"),
    )
    # min_by instead of a rank-1 window (r18): map-side partial
    # combine shuffles one row per (vector, subspace) instead of one
    # per candidate code, no sort; ordering struct (d2, code) == the
    # window's (d2 asc, code asc) tiebreak on exact BIGINTs.
    asg = (
        d.groupBy("vec_id", "sub")
        .agg(F.min_by(F.struct("code", "sv"), F.struct("d2", "code")).alias("b"))
        .select("vec_id", "sub", F.col("b.code").alias("code"), F.col("b.sv").alias("sv"))
    )
    ms = (
        asg.select("sub", "code", F.posexplode("sv").alias("pos", "val"))
        .groupBy("sub", "code", "pos")
        .agg(
            F.floor(F.sum("val").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("cv")
        )
    )
    tr = ms.groupBy("sub", "code").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "cv"))), lambda s: s.cv
        ).alias("tc")
    )
    # both sides are ≤ _PQ_SUBS×_PQ_CODES = 128 rows — broadcast the
    # trained side so the seed fallback join never shuffles
    return seeds.join(broadcast(tr), ["sub", "code"], "left").select(
        "sub", "code", F.coalesce("tc", "seed").alias("carr")
    )


def _pq_train_ctes_sql(src: str, p: str = "") -> str:
    """The DuckDB mirror of `_pq_train_cb` as a CTE chain ending in
    `{p}cb(sub, code, carr)`. `src` names a CTE/table with (vec_id,
    q); `p` prefixes the CTE names so two trainers (flat + residual)
    can coexist. cb is MATERIALIZED — it is referenced by both the
    codes and LUT sides, and DuckDB would otherwise inline the whole
    trainer twice (the chained-CTE blowup the span oracle hit)."""
    return f"""{p}svt AS (
  SELECT vec_id, sub,
         list_slice(q, sub * {_PQ_SUBDIM} + 1, (sub + 1) * {_PQ_SUBDIM}) AS sv
  FROM {src}, (SELECT unnest(generate_series(0, {_PQ_SUBS - 1})) AS sub)
),
{p}seeds AS (
  SELECT sub, CAST(vec_id AS INT) AS code, sv AS seed
  FROM {p}svt WHERE vec_id < {_PQ_CODES}
),
{p}asg AS (
  SELECT vec_id, sub, code, sv FROM (
    SELECT v.vec_id, v.sub, s.code, v.sv,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, v.sub
             ORDER BY list_sum(list_transform(list_zip(v.sv, s.seed),
                        p -> (p[1] - p[2]) * (p[1] - p[2]))) ASC,
                      s.code ASC
           ) AS rn
    FROM {p}svt v JOIN {p}seeds s ON v.sub = s.sub
  ) t WHERE rn = 1
),
{p}ms AS (
  SELECT sub, code, pos,
         CAST(FLOOR(CAST(SUM(sv[pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
  FROM (SELECT sub, code, unnest(generate_series(1, {_PQ_SUBDIM})) AS pos, sv
        FROM {p}asg)
  GROUP BY 1, 2, 3
),
{p}tr AS (
  SELECT sub, code, list(cv ORDER BY pos ASC) AS carr FROM {p}ms GROUP BY 1, 2
),
{p}cb AS MATERIALIZED (
  SELECT s.sub, s.code, COALESCE(t.carr, s.seed) AS carr
  FROM {p}seeds s LEFT JOIN {p}tr t ON t.sub = s.sub AND t.code = s.code
)"""


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: each vector is compressed to 8
    4-bit-ish codes (nearest centroid per subspace, exact integer L2,
    code-ascending tiebreak); queries score candidates through an
    asymmetric-distance lookup table (query × subspace × code) and
    take top-k by the PQ distance estimate.

    THE 100 TB shape: the stored corpus is |codes| per vector (here
    8 bytes-ish vs 64 floats — the memory compression that makes
    billion-vector search feasible); scoring joins the tiny
    broadcast LUT (|queries|·8·16 rows) against the code table and
    never touches raw vectors. Every distance is an exact BIGINT —
    the whole operator is hash-checkable, no float summation
    anywhere until nothing.

    The codebook is TRAINED (`_pq_train_cb`: one exact Lloyd
    iteration per subspace from deterministic seeds — VERDICT r12
    #5), not the md5 literal it used to be: measured recall@3
    against exact-L2 top-3 at sf0.1 jumped with the switch
    (SCALE.md). The trained frame is 128 rows —
    still broadcast."""
    qn = _quantized(spark, sf_dir)
    cb = _pq_train_cb(qn)

    def sub_d2(vec_col: str):
        # exact ∑(x-y)² over one subspace slice
        return F.aggregate(
            F.zip_with(
                F.expr(f"slice({vec_col}, sub * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})"),
                F.col("carr"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scored = qn.crossJoin(broadcast(cb)).select(
        "vec_id", "sub", "code", sub_d2("q").alias("d2")
    )
    # min_by instead of a rank-1 window (r18): map-side partial
    # combine, no sort — same (d2 asc, code asc) selection on exact
    # BIGINTs as the window it replaces.
    codes = (
        scored.groupBy("vec_id", "sub")
        .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
        .select("vec_id", "sub", "code")
    )

    lut = (
        qn.where(F.col("vec_id") < _PQ_N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), "q")
        .crossJoin(broadcast(cb))
        .select("q_id", "sub", "code", sub_d2("q").alias("d2"))
    )

    adc = (
        codes.join(broadcast(lut), ["sub", "code"])
        .where(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(F.sum("d2").alias("approx_dist"))
    )
    w_top = Window.partitionBy("q_id").orderBy("approx_dist", "n_id")
    return (
        adc.withColumn("rank", F.row_number().over(w_top).cast("int"))
        .where(F.col("rank") <= _PQ_TOPK)
        .select("q_id", "n_id", "approx_dist", "rank")
    )


_PQ_D2_SQL = (
    f"list_sum(list_transform(list_zip(list_slice(q, sub * {_PQ_SUBDIM} + 1,"
    f" sub * {_PQ_SUBDIM} + {_PQ_SUBDIM}), carr), p -> (p[1] - p[2]) * (p[1] - p[2])))"
)

_ANN_PQ_SQL = f"""
WITH {_QUANT_CTE},
{_pq_train_ctes_sql('qn')},
scored AS (
  SELECT vec_id, sub, code, {_PQ_D2_SQL} AS d2
  FROM qn, cb
), codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
    FROM scored
  ) t WHERE rn = 1
), lut AS (
  SELECT qn.vec_id AS q_id, sub, code, {_PQ_D2_SQL} AS d2
  FROM qn, cb WHERE qn.vec_id < {_PQ_N_QUERIES}
), adc AS (
  SELECT q_id, codes.vec_id AS n_id, CAST(SUM(d2) AS BIGINT) AS approx_dist
  FROM codes JOIN lut USING (sub, code)
  WHERE codes.vec_id <> q_id
  GROUP BY 1, 2
)
SELECT q_id, n_id, approx_dist, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY approx_dist, n_id) AS rank
  FROM adc
) r WHERE rank <= {_PQ_TOPK}
"""


# ------------------------------------------------ embedding_kmeans

_KMEANS_K = 8


def _km_assign(qn: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment on exact integer squared L2:
    ||x-c||^2 = nq - 2*x.c + nc, all BIGINT. Centroids are tiny and
    broadcast; ties break on lowest centroid id (a total order)."""
    d = (
        qn.crossJoin(broadcast(cents.select(
            F.col("cid"), F.col("c"), F.col("nc"))))
        .select(
            "vec_id", "q", "nq", "cid",
            (
                F.col("nq")
                - 2 * F.aggregate(
                    F.zip_with(F.col("q"), F.col("c"), lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                + F.col("nc")
            ).alias("d"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("d").asc(), F.col("cid").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact Lloyd iterations of k-means over the quantized
    embeddings (K=8, seeds = vec_id 0..7) — the clustering pass a
    curation pipeline runs for topic balancing / diversity sampling.

    Determinism: distances are exact BIGINT (integer-quantized
    vectors); the recomputed centroid is the element-wise
    FLOOR(sum/count) — one IEEE double division + floor per element,
    identical cross-engine — so iteration 2 is exact-integer again.
    Scale shape: the E-step is a broadcast nested-loop against K=8
    centroids (never a shuffle); the M-step is ONE shuffle keyed on
    (cluster, dim) with map-side combine — the canonical distributed
    k-means layout. Returns per-cluster size + exact inertia.
    """
    qn = _quantized(spark, sf_dir)
    c0 = qn.where(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("c"), F.col("nq").alias("nc")
    )
    a1 = _km_assign(qn, c0)
    elems = a1.select("cid", F.posexplode("q").alias("pos", "val"))
    cs = elems.groupBy("cid", "pos").agg(
        F.floor(F.sum("val").cast("double") / F.count(F.lit(1))).cast("long").alias("cv")
    )
    c1 = (
        cs.groupBy("cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s.cv,
            ).alias("c")
        )
        .withColumn(
            "nc",
            F.aggregate(
                F.transform(F.col("c"), lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    a2 = _km_assign(qn, c1)
    return a2.groupBy(F.col("cid").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("d").alias("inertia"),
        (F.sum("d").cast("double") / F.count(F.lit(1))).alias("avg_sq_dist"),
    )


_KMEANS_SQL = f"""
WITH {_QUANT_CTE},
c0 AS (SELECT vec_id AS cid, q AS c, nq AS nc FROM qn WHERE vec_id < {_KMEANS_K}),
d1 AS (
  SELECT qn.vec_id, qn.q, c0.cid,
         qn.nq - 2*list_sum(list_transform(list_zip(qn.q, c0.c), p -> p[1]*p[2])) + c0.nc AS d
  FROM qn, c0
),
a1 AS (
  SELECT vec_id, q, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM d1) WHERE rn = 1
),
ex AS (SELECT cid, unnest(generate_series(1, {_DIM})) AS pos, q FROM a1),
cs AS (
  SELECT cid, pos,
         CAST(FLOOR(CAST(SUM(q[pos]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
  FROM ex GROUP BY 1, 2
),
c1 AS (
  SELECT cid, list(cv ORDER BY pos ASC) AS c FROM cs GROUP BY 1
),
c1n AS (SELECT cid, c, list_sum(list_transform(c, x -> x*x)) AS nc FROM c1),
d2 AS (
  SELECT qn.vec_id, c1n.cid,
         qn.nq - 2*list_sum(list_transform(list_zip(qn.q, c1n.c), p -> p[1]*p[2])) + c1n.nc AS d
  FROM qn, c1n
),
a2 AS (
  SELECT vec_id, cid, d FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM d2) WHERE rn = 1
)
SELECT cid AS cluster, COUNT(*) AS n_vecs,
       CAST(SUM(d) AS BIGINT) AS inertia,
       CAST(SUM(d) AS DOUBLE) / COUNT(*) AS avg_sq_dist
FROM a2 GROUP BY 1
"""


# ----------------------------------------- cluster_balanced_sample

_BALANCED_PER_CLUSTER = 20


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity (cluster-balanced) sampling: assign every vector to
    its nearest seed centroid, then take a deterministic top-M per
    cluster ranked by an md5 hash of the vec_id — the topic-balancing
    subsample step of a curation pipeline (equal representation per
    cluster regardless of cluster mass).

    No RNG anywhere: the per-cluster "random" order is the h32 hash
    with vec_id tiebreak, so any engine reproduces the exact sample.
    Scale shape: E-step is a broadcast against K=8 centroids; the
    only shuffle is the per-cluster top-M window, keyed on cluster id
    (K partitions — at real scale swap row_number for a bounded
    per-partition heap, same result set).
    """
    qn = _quantized(spark, sf_dir)
    c0 = qn.where(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("c"), F.col("nq").alias("nc")
    )
    a1 = _km_assign(qn, c0).select(
        "vec_id", "cid", F.expr(h32_spark_sql("CAST(vec_id AS STRING)")).alias("hk")
    )
    w = Window.partitionBy("cid").orderBy(
        F.col("hk").asc(), F.col("vec_id").asc()
    )
    return (
        a1.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _BALANCED_PER_CLUSTER)
        .select(
            F.col("cid").alias("cluster"), "vec_id", "rnk",
        )
    )


_BALANCED_SQL = f"""
WITH {_QUANT_CTE},
c0 AS (SELECT vec_id AS cid, q AS c, nq AS nc FROM qn WHERE vec_id < {_KMEANS_K}),
d1 AS (
  SELECT qn.vec_id, c0.cid,
         qn.nq - 2*list_sum(list_transform(list_zip(qn.q, c0.c), p -> p[1]*p[2])) + c0.nc AS d
  FROM qn, c0
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM d1) WHERE rn = 1
),
hk AS (
  SELECT vec_id, cid, {h32_sql("CAST(vec_id AS VARCHAR)")} AS hk FROM a1
)
SELECT cid AS cluster, vec_id, rnk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY cid ORDER BY hk ASC, vec_id ASC) AS INT) AS rnk
  FROM hk
) r WHERE rnk <= {_BALANCED_PER_CLUSTER}
"""


# ------------------------------------------------ doc_lang_kmeans

_LANG_K = 4  # clusters per language
_LANG_SEED_POOL = 256  # seed candidates come from doc_id < POOL


def doc_lang_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED clustering: an independent K=4 nearest-seed
    assignment per language — the per-language topic profile a
    multilingual curation pipeline builds (clusters must not mix
    languages, so lang is part of every key). Documents join their
    embedding 1:1 on doc_id = vec_id.

    Seeds are the _LANG_K lowest vec_ids per language drawn from a
    BOUNDED pool (doc_id < 256): the pool filter pushes to the scan,
    so seed selection windows over a tiny slice, never the full
    table — the scalable stand-in for driver-side seed sampling.
    The E-step joins on lang against the broadcast seed set (K x
    langs rows) and fans out K candidates per doc; distances are
    exact BIGINT (same quantization as embedding_kmeans). One
    shuffle for the final (lang, cluster) profile, map-side
    combined. Dominant-language skew lands on the broadcast join's
    probe side, which needs no repartition - only the K-row
    per-doc window keys on vec_id, which is uniform."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    qn = _quantized(spark, sf_dir)
    qd = qn.join(d, qn.vec_id == d.doc_id).select("lang", "vec_id", "q", "nq")
    pool = qd.where(F.col("vec_id") < _LANG_SEED_POOL)
    ws = Window.partitionBy("lang").orderBy(F.col("vec_id").asc())
    seeds = (
        pool.withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") <= _LANG_K)
        .select(
            F.col("lang").alias("s_lang"),
            (F.col("rn") - 1).alias("cid"),
            F.col("q").alias("c"),
            F.col("nq").alias("nc"),
        )
    )
    cand = qd.join(broadcast(seeds), qd.lang == seeds.s_lang).select(
        "lang", "vec_id", "cid",
        (F.col("nq") - 2 * _dot("q", "c") + F.col("nc")).alias("d"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("d").asc(), F.col("cid").asc())
    assigned = (
        cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    )
    return (
        assigned.groupBy("lang", F.col("cid").cast("long").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("d").alias("inertia"),
            (F.sum("d").cast("double") / F.count(F.lit(1))).alias("avg_sq_dist"),
        )
        .orderBy("lang", "cluster")
    )


_LANG_KMEANS_SQL = f"""
WITH {_QUANT_CTE},
qd AS (
  SELECT d.lang, qn.vec_id, qn.q, qn.nq
  FROM qn JOIN documents d ON qn.vec_id = d.doc_id
),
seeds AS (
  SELECT lang AS s_lang, rn - 1 AS cid, q AS c, nq AS nc FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY vec_id ASC) AS rn
    FROM qd WHERE vec_id < {_LANG_SEED_POOL}
  ) WHERE rn <= {_LANG_K}
),
cand AS (
  SELECT qd.lang, qd.vec_id, seeds.cid,
         qd.nq - 2*list_sum(list_transform(list_zip(qd.q, seeds.c), p -> p[1]*p[2])) + seeds.nc AS d
  FROM qd JOIN seeds ON qd.lang = seeds.s_lang
),
assigned AS (
  SELECT lang, vec_id, cid, d FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
    FROM cand) WHERE rn = 1
)
SELECT lang, CAST(cid AS BIGINT) AS cluster, COUNT(*) AS n_docs,
       CAST(SUM(d) AS BIGINT) AS inertia,
       CAST(SUM(d) AS DOUBLE) / COUNT(*) AS avg_sq_dist
FROM assigned GROUP BY 1, 2
ORDER BY lang, cluster
"""


# ------------------------------------------------- ann_recall_eval

def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: per-query recall of the LSH index against
    the exact brute-force top-k (k = the LSH k). The eval join is
    O(queries × k) — trivially small — so this runs as a continuous
    index-quality monitor: the expensive side is the exact top-k,
    which only ever runs over the (sampled) query set, never
    all-pairs. A recall drop flags a bad plane set / bucket skew
    before the index serves traffic."""
    ex = (
        ann_topk_bruteforce(spark, sf_dir)
        .where(F.col("rank") <= _LSH_TOPK)
        .select("q_id", "n_id")
    )
    ap = ann_lsh_topk(spark, sf_dir).select("q_id", "n_id").withColumn(
        "hit", F.lit(1)
    )
    return ex.join(ap, ["q_id", "n_id"], "left").groupBy("q_id").agg(
        F.count("hit").alias("n_hits"),
        (F.count("hit").cast("double") / F.lit(float(_LSH_TOPK))).alias(
            "recall"
        ),
    )


_RECALL_SQL = f"""
WITH ex AS (
  SELECT q_id, n_id FROM ({_ANN_BRUTE_SQL}) WHERE rank <= {_LSH_TOPK}
), ap AS (
  SELECT q_id, n_id, 1 AS hit FROM ({_ANN_LSH_SQL})
)
SELECT ex.q_id, COUNT(ap.hit) AS n_hits,
       CAST(COUNT(ap.hit) AS DOUBLE) / {float(_LSH_TOPK)} AS recall
FROM ex LEFT JOIN ap ON ap.q_id = ex.q_id AND ap.n_id = ex.n_id
GROUP BY 1
"""


# ------------------------------------------------ ann_radius_count

_RADIUS_COS = 0.2


def ann_radius_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) search aggregate: per query, how many corpus
    vectors lie within cosine ≥ 0.2, plus the best cosine. The
    conditional count keeps every query in the output (unlike a
    filter-then-count, which would drop radius-empty queries). Same
    broadcast-query scan shape as the brute-force top-k; at scale the
    candidate generation swaps to the LSH/IVF bucket restriction."""
    qn = _quantized(spark, sf_dir)
    queries = qn.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    cands = qn.select(
        F.col("vec_id").alias("n_id"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    pairs = cands.join(broadcast(queries), F.col("n_id") != F.col("q_id")).select(
        "q_id", _cosine_cols()
    )
    return pairs.groupBy("q_id").agg(
        F.count(F.when(F.col("cosine") >= _RADIUS_COS, F.lit(1))).alias(
            "n_within"
        ),
        F.max("cosine").alias("max_cosine"),
    )


_RADIUS_SQL = f"""
WITH {_QUANT_CTE},
queries AS (SELECT * FROM qn WHERE vec_id < {_N_QUERIES}),
pairs AS (
  SELECT q.vec_id AS q_id,
         {_COS_SQL.format(a='q', b='c')} AS cosine
  FROM queries q JOIN qn c ON c.vec_id <> q.vec_id
)
SELECT q_id,
       COUNT(CASE WHEN cosine >= {_RADIUS_COS} THEN 1 END) AS n_within,
       MAX(cosine) AS max_cosine
FROM pairs GROUP BY 1
"""


# -------------------------------------------- embedding_covariance

_COV_DIMS = 16  # leading dims — the PCA/whitening demo subset


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance matrix over the leading 16 embedding dims —
    the sufficient-statistics pass under PCA / whitening / Mahalanobis
    scoring. cov(i,j) = (n·Σxy − Σx·Σy) / n²: every sufficient
    statistic is an exact BIGINT over quantized values (order-free,
    so shuffle nondeterminism can't flip bits), with one final double
    division.

    Scale shape: the Σxy pairs are built IN-ROW (a dims²/2-length
    array per vector — no self-join of the element table) and
    aggregated map-side, so the shuffle carries exactly 136 partial
    rows per task regardless of corpus size; the per-dim sums are a
    16-row broadcast. The upper triangle suffices (cov is symmetric).
    """
    qn = _quantized(spark, sf_dir)
    pair_expr = (
        f"flatten(transform(sequence(0, {_COV_DIMS - 1}), "
        f"i -> transform(sequence(i, {_COV_DIMS - 1}), "
        f"j -> named_struct('i', i, 'j', j, 'xy', q[i] * q[j]))))"
    )
    pairs = (
        qn.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("p.i", "p.j")
        .agg(F.sum("p.xy").alias("sxy"), F.count(F.lit(1)).alias("n"))
    )
    sums = (
        qn.select(F.posexplode("q").alias("i", "x"))
        .where(F.col("i") < _COV_DIMS)
        .groupBy("i")
        .agg(F.sum("x").alias("sx"))
    )
    j = (
        pairs.join(broadcast(sums.select(F.col("i"), F.col("sx").alias("sx_i"))), "i")
        .join(
            broadcast(
                sums.select(F.col("i").alias("j"), F.col("sx").alias("sx_j"))
            ),
            "j",
        )
    )
    return j.select(
        # sequence() literals are INT in Spark; the oracle's generate_series
        # is BIGINT — align the dtype exactly for the driver's hash
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        "n",
        (
            (F.col("n") * F.col("sxy") - F.col("sx_i") * F.col("sx_j")).cast(
                "double"
            )
            / (F.col("n") * F.col("n")).cast("double")
        ).alias("cov_q"),
    )


_COVARIANCE_SQL = f"""
WITH {_QUANT_CTE},
el AS (
  SELECT vec_id, i - 1 AS i, q[i] AS x
  FROM qn, (SELECT unnest(generate_series(1, {_COV_DIMS})) AS i)
), pr AS (
  SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sxy, COUNT(*) AS n
  FROM el a JOIN el b ON b.vec_id = a.vec_id AND b.i >= a.i
  GROUP BY 1, 2
), sums AS (
  SELECT i, SUM(x) AS sx FROM el GROUP BY 1
)
SELECT pr.i, pr.j, pr.n,
       CAST(pr.n * pr.sxy - sa.sx * sb.sx AS DOUBLE)
         / CAST(pr.n * pr.n AS DOUBLE) AS cov_q
FROM pr JOIN sums sa ON sa.i = pr.i JOIN sums sb ON sb.i = pr.j
"""


# ------------------------------------------------ ann_filtered_topk

_FILTER_LANG = "en"


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — exact top-k cosine restricted to
    candidates whose DOCUMENT metadata passes a predicate
    (lang = 'en'), the retrieval shape every RAG / curation pipeline
    runs: predicate first, distance second. The metadata scan reads
    only (doc_id, lang) with the lang filter PUSHED into parquet; the
    allowed-id set semi-joins the vector table BEFORE any distance
    arithmetic, so the expensive per-dimension work runs on the
    filtered subset only (pre-filtering, not post-filtering — a
    post-filter would compute distances for every vector and could
    return < k survivors). Queries broadcast as in the unfiltered
    baseline; query vectors are not themselves filtered."""
    qn = _quantized(spark, sf_dir)
    allowed = (
        table(spark, sf_dir, "documents")
        .where(F.col("lang") == _FILTER_LANG)
        .select(F.col("doc_id").alias("n_id"))
    )
    queries = qn.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    cands = qn.select(
        F.col("vec_id").alias("n_id"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    ).join(allowed, "n_id", "left_semi")
    pairs = cands.join(broadcast(queries), F.col("n_id") != F.col("q_id")).select(
        "q_id", "n_id", _cosine_cols()
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _TOPK)
    )


_ANN_FILTERED_SQL = f"""
WITH {_QUANT_CTE},
allowed AS (SELECT doc_id FROM documents WHERE lang = '{_FILTER_LANG}'),
queries AS (SELECT * FROM qn WHERE vec_id < {_N_QUERIES}),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         {_COS_SQL.format(a='q', b='c')} AS cosine
  FROM queries q
  JOIN qn c ON c.vec_id <> q.vec_id
  JOIN allowed a ON a.doc_id = c.vec_id
), ranked AS (
  SELECT q_id, n_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS INT) AS rank
  FROM pairs
)
SELECT q_id, n_id, cosine, rank FROM ranked WHERE rank <= {_TOPK}
"""


QUERIES = {
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "embedding_norm_stats": embedding_norm_stats,
    "embedding_centroids": embedding_centroids,
    "stratified_sample": stratified_sample,
    "knn_classify": knn_classify,
    "ann_pq_topk": ann_pq_topk,
    "embedding_kmeans": embedding_kmeans,
    "cluster_balanced_sample": cluster_balanced_sample,
    "doc_lang_kmeans": doc_lang_kmeans,
    "ann_recall_eval": ann_recall_eval,
    "ann_radius_count": ann_radius_count,
    "embedding_covariance": embedding_covariance,
    "ann_filtered_topk": ann_filtered_topk,
}

ORACLE = {
    "ann_topk_bruteforce": _ANN_BRUTE_SQL,
    "ann_lsh_topk": _ANN_LSH_SQL,
    "ann_ivf_topk": _ANN_IVF_SQL,
    "embedding_norm_stats": _NORM_STATS_SQL,
    "embedding_centroids": _CENTROIDS_SQL,
    "stratified_sample": _STRATIFIED_SQL,
    "knn_classify": _KNN_SQL,
    "ann_pq_topk": _ANN_PQ_SQL,
    "embedding_kmeans": _KMEANS_SQL,
    "cluster_balanced_sample": _BALANCED_SQL,
    "doc_lang_kmeans": _LANG_KMEANS_SQL,
    "ann_recall_eval": _RECALL_SQL,
    "ann_radius_count": _RADIUS_SQL,
    "embedding_covariance": _COVARIANCE_SQL,
    "ann_filtered_topk": _ANN_FILTERED_SQL,
}
