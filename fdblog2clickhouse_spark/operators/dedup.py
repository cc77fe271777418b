"""Deduplication operators over `documents` (SURVEY §2.3).

The LLM-training-data dedup family, each built the way it distributes
at 100 TB:

- exact: hash-groupBy on a normalized-text digest (one shuffle on the
  digest; at scale this is the cheapest possible dedup).
- MinHash+LSH: shingle → 16-perm signature → 4 bands → bucket join.
  Candidate generation shuffles on band_key only, so work is bounded
  by bucket sizes, never all-pairs. Verification joins shingle sets
  for candidate pairs only.
- SimHash: 32-bit fingerprint, 4×8-bit band blocking (any pair with
  Hamming distance ≤ 3 shares ≥ 1 band by pigeonhole), Hamming
  verify on candidates.
- n-gram Jaccard: char-5-gram sets, language-blocked pair join.
- embedding cosine: exact all-pairs scoring on integer-quantized
  vectors via Arrow-batched numpy matmul against a broadcast matrix
  (the brute-force baseline, BLAS-bound; ann_lsh_topk in
  similarity.py is the scale path).

Cross-engine determinism: hashes are md5-derived (functions/
hashing.py); MinHash "permutations" are lexicographic minima of
seeded md5 hex strings (identical in any engine); vectors are
quantized to integers so dot products are exact and order-free.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import h32_spark_sql, h32_sql
from ..functions.text import (
    char_ngrams_expr,
    norm_text,
    norm_text_sql,
    shingles_cte_sql,
    shingles_expr,
    tokens,
    tokens_sql,
)
from ..sources.tables import parquet_num_rows, table

_N_PERM = 16
_N_BANDS = 4  # 4 rows per band

# Affine MinHash permutations perm_i(h) = (a_i*h + b_i) mod p over the
# 32-bit md5-derived shingle hash. One md5 per shingle (not one per
# permutation) — 16x less hashing — and pure BIGINT arithmetic that is
# bit-identical in Spark and DuckDB. a_i < 2^30 and h < 2^32 keep
# a_i*h + b_i < 2^63 (no overflow in either engine).
_MINHASH_P = 4294967311  # smallest prime > 2^32
_LSH_BUCKET_CAP = 64  # drop degenerate boilerplate buckets (k² pairs)
_MINHASH_A = [(2 * i + 1) * 40503597 % (1 << 30) | 1 for i in range(_N_PERM)]
_MINHASH_B = [(i * 97 + 31) * 1234577 % (1 << 30) for i in range(_N_PERM)]
_JACCARD_THRESHOLD = 0.5
_JACCARD_BLOCK_DOCS = 2048  # docs per language sub-block (skew bound)
_SIMHASH_BITS = 32
_SIMHASH_BANDS = 4  # 8 bits each
_HAMMING_MAX = 3
_COSINE_THRESHOLD = 0.45
_QUANT = 10_000


# ---------------------------------------------------- dedup_exact

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on md5 of normalized text. Output: one row per
    distinct content, with group size and canonical (min) doc_id."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(norm_text(F.col("text"))).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


_DEDUP_EXACT_SQL = f"""
SELECT md5({norm_text_sql('text')}) AS text_hash,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_doc_id
FROM documents GROUP BY 1
"""


# ---------------------------------------------- dedup_minhash_lsh

def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc with its DISTINCT shingle set as an array.
    Array-native on purpose: at 100 TB an exploded (doc_id, shingle)
    table is a ~10x row amplification that would be shuffled several
    times; keeping the set in-row costs zero shuffles and stays in
    whole-stage codegen."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens(F.col("text")).alias("t")).where(F.size("t") >= 3)
    return t.select(
        "doc_id", F.array_distinct(F.expr(shingles_expr("t", 3))).alias("sh")
    )


def _minhash_sig(hv: DataFrame) -> DataFrame:
    """16-perm MinHash signature over ANY feature-hash stream.

    Input: (doc_id, h) rows, one per (doc, feature-hash); duplicates
    are harmless (min() is idempotent). Output: (doc_id, s0..s15).

    Apply 16 affine integer permutations to the pre-hashed features
    and take 16 vectorized MINs in ONE hash aggregate. min() is
    commutative, so map-side partial aggregation reduces the shuffle
    to one 16-bigint row per doc per partition — the feature blow-up
    never crosses the network. (The per-row array_min(transform(...))
    sibling `_minhash_sig_inrow` avoids even that; which form wins
    depends on feature-array length — see its docstring.)
    """
    return hv.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_MINHASH_A[i]) * F.col("h") + F.lit(_MINHASH_B[i])) % F.lit(_MINHASH_P)
            ).alias(f"s{i}")
            for i in range(_N_PERM)
        ]
    )


def _band_keys_col():
    """4 band keys (md5 over 4 signature rows each) as one array
    column over a signature row — the persistable index key a
    signature store materializes."""
    rows_per_band = _N_PERM // _N_BANDS
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"s{b * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                )
            )
            for b in range(_N_BANDS)
        ]
    )


def _minhash_bands(hv: DataFrame) -> DataFrame:
    """Capped per-doc band rows (doc_id, ks, band, band_key) over a
    feature-hash stream — the joinable form of the signature store.

    4 bands of 4 rows via one posexplode (single pass; no unionAll
    re-computation of the signature per band). Every exploded row
    also carries the FULL key array (4 md5 strings — ~130 B on a
    4-rows-per-doc table, trivial) so downstream band joins can
    apply the first-shared-band gate in-row.

    Bucket cap: a band key shared by > _LSH_BUCKET_CAP docs is a
    degenerate boilerplate bucket whose candidate pairs grow k² —
    drop the whole bucket (standard LSH practice; such a family is
    better handled by dedup_exact upstream). Measured max bucket at
    sf0.1 is 11, so the cap is a pure 100 TB safety valve here, and
    it costs one window count on the same (band, band_key) key the
    join shuffles on anyway."""
    return _bands_from_sig(_minhash_sig(hv))


def _minhash_sig_inrow(feats: DataFrame, col: str = "fs") -> DataFrame:
    """In-row MinHash signature over a feature-ARRAY column: 16
    `array_min(transform(...))` expressions, ZERO shuffle (vs the
    exploded groupBy in `_minhash_sig`). Identical values (asserted
    in tests). Measured tradeoff (sf0.1, interleaved): in ISOLATION
    the in-row form is ~2× faster on ~600-element char-5-gram arrays
    (0.15 s vs 0.33 s) and deletes the |features|×corpus exploded
    row stream from the plan; END-TO-END inside
    `dedup_jaccard_lsh_verified` it is ~0.85× (4.5 s vs 3.8 s
    median-of-5) because the gram arrays are cache-materialized for
    the verify join anyway — the explode rides that cache while the
    interpreted transform does not. Use this form when the feature
    array is NOT otherwise materialized (e.g. a signature-store
    build that persists signatures only and drops the features)."""
    exprs = [
        F.array_min(
            F.expr(
                f"transform({col}, h -> ({_MINHASH_A[i]}L * h + "
                f"{_MINHASH_B[i]}L) % {_MINHASH_P}L)"
            )
        ).alias(f"s{i}")
        for i in range(_N_PERM)
    ]
    return feats.select("doc_id", *exprs)


def _bands_from_sig(sig: DataFrame) -> DataFrame:
    band_keys = _band_keys_col()
    bands = sig.select(
        "doc_id",
        band_keys.alias("ks"),
        F.posexplode(band_keys).alias("band", "band_key"),
    )
    wb = Window.partitionBy("band", "band_key")
    return (
        bands.withColumn("bsz", F.count(F.lit(1)).over(wb))
        .where(F.col("bsz") <= _LSH_BUCKET_CAP)
        .drop("bsz")
    )


def _first_band_gate(left: str = "a", right: str = "b"):
    """In-row first-shared-band predicate: for every band earlier
    than the joined one, the two key arrays must differ — makes any
    band join pair-distinct by construction with zero extra shuffle."""
    return F.expr(
        " AND ".join(
            f"({left}.band <= {j} OR {left}.ks[{j}] != {right}.ks[{j}])"
            for j in range(_N_BANDS - 1)
        )
    )


def _minhash_band_candidates(hv: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs over ANY feature-hash stream —
    the sublinear candidate generator every composed `*_lsh_verified`
    operator feeds into an exact-scoring kernel. Output:
    pair-distinct (da, db), da < db, emitted from each pair's FIRST
    shared band only, with degenerate buckets capped.

    The only required shuffle: hash-partition by band key. Bucket
    sizes bound the candidate space — never all-pairs. Each pair is
    emitted only from its FIRST shared band (for every earlier band
    the keys must differ — an in-row test on the carried key
    arrays), so the candidate stream is pair-distinct by
    construction and the old candidate-set distinct shuffle is
    gone (same move as _simhash_candidates). Cap interaction,
    deliberate: a pair whose first shared band sits in a dropped
    mega-bucket is dropped with it (not resurrected via a later
    shared band) — such a pair is by construction a member of the
    degenerate family the cap routes to exact-dedup. The oracle
    mirrors the same rule."""
    return _candidates_from_bands(_minhash_bands(hv))


def _candidates_from_bands(bands: DataFrame) -> DataFrame:
    a, b_ = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(_first_band_gate())
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
    )


# ------------------------------ candidate-consuming exact kernels
#
# The composed scale path (VERDICT r7 item #1): sublinear LSH
# candidates feed exact set/vector scoring that touches ONLY the
# candidate pairs. None of these kernels ever builds a pair grid —
# the quadratic `_lang_block_fanout` grid exists solely for the
# exact ALL-PAIRS baseline operators.

def _join_features(cand: DataFrame, feats: DataFrame) -> DataFrame:
    """Attach per-doc feature arrays to a (da, db) candidate-pair
    stream. The candidate side is small after LSH, so AQE broadcasts
    it into the feature joins; cost is O(candidates), never O(n²)."""
    return (
        cand.join(
            feats.select(F.col("doc_id").alias("da"), F.col("fs").alias("fa")), "da"
        ).join(
            feats.select(F.col("doc_id").alias("db"), F.col("fs").alias("fb")), "db"
        )
    )


def jaccard_on_candidates(
    cand: DataFrame, feats: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard scored ONLY on candidate pairs. feats:
    (doc_id, fs) with fs the doc's DISTINCT feature array (in-row, so
    array_intersect runs in whole-stage codegen with zero extra
    shuffles)."""
    pairs = _join_features(cand, feats)
    inter = F.size(F.array_intersect("fa", "fb"))
    jac = pairs.select(
        "da",
        "db",
        (inter / (F.size("fa") + F.size("fb") - inter)).alias("jaccard"),
    )
    return jac.where(F.col("jaccard") >= threshold)


def containment_on_candidates(
    cand: DataFrame, feats: DataFrame, threshold: float
) -> DataFrame:
    """Exact asymmetric containment C(A→B) = |A∩B| / |A| scored only
    on candidate pairs; BOTH directions are emitted from one joined
    row (containment is not symmetric), then thresholded."""
    pairs = _join_features(cand, feats)
    inter = F.size(F.array_intersect("fa", "fb"))
    # try_divide: an empty feature set (zero-shingle doc) yields NULL
    # containment — threshold-excluded, matching DuckDB x/0 → NULL —
    # where Spark 4's ANSI default would raise. ≡ / for |A| > 0.
    both = pairs.select(
        "da",
        "db",
        F.try_divide(inter, F.size("fa")).alias("ca"),
        F.try_divide(inter, F.size("fb")).alias("cb"),
    )
    return both.selectExpr(
        "stack(2, da, db, ca, db, da, cb) AS (da, db, containment)"
    ).where(F.col("containment") >= threshold)


def cosine_on_candidates(
    cand: DataFrame, qn: DataFrame, threshold: float
) -> DataFrame:
    """Exact cosine on candidate vector pairs (va, vb). qn is the
    integer-quantized table (vec_id, q, nq); the dot is exact int64
    (zip_with, codegen) and the final divide is the same single IEEE
    expression the SQL oracle runs."""
    pairs = cand.join(
        qn.select(
            F.col("vec_id").alias("va"), F.col("q").alias("qa"), F.col("nq").alias("na")
        ),
        "va",
    ).join(
        qn.select(
            F.col("vec_id").alias("vb"), F.col("q").alias("qb"), F.col("nq").alias("nb")
        ),
        "vb",
    )
    # try_divide carries the ORACLE's divide-by-zero semantics: DuckDB
    # yields NULL for x/0 (a zero vector's pairs are excluded by the
    # threshold) while Spark 4's ANSI default RAISES — so a corpus
    # containing a zero embedding scores instead of crashing. Output
    # is bit-identical wherever no zero vector appears (try_divide ≡ /
    # for nonzero divisors). The rep-store families verify with this
    # same function (dedup_store.py).
    cos = F.try_divide(
        _dot("qa", "qb").cast("double"),
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")),
    )
    return pairs.select("va", "vb", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _doc_shingles(spark, sf_dir).cache()
    # hash each shingle ONCE (md5-derived h32); the candidate helper
    # owns the signature/band/cap/first-band machinery.
    hv = docs.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", F.expr(h32_spark_sql("s")).alias("h")
    )
    cand = _minhash_band_candidates(hv)
    # Verify candidates with exact Jaccard via array_intersect on the
    # in-row shingle sets (CPU-only; candidate side is small after
    # LSH, so AQE broadcasts it into the doc-array joins).
    return jaccard_on_candidates(
        cand, docs.select("doc_id", F.col("sh").alias("fs")), _JACCARD_THRESHOLD
    )


def _minhash_bands_cte(prefix: str = "", hv: str = "hv") -> str:
    """The sig → keys → bands → capped CTE chain over an in-scope
    CTE `hv`(doc_id, h) — the oracle's form of the signature store.
    Shared by every MinHash oracle, so the banding rule can never
    drift between operators. `prefix` namespaces the CTEs when one
    oracle needs two independent band chains (e.g. the streaming
    incremental op: a capped BASE store chain + an uncapped batch
    chain)."""
    p = prefix
    return f"""{p}sig AS (
  SELECT doc_id,
         {', '.join(f"MIN(({_MINHASH_A[i]} * h + {_MINHASH_B[i]}) % {_MINHASH_P}) AS s{i}" for i in range(_N_PERM))}
  FROM {hv} GROUP BY doc_id
),
{p}keys AS (
  SELECT doc_id, [{', '.join(
      "md5("
      + " || '|' || ".join(
          f"CAST(s{b * (_N_PERM // _N_BANDS) + j} AS VARCHAR)"
          for j in range(_N_PERM // _N_BANDS)
      )
      + ")"
      for b in range(_N_BANDS)
  )}] AS ks FROM {p}sig
),
{p}bands AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band, ks[{b + 1}] AS band_key, ks FROM {p}keys"
      for b in range(_N_BANDS)
  )}
),
{p}capped AS (
  SELECT doc_id, band, band_key, ks FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS bsz FROM {p}bands
  ) WHERE bsz <= {_LSH_BUCKET_CAP}
)"""


_FIRST_BAND_GATE_SQL = " AND ".join(
    f"(a.band <= {j} OR a.ks[{j + 1}] <> b.ks[{j + 1}])"
    for j in range(_N_BANDS - 1)
)


def _minhash_cand_cte() -> str:
    """bands chain + the self-join cand CTE (pair-distinct, da < db)
    — the oracle side of `_minhash_band_candidates`."""
    return f"""{_minhash_bands_cte()},
cand AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE {_FIRST_BAND_GATE_SQL}
)"""


_DEDUP_MINHASH_SQL = f"""
WITH {shingles_cte_sql('documents', 'text', 3)},
hv AS (
  SELECT doc_id, {h32_sql('s')} AS h FROM sh
),
{_minhash_cand_cte()},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT da, db, COUNT(*) AS i
  FROM cand
  JOIN sh sa ON sa.doc_id = da
  JOIN sh sb ON sb.doc_id = db AND sa.s = sb.s
  GROUP BY 1, 2
)
SELECT da, db, i / (ca.n + cb.n - i) AS jaccard
FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
WHERE i / (ca.n + cb.n - i) >= {_JACCARD_THRESHOLD}
"""


# ----------------------------------------- doc_minhash_signatures

def doc_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIGNATURE STORE: one row per doc with its 16 MinHash
    values and 4 band keys — the table a 100 TB pipeline PERSISTS
    (partitioned/bucketed by band key) so later batches dedup
    against the corpus without ever recomputing corpus signatures.
    Exposing it as an operator makes the store schema explicit and
    oracle-checked; `dedup_incremental_minhash` is its consumer.
    Docs with < 3 tokens have no shingles and are excluded (same
    rule both engines)."""
    docs = _doc_shingles(spark, sf_dir)
    hv = docs.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", F.expr(h32_spark_sql("s")).alias("h")
    )
    sig = _minhash_sig(hv)
    ks = _band_keys_col()
    return sig.select(
        "doc_id",
        *[f"s{i}" for i in range(_N_PERM)],
        *[ks.getItem(b).alias(f"bk{b}") for b in range(_N_BANDS)],
    )


_SIGNATURES_SQL = f"""
WITH {shingles_cte_sql('documents', 'text', 3)},
hv AS (
  SELECT doc_id, {h32_sql('s')} AS h FROM sh
),
{_minhash_bands_cte()}
SELECT s.doc_id,
       {', '.join(f's.s{i}' for i in range(_N_PERM))},
       {', '.join(f'k.ks[{b + 1}] AS bk{b}' for b in range(_N_BANDS))}
FROM sig s JOIN keys k USING (doc_id)
"""


# -------------------------------------- dedup_incremental_minhash

_INCR_BATCH_MOD = 10  # doc_id % 10 == 0 → the "new batch" slice


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the shape production pipelines actually
    run: a NEW batch of documents (deterministic slice
    doc_id % 10 == 0, ≈10% of the corpus) is deduped against the
    BASE corpus (the other 90%) without any base-vs-base pair work.
    Candidates come from the same banded signature store
    (`_minhash_bands`; in production the base side is read from the
    persisted `doc_minhash_signatures` table, not recomputed), the
    band join is batch×base only, and exact Jaccard verifies
    candidates. Output: (new_doc_id, base_doc_id, jaccard ≥ 0.5) —
    the keep/drop evidence for batch admission.

    Scale shape: cost is O(batch + matched candidates) given a
    stored signature table — the base corpus is touched only through
    its (tiny) band index and the shingle arrays of MATCHED docs.
    Batch-internal duplicates are deliberately out of scope here
    (run `dedup_minhash_lsh` within the batch for those). The bucket
    cap is computed over base+batch together, exactly what a
    combined store would see — the oracle mirrors this."""
    docs = _doc_shingles(spark, sf_dir).cache()
    hv = docs.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", F.expr(h32_spark_sql("s")).alias("h")
    )
    bands = _minhash_bands(hv)
    base = bands.where(F.col("doc_id") % _INCR_BATCH_MOD != 0).alias("a")
    newb = bands.where(F.col("doc_id") % _INCR_BATCH_MOD == 0).alias("b")
    cand = (
        newb.join(
            base,
            (F.col("b.band") == F.col("a.band"))
            & (F.col("b.band_key") == F.col("a.band_key")),
        )
        .where(_first_band_gate())
        .select(F.col("b.doc_id").alias("da"), F.col("a.doc_id").alias("db"))
    )
    out = jaccard_on_candidates(
        cand, docs.select("doc_id", F.col("sh").alias("fs")), _JACCARD_THRESHOLD
    )
    return out.select(
        F.col("da").alias("new_doc_id"),
        F.col("db").alias("base_doc_id"),
        "jaccard",
    )


_INCREMENTAL_MINHASH_SQL = f"""
WITH {shingles_cte_sql('documents', 'text', 3)},
hv AS (
  SELECT doc_id, {h32_sql('s')} AS h FROM sh
),
{_minhash_bands_cte()},
cand AS (
  SELECT b.doc_id AS da, a.doc_id AS db
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id % {_INCR_BATCH_MOD} <> 0 AND b.doc_id % {_INCR_BATCH_MOD} = 0
  WHERE {_FIRST_BAND_GATE_SQL}
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT da, db, COUNT(*) AS i
  FROM cand
  JOIN sh sa ON sa.doc_id = da
  JOIN sh sb ON sb.doc_id = db AND sa.s = sb.s
  GROUP BY 1, 2
)
SELECT da AS new_doc_id, db AS base_doc_id,
       i / (ca.n + cb.n - i) AS jaccard
FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
WHERE i / (ca.n + cb.n - i) >= {_JACCARD_THRESHOLD}
"""


# ----------------------------------- dedup_jaccard_lsh_verified

def dedup_jaccard_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 100 TB path for char-5-gram Jaccard dedup:
    MinHash-band candidates (sublinear — signature shuffle is
    O(docs), bucket join bounded by capped bucket sizes) verified
    with EXACT Jaccard on only the candidate pairs. Unlike the exact
    all-pairs baseline `dedup_ngram_jaccard`, no pair grid is ever
    built: cost is O(docs + candidates), so a 100× corpus costs
    ~100× (not 10,000×) as long as near-dup density is stable.

    Recall semantics (mirrored exactly by the oracle): a pair scores
    only if it shares ≥1 of the 4 MinHash bands — the standard LSH
    S-curve, P(candidate) = 1-(1-s⁴)⁴ ≈ 99% at s=0.9, ~23% at the
    s=0.5 threshold boundary. More bands/permutations move the curve;
    the exact baseline remains the recall oracle at small scale.

    The feature set is HASHED in-row (distinct h32 longs, one md5
    per gram, computed once): the signature pass then explodes bare
    longs and the verify intersects long arrays — ~2x cheaper than
    hashing per exploded row + intersecting 5-char string arrays.
    Both engines score the identical hashed sets, so a 32-bit
    collision (≈(2k)²/2³³ odds, and deterministic) can never split
    the engines."""
    d = table(spark, sf_dir, "documents")
    nt = d.select("doc_id", norm_text(F.col("text")).alias("nt")).where(
        F.length("nt") >= 5
    )
    # DISTINCT hashed char-5-grams kept IN-ROW (zero-shuffle feature
    # build, same rationale as _doc_shingles); cached because both
    # the signature pass and the verify join consume it.
    grams = nt.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform({char_ngrams_expr('nt', 5)}, g -> {h32_spark_sql('g')})"
            )
        ).alias("fs"),
    ).cache()
    # exploded signature, kept after an interleaved A/B (median-of-5
    # at sf0.1: explode 3.8 s vs in-row 4.5 s end-to-end): the gram
    # arrays are cache-materialized for the verify join anyway, so
    # the explode is nearly free while `_minhash_sig_inrow`'s
    # interpreted higher-order functions are not — see its docstring
    # for where the in-row form DOES win
    hv = grams.select("doc_id", F.explode("fs").alias("h"))
    cand = _minhash_band_candidates(hv)
    return jaccard_on_candidates(cand, grams, _JACCARD_THRESHOLD)


_JACCARD_LSH_VERIFIED_SQL = f"""
WITH nt AS (
  SELECT doc_id, {norm_text_sql('text')} AS nt FROM documents
), idx AS (
  SELECT doc_id, nt, unnest(generate_series(1, length(nt)-4)) AS i
  FROM nt WHERE length(nt) >= 5
), hv AS (
  SELECT DISTINCT doc_id, {h32_sql('substr(nt, i, 5)')} AS h FROM idx
),
{_minhash_cand_cte()},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM hv GROUP BY 1),
inter AS (
  SELECT da, db, COUNT(*) AS i
  FROM cand
  JOIN hv a ON a.doc_id = da
  JOIN hv b ON b.doc_id = db AND a.h = b.h
  GROUP BY 1, 2
)
SELECT da, db, i / (ca.n + cb.n - i) AS jaccard
FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
WHERE i / (ca.n + cb.n - i) >= {_JACCARD_THRESHOLD}
"""


# ------------------------------- dedup_containment_lsh_verified

_CONTAINMENT_LSH_THRESHOLD = 0.8


def dedup_containment_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 100 TB path for containment dedup: MinHash-band
    candidates over token-3-gram shingles, then EXACT asymmetric
    containment C(A→B) = |A∩B|/|A| on candidate pairs only, both
    directions emitted. Candidate generation is shared verbatim with
    `dedup_minhash_lsh` (same signatures, same bands, same cap), so a
    pipeline that runs both pays for the signature pass once.

    Recall caveat (by construction, mirrored by the oracle): MinHash
    bands collide by JACCARD similarity, so a tiny doc fully
    contained in a huge one (high containment, low Jaccard) may not
    become a candidate — the exact all-pairs `dedup_containment`
    remains the recall oracle; at scale, asymmetric-recall variants
    (e.g. shingle-prefix indexing) slot into the same kernel."""
    docs = _doc_shingles(spark, sf_dir).select(
        "doc_id", F.col("sh").alias("fs")
    ).cache()
    hv = docs.select("doc_id", F.explode("fs").alias("s")).select(
        "doc_id", F.expr(h32_spark_sql("s")).alias("h")
    )
    cand = _minhash_band_candidates(hv)
    return containment_on_candidates(cand, docs, _CONTAINMENT_LSH_THRESHOLD)


_CONTAINMENT_LSH_VERIFIED_SQL = f"""
WITH {shingles_cte_sql('documents', 'text', 3)},
hv AS (
  SELECT doc_id, {h32_sql('s')} AS h FROM sh
),
{_minhash_cand_cte()},
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT da, db, COUNT(*) AS i
  FROM cand
  JOIN sh a ON a.doc_id = da
  JOIN sh b ON b.doc_id = db AND a.s = b.s
  GROUP BY 1, 2
),
both_dirs AS (
  SELECT i.da, i.db, CAST(i.i AS DOUBLE) / ca.n AS containment
  FROM inter i JOIN cnt ca ON ca.doc_id = i.da
  UNION ALL
  SELECT i.db AS da, i.da AS db, CAST(i.i AS DOUBLE) / cb.n AS containment
  FROM inter i JOIN cnt cb ON cb.doc_id = i.db
)
SELECT da, db, containment FROM both_dirs
WHERE containment >= {_CONTAINMENT_LSH_THRESHOLD}
"""


# -------------------------------------------------- dedup_simhash

def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash: dedup tokens IN-ROW (array_distinct — no
    distinct shuffle), explode, then ONE vectorized hash aggregate
    computing all 32 signed bit counts. Map-side partial aggregation
    means the shuffle carries one 32-int row per doc per partition,
    never the exploded token table."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    ).select("doc_id", F.expr(h32_spark_sql("tok")).alias("h"))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(case when (shiftright(h, {i}) & 1) = 1 then 1 else -1 end)"
            ).alias(f"b{i}")
            for i in range(_SIMHASH_BITS)
        ]
    )
    sh_expr = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_BITS)
    )
    return bit_sums.select("doc_id", F.expr(f"CAST({sh_expr} AS BIGINT)").alias("sh"))


def _simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-verified SimHash pairs, PAIR-DISTINCT BY CONSTRUCTION
    with no distinct shuffle: each pair is emitted only from its FIRST
    shared band (for every earlier band the 8-bit bytes must differ —
    a per-row bit test on the two fingerprints already present in the
    joined row). Without this, a pair sharing k bands appears k times
    (~2.4× inflation measured at sf0.1) and either every consumer
    re-shuffles a distinct or every downstream shuffle carries the
    duplicates."""
    # Cache the fingerprint table (doc_id + one BIGINT — tiny even at
    # 100 TB of input) so the hash pass runs once, not per join side.
    sim = _simhash_df(spark, sf_dir).cache()
    # 4 bands of 8 bits via one posexplode: pairs at Hamming ≤ 3 must
    # share a band (pigeonhole). One shuffle total — the band join.
    band_vals = F.array(
        *[F.expr(f"(shiftright(sh, {8 * b}) & 255)") for b in range(_SIMHASH_BANDS)]
    )
    bands = sim.select(
        "doc_id", "sh", F.posexplode(band_vals).alias("band", "band_val")
    )
    a, b_ = bands.alias("a"), bands.alias("b")
    # First-shared-band gate: for every band j earlier than the one
    # this row matched on, the fingerprints' j-th bytes must differ.
    # Whole-stage-codegen-friendly unrolled booleans, zero shuffle.
    first_band = F.expr(
        " AND ".join(
            f"(a.band <= {j} OR (shiftright(a.sh, {8 * j}) & 255) != "
            f"(shiftright(b.sh, {8 * j}) & 255))"
            for j in range(_SIMHASH_BANDS - 1)
        )
    )
    # The Hamming filter is likewise a per-row bit op applied before
    # anything shuffles; the result set is unchanged (hamming is a
    # function of the pair).
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(first_band)
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.expr("CAST(bit_count(a.sh ^ b.sh) AS INT)").alias("hamming"),
        )
        .where(F.col("hamming") <= _HAMMING_MAX)
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No .distinct(): the first-shared-band gate in the candidate
    # stream already makes rows pair-unique, so the old cross-band
    # distinct would be a pure multi-million-row shuffle for nothing.
    return _simhash_candidates(spark, sf_dir)


_SIMHASH_CTE = f"""
toks AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, {h32_sql('tok')} AS h FROM toks
), bit_sums AS (
  SELECT doc_id,
         {', '.join(f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(_SIMHASH_BITS))}
  FROM hashed GROUP BY doc_id
), sim AS (
  SELECT doc_id,
         CAST({' + '.join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_BITS))} AS BIGINT) AS sh
  FROM bit_sums
)"""

_DEDUP_SIMHASH_SQL = f"""
WITH {_SIMHASH_CTE},
bands AS (
  {' UNION ALL '.join(f"SELECT doc_id, sh, {b} AS band, (sh >> {8 * b}) & 255 AS band_val FROM sim" for b in range(_SIMHASH_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sh AS sha, b.sh AS shb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT da, db, CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sha, shb)) <= {_HAMMING_MAX}
"""


# -------------------------------------------- dedup_ngram_jaccard

def _lang_block_fanout(
    spark: SparkSession,
    d: DataFrame,
    feature_rows: DataFrame,
    feature_col: str,
    block_docs: int,
) -> DataFrame:
    """Skew-safe per-language pair-block fanout shared by the
    all-pairs set-similarity operators (Jaccard, containment).

    Sizes a per-language block grid from RAW per-language doc counts
    (a pruned two-column scan; sizing only needs an upper bound, so
    the unfiltered count is fine — the collect is #languages rows, a
    bounded constant). Builds the role map as pure metadata: block b
    is the 'a' side of pair-groups (b, j≥b) and the 'b' side of
    (i<b, b). ONE broadcast join fans each (doc, feature) row out to
    all its groups in a single scan, so the expensive feature build
    (explode + distinct) runs exactly once. Grouping on
    (lang, bi, bj) then bounds every task at 2·block_docs docs ×
    vocab no matter how skewed the language mix is."""
    counts = (
        d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).collect()
    )
    role_rows = []
    nb_rows = []
    for r in counts:
        lang, nb = r["lang"], max(1, -(-r["n_docs"] // block_docs))
        nb_rows.append((lang, nb))
        role_rows += [(lang, i, i, j, "a") for i in range(nb) for j in range(i, nb)]
        role_rows += [(lang, j, i, j, "b") for i in range(nb) for j in range(i + 1, nb)]
    nbdf = spark.createDataFrame(nb_rows, "lang string, nb int")
    rolemap = spark.createDataFrame(
        role_rows, "lang string, bid int, bi int, bj int, role string"
    )
    tagged = feature_rows.join(F.broadcast(nbdf), "lang").select(
        "lang",
        "doc_id",
        feature_col,
        (F.col("doc_id") % F.col("nb")).cast("int").alias("bid"),
    )
    return tagged.join(F.broadcast(rolemap), ["lang", "bid"]).select(
        "lang", "bi", "bj", "role", "doc_id", feature_col
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-5-gram Jaccard within language blocks via per-language
    BLAS: each language group builds a docs × vocab binary matrix and
    computes ALL pairwise intersection counts with one matmul
    (applyInPandas — Arrow in, numpy inside). Char-5-gram vocabulary
    SATURATES (bounded by charset⁵; measured ~2k per language at
    sf0.1), so the matrix is docs × small-constant — the same
    broadcast-side-bounded shape as embedding_neardup, and ~35x
    faster than the gram equi-join + count aggregate it replaces
    (36 s → ~1 s at sf0.1, identical results).

    Exactness: intersection counts come from a float32 matmul of 0/1
    matrices (exact for counts < 2^24); the Jaccard is the same
    single float64 division the SQL oracle performs. Two rewrites
    were A/B-measured and REJECTED before this one: hashed join keys
    (no win — the intersection blow-up, not key width, dominates)
    and PPJoin prefix filtering (8.7x fewer join rows but the
    candidate-verify join re-explodes; 2x SLOWER end to end on this
    duplicate-heavy corpus).

    Skew safety: language is the canonical skewed key (English
    dominates real corpora), so a plain groupBy(lang) would hand one
    task the whole dominant language. Instead each language is hashed
    into ⌈docs/B⌉ sub-blocks (B = 1024 docs) and every block PAIR
    (i ≤ j) is its own shuffle group — no task ever holds more than
    2B docs × vocab, regardless of how skewed the language mix is.
    Each unordered doc pair lands in exactly one group (diagonal
    group filtered x < y; cross-block group keyed (min, max)). A doc's
    FULL gram set travels with it to every group it joins, so row
    sums — and therefore the union term — stay exact.

    At larger scale: vocab stays bounded, docs grow — the block grid
    grows as ⌈docs/B⌉² per language with bounded per-task memory, or
    fall back to MinHash-LSH which is the designed sublinear path."""
    import numpy as np
    import pandas as pd

    d = table(spark, sf_dir, "documents")
    nt = d.select(
        "doc_id", "lang", norm_text(F.col("text")).alias("nt")
    ).where(F.length("nt") >= 5)
    # Fan out the normalized TEXT, not exploded gram rows: one row
    # per (doc, block-group) instead of ~300, so the applyInPandas
    # shuffle moves document strings (~10 MB at sf0.1) rather than a
    # 1.5M-row gram table, and the JVM-side substring explode (the
    # single most expensive stage of the old plan) disappears.
    # Grams are generated inside the block worker: Python slicing is
    # code-point based exactly like SQL substr, so the gram sets —
    # and therefore every score — are unchanged.
    fanout = _lang_block_fanout(spark, d, nt, "nt", _JACCARD_BLOCK_DOCS)

    def _gram_matrix(texts, n: int = 5):
        """docs × vocab 0/1 matrix from raw strings: per-doc DISTINCT
        n-grams → factorize (one vectorized pass) → idempotent cell
        assignment. Row sums are exact set sizes."""
        all_grams: list = []
        row_idx: list = []
        for j, s in enumerate(texts):
            gs = {s[i : i + n] for i in range(len(s) - n + 1)}
            all_grams.extend(gs)
            row_idx.extend([j] * len(gs))
        codes, uniq = pd.factorize(np.asarray(all_grams, dtype=object))
        m = np.zeros((len(texts), len(uniq)), dtype=np.float32)
        m[np.asarray(row_idx, dtype=np.int64), codes] = 1.0
        return m, uniq

    def jaccard_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        diag = key[1] == key[2]
        a_mask = (pdf["role"] == "a").to_numpy()
        if not a_mask.any() or (not diag and a_mask.all()):
            return pd.DataFrame({"da": [], "db": [], "jaccard": []})
        # one row per doc per role — dedupe roles, build one joint
        # matrix so both sides share a vocabulary
        m, _ = _gram_matrix(pdf["nt"].tolist())
        sz = m.sum(axis=1).astype(np.int64)
        docs = pdf["doc_id"].to_numpy(np.int64)
        a_rows = np.nonzero(a_mask)[0]
        order = np.argsort(docs[a_rows])
        a_rows = a_rows[order]
        da_ids, am, asz = docs[a_rows], m[a_rows], sz[a_rows]
        if diag:
            db_ids, bm, bsz = da_ids, am, asz
        else:
            b_rows = np.nonzero(~a_mask)[0]
            order = np.argsort(docs[b_rows])
            b_rows = b_rows[order]
            db_ids, bm, bsz = docs[b_rows], m[b_rows], sz[b_rows]
        out = {"da": [], "db": [], "jaccard": []}
        chunk = max(1, (64 << 20) // max(len(db_ids) * 4, 1))
        for lo in range(0, len(da_ids), chunk):
            # float32 matmul of 0/1 matrices is exact below 2^24
            inter = (am[lo : lo + chunk] @ bm.T).astype(np.int64)
            union = asz[lo : lo + chunk, None] + bsz[None, :] - inter
            jac = inter.astype(np.float64) / union
            ids_lo = da_ids[lo : lo + chunk]
            if diag:
                keep = (jac >= _JACCARD_THRESHOLD) & (
                    ids_lo[:, None] < db_ids[None, :]
                )
                ai, bi = np.nonzero(keep)
                da, db = ids_lo[ai], db_ids[bi]
            else:
                keep = jac >= _JACCARD_THRESHOLD
                ai, bi = np.nonzero(keep)
                da = np.minimum(ids_lo[ai], db_ids[bi])
                db = np.maximum(ids_lo[ai], db_ids[bi])
            out["da"].append(da)
            out["db"].append(db)
            out["jaccard"].append(jac[ai, bi])
        return pd.DataFrame(
            {k: np.concatenate(v) if v else np.array([]) for k, v in out.items()}
        )

    return fanout.groupBy("lang", "bi", "bj").applyInPandas(
        jaccard_block, schema="da long, db long, jaccard double"
    )


_DEDUP_NGRAM_SQL = f"""
WITH nt AS (
  SELECT doc_id, lang, {norm_text_sql('text')} AS nt FROM documents
), idx AS (
  SELECT doc_id, lang, nt, unnest(generate_series(1, length(nt)-4)) AS i
  FROM nt WHERE length(nt) >= 5
), grams AS (
  SELECT DISTINCT doc_id, lang, substr(nt, i, 5) AS g FROM idx
), cnt AS (
  SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY 1
), inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
  FROM grams a JOIN grams b
    ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da, db, i / (ca.n + cb.n - i) AS jaccard
FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
WHERE i / (ca.n + cb.n - i) >= {_JACCARD_THRESHOLD}
"""


# ------------------------------------------- embedding_neardup

def quantize(frame: DataFrame, *keep: str) -> DataFrame:
    """(vec_id, *keep, embedding) → (vec_id, *keep, q, nq):
    integer-quantized components plus their exact integer squared
    norm. Quantization makes dot products exact and
    summation-order-free — the cross-engine determinism backbone for
    all vector ops. A frame that already carries the quantized `q`
    (an integer vector stream) keeps it and only gains nq."""
    q = (
        F.col("q")
        if "q" in frame.columns
        else F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * _QUANT, 0).cast("long"),
        )
    )
    return frame.select("vec_id", *keep, q.alias("q")).withColumn(
        "nq",
        F.aggregate(
            F.transform(F.col("q"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table, quantized: (vec_id, label, q, nq)."""
    return quantize(table(spark, sf_dir, "embeddings"), "label")


_QUANT_CTE = f"""
qv AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {_QUANT}) AS BIGINT)) AS q
  FROM embeddings
), qn AS (
  SELECT vec_id, label, q,
         list_sum(list_transform(q, x -> x * x)) AS nq
  FROM qv
)"""


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


_NEARDUP_BLOCK_ROWS = 4096  # rows per triangle block (bounds task memory)


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact cosine near-dup via a blocked triangle join:
    vectors are hashed into ⌈n/B⌉ blocks (B = 1024 rows), every block
    PAIR (i ≤ j) becomes one shuffle group, and each group scores its
    two blocks with one numpy matmul (Arrow in, BLAS inside). NOTHING
    is collected to the driver — the only driver-side action is the
    scalar count that sizes the block grid — so the operator is bounded
    by executor memory (2 blocks ≈ 1 MB + a chunked score matrix),
    not driver memory, at any n. This replaced a broadcast design that
    `.collect()`ed the whole quantized table driver-side.

    Dot products are exact int64 (quantized components ≤ 1e4, dim 64
    ⇒ no overflow); the cosine is the same single IEEE divide/sqrt
    chain the SQL oracle runs, so floats still match bit-for-bit.
    Each unordered pair lands in exactly one group: blocks are
    vec_id-hash assigned, pairs with equal block land in the (i, i)
    diagonal group (filtered x < y), cross-block pairs in the single
    (min, max) group.

    Scale note: compute is inherently O(n²) — this is the exact
    BASELINE, and the blocked shape spreads that work across
    n·⌈n/B⌉ shuffled rows with no single big task. Past a few
    million vectors the scale path is blocked candidate generation
    (ann_lsh/ann_ivf) feeding the same exact verify, not a bigger
    brute force."""
    import numpy as np
    import pandas as pd

    # Size the grid from the parquet footer (driver-side metadata
    # read, no job); fall back to a scalar count — either way the
    # only driver-side value is ONE integer.
    n = parquet_num_rows(sf_dir, "embeddings")
    if n is None:
        n = table(spark, sf_dir, "embeddings").count()
    # Block size: capped at _NEARDUP_BLOCK_ROWS for bounded task
    # memory, but shrunk for small inputs so the pair grid still
    # fans out across cores (≥ ~16-way) instead of one giant task.
    b = max(256, min(_NEARDUP_BLOCK_ROWS, n // 16 + 1))
    nb = max(1, -(-n // b))
    # Role map (pure metadata, built driver-side): block b serves as
    # the 'a' side of groups (b, j≥b) and the 'b' side of (i<b, b).
    # ONE broadcast join against it fans each vector out to all its
    # groups in a single scan — no self-union, quantization runs once.
    rolemap = spark.createDataFrame(
        [(i, i, j, "a") for i in range(nb) for j in range(i, nb)]
        + [(j, i, j, "b") for i in range(nb) for j in range(i + 1, nb)],
        "bid int, bi int, bj int, role string",
    )
    qn = _quantized(spark, sf_dir)
    tagged = qn.select(
        "vec_id", "q", "nq", (F.col("vec_id") % nb).cast("int").alias("bid")
    )
    fanout = tagged.join(F.broadcast(rolemap), "bid").select(
        "bi", "bj", "role", "vec_id", "q", "nq"
    )

    def _mat(sub: pd.DataFrame):
        ids = sub["vec_id"].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.int64) for v in sub["q"]])
        norms = np.sqrt(sub["nq"].to_numpy(dtype=np.int64).astype(np.float64))
        return ids, mat, norms

    def score(key, pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["role"] == "a"]
        b = pdf[pdf["role"] == "b"]
        if a.empty or (key[0] != key[1] and b.empty):
            return pd.DataFrame({"va": [], "vb": [], "cosine": []})
        a_ids, a_mat, a_norms = _mat(a)
        if key[0] == key[1]:
            b_ids, b_mat, b_norms = a_ids, a_mat, a_norms
        else:
            b_ids, b_mat, b_norms = _mat(b)
        out = {"va": [], "vb": [], "cosine": []}
        # chunk rows so the dense score matrix stays ~tens of MB
        chunk = max(1, (8 << 20) // max(len(b_ids), 1))
        for lo in range(0, len(a_ids), chunk):
            dots = a_mat[lo : lo + chunk] @ b_mat.T  # exact int64
            # A zero vector gives 0/0 = nan here; nan >= threshold is
            # False, so its pairs drop — the same NULL-excluded
            # semantics the DuckDB oracle has for x/0. errstate only
            # silences the warning, it does not change the values.
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots.astype(np.float64) / (
                    a_norms[lo : lo + chunk, None] * b_norms[None, :]
                )
            ids_lo = a_ids[lo : lo + chunk]
            keep = (cos >= _COSINE_THRESHOLD) & (ids_lo[:, None] != b_ids[None, :])
            ai, bi = np.nonzero(keep)
            va = np.minimum(ids_lo[ai], b_ids[bi])
            vb = np.maximum(ids_lo[ai], b_ids[bi])
            if key[0] == key[1]:  # diagonal sees each pair twice
                m = ids_lo[ai] < b_ids[bi]
                va, vb, cs = va[m], vb[m], cos[ai, bi][m]
            else:
                cs = cos[ai, bi]
            out["va"].append(va)
            out["vb"].append(vb)
            out["cosine"].append(cs)
        return pd.DataFrame(
            {k: np.concatenate(v) if v else np.array([]) for k, v in out.items()}
        )

    return fanout.groupBy("bi", "bj").applyInPandas(
        score, schema="va long, vb long, cosine double"
    )


_EMBEDDING_NEARDUP_SQL = f"""
WITH {_QUANT_CTE}
SELECT a.vec_id AS va, b.vec_id AS vb,
       CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
         / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cosine
FROM qn a JOIN qn b ON a.vec_id < b.vec_id
WHERE CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)
      / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) >= {_COSINE_THRESHOLD}
"""


# ------------------------------- embedding_neardup_lsh_verified

_NEARDUP_LSH_PLANES = 48
_NEARDUP_LSH_BAND_BITS = 8
_NEARDUP_LSH_BANDS = _NEARDUP_LSH_PLANES // _NEARDUP_LSH_BAND_BITS
_NEARDUP_LSH_BUCKET_CAP = 128
_EMB_DIM = 64


def _neardup_planes() -> list[tuple[int, int, int]]:
    """(plane, dim_index, weight) hyperplane constants — md5-derived
    integers in [-10000, 10000], identical literals on both engines
    (no RNG; same construction as similarity._planes but seeded
    independently so this module stays import-cycle-free)."""
    return [
        (
            p,
            i,
            (int(hashlib.md5(f"nplane|{p}|{i}".encode()).hexdigest()[:8], 16) % 20001)
            - 10000,
        )
        for p in range(_NEARDUP_LSH_PLANES)
        for i in range(_EMB_DIM)
    ]


def _hyperplane_bands(spark: SparkSession, qn: DataFrame) -> DataFrame:
    """Capped hyperplane sign-band rows (vec_id, bs, band, band_val)
    over quantized vectors: 48 sign bits → 6 bands × 8 bits — the
    embedding analog of `_minhash_bands` (the joinable form of a
    persistable vector-signature store)."""
    pl = spark.createDataFrame(_neardup_planes(), "p int, i int, w long")
    el = qn.select("vec_id", F.posexplode("q").alias("i", "v"))
    dots = (
        el.join(F.broadcast(pl), "i")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("v") * F.col("w")).alias("dot"))
    )
    bb = _NEARDUP_LSH_BAND_BITS
    bandvals = dots.groupBy("vec_id").agg(
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN p >= {b * bb} AND p < {(b + 1) * bb} AND dot >= 0 "
                    f"THEN shiftleft(1, p - {b * bb}) ELSE 0 END"
                )
            )
            .cast("int")
            .alias(f"bv{b}")
            for b in range(_NEARDUP_LSH_BANDS)
        ]
    )
    barr = F.array(*[F.col(f"bv{b}") for b in range(_NEARDUP_LSH_BANDS)])
    bands = bandvals.select(
        "vec_id", barr.alias("bs"), F.posexplode(barr).alias("band", "band_val")
    )
    wb = Window.partitionBy("band", "band_val")
    return (
        bands.withColumn("bsz", F.count(F.lit(1)).over(wb))
        .where(F.col("bsz") <= _NEARDUP_LSH_BUCKET_CAP)
        .drop("bsz")
    )


def _hyperplane_first_band_gate(left: str = "a", right: str = "b"):
    """First-shared-band predicate over the carried band-value
    arrays — the hyperplane analog of `_first_band_gate`."""
    return F.expr(
        " AND ".join(
            f"({left}.band <= {j} OR {left}.bs[{j}] != {right}.bs[{j}])"
            for j in range(_NEARDUP_LSH_BANDS - 1)
        )
    )


def _hyperplane_band_candidates(spark: SparkSession, qn: DataFrame) -> DataFrame:
    """Random-hyperplane LSH candidate pairs over quantized vectors:
    48 sign bits → 6 bands × 8 bits → bucket join on (band, value).
    Pair-distinct by construction via the first-shared-band gate
    (same move as the SimHash/MinHash generators), buckets capped.
    The only shuffle keyed on data is the (band, band_val) bucket
    join — 256 values per band spread by content, never all-pairs."""
    bands = _hyperplane_bands(spark, qn)
    a, b_ = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(_hyperplane_first_band_gate())
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
    )


def embedding_neardup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 100 TB path for embedding near-dup: hyperplane-
    LSH bucket candidates (sublinear — candidate volume is governed
    by bucket occupancy, ~n²/256 per band for uncorrelated vectors
    and far less on clustered real corpora, with the cap as the k²
    safety valve) verified with EXACT int64-quantized cosine on only
    the candidate pairs. No pair grid, no matmul block fanout — the
    blocked-BLAS `embedding_neardup` remains the exact all-pairs
    baseline and recall oracle.

    Recall semantics (mirrored exactly by the oracle): a pair scores
    only if some 8-bit sign band matches. For p = 1 − θ/π per plane,
    P(candidate) = 1−(1−p⁸)⁶ ≈ 87% at cosine 0.9, dropping steeply
    toward the 0.45 threshold boundary — bands are the recall knob."""
    qn = _quantized(spark, sf_dir).cache()
    cand = _hyperplane_band_candidates(spark, qn)
    return cosine_on_candidates(cand, qn, _COSINE_THRESHOLD)


def _neardup_planes_values_sql() -> str:
    return ", ".join(f"({p},{i},{w})" for p, i, w in _neardup_planes())


_NEARDUP_COS_SQL_BODY = (
    "CAST(list_sum(list_transform(list_zip(a.q, b.q), p -> p[1] * p[2])) AS DOUBLE)"
    " / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE)))"
)

_HYPERPLANE_GATE_SQL = " AND ".join(
    f"(a.band <= {j} OR a.bs[{j + 1}] <> b.bs[{j + 1}])"
    for j in range(_NEARDUP_LSH_BANDS - 1)
)


def _hyperplane_bands_cte(prefix: str = "", src: str = "qn") -> str:
    """el → dots → bandvals → bands → capped CTE chain over a
    quantized-vector CTE `src` (expects an in-scope `planes` VALUES
    CTE) — the oracle side of `_hyperplane_bands`, prefix-namespaced
    like `_minhash_bands_cte` so one oracle can hold two chains."""
    p = prefix
    return f"""{p}el AS (
  SELECT vec_id, unnest(q) AS v,
         unnest(generate_series(0, len(q)-1)) AS i
  FROM {src}
),
{p}dots AS (
  SELECT vec_id, p, SUM(v * w) AS dot
  FROM {p}el JOIN planes USING (i) GROUP BY 1, 2
),
{p}bandvals AS (
  SELECT vec_id,
         {', '.join(
    f"CAST(SUM(CASE WHEN p >= {b * _NEARDUP_LSH_BAND_BITS} AND p < {(b + 1) * _NEARDUP_LSH_BAND_BITS} AND dot >= 0"
    f" THEN (1 << (p - {b * _NEARDUP_LSH_BAND_BITS})) ELSE 0 END) AS INT) AS bv{b}"
    for b in range(_NEARDUP_LSH_BANDS)
)}
  FROM {p}dots GROUP BY 1
),
{p}bands AS (
  {' UNION ALL '.join(
    f"SELECT vec_id, {b} AS band, bv{b} AS band_val, [{', '.join(f'bv{k}' for k in range(_NEARDUP_LSH_BANDS))}] AS bs FROM {p}bandvals"
    for b in range(_NEARDUP_LSH_BANDS)
)}
),
{p}capped AS (
  SELECT vec_id, band, band_val, bs FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, band_val) AS bsz FROM {p}bands
  ) WHERE bsz <= {_NEARDUP_LSH_BUCKET_CAP}
)"""


_NEARDUP_LSH_VERIFIED_SQL = f"""
WITH {_QUANT_CTE},
planes(p, i, w) AS (VALUES {_neardup_planes_values_sql()}),
{_hyperplane_bands_cte()},
cand AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.band_val = b.band_val AND a.vec_id < b.vec_id
  WHERE {_HYPERPLANE_GATE_SQL}
)
SELECT va, vb,
       {_NEARDUP_COS_SQL_BODY} AS cosine
FROM cand
JOIN qn a ON a.vec_id = va
JOIN qn b ON b.vec_id = vb
WHERE {_NEARDUP_COS_SQL_BODY} >= {_COSINE_THRESHOLD}
"""


# ---------------------------------- embedding_incremental_neardup

def embedding_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup for VECTORS — the embedding analog of
    `dedup_incremental_minhash`: a new batch of vectors
    (vec_id % 10 == 0, ≈10%) is checked against the base corpus
    through the hyperplane sign-band store (in production the base
    band table is persisted, not recomputed), batch×base band join
    only, exact int64 cosine verify. Output:
    (new_vec_id, base_vec_id, cosine ≥ threshold). The bucket cap is
    computed over base+batch together (what a combined store sees);
    the oracle mirrors this."""
    qn = _quantized(spark, sf_dir).cache()
    bands = _hyperplane_bands(spark, qn)
    base = bands.where(F.col("vec_id") % _INCR_BATCH_MOD != 0).alias("a")
    newb = bands.where(F.col("vec_id") % _INCR_BATCH_MOD == 0).alias("b")
    cand = (
        newb.join(
            base,
            (F.col("b.band") == F.col("a.band"))
            & (F.col("b.band_val") == F.col("a.band_val")),
        )
        .where(_hyperplane_first_band_gate())
        .select(F.col("b.vec_id").alias("va"), F.col("a.vec_id").alias("vb"))
    )
    out = cosine_on_candidates(cand, qn, _COSINE_THRESHOLD)
    return out.select(
        F.col("va").alias("new_vec_id"),
        F.col("vb").alias("base_vec_id"),
        "cosine",
    )


_INCR_NEARDUP_SQL = f"""
WITH {_QUANT_CTE},
planes(p, i, w) AS (VALUES {_neardup_planes_values_sql()}),
{_hyperplane_bands_cte()},
cand AS (
  SELECT b.vec_id AS va, a.vec_id AS vb
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.band_val = b.band_val
   AND a.vec_id % {_INCR_BATCH_MOD} <> 0 AND b.vec_id % {_INCR_BATCH_MOD} = 0
  WHERE {_HYPERPLANE_GATE_SQL}
)
SELECT va AS new_vec_id, vb AS base_vec_id,
       {_NEARDUP_COS_SQL_BODY} AS cosine
FROM cand
JOIN qn a ON a.vec_id = va
JOIN qn b ON b.vec_id = vb
WHERE {_NEARDUP_COS_SQL_BODY} >= {_COSINE_THRESHOLD}
"""


# --------------------------------------------- dedup_cluster_labels

_MAX_CC_ITERS = 20
# Below this many edges, finish CC with union-find on the driver: the
# tail of a contraction loop is pure scheduler latency (each
# distributed round costs several stage barriers to shrink a graph
# that already fits in one task). 500k edges is ~8 MB collected — a
# bounded metadata collect, same tier as the dedup block-grid sizing
# collect. The gate is checked against the RAW candidate pair count
# first (small corpora skip the corpus labeling + contraction passes
# entirely) and then against every contracted class graph. At 100 TB
# both counts exceed the gate and everything stays distributed.
_DRIVER_CC_EDGES = 500_000

# Lineage-truncation mode for the iterative CC plan. localCheckpoint
# (default) pins partitions to executor block storage — right for
# single-node and static clusters, but on a dynamic-allocation
# cluster an executor decommission discards them mid-loop. Set
# SPARK_GRAFT_CHECKPOINT=reliable (and configure
# spark.sparkContext.setCheckpointDir) to write checkpoints to
# cluster storage instead. See SCALE.md.

def _checkpoint_mode() -> str:
    """Read and VALIDATE the knob at call time (not import time), so
    a typo ('Reliable', 'relaible') fails loudly instead of silently
    falling back to localCheckpoint — the exact mode the knob exists
    to avoid on dynamic-allocation clusters."""
    mode = os.environ.get("SPARK_GRAFT_CHECKPOINT", "local")
    if mode not in ("local", "reliable"):
        raise ValueError(
            f"SPARK_GRAFT_CHECKPOINT={mode!r} is not a valid mode; "
            "expected 'local' or 'reliable'"
        )
    return mode


def _ckpt(df: DataFrame) -> DataFrame:
    if _checkpoint_mode() == "reliable":
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _driver_union_find(ledges: DataFrame) -> list[tuple[int, int]]:
    """Union-find with min-id roots over a COUNT-GATED edge list (the
    caller has proven ≤ _DRIVER_CC_EDGES rows ≈ 8 MB before calling).
    Returns the non-identity relabel rows (node, root)."""
    parent: dict = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in ledges.collect():
        ra, rb = find(row["a"]), find(row["b"])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    m_rows = [(x, find(x)) for x in list(parent)]
    return [(x, r) for x, r in m_rows if x != r]


def dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the SimHash near-dup graph: every
    doc gets the min doc_id of its component as cluster label — the
    step that turns pairwise near-dup evidence into keep/drop groups.

    Contraction CC (the textbook distributed shape): ONE pass over the
    doc-level edge list assigns each vertex min(self, min neighbor),
    then the graph is CONTRACTED to edges between label classes —
    orders of magnitude smaller, normalized to a single (min, max)
    orientation so every downstream shuffle moves half the rows. The
    class graph then resolves via min-label propagation with pointer
    doubling (O(log) rounds), except that once the edge count drops
    under `_DRIVER_CC_EDGES` the remaining rounds collapse into one
    union-find on the driver — the per-round relabel maps (lazy,
    class-scale) compose onto the corpus label table in a single
    broadcast-join pass at the end. Corpus-scale data is touched
    exactly twice before the final join (initial labeling +
    contraction); the driver loop collects ONE scalar per round.

    Oracle: DuckDB recursive-CTE transitive closure, min reachable id.
    """
    # Checkpoint (not cache): iterative/multi-probe plans must
    # TRUNCATE lineage, or every reuse recomputes the SimHash band
    # join and round N's plan embeds N copies of the upstream DAG.
    # The pair list is checkpointed in its single (da < db)
    # orientation; both orientations are derived lazily below (a
    # cheap scan of cached blocks beats materializing 2x the rows).
    # The candidate stream is pair-distinct by construction (first-
    # shared-band gate in _simhash_candidates), so no distinct here.
    pairs = _ckpt(_simhash_candidates(spark, sf_dir).select("da", "db"))

    # Short-circuit: when the WHOLE candidate graph is already under
    # the driver gate (small corpora, and the sf0.01 correctness
    # tier), the corpus labeling + contraction passes would shuffle
    # more rows than the gate allows collected — skip straight to
    # union-find on the pairs themselves. The count scans cached
    # checkpoint blocks (no recompute).
    if pairs.count() <= _DRIVER_CC_EDGES:
        import pandas as pd

        m_rows = _driver_union_find(
            pairs.select(F.col("da").alias("a"), F.col("db").alias("b"))
        )
        d = table(spark, sf_dir, "documents")
        if not m_rows:
            return d.select("doc_id", F.col("doc_id").alias("cluster"))
        mdf = spark.createDataFrame(
            pd.DataFrame(m_rows, columns=["doc_id", "label"])
        )
        return (
            d.select("doc_id")
            .join(F.broadcast(mdf), "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster"),
            )
        )

    sym = pairs.select(
        F.col("da").alias("src"), F.col("db").alias("dst")
    ).union(pairs.select(F.col("db").alias("src"), F.col("da").alias("dst")))

    # Pass 1 (corpus-scale): label = min(self, min neighbor).
    # Isolated docs never enter the loop; they rejoin at the end.
    # Shuffle width is the session default — AQE coalesces the small
    # post-shuffle partitions, so no manual sizing (or its count job)
    # is needed.
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("doc_id"),
            F.least(F.col("src"), F.col("mn")).alias("label"),
        )
    )
    labels = _ckpt(labels)
    # Pass 2 (corpus-scale): contract to edges between label classes,
    # normalized to min/max orientation (halves the class graph vs
    # keeping both directions). The label table is tiny relative to
    # the edges, so AQE broadcasts it into both probes; at cluster
    # scale this degrades gracefully to a hash join on the same keys.
    la = labels.select(F.col("doc_id").alias("da"), F.col("label").alias("a"))
    lb = labels.select(F.col("doc_id").alias("db"), F.col("label").alias("b"))
    ledges = (
        pairs.join(la, "da")
        .join(lb, "db")
        .where(F.col("a") != F.col("b"))
        .select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .distinct()
    )
    ledges = _ckpt(ledges)

    # The loop touches ONLY the class graph: one localCheckpoint (the
    # contracted edge list) plus one count over its cached partitions
    # per round — the corpus-scale label table is NOT rejoined
    # in-loop. Each round's relabel map stays lazy (its subplans
    # anchor on the checkpointed ledges, so re-evaluation is a small
    # reused-exchange shuffle, not a corpus recompute) and the maps
    # compose onto `labels` once after the loop.
    relabel_maps = []
    for _ in range(_MAX_CC_ITERS):
        n_edges = ledges.count()
        if n_edges == 0:
            break
        if n_edges <= _DRIVER_CC_EDGES:
            # Finish the tail locally: union-find with min-id roots
            # over the contracted class graph. One bounded collect
            # replaces ~log(chain) distributed rounds of pure
            # scheduler latency.
            import pandas as pd

            m_rows = _driver_union_find(ledges)
            if m_rows:
                relabel_maps.append(
                    spark.createDataFrame(
                        pd.DataFrame(m_rows, columns=["a", "na"])
                    )
                )
            break
        lsym = ledges.select("a", "b").union(
            ledges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        m = (
            lsym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least(F.col("a"), F.col("mb")).alias("na"))
        )
        # Pointer doubling: compose the relabel map with itself so a
        # chain of classes halves every round instead of shrinking by
        # one.
        m = (
            m.alias("x")
            .join(m.alias("y"), F.col("x.na") == F.col("y.a"), "left")
            .select(
                F.col("x.a").alias("a"),
                F.coalesce(F.col("y.na"), F.col("x.na")).alias("na"),
            )
        )
        relabel_maps.append(m)
        ma = m.select(F.col("a").alias("_a"), F.col("na").alias("new_a"))
        mb = m.select(F.col("a").alias("_b"), F.col("na").alias("new_b"))
        ledges = (
            ledges.join(ma, ledges.a == ma._a, "left")
            .join(mb, ledges.b == mb._b, "left")
            .select(
                F.least(
                    F.coalesce(F.col("new_a"), F.col("a")),
                    F.coalesce(F.col("new_b"), F.col("b")),
                ).alias("a"),
                F.greatest(
                    F.coalesce(F.col("new_a"), F.col("a")),
                    F.coalesce(F.col("new_b"), F.col("b")),
                ).alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        ledges = _ckpt(ledges)

    # Apply the composed class-relabel chain to the corpus-scale
    # label table in ONE pass. Every map is class-graph-sized; AQE's
    # runtime stats (fed by the checkpointed ledges) turn these into
    # broadcast joins, so the corpus never reshuffles.
    for m in relabel_maps:
        labels = labels.join(m, labels.label == m.a, "left").select(
            "doc_id",
            F.coalesce(F.col("na"), F.col("label")).alias("label"),
        )

    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster")
        )
    )


_CLUSTER_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT da, db FROM ({_DEDUP_SIMHASH_SQL}) s),
edges AS (
  SELECT da AS src, db AS dst FROM pairs
  UNION
  SELECT db AS src, da AS dst FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
minreach AS (SELECT src AS doc_id, MIN(dst) AS m FROM reach GROUP BY 1)
SELECT d.doc_id,
       CAST(LEAST(d.doc_id, COALESCE(mr.m, d.doc_id)) AS BIGINT) AS cluster
FROM documents d LEFT JOIN minreach mr USING (doc_id)
"""


# ----------------------------------------------- dedup_containment

_CONTAINMENT_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: C(A→B) = |sh(A) ∩ sh(B)| /
    |sh(A)| over token-3-gram shingle sets, within language blocks —
    catches documents that are near-SUBSETS of another (quotes,
    partial scrapes, boilerplate-wrapped copies), which symmetric
    Jaccard misses because the union term dilutes the score.

    Same skew-safe blocked BLAS layout as dedup_ngram_jaccard (shared
    `_lang_block_fanout`: per-language sub-blocks, every block pair is
    one bounded shuffle group, ONE matmul per group for all pairwise
    intersections; float32 on 0/1 matrices is exact below 2^24). Only
    the normalization differs — row-set size |A| instead of the
    union — and the output keeps BOTH directions (da ≠ db) because
    containment is not symmetric: a cross-block group emits A→B from
    inter/|A| AND B→A from the same intersection matrix over |B|. The
    final score is the same single float64 division the SQL oracle
    performs.

    Shape A/B (round 8, median-of-5 interleaved at sf0.1): the fanout
    carries EXPLODED (doc, shingle) rows (4.7 s), not per-doc shingle
    ARRAYS (6.1 s). The array form shuffles ~200× fewer ROWS but the
    same BYTES (every shingle string still crosses the network), and
    Arrow list<string> transfer into the applyInPandas worker costs
    more than the row framing it saves — so the exploded build wins
    at every scale where bytes, not record count, bound the shuffle.
    A token-array variant that built shingle sets with per-window
    Python joins measured 5.0 s and was likewise rejected. The 0/1
    assignment is idempotent under duplicate (doc, shingle) rows, so
    no corpus-wide distinct is needed (see dedup_ngram_jaccard)."""
    import numpy as np
    import pandas as pd

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", tokens(F.col("text")).alias("t")
    ).where(F.size("t") >= 3)
    sh = t.select(
        "doc_id", "lang", F.explode(F.expr(shingles_expr("t", 3))).alias("s")
    )
    fanout = _lang_block_fanout(spark, d, sh, "s", _JACCARD_BLOCK_DOCS)

    def _binmat(doc_col, si, nvocab: int):
        doc_ids, di = np.unique(doc_col, return_inverse=True)
        m = np.zeros((len(doc_ids), nvocab), dtype=np.float32)
        m[di, si] = 1.0  # idempotent under duplicate (doc, shingle) rows
        return doc_ids, m, m.sum(axis=1).astype(np.int64)

    def containment_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        diag = key[1] == key[2]
        a_mask = (pdf["role"] == "a").to_numpy()
        if not a_mask.any() or (not diag and a_mask.all()):
            return pd.DataFrame({"da": [], "db": [], "containment": []})
        si, _ = pd.factorize(pdf["s"])
        nvocab = int(si.max()) + 1
        docs = pdf["doc_id"].to_numpy(np.int64)
        da_ids, am, asz = _binmat(docs[a_mask], si[a_mask], nvocab)
        if diag:
            db_ids, bm, bsz = da_ids, am, asz
        else:
            db_ids, bm, bsz = _binmat(docs[~a_mask], si[~a_mask], nvocab)
        out = {"da": [], "db": [], "containment": []}
        chunk = max(1, (64 << 20) // max(len(db_ids) * 4, 1))
        for lo in range(0, len(da_ids), chunk):
            inter = (am[lo : lo + chunk] @ bm.T).astype(np.int64)
            ids_lo = da_ids[lo : lo + chunk]
            # A→B direction: C = inter / |A|
            cont = inter.astype(np.float64) / asz[lo : lo + chunk, None]
            keep = (cont >= _CONTAINMENT_THRESHOLD) & (
                ids_lo[:, None] != db_ids[None, :]
            )
            ai, bi = np.nonzero(keep)
            out["da"].append(ids_lo[ai])
            out["db"].append(db_ids[bi])
            out["containment"].append(cont[ai, bi])
            if not diag:
                # B→A direction from the SAME intersection matrix
                cont_r = inter.astype(np.float64) / bsz[None, :]
                keep_r = cont_r >= _CONTAINMENT_THRESHOLD
                ai, bi = np.nonzero(keep_r)
                out["da"].append(db_ids[bi])
                out["db"].append(ids_lo[ai])
                out["containment"].append(cont_r[ai, bi])
        return pd.DataFrame(
            {k: np.concatenate(v) if v else np.array([]) for k, v in out.items()}
        )

    return fanout.groupBy("lang", "bi", "bj").applyInPandas(
        containment_block, schema="da long, db long, containment double"
    )


_CONTAINMENT_SQL = f"""
WITH {shingles_cte_sql('documents', 'text', 3)},
cnt AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), lang_sh AS (
  SELECT s.doc_id, d.lang, s.s FROM sh s JOIN documents d USING (doc_id)
), inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
  FROM lang_sh a JOIN lang_sh b
    ON a.lang = b.lang AND a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT da, db, CAST(i AS DOUBLE) / ca.n AS containment
FROM inter JOIN cnt ca ON ca.doc_id = da
WHERE CAST(i AS DOUBLE) / ca.n >= {_CONTAINMENT_THRESHOLD}
"""


# ---------------------------------------------------- chunk_dedup

_CHUNK_TOKENS = 16


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (sub-document) dedup: per-doc fraction of 16-token
    chunks that also appear in at least one OTHER document — the
    line/paragraph-dedup pass of RefinedWeb/Gopher-style pipelines,
    which catches boilerplate that whole-doc dedup misses.

    Scale shape: chunks are built in-row (transform over a sequence,
    whole-stage codegen), hashed to 32-bit ints, exploded, and the
    corpus-wide chunk→distinct-doc counts come from one map-side-
    combined groupBy on the hash. The per-doc rollup joins back on
    the hash — both shuffles key on the 32-bit chunk hash, so skew is
    bounded by boilerplate frequency, never document length.
    """
    d = table(spark, sf_dir, "documents")
    k = _CHUNK_TOKENS
    t = d.select(
        "doc_id", tokens(norm_text(F.col("text"))).alias("toks")
    )
    # full k-token stride-k chunks only; guard sequence() against
    # docs shorter than k (sequence would count DOWN on a negative
    # span, not return empty).
    chunks = t.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= k,
                F.expr(
                    f"transform(sequence(0, CAST(FLOOR(size(toks)/{k}) AS INT)-1), "
                    f"i -> {h32_spark_sql(f'concat_ws( chr(32) , slice(toks, i*{k}+1, {k}))')})"
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("chash"),
    )
    freq = chunks.groupBy("chash").agg(
        F.countDistinct("doc_id").alias("n_docs_with_chunk")
    )
    per_doc = (
        chunks.join(freq, "chash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.when(F.col("n_docs_with_chunk") >= 2, 1).otherwise(0)
            ).alias("n_dup_chunks"),
        )
    )
    # docs with < k tokens have zero chunks; keep them with 0/0 so the
    # output covers the whole corpus (fraction NULL there).
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_chunks"), F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce(F.col("n_dup_chunks"), F.lit(0)).cast("long").alias("n_dup_chunks"),
            (
                F.col("n_dup_chunks").cast("double")
                / F.col("n_chunks").cast("double")
            ).alias("dup_chunk_frac"),
        )
    )


_CHUNK_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id, {tokens_sql(norm_text_sql('text'))} AS toks FROM documents
), ch AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(FLOOR(len(toks)/{_CHUNK_TOKENS}.0) AS INT)),
                i -> {h32_sql(f"array_to_string(list_slice(toks, i*{_CHUNK_TOKENS}+1, i*{_CHUNK_TOKENS}+{_CHUNK_TOKENS}), ' ')")})) AS chash
  FROM t WHERE len(toks) >= {_CHUNK_TOKENS}
), freq AS (
  SELECT chash, COUNT(DISTINCT doc_id) AS n_docs_with_chunk
  FROM ch GROUP BY 1
), per_doc AS (
  SELECT ch.doc_id, COUNT(*) AS n_chunks,
         SUM(CASE WHEN f.n_docs_with_chunk >= 2 THEN 1 ELSE 0 END) AS n_dup_chunks
  FROM ch JOIN freq f USING (chash) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(p.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
       CAST(p.n_dup_chunks AS DOUBLE) / CAST(p.n_chunks AS DOUBLE) AS dup_chunk_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# ----------------------------------------------- neardup_keep_best

def neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION step: for every SimHash near-dup cluster,
    keep the highest-quality member (quality from the composite text
    score; doc_id breaks exact quality ties, so selection is a total
    order). Output is one row per document with its cluster and a
    keep flag — the actionable drop-list a curation pipeline feeds to
    the next stage, composed from the cluster operator and the
    quality operator rather than re-deriving either.

    Scale shape: inherits the cluster op's per-round keyed joins;
    the decision itself is one per-cluster window over O(docs) rows
    (distributed by cluster key) joined to the quality projection.
    """
    from .textops import text_quality_score

    labels = dedup_cluster_labels(spark, sf_dir)
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        labels.join(q, "doc_id")
        .withColumn(
            "keep", F.when(F.row_number().over(w) == 1, 1).otherwise(0)
        )
        .select("doc_id", "cluster", "quality_score", "keep")
    )


def _keep_best_sql() -> str:
    from .textops import _QUALITY_SQL

    return f"""
WITH labels AS (
  SELECT * FROM ({_CLUSTER_SQL})
), q AS (
  SELECT doc_id, quality_score FROM ({_QUALITY_SQL})
)
SELECT l.doc_id, l.cluster, q.quality_score,
       CASE WHEN ROW_NUMBER() OVER (PARTITION BY l.cluster
                                    ORDER BY q.quality_score DESC,
                                             l.doc_id ASC) = 1
            THEN 1 ELSE 0 END AS keep
FROM labels l JOIN q USING (doc_id)
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "embedding_neardup": embedding_neardup,
    "dedup_cluster_labels": dedup_cluster_labels,
    "chunk_dedup": chunk_dedup,
    "dedup_containment": dedup_containment,
    "neardup_keep_best": neardup_keep_best,
    "dedup_jaccard_lsh_verified": dedup_jaccard_lsh_verified,
    "dedup_containment_lsh_verified": dedup_containment_lsh_verified,
    "embedding_neardup_lsh_verified": embedding_neardup_lsh_verified,
    "doc_minhash_signatures": doc_minhash_signatures,
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "embedding_incremental_neardup": embedding_incremental_neardup,
}

ORACLE = {
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_minhash_lsh": _DEDUP_MINHASH_SQL,
    "dedup_simhash": _DEDUP_SIMHASH_SQL,
    "dedup_ngram_jaccard": _DEDUP_NGRAM_SQL,
    "embedding_neardup": _EMBEDDING_NEARDUP_SQL,
    "dedup_cluster_labels": _CLUSTER_SQL,
    "chunk_dedup": _CHUNK_DEDUP_SQL,
    "dedup_containment": _CONTAINMENT_SQL,
    "neardup_keep_best": _keep_best_sql(),
    "dedup_jaccard_lsh_verified": _JACCARD_LSH_VERIFIED_SQL,
    "dedup_containment_lsh_verified": _CONTAINMENT_LSH_VERIFIED_SQL,
    "embedding_neardup_lsh_verified": _NEARDUP_LSH_VERIFIED_SQL,
    "doc_minhash_signatures": _SIGNATURES_SQL,
    "dedup_incremental_minhash": _INCREMENTAL_MINHASH_SQL,
    "embedding_incremental_neardup": _INCR_NEARDUP_SQL,
}
