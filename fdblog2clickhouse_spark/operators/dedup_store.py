"""Persisted near-dup store lifecycle (SURVEY §2.3).

The production admission LOOP, for MinHash signatures over token
streams and hyperplane sign bands over quantized vectors alike:

    read store from disk → score batch → append admitted content's
    signatures → next batch sees them.

The store is the representative ("rep") store: one signature row per
distinct content, a band index bucketed by band hash, and a
(doc_id, gh, group_id) membership table. `build-store`,
`build-vstore`, `admit` and `admit-vectors` write it through
`bootstrap_rep_store` and `rep_admission_step`; the registered
lifecycle ops (`dedup_store_admission`, `*_rep_admission`, the
streaming ops, the retraction ops) run the same two functions. Each
lifecycle op bootstraps a base slice on disk, admits two sequential
batches that each read the store the previous step appended to,
and expands the group evidence back to document pairs, while its
DuckDB oracle computes the ONE-SHOT spelling: every near-dup pair
over the full corpus except base×base pairs. The hash match is the
lifecycle proof.

Why the equivalence is exact (and the design choices it forces):

* Admission scores each batch against the store AND batch-internally
  (pairs with at least one NEW side, canonical da < db). Sequential
  steps then partition the non-base×base pair space: step 1 emits
  batch1×base ∪ batch1×batch1; step 2 — whose store now contains
  batch1 — emits batch2×(base∪batch1) ∪ batch2×batch2. No overlap,
  no gap, any batch slicing gives the same union.
* The candidate rule is the same first-shared-band gate as every
  MinHash op (in-row test on the carried key arrays — pair-distinct
  with zero extra shuffle), which depends only on the two sides'
  signatures, never on which batch they arrived in.
* No bucket cap here, deliberately: `_LSH_BUCKET_CAP` is a
  bulk-backfill guard whose population (store∪batch at score time)
  would differ between sequential and one-shot runs, breaking the
  batch-boundary-independence this lifecycle exists to prove. A
  degenerate bucket of identical documents costs one group row
  instead (the rep block comment below).

Scale shape: a step reads the store only through pruned reads of
the batch's bucket footprint (members by doc_id, signatures by gh,
the band index by band hash) plus the verify features of the
candidate reps, so its cost is O(batch + candidates), and the store
grows O(distinct contents).

Reference parity: the reference's whole contract is
ingest-then-query (README.md:139-141 — what you POSTed is what the
table serves); this is that contract applied to the dedup store:
what one batch appended, the next batch's scoring reads.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import shingles_expr, tokens
from ..session import overlap
from ..sources.tables import table
from ..storage import (
    commit,
    heal_swap,
    read_sidecar,
    retire_sidecar,
)
from .dedup import (
    _COSINE_THRESHOLD,
    _FIRST_BAND_GATE_SQL,
    _HYPERPLANE_GATE_SQL,
    _JACCARD_THRESHOLD,
    _N_BANDS,
    _NEARDUP_COS_SQL_BODY,
    _NEARDUP_LSH_BAND_BITS,
    _NEARDUP_LSH_BANDS,
    _QUANT_CTE,
    _band_keys_col,
    _hyperplane_bands_cte,
    _minhash_bands_cte,
    _minhash_sig,
    _neardup_planes,
    _neardup_planes_values_sql,
    _quantized,
    cosine_on_candidates,
    h32_spark_sql,
    h32_sql,
    jaccard_on_candidates,
    quantize,
    shingles_cte_sql,
)
from .sinkcheck import scratch_dir
from .tables import (
    StoreLayoutError,
    _auto_buckets,
    _fold_table_granular,
    _marker_rows,
    batch_bucket_vals,
    pruned_table,
    read_table,
    require_tables,
    write_table,
)

# Two sequential admission batches over the sf corpus: base is
# everything else. pmod so the slices stay a true 3-way partition
# even for negative ids (same latent-sign fix as sinkcheck). The
# oracles below use the sign-safe ((x % m) + m) % m spelling so
# DuckDB's C-style % classifies negative ids identically (ADVICE r9).
_STORE_MOD = 10
_BATCH1_REM = 0
_BATCH2_REM = 5


def _pmod_sql(expr: str) -> str:
    """Sign-safe modulo for the oracle SQL — matches Spark's pmod."""
    return f"((({expr} % {_STORE_MOD}) + {_STORE_MOD}) % {_STORE_MOD})"


def _slice(col, rem: int):
    return F.pmod(col, F.lit(_STORE_MOD)) == rem


def _base_pred(col):
    return (~_slice(col, _BATCH1_REM)) & (~_slice(col, _BATCH2_REM))


def signature_frame(sh: DataFrame) -> DataFrame:
    """(doc_id, sh) → one doc-level signature row: 16 signature
    values + 4 band keys, the exact `doc_minhash_signatures` schema.
    `streaming_incremental_dedup` persists its static base store in
    this schema; `rep_signature_frame` is pinned equal to it per
    group."""
    hv = sh.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", F.expr(h32_spark_sql("s")).alias("h")
    )
    sig = _minhash_sig(hv)
    ks = _band_keys_col()
    return sig.select(
        "doc_id",
        *[f"s{i}" for i in range(16)],
        *[ks.getItem(b).alias(f"bk{b}") for b in range(_N_BANDS)],
    )


def store_band_rows(
    store: DataFrame, key_cols: list[str] | None = None, id_col: str = "doc_id"
) -> DataFrame:
    """Persisted store rows → joinable band rows (id, ks, band,
    band_key). This is the ONLY reconstruction the store needs at
    read time: one posexplode over the stored keys; the carried ks
    array serves the first-shared-band gate in-row. Works identically
    on a just-computed batch signature frame — both sides of every
    admission join go through this one function. key_cols defaults to
    the MinHash store's bk0..bk3; the vector store passes its
    bv0..bv5 sign-band ints (the gate is type-agnostic)."""
    key_cols = key_cols or [f"bk{b}" for b in range(_N_BANDS)]
    ks = F.array(*[F.col(c) for c in key_cols])
    return store.select(F.col(id_col).alias("id"), ks.alias("ks")).select(
        "id", "ks", F.posexplode("ks").alias("band", "band_key")
    )


def _first_band_gate_n(n_bands: int):
    """In-row first-shared-band predicate over the generic band rows
    (same rule as dedup._first_band_gate, parameterized by band
    count for the two store families)."""
    return F.expr(
        " AND ".join(
            f"(a.band <= {j} OR a.ks[{j}] != b.ks[{j}])"
            for j in range(n_bands - 1)
        )
    )


def candidates_from_rows(
    store_rows: DataFrame, batch_rows: DataFrame, n_bands: int
) -> DataFrame:
    """The admission band join over PREBUILT band rows (id, ks, band,
    band_key): the store side comes from the band index's PRUNED
    read (`pruned_store_rows`), the batch side from
    `store_band_rows` over the batch's signature rows.
    Band candidates with at least one NEW side, canonical (da < db),
    pair-distinct via the first-shared-band gate; store×store pairs
    are excluded at the join, so the pair work is O(batch-involved
    candidates) however large the store grows."""
    rows = store_rows.withColumn("is_new", F.lit(False)).unionByName(
        batch_rows.withColumn("is_new", F.lit(True))
    )
    a, b_ = rows.alias("a"), rows.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.is_new") | F.col("b.is_new")),
        )
        .where(_first_band_gate_n(n_bands))
        .select(F.col("a.id").alias("da"), F.col("b.id").alias("db"))
    )


_STORE_ADMISSION_SQL = f"""
WITH {shingles_cte_sql('documents', 'text', 3)},
hv AS (
  SELECT doc_id, {h32_sql('s')} AS h FROM sh
),
{_minhash_bands_cte()},
cand AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
  WHERE {_FIRST_BAND_GATE_SQL}
    AND NOT ({_pmod_sql('a.doc_id')} NOT IN ({_BATCH1_REM}, {_BATCH2_REM})
         AND {_pmod_sql('b.doc_id')} NOT IN ({_BATCH1_REM}, {_BATCH2_REM}))
),
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


# ------------------- representative (exact-dedup pre-pass) store
#
# VERDICT r9/r10 item #1: the admission kernel is deliberately
# uncapped, so a boilerplate-heavy rotation (B byte-identical docs)
# makes the band join quadratic in B and grows the store with
# signatures it already knows. The production fix is UPSTREAM of the
# kernel: collapse token-identical docs to ONE representative
# signature row plus a membership side table. Docs with identical
# token streams have identical shingle sets, identical MinHash
# signatures and band keys, and identical exact-Jaccard relations to
# every other doc — so one rep row carries the whole group through
# candidate generation AND verification, and a degenerate bucket of
# B copies reaches the band join as ONE row. The store then
# grows O(distinct contents), not O(docs).
#
# Equivalence (proved by the lifecycle ops' oracle, the one-shot
# union SQL above, which knows nothing of groups): run the
# lifecycle at group level — scoring each batch's new groups PLUS a
# rescore of store groups the batch touched (gained a member) — then
# expand group-level evidence back through membership:
#   * within-group member pairs are exact dups (jaccard 1), emitted
#     for every pair with ≥1 non-base side;
#   * cross-group member pairs inherit the rep pair's jaccard.
# The touched-group rescore is what makes the expansion complete: a
# pure-base group pair is needed downstream only once one of the two
# groups gains a batch member, and that is exactly the step that
# rescored it. Every group appears on exactly one side of the band
# join (touched groups move to the batch side), so no pair is
# emitted twice within a step; cross-step repeats collapse under
# DISTINCT because the scoring is deterministic.


def rep_group_frame(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, gh, t): gh = md5 of the exact token
    stream (tokens contain no whitespace, so the single-space join is
    injective). Docs with < 3 tokens have no shingles/signature and
    are excluded — same eligibility rule as every MinHash op."""
    t = d.select("doc_id", tokens(F.col("text")).alias("t")).where(
        F.size("t") >= 3
    )
    return t.select("doc_id", F.md5(F.concat_ws(" ", "t")).alias("gh"), "t")


def rep_reps(g: DataFrame, payload: str = "t") -> DataFrame:
    """Group frame → one row per content group: (gh, group_id,
    payload) — the token array `t` (text) or the quantized vector `q`.
    Same gh ⟹ identical payload, so `first` is exact (not a sample)
    and the whole rep choice is ONE aggregate — no join back against
    the group frame."""
    return g.groupBy("gh").agg(
        F.min("doc_id").alias("group_id"), F.first(payload).alias(payload)
    )


def rep_signature_frame(reps: DataFrame) -> DataFrame:
    """Rep rows → one persistable signature row PER GROUP:
    (group_id, gh, s0..s15, bk0..bk3). Built with the IN-ROW MinHash
    form (`_minhash_sig_inrow`'s rationale: the shingle arrays are
    NOT otherwise materialized here — the store persists signatures
    only), so the whole build is one narrow select chain with ZERO
    shuffles after the rep aggregate: shingles → h32 → 16 in-row
    permutation minima → band keys, gh carried through instead of
    joined back (the joined-back spelling cost two extra corpus
    shuffles per admission step, measured in the round-11 rep-op
    cost audit)."""
    from .dedup import _MINHASH_A, _MINHASH_B, _MINHASH_P

    hashed = reps.select(
        "group_id",
        "gh",
        F.expr(
            f"transform(array_distinct({shingles_expr('t', 3)}), "
            f"s -> {h32_spark_sql('s')})"
        ).alias("fs"),
    )
    sig = hashed.select(
        "group_id",
        "gh",
        *[
            F.array_min(
                F.expr(
                    f"transform(fs, h -> ({_MINHASH_A[i]}L * h + "
                    f"{_MINHASH_B[i]}L) % {_MINHASH_P}L)"
                )
            ).alias(f"s{i}")
            for i in range(16)
        ],
    )
    ks = _band_keys_col()
    return sig.select(
        "group_id",
        "gh",
        *[f"s{i}" for i in range(16)],
        *[ks.getItem(b).alias(f"bk{b}") for b in range(_N_BANDS)],
    )


def members_path(store: str) -> str:
    """The membership side table that rides along with a rep store:
    (doc_id, gh, group_id), one row per admitted doc. Kept OUTSIDE
    the store dir so parquet listing of the signatures never sees
    it."""
    return store.rstrip("/") + "_members"


# ------------------------- vector representative store
#
# VERDICT r11's one standing `weak`: byte-identical documents produce
# byte-identical embeddings under any deterministic embedder, so the
# text kernel's mega-bucket mode existed verbatim on the vector side
# — a degenerate sign-band bucket of identical vectors made the band
# join quadratic in the bucket and grew the store with copies. The
# fix is the SAME rep pre-pass, generalized over the hyperplane
# band-key columns: group hash = md5 of the quantized component
# stream (identical q arrays have identical sign bands AND identical
# exact cosines to every other vector, so the collapse argument
# carries over verbatim). The one family-specific subtlety lives in
# the expansion: within-group pairs use the oracle's own self-cosine
# arithmetic, never a 1.0 literal (see expand_group_evidence).


def emb_rep_group_frame(qn: DataFrame) -> DataFrame:
    """Quantized vectors → the vector group frame (doc_id, gh, q,
    nq): gh = md5 of the exact quantized component stream (decimal
    longs joined by a separator no long contains; NULL elements are
    encoded to a sentinel OUTSIDE the decimal-long alphabet first,
    because concat_ws silently skips NULLs and would otherwise hash
    [1,NULL,2] and [1,2] to the same group — so the encoding is
    injective over malformed embeddings too, ADVICE r12). doc_id
    carries the vec_id under the name the shared step machinery
    uses. Eligibility mirrors the text side's ≥3-token rule: an EMPTY
    quantized vector is excluded here, at the group-frame level — it
    can produce no band rows (the oracle emits none for it) and no
    non-NULL cosine, and admitting it into
    membership would make every later batch's identical empty vector
    classify as NEW content forever, since its group never gets a
    signature row."""
    return qn.where(F.size("q") > 0).select(
        F.col("vec_id").alias("doc_id"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.col("q"), lambda x: F.coalesce(x.cast("string"), F.lit("∅"))
                ),
            )
        ).alias("gh"),
        "q",
        "nq",
    )


def emb_rep_signature_frame(reps: DataFrame) -> DataFrame:
    """Rep rows → one persistable hyperplane signature row PER GROUP:
    (group_id, gh, bv0..bv5) — the IN-ROW sign-band spelling: each
    plane's dot product is one `zip_with` aggregate against a 64-long
    weight-array literal, the 8 planes of a band fold into one bit-OR
    sum, all inside whole-stage codegen with ZERO shuffles (the
    exploded posexplode → broadcast-join → double-groupBy spelling
    costs two shuffles per call and this frame is built 3× per
    admission lifecycle — base + both batches' new groups).
    Interleaved median-of-5 A/B at sf0.1: 0.64 s → 0.26 s per build,
    outputs byte-identical (round-12 rep-op cost audit). This is the
    documented crossover case where in-row wins: the signature is
    PERSISTED (no cache-shared verify join re-derives it — the
    verify side reads raw q vectors, not signatures)."""
    bb = _NEARDUP_LSH_BAND_BITS
    w: dict[int, dict[int, int]] = {}
    for p, i, wt in _neardup_planes():
        w.setdefault(p, {})[i] = wt
    dim = max(max(d) for d in w.values()) + 1
    # both sides sliced to min(size(q), dim): zip_with NULL-pads the
    # shorter array, which would poison the whole fold for any
    # corpus whose vectors aren't exactly `dim`-dimensional — the
    # exploded spelling this replaces intersected indices instead
    # (caught by the hypothesis rep ≡ one-shot property on 4-dim
    # corpora)
    ln = f"least(size(q), {dim})"
    cols = []
    for b in range(_NEARDUP_LSH_BANDS):
        terms = []
        for j in range(bb):
            p = b * bb + j
            arr = "array(" + ",".join(
                f"{w[p][i]}L" for i in range(dim)
            ) + ")"
            dot = (
                f"aggregate(zip_with(slice(q, 1, {ln}), "
                f"slice({arr}, 1, {ln}), (x, y) -> x * y), "
                "0L, (a, x) -> a + x)"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
        cols.append(F.expr(" + ".join(terms)).cast("int").alias(f"bv{b}"))
    # An EMPTY q would fold to dot = 0 on every plane (CASE >= 0 true
    # → all-bits-set bands) while the exploded spelling and the oracle
    # emit NO band rows for it — filter it out here so the two
    # signature spellings stay structurally equivalent (ADVICE r12).
    # Convergence was never at risk (empty-q cosines are NULL,
    # threshold-excluded), but the spurious candidates and store row
    # are gone now.
    return reps.where(F.size("q") > 0).select("group_id", "gh", *cols)


# ------------------------------------------------- rep-store families
#
# The rep store's one design decision is its FAMILY: MinHash over
# token streams or hyperplane sign bands over quantized vectors. A
# family holds only what differs between the two; the bootstrap, the
# admission step, the proof lifecycles, the streaming op and the CLI
# all take it as `family=` and are otherwise one code path.

_EMB_KEY_COLS = [f"bv{b}" for b in range(_NEARDUP_LSH_BANDS)]


def _cosine_verify(
    cand: DataFrame, feats: DataFrame, threshold: float
) -> DataFrame:
    v = cosine_on_candidates(
        cand.select(F.col("da").alias("va"), F.col("db").alias("vb")),
        feats,
        threshold,
    )
    return v.select(F.col("va").alias("da"), F.col("vb").alias("db"), "cosine")


def _vector_feats(g: DataFrame) -> DataFrame:
    return g.select(F.col("doc_id").alias("vec_id"), "q", "nq")


def _self_cosines(g: DataFrame) -> DataFrame:
    """Group-frame rows → (group_id, cosine): the pair expression
    evaluated at qa = qb — dot(q,q) / (sqrt(nq)·sqrt(nq)), THE SAME
    code path (`cosine_on_candidates`) every cross pair runs,
    threshold included, so a within-group member pair inherits
    exactly the value the oracle computes for it (and a zero-vector
    group, whose self-cosine is null, is excluded on both engines
    alike)."""
    pairs = g.select(F.col("doc_id").alias("va"), F.col("doc_id").alias("vb"))
    return cosine_on_candidates(
        pairs, _vector_feats(g), _COSINE_THRESHOLD
    ).select(F.col("va").alias("group_id"), "cosine")


@dataclass(frozen=True)
class StoreFamily:
    """What differs between the two rep-store families.

    group_frame — source rows → group frame (doc_id, gh, payload, …);
    payload     — the content column the rep aggregate carries;
    signatures  — rep rows → signature rows (group_id, gh, *key_cols);
    feats       — group-frame rows → verify features for `verify`;
    verify      — (cand (da, db), feats, threshold) → (da, db, value);
    self_values — multi-member groups' group-frame rows → (group_id,
                  value) for within-group pairs, or None when a
                  within-group pair's value is exactly 1.0."""

    group_frame: Callable[[DataFrame], DataFrame]
    payload: str
    signatures: Callable[[DataFrame], DataFrame]
    key_cols: list[str]
    feats: Callable[[DataFrame], DataFrame]
    verify: Callable[[DataFrame, DataFrame, float], DataFrame]
    threshold: float
    value_col: str
    out_cols: tuple[str, str]
    self_values: Callable[[DataFrame], DataFrame] | None = None

    def feats_for(self, g: DataFrame):
        """`rep_admission_step`'s feats_for over a group frame: a
        group id IS its rep's doc_id, so candidate features come
        straight from `g`, pruned to the candidates before the
        feature projection."""
        return lambda cand_ids: self.feats(g.join(cand_ids, "doc_id", "left_semi"))


TEXT = StoreFamily(
    group_frame=rep_group_frame,
    payload="t",
    signatures=rep_signature_frame,
    key_cols=[f"bk{b}" for b in range(_N_BANDS)],
    feats=lambda g: g.select(
        "doc_id", F.array_distinct(F.expr(shingles_expr("t", 3))).alias("fs")
    ),
    verify=jaccard_on_candidates,
    threshold=_JACCARD_THRESHOLD,
    value_col="jaccard",
    out_cols=("da", "db"),
)

VECTOR = StoreFamily(
    group_frame=lambda frame: emb_rep_group_frame(quantize(frame)),
    payload="q",
    signatures=emb_rep_signature_frame,
    key_cols=_EMB_KEY_COLS,
    feats=_vector_feats,
    verify=_cosine_verify,
    threshold=_COSINE_THRESHOLD,
    value_col="cosine",
    out_cols=("va", "vb"),
    self_values=_self_cosines,
)


def rep_store_frames(
    g: DataFrame, family: StoreFamily = TEXT
) -> tuple[DataFrame, DataFrame]:
    """Group frame → the bootstrap's (signature rows, members rows):
    one signature row per content group, one (doc_id, gh, group_id)
    membership row per doc."""
    reps = rep_reps(g, family.payload)
    members = (
        g.select("doc_id", "gh")
        .join(reps.select("gh", "group_id"), "gh")
        .select("doc_id", "gh", "group_id")
    )
    return family.signatures(reps), members


_INDEX_KEY = "band_hash"


def banded_path(store: str) -> str:
    return store.rstrip("/") + "_bands"


def index_rows_frame(
    sigs: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """Rep-store signature rows → band-index rows (group_id, ks,
    band, band_key, band_hash): one posexplode, no shuffle. Works
    over either store family: MinHash bk0..bk3 (string keys, the
    default) or the hyperplane store's bv0..bv5 (int sign bands).
    band_hash, the index's bucket key, is one xxhash64 of (band,
    band_key): a pure function of what a match needs, so it is a
    pruning key only and admission evidence never depends on it."""
    rows = store_band_rows(sigs, key_cols, id_col="group_id")
    return rows.select(
        F.col("id").alias("group_id"),
        "ks",
        "band",
        "band_key",
        F.xxhash64("band", "band_key").alias(_INDEX_KEY),
    )


def write_banded_index(
    sigs: DataFrame,
    path: str,
    mode: str,
    key_cols: list[str] | None = None,
    buckets: int | None = None,
) -> None:
    """`write_table` of the signature rows' band-index rows."""
    write_table(
        index_rows_frame(sigs, key_cols), path, mode, key=_INDEX_KEY,
        buckets=buckets,
    )


def pruned_store_rows(
    spark: SparkSession,
    path: str,
    batch_sigs: DataFrame,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """The band index's rows a batch's band keys can match, as
    joinable band rows (id, ks, band, band_key): `pruned_table` over
    the batch's own band hashes. dropDuplicates makes a crash-retried
    index append harmless (duplicate index rows would duplicate
    candidate pairs; full-row dedup over the PRUNED subset is bounded
    by the batch's bucket footprint, never the store)."""
    rows = pruned_table(
        spark, path, index_rows_frame(batch_sigs, key_cols), _INDEX_KEY
    )
    return rows.select(
        F.col("group_id").alias("id"), "ks", "band", "band_key"
    ).dropDuplicates()


def bootstrap_rep_store(
    spark: SparkSession,
    sig_frame: DataFrame,
    members_frame: DataFrame,
    sig_path: str,
    band_path: str,
    mem_path: str,
    *,
    family: StoreFamily = TEXT,
) -> None:
    """Fresh three-table rep-store bootstrap (flat signatures, band
    index, members; `rep_store_frames` builds the two frames), shared
    by the proof ops, the streaming op and `build-store` /
    `build-vstore`. The flat store is written first; the index sizes
    itself by the same rows-per-bucket rule from the row count that
    write cached in its marker (n_bands index rows per group, so no
    count job), then the index and the members table build
    CONCURRENTLY (r19, guide §2.6 — they write to different dirs and
    neither reads the other's output, so a bootstrap pays max(index,
    members) instead of their sum). Appends never come through here;
    the crash-ordering contract belongs to `rep_admission_step`, and
    a crashed BOOTSTRAP is re-run from scratch wholesale (every caller
    builds into a fresh root), so the index/members completion order
    is not load-bearing."""
    write_table(sig_frame, sig_path, "overwrite", key="gh")
    groups = _marker_rows(sig_path)
    overlap(
        lambda: write_table(members_frame, mem_path, "overwrite", key="doc_id"),
        lambda: write_banded_index(
            read_table(spark, sig_path),
            band_path,
            "overwrite",
            family.key_cols,
            buckets=(
                None if groups is None
                else _auto_buckets(len(family.key_cols) * groups)
            ),
        ),
    )


def rep_admission_frames(
    store_sigs: DataFrame, g_batch: DataFrame, family: StoreFamily = TEXT
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Classify one batch's content groups against the persisted rep
    store and build the band join's batch side. Returns
    (group_map, new_sigs, batch_side, touched_sigs):
      group_map  — (gh, group_id, is_new) for EVERY batch gh
                   (existing id for known content, min batch doc_id
                   for new content; is_new distinguishes the two so
                   one aggregation yields both step stats);
      new_sigs   — signature rows for the new groups only (the only
                   rows an append adds — known content never grows
                   the store);
      batch_side — new groups ∪ TOUCHED store groups (groups that
                   gained a member this batch are rescored so
                   late-joining exact dups inherit complete
                   neighbor evidence — see the block comment above);
      touched_sigs — the CACHED store rows backing all of the above;
                   the caller unpersists it after the appends.
    The store side is the band index's pruned read MINUS every
    batch-side group id (`pruned_store_rows` + anti-join): touched
    groups move wholly to the batch side, and a crash-leaked index
    row for a group being re-admitted as new can never double-join.

    ONE flat-store scan per step: everything the step needs from the
    store reduces to the touched groups' full rows (a gh semi-join
    against the batch, batch-bounded by definition), so that frame is
    computed once and cached — classification (`touched` is its
    2-column projection; a batch gh is in the store iff it is in
    touched), the batch side, the pruned read's footprint collect,
    and the band rows all read the cache. The r14 phase profile at a
    256×/1M-group store caught the uncached spelling re-scanning the
    flat store ~5× per step (classification 12 s + 28 s hiding in the
    'pruned' phase, both dominated by repeated store scans).

    Only the new groups' signature build is family-specific."""
    bg = g_batch.select("gh").distinct()
    touched_sigs = store_sigs.join(bg, "gh", "left_semi").cache()
    touched = touched_sigs.select("gh", "group_id")
    g_new = g_batch.join(touched.select("gh"), "gh", "left_anti")
    new_sigs = family.signatures(rep_reps(g_new, family.payload))
    batch_side = new_sigs.unionByName(touched_sigs)
    # is_new tags the union so the step reads BOTH stats (total
    # groups, new groups) off one aggregation job instead of two
    # counts (r18); consumers project it away.
    return (
        touched.withColumn("is_new", F.lit(False)).unionByName(
            new_sigs.select("gh", "group_id").withColumn(
                "is_new", F.lit(True)
            )
        ),
        new_sigs,
        batch_side,
        touched_sigs,
    )


def rep_admission_step(
    spark: SparkSession,
    g_batch: DataFrame,
    sig_path: str,
    band_path: str,
    mem_path: str,
    feats_for,
    write_evidence,
    *,
    family: StoreFamily = TEXT,
    threshold: float | None = None,
    skip_when_no_new_docs: bool = False,
    apply_appends: bool = True,
) -> dict:
    """ONE admission step against a persisted rep store — the single
    source of truth for the ordering-critical sequence the CLI
    (`admit` / `admit-vectors`), the batch proof ops, and the
    streaming op all run, for either store family (three
    hand-maintained copies had once drifted apart — the streaming copy
    lost the members anti-join):

    1. docs already in members are identified (exactly-once under
       redelivery; `skip_when_no_new_docs` makes a fully-delivered
       batch a no-op);
    2. batch groups classify against the flat store (new vs
       touched), the band index serves the PRUNED store side,
       and everything reading the store is cache-materialized
       BEFORE any append mutates it;
    3. verified group evidence goes to `write_evidence` alongside
       the index → flat appends, then the members append commits
       the batch (each idempotent: the index read's dropDuplicates,
       the gh classification, the doc_id anti-join).

    Every table must carry the current layout marker; otherwise
    StoreLayoutError names the table and `build-store` before any
    Spark job.

    `feats_for(cand_ids)` supplies `family.feats` rows for the
    candidate group reps (`family.feats_for` over the corpus in the
    CLI, over a cached group frame in the operators). `family` (TEXT
    by default, or VECTOR) supplies the band key columns, the new
    groups' signature build and the exact verify, at `threshold`
    (default: the family's). Returns the step's counts."""
    key_cols = family.key_cols
    if threshold is None:
        threshold = family.threshold
    # Heal crashed maintenance swaps BEFORE any read: a fold/rebucket
    # interrupted between its two renames leaves the table only at
    # path+'.old', and the next caller is far more likely to be an
    # admission step than a maintenance re-run — without this the
    # step dies on PATH_NOT_FOUND until an operator runs
    # compact-store (the read_sidecar lesson, r14 self-review #1,
    # applied to the main tables). Then refuse an old layout.
    require_tables(sig_path, band_path, mem_path)
    # Tombstoned doc_ids are invisible to the WHOLE step, not just the
    # members append (ADVICE r13 high): a redelivered retracted doc
    # whose group was dropped would otherwise classify as NEW content
    # and can become the new group's id (min batch doc_id) — either
    # resurrecting takedown content as a live memberless group (its id
    # never got a gdelta key) or, when the id IS a retired gdelta key,
    # silently routing a genuinely new same-content doc's member row
    # to a dead id (_apply_gdelta filters it forever: data loss). The
    # sidecar is O(retracted) → broadcast, same as _apply_gdelta's.
    tomb = read_sidecar(spark, tombstones_path(mem_path))
    if tomb is not None:
        g_batch = g_batch.join(
            F.broadcast(tomb.select("doc_id")), "doc_id", "left_anti"
        )
    # Cache the batch frame: the two bucket-footprint collects below
    # (members by doc_id, flat store by gh) plus mem_new and
    # classification all re-read it, and in the CLI shape its lineage
    # is a JSON corpus scan per re-read. Batch-bounded by definition.
    g_batch = g_batch.cache()
    # ONE footprint job for both pruned reads (r18): the members
    # (doc_id) and flat-store (gh) bucket sets are collected from the
    # cached batch in a single aggregation — this is also the action
    # that fills the g_batch cache — instead of one collect per table.
    mem_vals, sig_vals = batch_bucket_vals(
        g_batch, [(mem_path, "doc_id"), (sig_path, "gh")]
    )
    # RAW members on purpose: a tombstoned (retracted) doc_id still
    # anti-joins here, so a redelivered batch can never resurrect a
    # takedown — the id stays out until fold_retractions retires the
    # tombstone and the physical row together (retraction contract).
    # PRUNED to the batch's doc_id buckets: an anti-join match can
    # only live in a bucket some batch doc_id hashes into, so the
    # pruned read is a provable superset of every match — the last
    # O(store) members term, now bounded by batch footprint.
    members = pruned_table(
        spark, mem_path, g_batch.select("doc_id"), vals=mem_vals
    )
    mem_new = (
        g_batch.select("doc_id", "gh")
        .join(members.select("doc_id"), "doc_id", "left_anti")
        .cache()
    )
    # Redelivery fast path keeps its own cheap count: a
    # fully-delivered batch must skip BEFORE any classification /
    # candidate work runs — folding this count into the combined
    # step-stats job below (r19) would make every replayed no-op
    # batch pay the full scoring plan just to learn it can skip.
    # Batch ops (skip_when_no_new_docs=False) read new_docs off the
    # combined job instead — one driver action fewer per step.
    n_mem_new = None
    if skip_when_no_new_docs:
        n_mem_new = mem_new.count()
        if n_mem_new == 0:
            mem_new.unpersist()
            g_batch.unpersist()
            return {"new_docs": 0, "groups": 0, "new_groups": 0, "scored": False}

    # LIVE store views: classification must not recognize a dropped
    # group's gh (its content re-admits fresh), and both the flat and
    # pruned-index sides must carry post-re-election group ids so
    # evidence expansion and verify features resolve to live docs.
    # PRUNED to the batch's gh buckets: the frames logic only ever
    # consumes store rows that share a gh with the batch (touched
    # groups + classification), so the gh-bucket prune is exact —
    # the last O(store) flat-scan term, now bounded by batch
    # footprint (gdelta composes AFTER the prune; it relabels and
    # drops rows row-locally, never moves a row across gh).
    store_sigs = live_store_sigs(
        spark, sig_path, g_batch.select("gh"), vals=sig_vals
    )
    group_map, new_sigs, batch_side, touched_sigs = rep_admission_frames(
        store_sigs, g_batch, family
    )
    group_map, new_sigs = group_map.cache(), new_sigs.cache()
    # The batch-side anti-join is also what makes `cand` safe to
    # RECOMPUTE (cache is best-effort; verify runs while the appends
    # below write): every index row appended during this step belongs
    # to a new group, and every new group is on the batch side, so a
    # re-evaluated store side excludes exactly what it excluded first.
    store_rows = _apply_gdelta(
        spark,
        pruned_store_rows(spark, band_path, batch_side, key_cols),
        sig_path,
        "id",
    ).join(
        batch_side.select(F.col("group_id").alias("id")), "id", "left_anti"
    )
    cand = candidates_from_rows(
        store_rows,
        store_band_rows(batch_side, key_cols, id_col="group_id"),
        len(key_cols),
    ).cache()
    cand_ids = (
        cand.select(F.col("da").alias("doc_id"))
        .unionByName(cand.select(F.col("db").alias("doc_id")))
        .distinct()
    )
    # Materialize the candidate-pruned verify features ONCE: every
    # verify joins feats on BOTH pair sides (da and db), so an
    # uncached feats recomputes its whole lineage twice — and in the
    # production shape (the admit CLIs, where feats_for reads the
    # corpus JSON) that means scanning the ENTIRE corpus twice, since
    # a JSON scan gets no semi-join pushdown. feats stays bounded by
    # the candidate set.
    feats = feats_for(cand_ids).cache()
    # ONE combined step-stats job (r19, guide §1.2/§2.6): group_map —
    # whose first consumer is the post-append members write — must be
    # cache-materialized BEFORE the appends mutate the store it
    # reads, and feats must be cache-filled before verify joins it on
    # both pair sides. A crossJoin of single-row aggregations does
    # all of it in one driver action (the subtrees run as concurrent
    # stages of one job), where r18 still paid one count per cache
    # plus a stats aggregation: new-docs stat (batch ops only — the
    # redelivery fast path above counted it already), (groups,
    # new-groups) off the is_new tag, and the feats cache fill whose
    # count value nothing reads. The heavy shared lineages
    # (touched_sigs, new_sigs, cand) are already cached by the index
    # footprint's evaluation, so the concurrent subtrees cannot
    # double-compute them.
    step_stats = group_map.agg(
        F.count(F.lit(1)).alias("g"),
        F.count(F.when(F.col("is_new"), 1)).alias("n"),
    ).crossJoin(feats.agg(F.count(F.lit(1)).alias("nf")))
    if n_mem_new is None:
        step_stats = step_stats.crossJoin(
            mem_new.agg(F.count(F.lit(1)).alias("nd"))
        )
    srow = step_stats.collect()[0]
    n_groups, n_new_groups = srow["g"], srow["n"]
    if n_mem_new is None:
        n_mem_new = srow["nd"]
    verified = family.verify(cand, feats, threshold)
    if apply_appends:
        # index BEFORE flat: a crash between the two re-admits the
        # group as new next retry and the index read's dropDuplicates
        # absorbs the re-appended rows — the reverse order would
        # strand a group with no index rows at all. The evidence
        # write OVERLAPS the index + flat appends (r19, guide §2.6:
        # independent jobs back-fill each other's stragglers): it
        # reads only cached frames (cand, feats) and its own output
        # dir. The overlap reaches one state the sequential order
        # never did — appends done, evidence not — and a retry
        # recovers it because the members append has not run: the
        # batch's docs are still member-new, so the retry rescores
        # it, every appended group now classifies as touched and goes
        # back to the batch side, and the rotation-scoped evidence
        # overwrite regenerates the complete partition. The members
        # append — the step's commit point, which flips a redelivered
        # batch to "skip" — runs LAST, strictly after the evidence
        # result is in (`overlap` re-raises a failed evidence write
        # before the batch can commit).
        def _appends() -> None:
            write_banded_index(new_sigs, band_path, "append", key_cols)
            write_table(new_sigs, sig_path, "append")

        overlap(lambda: write_evidence(verified), _appends)
        write_table(
            mem_new.join(group_map, "gh").select("doc_id", "gh", "group_id"),
            mem_path,
            "append",
        )
    else:
        write_evidence(verified)
    for c in (mem_new, group_map, new_sigs, cand, feats, touched_sigs, g_batch):
        c.unpersist()
    return {
        "new_docs": n_mem_new,
        "groups": n_groups,
        "new_groups": n_new_groups,
        "scored": True,
    }


def _rep_paths(root: str) -> tuple[str, str, str]:
    return root + "/signatures", root + "/bands", root + "/members"


def _rep_lifecycle(
    spark: SparkSession, source: DataFrame, family: StoreFamily, name: str
) -> tuple[str, DataFrame]:
    """A proof op's fresh scratch rep store: `source`'s group frame,
    CACHED (the bootstrap, every step's verify features and the
    expansion all draw on it — a production verifier recomputes
    features for candidate reps; the store persists signatures only),
    with its base slice bootstrapped under <root>."""
    root = scratch_dir(name)
    g_all = family.group_frame(source).cache()
    bootstrap_rep_store(
        spark,
        *rep_store_frames(g_all.where(_base_pred(F.col("doc_id"))), family),
        *_rep_paths(root),
        family=family,
    )
    return root, g_all


def _rep_admit(
    spark: SparkSession,
    family: StoreFamily,
    root: str,
    g_all: DataFrame,
    g_batch: DataFrame,
    **step,
) -> dict:
    """One `rep_admission_step` of a proof op: verify features from
    the cached group frame, evidence appended under <root>/evidence."""
    return rep_admission_step(
        spark,
        g_batch,
        *_rep_paths(root),
        family.feats_for(g_all),
        lambda verified: verified.write.mode("append").parquet(
            root + "/evidence"
        ),
        family=family,
        **step,
    )


def _rep_result(
    spark: SparkSession,
    family: StoreFamily,
    root: str,
    g_all: DataFrame,
    *,
    live: bool = False,
    store_pred=None,
) -> DataFrame:
    """A proof op's output: the group evidence expanded through
    membership (LIVE membership after a retraction), written under
    <root>/result and read back in the family's output columns."""
    sig_path, _, mem_path = _rep_paths(root)
    self_values = None
    if family.self_values is not None:
        # self-values are only consumed by WITHIN-group pairs, which
        # exist only for groups with ≥ 2 members — restrict the frame
        # to those (on a mostly-distinct corpus this is near-empty,
        # and the expansion's self-value join stays
        # O(groups-with-dups), never O(groups); bench audit, round 12)
        m = (
            live_members(spark, mem_path, sig_path)
            if live
            else read_table(spark, mem_path)
        )
        multi = (
            m.groupBy("group_id")
            .count()
            .where(F.col("count") > 1)
            .select(F.col("group_id").alias("doc_id"))
        )
        self_values = family.self_values(g_all.join(multi, "doc_id", "left_semi"))
    expand_group_evidence(
        spark,
        root + "/evidence",
        mem_path,
        value_col=family.value_col,
        self_values=self_values,
        sig_path=sig_path if live else None,
        store_pred=store_pred,
    ).write.mode("overwrite").parquet(root + "/result")
    g_all.unpersist()
    a, b = family.out_cols
    return spark.read.parquet(root + "/result").select(
        F.col("da").alias(a), F.col("db").alias(b), family.value_col
    )


def rep_store_admission(
    spark: SparkSession, source: DataFrame, family: StoreFamily, name: str
) -> DataFrame:
    """The two-batch admission lifecycle over a fresh rep store under
    scratch dir `name`, for either family: the base slice is
    bootstrapped on disk, then batch 1 (id ≡ 0 mod 10) and batch 2
    (id ≡ 5 mod 10) each run `rep_admission_step`, so batch 2 reads
    what batch 1 appended. The store holds ONE signature row per
    distinct content (token stream, or quantized vector), the band
    join only ever sees group representatives, and the store side of
    every band join is the band index's PRUNED read
    (`pruned_store_rows`). The returned frame is the group evidence
    EXPANDED back through membership to member pairs: cross-group
    pairs inherit the rep pair's value, within-group pairs carry the
    family's self-value. The oracle is the one-shot union SQL over
    documents, so one hash match covers the sequential ≡ one-shot
    equivalence, the rep collapse and the pruned reads at once."""
    root, g_all = _rep_lifecycle(spark, source, family, name)
    for rem in (_BATCH1_REM, _BATCH2_REM):
        _rep_admit(
            spark, family, root, g_all, g_all.where(_slice(F.col("doc_id"), rem))
        )
    return _rep_result(spark, family, root, g_all)


def dedup_store_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rep_store_admission` over the documents, text family, under
    the `minhash_store` scratch dir. Output: (da, db, jaccard)."""
    return rep_store_admission(
        spark, table(spark, sf_dir, "documents"), TEXT, "minhash_store"
    )


def dedup_store_rep_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rep_store_admission` over the documents, text family."""
    return rep_store_admission(
        spark, table(spark, sf_dir, "documents"), TEXT, "rep_store"
    )


def expand_group_evidence(
    spark: SparkSession,
    evidence: str,
    mem_path: str,
    value_col: str = "jaccard",
    self_values: DataFrame | None = None,
    sig_path: str | None = None,
    store_pred=None,
) -> DataFrame:
    """Group evidence + membership → member-level pairs (da, db,
    value), O(output) by contract — the kernel never did quadratic
    work. DISTINCT on the group evidence first: a group touched by
    several batches deterministically re-emits its pairs. Cross-group
    member pairs inherit the rep pair's value; within-group pairs are
    exact dups — jaccard exactly 1.0 (|A∩A| / |A∪A| is an integer
    ratio of equal counts), which is why the default needs no
    `self_values`. The vector store MUST pass `self_values`
    (group_id, value): its oracle computes a within-group pair's
    cosine as dot(q,q) / (sqrt(nq)·sqrt(nq)), and
    sqrt-of-rounded-square need not round-trip to exactly 1.0
    (SCALE.md "Vector-side exposure"), so the expansion reuses the
    oracle's own self-cosine arithmetic instead of a literal. Pairs
    with both sides in the base slice are excluded (the admission
    contract). `_rep_result` passes the family's `self_values` for
    the proof ops and the streaming op (streaming/rep_admission.py).

    `sig_path` switches membership to the LIVE (retraction-composed)
    view; `store_pred(col)` generalizes the both-sides-already-in-
    store exclusion (default: the two-batch ops' base slice — the
    retraction ops pass 'not in batch 2')."""
    store_pred = store_pred or _base_pred
    ev = spark.read.parquet(evidence).distinct()
    m = (
        live_members(spark, mem_path, sig_path)
        if sig_path is not None
        else read_table(spark, mem_path)
    )
    cross = (
        ev.join(
            m.select(F.col("group_id").alias("da"), F.col("doc_id").alias("xa")),
            "da",
        )
        .join(
            m.select(F.col("group_id").alias("db"), F.col("doc_id").alias("xb")),
            "db",
        )
        .where(~(store_pred(F.col("xa")) & store_pred(F.col("xb"))))
        .select(
            F.least("xa", "xb").alias("da"),
            F.greatest("xa", "xb").alias("db"),
            value_col,
        )
    )
    mw = m.select(F.col("group_id").alias("g"), F.col("doc_id").alias("xa"))
    if self_values is not None:
        mw = mw.join(
            self_values.select(
                F.col("group_id").alias("g"), F.col(value_col).alias("_sv")
            ),
            "g",
        )
    within = (
        mw.join(
            m.select(F.col("group_id").alias("g"), F.col("doc_id").alias("xb")),
            "g",
        )
        .where(F.col("xa") < F.col("xb"))
        .where(~(store_pred(F.col("xa")) & store_pred(F.col("xb"))))
        .select(
            F.col("xa").alias("da"),
            F.col("xb").alias("db"),
            (
                F.col("_sv") if self_values is not None
                else F.lit(1.0).cast("double")
            ).alias(value_col),
        )
    )
    return cross.unionByName(within)


_EMB_STORE_ADMISSION_SQL = f"""
WITH {_QUANT_CTE},
planes(p, i, w) AS (VALUES {_neardup_planes_values_sql()}),
{_hyperplane_bands_cte()},
cand AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val
   AND a.vec_id < b.vec_id
  WHERE {_HYPERPLANE_GATE_SQL}
    AND NOT ({_pmod_sql('a.vec_id')} NOT IN ({_BATCH1_REM}, {_BATCH2_REM})
         AND {_pmod_sql('b.vec_id')} NOT IN ({_BATCH1_REM}, {_BATCH2_REM}))
)
SELECT va, vb,
       {_NEARDUP_COS_SQL_BODY} AS cosine
FROM cand
JOIN qn a ON a.vec_id = va
JOIN qn b ON b.vec_id = vb
WHERE {_NEARDUP_COS_SQL_BODY} >= {_COSINE_THRESHOLD}
"""


def embedding_store_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rep_store_admission` over the quantized embeddings, vector
    family, under the `hyperplane_store` scratch dir. Output: (va,
    vb, cosine)."""
    return rep_store_admission(
        spark, _quantized(spark, sf_dir), VECTOR, "hyperplane_store"
    )


def embedding_store_rep_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rep_store_admission` over the quantized embeddings, vector
    family: a degenerate bucket of B identical vectors reaches the
    kernel as one row, the store grows O(distinct vectors), and the
    band index's pruned read is int-keyed."""
    return rep_store_admission(
        spark, _quantized(spark, sf_dir), VECTOR, "hyperplane_rep_store"
    )


# ------------------------------------------------------ retraction
#
# VERDICT r12 #3: the store lifecycle had build/admit/compact/
# re-bucket/refresh but NO retire path — a production corpus shrinks
# (takedowns, re-crawls, licensing) and a rebuild-per-takedown is not
# a 100 TB answer. Design: retraction writes two SIDECARS and never
# rewrites the big tables —
#   <members>_tombstones  (doc_id)            docs removed
#   <signatures>_gdelta   (group_id, new_group_id)  group relabels;
#                                             new_group_id NULL ⟹
#                                             the group is DROPPED
# Readers compose them (live_members / live_store_sigs / the gdelta
# pass over the pruned index read), so a retraction costs
# O(retracted docs + affected groups), never O(store). Compaction
# (`fold_retractions`) folds both sidecars into the physical tables
# and retires them. The rep subtlety the verdict called out —
# retracting a group's FOUNDING doc — is handled by deterministic
# re-election: the new group_id is the min surviving member's doc id,
# and since gh ⟹ byte-identical content, every downstream consumer
# (verify features by rep doc id, self-cosines, band keys) is
# invariant under the relabel.
#
# Contract: a retracted doc_id stays retracted until the next fold —
# the admission step's raw-members anti-join treats the tombstoned
# row as "already seen", so a takedown can never silently resurrect
# through a redelivered batch. After a fold the id may be admitted
# fresh.


def tombstones_path(mem_path: str) -> str:
    return mem_path.rstrip("/") + "_tombstones"


def gdelta_path(sig_path: str) -> str:
    return sig_path.rstrip("/") + "_gdelta"


def gdelta_keys_path(sig_path: str) -> str:
    """The gdelta's BUCKET-KEY sidecar (VERDICT r16 #5): one row per
    (gh, doc_id) of every live member of a group the gdelta touches,
    recorded at `retract_docs` time while the rows are cheap to name
    — `retract_docs` reads the affected groups' membership anyway to
    compose relabels. The fold's partition discovery then derives
    the affected sig-store buckets from the gh column and the
    members buckets from the doc_id column DIRECTLY, skipping its
    raw-table affected-key scans — the last store-sized read in the
    retire path. Accumulated by union across retractions (like the
    tombstones) and retired with the gdelta. It is written BEFORE the
    gdelta and retired after it, so a pending gdelta always has its
    keys; a gdelta without them is refused (StoreLayoutError)."""
    return sig_path.rstrip("/") + "_gdelta_keys"


def live_members(
    spark: SparkSession, mem_path: str, sig_path: str
) -> DataFrame:
    """The membership table with retractions applied: tombstoned docs
    removed, re-elected groups relabeled, dropped groups' rows gone
    (belt — a dropped group's members are all tombstoned by
    construction)."""
    m = read_table(spark, mem_path)
    tomb = read_sidecar(spark, tombstones_path(mem_path))
    if tomb is not None:
        m = m.join(tomb.select("doc_id"), "doc_id", "left_anti")
    return _apply_gdelta(spark, m, sig_path, "group_id")


def live_store_sigs(
    spark: SparkSession,
    sig_path: str,
    gh_keys: DataFrame | None = None,
    *,
    vals: list[int] | None = None,
) -> DataFrame:
    """The flat signature store with retractions applied. `gh_keys`
    (a frame with a gh column) prunes the read to the keys' buckets
    — exact for any consumer that only joins the store on gh (the
    admission kernel); omit it for whole-store passes (folds,
    rebuilds). `vals`: pre-collected bucket ids (see
    `batch_bucket_vals`) — skips the per-table collect."""
    src = (
        pruned_table(spark, sig_path, gh_keys, "gh", vals=vals)
        if gh_keys is not None
        else read_table(spark, sig_path)
    )
    return _apply_gdelta(spark, src, sig_path, "group_id")


def _apply_gdelta(
    spark: SparkSession, df: DataFrame, sig_path: str, id_col: str
) -> DataFrame:
    """Compose the group-delta sidecar over any frame carrying a
    group-id column (flat sigs, members, the pruned index read):
    dropped groups' rows removed, re-elected groups relabeled. The
    sidecar is O(retracted groups) → broadcast."""
    gd = read_sidecar(spark, gdelta_path(sig_path))
    if gd is None:
        return df
    gd = F.broadcast(
        gd.select(
            F.col("group_id").alias("__gd_old"),
            F.col("new_group_id").alias("__gd_new"),
            F.lit(True).alias("__gd_hit"),
        )
    )
    out = df.join(gd, df[id_col] == F.col("__gd_old"), "left")
    out = out.where(~(F.col("__gd_hit").isNotNull() & F.col("__gd_new").isNull()))
    return out.withColumn(
        id_col, F.coalesce(F.col("__gd_new"), F.col(id_col))
    ).drop("__gd_old", "__gd_new", "__gd_hit")


def _require_gdelta_keys(sig_path: str) -> None:
    """Refuse a pending gdelta without its bucket-key sidecar (a
    sidecar pair no code writes any more: keys go first, see
    `gdelta_keys_path`). File checks only."""
    import glob
    import os

    def _has_rows(p: str) -> bool:
        heal_swap(p)
        return bool(glob.glob(os.path.join(p, "*.parquet")))

    if _has_rows(gdelta_path(sig_path)) and not _has_rows(
        gdelta_keys_path(sig_path)
    ):
        raise StoreLayoutError(
            f"retraction sidecar {gdelta_path(sig_path)} has no bucket-key "
            "sidecar: rebuild the store with build-store (build-vstore for "
            "a vector store)"
        )


def retract_docs(
    spark: SparkSession,
    sig_path: str,
    mem_path: str,
    ids: DataFrame,
) -> dict:
    """Remove docs from a rep store (both families — nothing here
    touches the signature columns): tombstone their membership, drop
    groups they empty, re-elect (min surviving doc id) groups whose
    rep they take away. The band index is never touched — readers
    compose the gdelta over the pruned read (rep_admission_step), so
    retraction needs no index path. Write order: the bucket-key
    sidecar FIRST (`gdelta_keys_path` — a crash after it leaves a
    harmless superset of keys over the old gdelta), gdelta second,
    tombstones last, so a crash between any two leaves a state a
    plain re-run repairs (the docs are still live members, the
    recompute converges to the same delta — re-election is
    deterministic). Retracting an id the store never admitted is a
    no-op. Returns counts."""
    require_tables(sig_path, mem_path)
    _require_gdelta_keys(sig_path)
    ids = ids.select("doc_id").distinct().cache()
    live = live_members(spark, mem_path, sig_path)
    # localCheckpoint, not cache: r is consumed AFTER the gdelta swap
    # below (the new tombstone rows), and cache is best-effort — an
    # evicted partition would recompute r's lineage against the NEW
    # gdelta, which already drops the dropped groups' rows, silently
    # losing their tombstones (ADVICE r13). Checkpointing severs the
    # lineage; r is O(retracted), so the materialization is bounded.
    r = live.join(ids, "doc_id", "left_semi").localCheckpoint()
    n_r = r.count()
    if n_r == 0:
        ids.unpersist()
        return {"retracted": 0, "dropped_groups": 0, "reelected": 0}

    affected = r.select("group_id").distinct()
    aff_members = live.join(affected, "group_id", "left_semi")
    surv = aff_members.join(ids, "doc_id", "left_anti")
    surv_min = surv.groupBy("group_id").agg(F.min("doc_id").alias("min_surv"))
    rep_alive = (
        surv.where(F.col("doc_id") == F.col("group_id"))
        .select("group_id")
        .distinct()
        .withColumn("__alive", F.lit(True))
    )
    # new effective id per affected group: unchanged when the rep
    # survives; min survivor when it doesn't; NULL (drop) when nobody
    # does. Only CHANGED groups become delta entries.
    eff_changes = (
        affected.join(surv_min, "group_id", "left")
        .join(rep_alive, "group_id", "left")
        .withColumn(
            "new_eff",
            F.when(F.col("__alive").isNotNull(), F.col("group_id")).otherwise(
                F.col("min_surv")
            ),
        )
        .where(
            F.col("new_eff").isNull() | (F.col("new_eff") != F.col("group_id"))
        )
        .select(F.col("group_id").alias("eff"), "new_eff")
        .cache()
    )
    # one aggregation fills the cache and yields both stats (r18:
    # replaced a count plus a filtered recount)
    cstats = eff_changes.agg(
        F.count(F.lit(1)).alias("c"),
        F.count(F.when(F.col("new_eff").isNull(), 1)).alias("d"),
    )
    crow = cstats.collect()[0]
    n_changes, n_dropped = crow["c"], crow["d"]

    # Compose onto PHYSICAL row keys: old sidecar entries pointing at
    # a changed effective id are rewritten to chain stored → latest,
    # AND every changed group also gets an entry keyed by its
    # effective id itself — members rows appended AFTER an earlier
    # re-election carry the then-live (effective) id physically, so
    # dropping that entry would strand them in a phantom group when
    # the re-elected rep is later retracted (round-13 self-review
    # finding #1; the entry is harmless when no physical row carries
    # the effective key — it just matches nothing). Key sets cannot
    # collide: old entry keys are previously retired ids, effective
    # ids were live until this very retraction.
    # the bucket-key sidecar (VERDICT r16 #5): (gh, doc_id) of the
    # CHANGED groups' live members — aff_members carries gh, so the
    # one frame names both the sig-store buckets (gh) and the
    # members buckets (doc_id) this gdelta's fold must rewrite.
    # Written BEFORE the gdelta so any crash leaves keys ⊇ gdelta.
    gd_schema = "group_id long, new_group_id long"
    old_gd = read_sidecar(spark, gdelta_path(sig_path))
    keys_p = gdelta_keys_path(sig_path)
    old_keys = read_sidecar(spark, keys_p)
    new_keys = (
        aff_members.join(
            eff_changes.select(F.col("eff").alias("group_id")),
            "group_id",
            "left_semi",
        )
        .select("gh", "doc_id")
        .distinct()
    )
    if old_keys is not None:
        new_keys = new_keys.unionByName(
            old_keys.select("gh", "doc_id")
        ).distinct()
    # localCheckpoint: the union's lineage reads the old sidecar
    # the swap below removes (the tombstone write's rule)
    new_keys = new_keys.localCheckpoint()
    commit(keys_p, new_keys.write.parquet)
    if old_gd is None:
        old_gd = spark.createDataFrame([], gd_schema)
    mapped = old_gd.join(
        eff_changes, old_gd["new_group_id"] == eff_changes["eff"]
    ).select("group_id", F.col("new_eff").alias("new_group_id"))
    eff_entries = eff_changes.select(
        F.col("eff").alias("group_id"), F.col("new_eff").alias("new_group_id")
    )
    old_keep = old_gd.join(
        eff_changes.select(F.col("eff").alias("new_group_id")),
        "new_group_id",
        "left_anti",
    ).select("group_id", "new_group_id")
    new_gd = old_keep.unionByName(mapped).unionByName(eff_entries)
    commit(gdelta_path(sig_path), new_gd.write.parquet)

    tomb_path = tombstones_path(mem_path)
    old_tomb = read_sidecar(spark, tomb_path)
    new_tomb = r.select("doc_id")
    if old_tomb is not None:
        new_tomb = new_tomb.unionByName(old_tomb.select("doc_id")).distinct()
    commit(tomb_path, new_tomb.write.parquet)

    for c in (ids, eff_changes):
        c.unpersist()
    return {
        "retracted": n_r,
        "dropped_groups": n_dropped,
        "reelected": n_changes - n_dropped,
    }


def _gdelta_fold(
    spark: SparkSession, sig_path: str, tomb: DataFrame | None = None
) -> Callable[[DataFrame], DataFrame]:
    """The rep store's fold of a table's affected rows, for
    `_fold_table_granular`: drop tombstoned docs, then compose the
    group delta (dropped groups' rows removed, re-elected groups
    relabeled)."""

    def fold(df: DataFrame) -> DataFrame:
        if tomb is not None:
            df = df.join(F.broadcast(tomb.select("doc_id")), "doc_id", "left_anti")
        return _apply_gdelta(spark, df, sig_path, "group_id")

    return fold


def fold_retractions(
    spark: SparkSession, sig_path: str, band_path: str, mem_path: str
) -> dict:
    """Fold the retraction sidecars into the physical tables and
    retire them — the compaction-time companion to `retract_docs`
    (VERDICT r12 #3 'compaction retires tombstones'). Every step is
    idempotent (a gdelta keyed by ids an earlier crash already
    relabeled simply matches nothing; a tombstone for an already
    removed doc anti-joins nothing), so the recovery story is
    re-run; the sidecars are deleted LAST, only after all three
    tables are folded. No-op when no sidecars exist. SINGLE
    MAINTAINER (ADVICE r16): run folds from one maintenance process
    — a concurrent reader in ANOTHER process can heal an aside back
    into place mid-swap, failing this fold's rename (it converges
    on re-run, but aborts); see `heal_table_fold`.

    Every table folds PARTITION-GRANULARLY (VERDICT r15 #2): only
    partitions holding tombstoned/relabeled rows are rewritten — the
    write cost tracks the retracted set, not the bucket count (the
    r15 soak's fold column grew 7.6 → 18.0 s when buckets went 256 →
    1024 on the same store, pure per-partition overhead of a
    full-table swap). Returns {"folded": True, "sig_parts": n,
    "index_parts": n, "mem_parts": n} with n = partitions rewritten,
    0 = table untouched (e.g. a tombstone-only fold never rewrites
    the sig store or index)."""
    # heal crash-interrupted swaps FIRST: a prior fold (or sidecar
    # write) that died mid-rename leaves only path+'.old' (or a
    # granular fold's journal + aside dirs), and the live-view read
    # plans below would raise PATH_NOT_FOUND before commit's
    # own healer ran (self-review r13 finding #2); then refuse an
    # old layout — folding past it would retire the gdelta while rows
    # keyed by retired/dropped group ids stay behind
    require_tables(sig_path, band_path, mem_path)
    _require_gdelta_keys(sig_path)
    gd_p, tomb_p = gdelta_path(sig_path), tombstones_path(mem_path)
    keys_p = gdelta_keys_path(sig_path)
    for p in (gd_p, tomb_p):
        heal_swap(p)
    gd = read_sidecar(spark, gd_p)
    tomb = read_sidecar(spark, tomb_p)
    keys = read_sidecar(spark, keys_p)
    if gd is None and tomb is None:
        return {"folded": False}
    # the gdelta KEY set drives the sig-store and index folds; an
    # empty one (possible: a retraction where every touched group
    # kept its rep writes only tombstones worth of change) means
    # both are already physically correct — skip them entirely
    gd_keys = None
    if gd is not None:
        gd_keys = gd.select("group_id").distinct().cache()
        if gd_keys.count() == 0:
            gd_keys.unpersist()
            gd_keys = None
    stats = {"folded": True, "sig_parts": 0, "index_parts": 0, "mem_parts": 0}
    aff_docs = None
    if gd_keys is not None:
        # the recorded bucket keys (VERDICT r16 #5) make every
        # discovery below O(retracted). localCheckpoint: the fold
        # consumes them AFTER sidecar-destroying swaps begin.
        k = keys.localCheckpoint()
        aff_gh = k.select("gh").distinct()
        aff_docs = k.select("doc_id").distinct()
        # The index's affected band hashes come from the recorded
        # groups' sig rows (band keys are content-derived, so any
        # incarnation of a group's sig row — relabeled or not —
        # yields the same hashes), so this runs BEFORE the sig fold
        # removes a dropped group's rows. When some recorded gh has
        # no sig row left — the state a crashed earlier fold leaves
        # (sig fold done, index fold not) — deriving from sigs would
        # silently leak the dropped group's index rows forever, so
        # the index fold scans instead.
        sig_rows = pruned_table(spark, sig_path, aff_gh, "gh").join(
            F.broadcast(aff_gh), "gh", "left_semi"
        )
        aff_index = None
        if sig_rows.select("gh").distinct().count() == aff_gh.count():
            key_cols = (
                TEXT.key_cols if TEXT.key_cols[0] in sig_rows.columns
                else VECTOR.key_cols
            )
            aff_index = index_rows_frame(sig_rows, key_cols)
        relabel = _gdelta_fold(spark, sig_path)
        gd_hits = [(gd_keys, "group_id")]
        stats["index_parts"] = _fold_table_granular(
            spark, band_path, gd_hits, relabel, aff_index
        )
        stats["sig_parts"] = _fold_table_granular(
            spark, sig_path, gd_hits, relabel, aff_gh
        )
    # tombstones are doc_ids, the members table's bucket key: they
    # name its partitions with no scan
    mem_hits = [(gd_keys, "group_id")] if gd_keys is not None else []
    if tomb is not None:
        mem_hits.append((tomb, "doc_id"))
    stats["mem_parts"] = _fold_table_granular(
        spark, mem_path, mem_hits, _gdelta_fold(spark, sig_path, tomb), aff_docs
    )
    if gd_keys is not None:
        gd_keys.unpersist()
    for p in (gd_p, tomb_p, keys_p):
        retire_sidecar(p)
    return stats


# ------------------------------ retraction invariance proof ops
#
# The oracle shape VERDICT r12 #3 prescribed: retract-then-admit must
# hash-match never-admitted — the same one-shot union SQL the
# admission ops use, over the SURVIVING corpus, restricted to pairs
# the post-retraction batch can emit. Lifecycle: build base store →
# admit the %10==5 slice → retract the doc_id % 7 == 4 slice of the
# admitted corpus (it hits base and first-batch docs, group reps and
# whole groups alike — and at sf0.01 it removes evidence on BOTH
# families, so a ghost row would hash-mismatch, not hide in an empty
# result) → admit the %10==0 slice → expand only that final batch's
# evidence through LIVE membership.

_RETRACT_MOD = 7
_RETRACT_REM = 4

# The VECTOR retraction proof runs its verify at a LOWER cosine bar
# than the admission ops: at the production _COSINE_THRESHOLD the
# sf0.01 embeddings corpus has only 4 hyperplane-verified pairs in
# total, so the driver row pinned a 1-row surface — too thin a hash
# to carry the ghost-row proof (VERDICT r13 #6). At 0.32 the same
# lifecycle pins 10 final-batch rows of which the retraction removes
# 3 (measured via the oracle sweep, r14); the op and its SQL use the
# identical bar everywhere, so retract-then-admit ≡ never-admitted
# is unchanged as an equivalence — just over a wider evidence set.
_RETRACT_COSINE_THRESHOLD = 0.32


def _retract_pred(col):
    return (F.pmod(col, F.lit(_RETRACT_MOD)) == _RETRACT_REM) & (
        ~_slice(col, _BATCH1_REM)
    )


def _retract_sql_pred(expr: str) -> str:
    pm7 = f"((({expr} % {_RETRACT_MOD}) + {_RETRACT_MOD}) % {_RETRACT_MOD})"
    return f"({pm7} = {_RETRACT_REM} AND {_pmod_sql(expr)} <> {_BATCH1_REM})"


def rep_store_retraction(
    spark: SparkSession,
    source: DataFrame,
    family: StoreFamily,
    name: str,
    threshold: float | None = None,
) -> DataFrame:
    """Retraction invariance, either family (retraction itself is
    family-agnostic — it never reads a signature column): after base
    + batch-1 admission, a mid-lifecycle `retract_docs`, AND a
    partition-granular `fold_retractions` (round 16 — the tables are
    key-bucketed, so the driver row pins the granular fold
    end-to-end), batch 2's admission evidence (expanded through live
    membership) must be EXACTLY what a never-admitted one-shot
    scoring of batch 2 against the surviving corpus yields —
    takedowns leave no ghost evidence, re-elected groups keep
    verifying (the verify features come from the new rep's doc id,
    alive by construction), and folding is invisible to the
    oracle because it materializes exactly the live views."""
    import shutil

    root, g_all = _rep_lifecycle(spark, source, family, name)
    sig_path, band_path, mem_path = _rep_paths(root)

    def step(rem: int) -> None:
        _rep_admit(
            spark,
            family,
            root,
            g_all,
            g_all.where(_slice(F.col("doc_id"), rem)),
            threshold=threshold,
        )

    step(_BATCH2_REM)
    retract_docs(
        spark,
        sig_path,
        mem_path,
        g_all.where(_retract_pred(F.col("doc_id"))).select("doc_id"),
    )
    # fold the sidecars mid-lifecycle (round 16): the tables are
    # key-bucketed, so this drives the PARTITION-GRANULAR fold — and
    # because a fold preserves live views exactly, the oracle is
    # unchanged, making this driver row the end-to-end pin that
    # retract → granular fold → admit ≡ never-admitted
    fold_retractions(spark, sig_path, band_path, mem_path)
    # pre-retraction evidence is history, not output
    shutil.rmtree(root + "/evidence")
    step(_BATCH1_REM)
    return _rep_result(
        spark, family, root, g_all, live=True,
        store_pred=lambda c: ~_slice(c, _BATCH1_REM),
    )


def dedup_store_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rep_store_retraction` over the documents, text family."""
    return rep_store_retraction(
        spark, table(spark, sf_dir, "documents"), TEXT, "rep_store_retract"
    )


_STORE_RETRACTION_SQL = f"""
WITH corpus AS (
  SELECT * FROM documents WHERE NOT {_retract_sql_pred('doc_id')}
),
{shingles_cte_sql('corpus', 'text', 3)},
hv AS (
  SELECT doc_id, {h32_sql('s')} AS h FROM sh
),
{_minhash_bands_cte()},
cand AS (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
  WHERE {_FIRST_BAND_GATE_SQL}
    AND NOT ({_pmod_sql('a.doc_id')} <> {_BATCH1_REM}
         AND {_pmod_sql('b.doc_id')} <> {_BATCH1_REM})
),
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


def embedding_store_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rep_store_retraction` over the quantized embeddings, vector
    family, verified at the retraction proof's own cosine bar."""
    return rep_store_retraction(
        spark,
        _quantized(spark, sf_dir),
        VECTOR,
        "hyperplane_store_retract",
        threshold=_RETRACT_COSINE_THRESHOLD,
    )


_EMB_STORE_RETRACTION_SQL = f"""
WITH corpus AS (
  SELECT * FROM embeddings WHERE NOT {_retract_sql_pred('vec_id')}
),
{_QUANT_CTE.replace("FROM embeddings", "FROM corpus")},
planes(p, i, w) AS (VALUES {_neardup_planes_values_sql()}),
{_hyperplane_bands_cte()},
cand AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val
   AND a.vec_id < b.vec_id
  WHERE {_HYPERPLANE_GATE_SQL}
    AND NOT ({_pmod_sql('a.vec_id')} <> {_BATCH1_REM}
         AND {_pmod_sql('b.vec_id')} <> {_BATCH1_REM})
)
SELECT va, vb,
       {_NEARDUP_COS_SQL_BODY} AS cosine
FROM cand
JOIN qn a ON a.vec_id = va
JOIN qn b ON b.vec_id = vb
WHERE {_NEARDUP_COS_SQL_BODY} >= {_RETRACT_COSINE_THRESHOLD}
"""


QUERIES = {
    "dedup_store_admission": dedup_store_admission,
    "dedup_store_rep_admission": dedup_store_rep_admission,
    "embedding_store_admission": embedding_store_admission,
    "embedding_store_rep_admission": embedding_store_rep_admission,
    "dedup_store_retraction": dedup_store_retraction,
    "embedding_store_retraction": embedding_store_retraction,
}

ORACLE = {
    "dedup_store_admission": _STORE_ADMISSION_SQL,
    # the one-shot union spelling, which knows nothing of groups: the
    # rep-store lifecycle must reproduce it exactly (expansion through
    # membership), proving the pre-pass semantics-preserving.
    "dedup_store_rep_admission": _STORE_ADMISSION_SQL,
    "embedding_store_admission": _EMB_STORE_ADMISSION_SQL,
    # same on the vector side.
    "embedding_store_rep_admission": _EMB_STORE_ADMISSION_SQL,
    # retract-then-admit ≡ never-admitted: the one-shot spelling over
    # the SURVIVING corpus, restricted to batch-2-involving pairs.
    "dedup_store_retraction": _STORE_RETRACTION_SQL,
    "embedding_store_retraction": _EMB_STORE_RETRACTION_SQL,
}
