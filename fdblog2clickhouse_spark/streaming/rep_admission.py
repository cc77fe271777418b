"""STREAMING rep-store admission (SURVEY §2.7).

The online form of the admission lifecycle (operators/dedup_store.py):
arriving rows land as JSON rotations, one micro-batch per file, and
EVERY micro-batch runs the shared `rep_admission_step` against the
persisted rep store, for either store family —

  exact-dedup pre-pass (identical token streams, or identical
  quantized vectors, collapse to one group), gh classification
  against the signature table, band-index PRUNED store-side read,
  new-group + touched-group scoring, and the index → signatures →
  members append order

— so the store grows O(distinct contents) under the stream and a
boilerplate-heavy rotation costs one group row, exactly like the
batch CLI path (`admit` / `admit-vectors`). One body serves both
families; the registered names bind the family, the source and the
scratch dir. The returned frame is the group evidence expanded
through membership, and the oracle is the batch ops' one-shot union
SQL unchanged: the hash match proves that micro-batch slicing, the
rep collapse, and the pruned reads are all semantics-preserving at
once.

Exactly-once under foreachBatch's at-least-once delivery is the
step's: the members append is its commit point, and a replayed
micro-batch whose docs are all members is a no-op
(`skip_when_no_new_docs`).

Why slicing-invariance still holds with the rep pre-pass: a group's
FIRST arrival scores it against everything in the store at that
moment; every later arrival of the same content rescores the touched
group (pairs re-emitted deterministically, collapsed by the
expansion's DISTINCT). The union over any slicing is therefore the
same group-pair set the one-shot run produces — the dedup_store.py
block comment's argument, unchanged, because it never depended on
batch granularity.

Reference parity: the reference's whole contract is
ingest-then-query (README.md:139-141); this is that contract applied
to the production dedup index under its real arrival mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _quantized
from ..operators.dedup_store import (
    _EMB_STORE_ADMISSION_SQL,
    _STORE_ADMISSION_SQL,
    TEXT,
    VECTOR,
    StoreFamily,
    _base_pred,
    _rep_admit,
    _rep_lifecycle,
    _rep_result,
)
from ..sources.tables import table
from .queries import drain_foreach_batch


def stream_rep_admission(
    spark: SparkSession, source: DataFrame, family: StoreFamily, name: str
) -> DataFrame:
    """`source`'s non-base rows as four JSON rotations → four
    micro-batches (maxFilesPerTrigger=1), each admitting against the
    persisted rep store (signatures + band index + members) and growing
    all three — then the membership expansion, identical to
    `rep_store_admission`'s. The source's first column is its id."""
    root, g_all = _rep_lifecycle(spark, source, family, name)
    source.where(~_base_pred(F.col(source.columns[0]))).coalesce(4).write.mode(
        "overwrite"
    ).json(root + "/rotations")
    drain_rep_admission(spark, source.schema, family, root, g_all)
    return _rep_result(spark, family, root, g_all)


def drain_rep_admission(
    spark: SparkSession, schema, family: StoreFamily, root: str, g_all: DataFrame
) -> None:
    """Admit the JSON rotations under <root>/rotations, one
    micro-batch per file, into the rep store under <root>; the
    checkpoint <root>/rotations_ckpt skips the batches it committed."""

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        # the SHARED step (operators/dedup_store.py) — including the
        # members anti-join that makes a RETRIED micro-batch
        # idempotent under foreachBatch's at-least-once contract
        # (skip_when_no_new_docs: a fully-committed batch replayed
        # after a checkpoint-less restart is a no-op).
        _rep_admit(
            batch_df.sparkSession,
            family,
            root,
            g_all,
            family.group_frame(batch_df),
            skip_when_no_new_docs=True,
        )

    rotations = root + "/rotations"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(rotations)
    drain_foreach_batch(stream, admit, rotations + "_ckpt")


def streaming_store_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text family under the `store_admission_stream` scratch dir:
    (doc_id, text) rotations. Output: (da, db, jaccard), hash-equal
    to the one-shot union oracle."""
    return stream_rep_admission(
        spark,
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        TEXT,
        "store_admission_stream",
    )


def streaming_rep_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text family: (doc_id, text) rotations. Output: (da, db,
    jaccard), hash-equal to the one-shot union oracle."""
    return stream_rep_admission(
        spark,
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        TEXT,
        "rep_admission_stream",
    )


def streaming_embedding_rep_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vector family: rotations of QUANTIZED vectors (vec_id, q).
    Output: (va, vb, cosine), hash-equal to the vector lifecycle
    ops' one-shot union SQL unchanged. The
    stream carries the quantized long arrays (a float JSON roundtrip
    could flip a .5-boundary rounding; the integer stream is exact by
    construction — a production feed ships whatever its embedder
    emits, and the quantization contract lives at ingest either
    way)."""
    return stream_rep_admission(
        spark,
        _quantized(spark, sf_dir).select("vec_id", "q"),
        VECTOR,
        "emb_rep_admission_stream",
    )


QUERIES = {
    "streaming_store_admission": streaming_store_admission,
    "streaming_rep_admission": streaming_rep_admission,
    "streaming_embedding_rep_admission": streaming_embedding_rep_admission,
}

ORACLE = {
    # the batch lifecycle ops' one-shot union SQL, unchanged — one
    # hash match pins slicing-invariance, the rep collapse, and the
    # pruned reads together.
    "streaming_store_admission": _STORE_ADMISSION_SQL,
    "streaming_rep_admission": _STORE_ADMISSION_SQL,
    "streaming_embedding_rep_admission": _EMB_STORE_ADMISSION_SQL,
}
