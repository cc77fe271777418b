#!/usr/bin/env python3
"""Benchmark headline queries (SURVEY.md §6).

Runs each headline query at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "compilations": {name: classes compiled over its timed runs, ...}}

Per query: one untimed warm run (first-execution plan analysis +
whole-stage codegen compilation), then THREE timed runs reporting the
MINIMUM — steady-state execution (shuffles + compute + count), the
number that scales with data volume. Min-of-3 (raised from 2 in r8
per the r7 verdict: ±20% swings were still polluting round-over-round
comparisons) because this sandbox shows up-to-4x noisy-neighbor
spikes on single runs (observed r7: 26.6 s vs 3.4 s for the same
query minutes apart); the minimum is the reproducible cost. JVM
startup is likewise excluded via a session-level warmup read.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "events_per_minute",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "embedding_neardup",
    "ann_topk_bruteforce",
    "token_count",
    # the three slowest sweep queries (SCALE.md) — tracked so
    # regressions in the iterative / streaming / IVF paths are
    # visible round over round
    "dedup_cluster_labels",
    "ann_ivf_topk",
    "streaming_view_purchase_join",
    # 100 TB-critical scale paths with no prior timing history
    # (VERDICT r6 item #7): the LSH ANN index probe and the
    # broadcast-semi-join decontamination pass
    "ann_lsh_topk",
    "benchmark_decontam",
    # round 7: the remaining blocked-BLAS heavy op (~3.4 s) gets a
    # timing history so grid/blocking regressions are visible
    "dedup_containment",
    # round 8: the candidate-gated composed scale paths (VERDICT r7
    # item #1) — these are the designs that replace the quadratic
    # all-pairs trio at 100 TB, so their costs are tracked from birth
    "dedup_jaccard_lsh_verified",
    "dedup_containment_lsh_verified",
    "embedding_neardup_lsh_verified",
    # round 8: incremental dedup (batch-vs-base via the signature
    # store) — the admission-pipeline shape; tracked from birth
    "dedup_incremental_minhash",
    "embedding_incremental_neardup",
    # round 8: training-assembly ops — packing's parallel prefix sum
    # is the one whose cost profile matters at 100 TB; tracked from
    # birth alongside its cheap in-row siblings
    "sequence_packing",
    "embedding_int8_quantize",
    "doc_skyline_select",
    # round 9: the persisted-store admission lifecycle (disk
    # read-append-read is part of the measured cost — that IS the
    # production shape) and the BPE merge-loop trainer (12
    # driver-iterated vocab-sized jobs; tracked from birth so
    # per-iteration overhead regressions are visible)
    "dedup_store_admission",
    "bpe_train_merges",
    # round 9 (cont.): the remaining lifecycle/composition flagships
    # — streaming admission (growing store under foreachBatch), the
    # persisted IVF index loop, the IVF-PQ combo, and the pack
    # manifest; tracked from birth
    "streaming_store_admission",
    "ann_ivf_store_search",
    "ann_ivfpq_topk",
    "pack_manifest",
    "doc_bigram_fluency",
    "dup_span_stats",
    "dup_span_dedup",
    "multimodal_gif_frames",
    # round 11: the representative-store admission lifecycle (the
    # production mega-bucket fix — exact-dedup pre-pass + banded
    # pruned store reads) and the substring-dedup corpus rewrite;
    # tracked from birth
    "dedup_store_rep_admission",
    "dup_span_apply",
    # round 12: the vector rep lifecycle (batch + streaming), the
    # IVF refresh probe, and the corpus-rewrite sink — tracked from
    # birth (all lifecycle)
    "embedding_store_rep_admission",
    "streaming_embedding_rep_admission",
    "ann_ivf_refresh_recall",
    "span_rewrite_sink_roundtrip",
    # round 13: the retraction lifecycle (build → admit → retract →
    # admit, both families) — tracked from birth (all lifecycle)
    "dedup_store_retraction",
    "embedding_store_retraction",
    # round 14: the persisted-index IVF-PQ lifecycle (build 4
    # artifacts → encode-insert through them → disk-only query) —
    # tracked from birth (lifecycle)
    "ann_ivfpq_store_search",
    # round 15: the compressed-index refresh probe (stale artifacts →
    # Lloyd refresh + PQ retrain + codes re-encode → recall lift) —
    # tracked from birth (lifecycle), the IVF-PQ sibling of
    # ann_ivf_refresh_recall
    "ann_ivfpq_refresh_recall",
    # round 15 (cont.): filtered search on the persisted index (the
    # payload-filter query node) and the streaming vector-insert
    # lifecycle — both tracked from birth
    "ann_ivf_filtered_search",
    "streaming_ivf_insert",
    # round 18: the exact-rerank refinement stage (ADC top-3k pool →
    # raw-vector re-score) — tracked from birth; its delta over
    # ann_ivfpq_topk is the refinement's price
    "ann_ivfpq_rerank_topk",
]

# VERDICT r11 bench finding: the headline total had become dominated
# by lifecycle-proof fixed costs (store write→read round-trips,
# job-count-bound, ~18 jobs × ~1 s at sf0.1 for the rep op alone) —
# not query engine speed. These ops' oracle value is the LIFECYCLE
# (sequential disk admission ≡ one-shot SQL), so their cost is
# honest but belongs in its own total: `value` sums the data-bound
# query set only; `lifecycle_total` sums these. Families still cover
# every tracked op, so family subtotals remain comparable to r11.
LIFECYCLE = {
    "dedup_store_admission",
    "dedup_store_rep_admission",
    "embedding_store_rep_admission",
    "streaming_store_admission",
    "streaming_embedding_rep_admission",
    "ann_ivf_store_search",
    "ann_ivf_refresh_recall",
    "span_rewrite_sink_roundtrip",
    "dedup_store_retraction",
    "embedding_store_retraction",
    "ann_ivfpq_store_search",
    "ann_ivfpq_refresh_recall",
    # builds its index to scratch per run (the store-search shape),
    # so its cost is the lifecycle's, not the query engine's
    "ann_ivf_filtered_search",
    "streaming_ivf_insert",
}

# Family subtotals (VERDICT r10 item #7): 38 tracked queries make the
# headline total composition-sensitive; per-family sums localize a
# drift to the subsystem that moved. Keys must cover HEADLINE exactly
# (asserted at import, below).
FAMILY = {
    **{q: "tpch" for q in HEADLINE if q.startswith("tpch_")},
    **{
        q: "trace"
        for q in ("events_per_minute",)
    },
    **{
        q: "dedup"
        for q in HEADLINE
        if q.startswith(("dedup_", "dup_span", "embedding_neardup",
                         "embedding_incremental", "embedding_store",
                         "span_rewrite"))
    },
    **{
        q: "ann"
        for q in HEADLINE
        if q.startswith("ann_")
    },
    **{q: "text" for q in ("token_count", "benchmark_decontam",
                           "doc_bigram_fluency", "bpe_train_merges")},
    **{q: "training" for q in ("sequence_packing", "embedding_int8_quantize",
                               "doc_skyline_select", "pack_manifest")},
    **{
        q: "streaming"
        for q in ("streaming_view_purchase_join", "streaming_store_admission",
                  "streaming_embedding_rep_admission", "streaming_ivf_insert")
    },
    **{q: "multimodal" for q in ("multimodal_gif_frames",)},
}
# fail at import, BEFORE any timing is spent, and in both directions
# (a stale FAMILY key is as much a drift as an untagged query)
assert set(FAMILY) == set(HEADLINE), (
    f"FAMILY/HEADLINE drift: untagged={set(HEADLINE) - set(FAMILY)} "
    f"stale={set(FAMILY) - set(HEADLINE)}"
)
assert LIFECYCLE <= set(HEADLINE), (
    f"LIFECYCLE op not tracked: {LIFECYCLE - set(HEADLINE)}"
)


def bench_sink_compaction(spark, sf_dir: str) -> float:
    """Time the OPTIMIZE FINAL analog over a 4-micro-batch fixture:
    4 streaming appends leave ≥4 files per month partition; the timed
    region is the partition-parallel compaction rewrite. A 100 TB
    deployment lives and dies on compaction throughput, so it is
    tracked round-over-round alongside the query set (setup writes
    are untimed)."""
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from fdblog2clickhouse_spark.sinks.mergetree import (
        optimize_mergetree,
        write_mergetree,
    )
    from fdblog2clickhouse_spark.sources.tables import table

    root = tempfile.mkdtemp(prefix="bench_mt_")
    out = os.path.join(root, "events_mt")
    e = table(spark, sf_dir, "events").select(
        F.col("ts").alias("time"), "event_id", "event_type", "value"
    )
    for i in range(4):
        write_mergetree(e.where(F.col("event_id") % 4 == i), out, mode="append")
    t0 = time.perf_counter()
    stats = optimize_mergetree(spark, out)
    dt = time.perf_counter() - t0
    assert stats and glob.glob(f"{out}/yyyymm=*"), "compaction fixture empty"
    shutil.rmtree(root, ignore_errors=True)
    return round(dt, 3)


def main(argv: list[str] | None = None) -> None:
    # no options: the scale factor and core count come from the
    # environment; the parser gives --help and refuses stray arguments
    argparse.ArgumentParser(
        description="Time the headline queries at $SPARK_GRAFT_SF_DIR "
        "(default: the sf0.1 test data) and print one JSON line."
    ).parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from fdblog2clickhouse_spark.session import compiled_classes, get_spark
    from fdblog2clickhouse_spark import operators

    spark = get_spark("fdblog2clickhouse-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = operators.all_queries()

    # Warm up the JVM/reader paths outside any timed region.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    timings: dict[str, float] = {}
    compilations: dict[str, int] = {}
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        fn(spark, sf_dir).count()  # warm: analysis + codegen compile
        compiled0 = compiled_classes(spark)
        samples = []
        for _ in range(3):
            spark.catalog.clearCache()  # internal .cache() must not carry over
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            samples.append(time.perf_counter() - t0)
            assert n >= 0
        timings[name] = round(min(samples), 3)
        # classes compiled over the timed runs: non-zero flags a plan
        # whose generated code differs on every run
        compilations[name] = compiled_classes(spark) - compiled0
    # sink_compaction is reported OUTSIDE the summed query timings:
    # folding it into `total` (as round 6 briefly did) shifts the
    # headline number and breaks round-over-round comparability of
    # the query total.
    aux = {"sink_compaction": bench_sink_compaction(spark, sf_dir)}
    # headline total = the data-bound query set; lifecycle-proof ops
    # (job-count-bound store round-trips) are summed separately so
    # the engine-speed number stays comparable round over round
    # (VERDICT r11 bench finding).
    total = round(
        sum(t for n, t in timings.items() if n not in LIFECYCLE), 3
    )
    lifecycle_total = round(
        sum(t for n, t in timings.items() if n in LIFECYCLE), 3
    )
    families: dict[str, float] = {}
    for name, t in timings.items():
        families[FAMILY[name]] = round(families.get(FAMILY[name], 0.0) + t, 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "lifecycle_total": lifecycle_total,
                "lifecycle_n": len(LIFECYCLE & set(timings)),
                "queries": timings,
                "families": families,
                "aux": aux,
                "compilations": compilations,
                "timed_runs": 3,  # per-query min-of-3 (noise floor)
                # headline composition grew in round 2 (ngram/neardup
                # added after their BLAS rewrites) — n disambiguates
                # cross-round totals; value excludes the lifecycle
                # set from round 12 on.
                "queries_n": len(timings) - len(LIFECYCLE & set(timings)),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
