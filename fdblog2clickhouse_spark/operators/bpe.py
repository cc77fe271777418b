"""BPE tokenizer TRAINING — the iterative merge loop (SURVEY §2.5).

`bpe_pair_stats` (textops.py:608) scores merge candidates once; this
module runs the actual training loop a pipeline runs before
tokenizing a corpus: N times, count adjacent symbol pairs weighted
by word frequency, merge the most frequent pair everywhere, repeat.
Output is the learned merge table (rank, lhs, rhs, merged,
pair_count) — the artifact a tokenizer ships.

Algorithm = classic word-frequency BPE (Sennrich et al. 2016, public
method): the corpus is read ONCE to build the word-frequency vocab;
every iteration after that touches only the vocab-sized state —
O(distinct words), not O(corpus) — which is what makes tokenizer
training tractable at 100 TB (the 100 TB pass happens once; 50k
merge iterations run over a ~10M-row table).

Driver-iterated like `embedding_kmeans` (similarity.py:643): each
iteration is one small Spark job (vocab scan → pair aggregate →
1-row argmax collect) and the merge rewrite is a single in-row
string `replace` in whole-stage codegen.

The merge-rewrite trick (shared verbatim with the DuckDB oracle):
words are held DOUBLE-SPACED (" ", sym, "  ", sym, ..., " ") and a
merge of (a, b) is `replace(s, ' a  b ', ' ab ')`. SQL replace is
left-to-right non-overlapping — exactly BPE's greedy order — and
the pattern consumes ONE of the two delimiter spaces on each side,
so adjacent matches still see their leading space ("a a a a" with
pair (a,a) → "aa aa", not "aa a a"), while the outer single spaces
make prefix/suffix symbol confusion impossible (pattern ' a  b '
cannot match symbol "ab" or "xa"). Both engines run the identical
expression, so the state — and every later argmax — stays
hash-exact through all N iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens, tokens_sql
from ..sources.tables import table

_N_MERGES = 12


def _pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the double-spaced vocab state,
    weighted by word freq. In-row pair build (transform over
    sequence), one vocab-sized explode, one O(symbol-vocab²)-key
    aggregate."""
    tk = F.filter(F.split(F.col("s"), "  "), lambda x: x != "")
    return (
        state.select(tk.alias("tk"), "freq")
        .where(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk)-1), "
                    "i -> concat(tk[i-1], ' ', tk[i]))"
                )
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )


def _train(spark: SparkSession, sf_dir: str) -> tuple[list[tuple], DataFrame]:
    """Run the merge loop; return (merge table rows, FINAL vocab
    state). The state carries the word key (w, s, freq) — after N
    merges each word's `s` is its fully-merged symbol string, i.e.
    the state IS the trained tokenizer's vocab lookup
    (`bpe_tokenize` consumes it). Deterministic argmax: highest
    weighted count, then lexicographically smallest pair — identical
    tiebreak in the oracle's unrolled spelling."""
    d = table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # double-spaced character form: "abc" → " a  b  c "
    state = vocab.select(
        "w",
        F.concat(
            F.lit(" "), F.regexp_replace(F.col("w"), "(.)", " $1 "), F.lit(" ")
        ).alias("s"),
        "freq",
    ).localCheckpoint(eager=False)

    # ONE job per merge: the argmax action both finds the best pair
    # and materializes the current state's checkpoint (one in-row
    # replace away from the parent's). localCheckpoint, not cache:
    # a cached chain keeps the full LOGICAL plan, so Catalyst
    # re-analyzes a tree one `replace` deeper every iteration —
    # measured to OOM the driver JVM around merge 60 (round 11,
    # SCALE.md; tools/driver_sim.py runs the bpe ops). The checkpoint truncates lineage to a
    # LogicalRDD leaf, making per-merge analysis cost CONSTANT; the
    # superseded states' blocks are released by the ContextCleaner
    # as Python drops the references. Local (unreplicated)
    # checkpoints trade executor-loss recovery for speed — the same
    # knob dedup_cluster_labels exposes for long iterative jobs.
    merges: list[tuple] = []
    for rank in range(1, _N_MERGES + 1):
        # the argmax row — limit(1) bounds the driver transfer to ONE
        # row by construction (allowlisted in tests/test_plans.py)
        argmax_one_row = _pair_counts(state).orderBy(
            F.col("n").desc(), F.col("pair").asc()
        ).limit(1)
        best = argmax_one_row.collect()
        if not best:
            break
        pair, n = best[0]["pair"], best[0]["n"]
        lhs, rhs = pair.split(" ")
        merges.append((rank, lhs, rhs, lhs + rhs, n))
        state = state.select(
            "w",
            F.replace(
                F.col("s"),
                F.lit(f" {lhs}  {rhs} "),
                F.lit(f" {lhs}{rhs} "),
            ).alias("s"),
            "freq",
        ).localCheckpoint(eager=False)
    return merges, state


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train _N_MERGES BPE merges on the documents corpus; emit the
    learned merge table. One corpus pass builds (word, freq); the
    loop then runs entirely on the vocab-sized state."""
    merges, _ = _train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "rank int, lhs string, rhs string, merged string, pair_count long",
    )


def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained tokenizer to the corpus — the consumer step
    a pipeline runs after training: per document, the exact BPE
    token count under the learned merges, alongside word and
    character counts (the compression evidence that decides a
    tokenizer rollout).

    Scale shape: after training, the final state is a (word →
    merged-symbol-string) VOCAB table, so tokenization is not a
    per-document re-merge — it is one explode of the corpus into
    word instances joined against the vocab (hash join on the word;
    at 100 TB the vocab side is O(distinct words) and the corpus is
    touched once), then a per-doc integer aggregate. The oracle
    reuses the unrolled training CTEs' final state for the same
    join."""
    merges, state = _train(spark, sf_dir)
    sym = state.select(
        "w",
        F.size(F.filter(F.split(F.col("s"), "  "), lambda x: x != "")).alias(
            "n_sym"
        ),
    )
    d = table(spark, sf_dir, "documents")
    inst = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).where(F.col("w") != "")
    out = (
        inst.join(sym, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
            F.sum(F.length("w")).alias("n_chars"),
        )
    )
    return out


def _bpe_cte_chain() -> str:
    """The oracle's training loop: N chained CTE steps (pairs_r →
    best_r argmax → state_r rewrite), MATERIALIZED so each state is
    evaluated once (the chain references every state twice; inlined
    CTEs would re-evaluate the whole prefix — 2^N blowup). DuckDB
    runs the byte-identical replace expression, so any drift in pair
    counting, tiebreak, or greedy rewrite order breaks the match at
    the first diverging rank. The word key `w` rides along so
    state{N} doubles as the trained vocab lookup for the tokenize
    oracle."""
    steps = []
    prev = "state0"
    for r in range(1, _N_MERGES + 1):
        steps.append(f"""pairs{r} AS MATERIALIZED (
  SELECT pair, SUM(freq) AS n FROM (
    SELECT unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i+1])) AS pair, freq
    FROM (SELECT list_filter(string_split(s, '  '), x -> x <> '') AS tk,
                 freq FROM {prev})
    WHERE len(tk) >= 2
  ) GROUP BY 1
),
best{r} AS (SELECT {r} AS rank, pair, n FROM pairs{r}
            ORDER BY n DESC, pair ASC LIMIT 1),
state{r} AS MATERIALIZED (
  SELECT w,
         replace(s,
                 ' ' || split_part(pair, ' ', 1) || '  ' || split_part(pair, ' ', 2) || ' ',
                 ' ' || split_part(pair, ' ', 1) || split_part(pair, ' ', 2) || ' ') AS s,
         freq
  FROM {prev} CROSS JOIN best{r}
)""")
        prev = f"state{r}"
    return f"""vocab AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest({tokens_sql('text')}) AS w FROM documents
  ) WHERE w <> '' GROUP BY 1
),
state0 AS MATERIALIZED (
  SELECT w, ' ' || regexp_replace(w, '(.)', ' \\1 ', 'g') || ' ' AS s, freq
  FROM vocab
),
{', '.join(steps)}"""


def _bpe_train_sql() -> str:
    all_best = " UNION ALL ".join(
        f"SELECT rank, pair, n FROM best{r}" for r in range(1, _N_MERGES + 1)
    )
    return f"""
WITH {_bpe_cte_chain()}
SELECT CAST(rank AS INT) AS rank,
       split_part(pair, ' ', 1) AS lhs,
       split_part(pair, ' ', 2) AS rhs,
       split_part(pair, ' ', 1) || split_part(pair, ' ', 2) AS merged,
       CAST(n AS BIGINT) AS pair_count
FROM ({all_best})
"""


def _bpe_tokenize_sql() -> str:
    return f"""
WITH {_bpe_cte_chain()},
sym AS (
  SELECT w, len(list_filter(string_split(s, '  '), x -> x <> '')) AS n_sym
  FROM state{_N_MERGES}
),
inst AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest({tokens_sql('text')}) AS w FROM documents
  ) WHERE w <> ''
)
SELECT doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(length(w)) AS BIGINT) AS n_chars
FROM inst JOIN sym USING (w)
GROUP BY 1
"""


QUERIES = {
    "bpe_train_merges": bpe_train_merges,
    "bpe_tokenize": bpe_tokenize,
}

ORACLE = {
    "bpe_train_merges": _bpe_train_sql(),
    "bpe_tokenize": _bpe_tokenize_sql(),
}
