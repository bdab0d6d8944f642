"""BPE tokenizer training kernel (Sennrich et al. 2016) as DataFrame ops.

Byte-pair-encoding training is the one tokenizer-side workload a
training-data engine runs at corpus scale: count adjacent symbol pairs
over the frequency-weighted word table, merge the most frequent pair,
repeat. This module implements the kernel — ``BPE_ROUNDS`` exact merge
rounds — with a DuckDB oracle deriving bit-identical merges.

Spark-first shape:

- the corpus collapses to a (word, freq) VOCABULARY table first (one
  explode + map-side-combined count) — everything after is bounded by
  vocabulary size, not corpus size, which is what makes tokenizer
  training tractable at 100 TB;
- each round is ONE linear job: adjacent-pair explode weighted by
  ``freq`` → pair-count aggregate (map-side combined) → a 1-row argmax
  (count DESC, pair ASC — TakeOrderedAndProject, no global sort); the
  winning pair (bounded state: one row) lives on the DRIVER between
  rounds, and the merge applies as a literal column ``replace`` — the
  same orchestration pattern the PQ codebook training uses;
- symbols are marker-wrapped (``the`` → ``_t_ _h_ _e_``) so a literal
  leftmost-non-overlapping ``replace`` — identical semantics in Spark
  and DuckDB, verified for the greedy ``_l_ _l_ _l_`` and repeated
  ``_a_ _b_ _a_ _b_`` cases — is boundary-safe: a merged multi-char
  symbol can never be corrupted by a later merge matching inside it.

Production BPE runs ~50k rounds with incremental count maintenance;
the per-round plan here is the exact kernel those loops repeat, with
the round count held at a constant so the oracle can inline the same
recursion. No reference counterpart; LLM-pipeline surface (SURVEY.md
§2 row 30a).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import duck_tokens, spark_tokens
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

BPE_ROUNDS = 3

_SPARK_PAIRS = (
    "transform(sequence(1, size(split(sym, ' ')) - 1),"
    " i -> concat(element_at(split(sym, ' '), i), ' ',"
    " element_at(split(sym, ' '), i + 1)))"
)


def _train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame, DataFrame]:
    """Run the ``BPE_ROUNDS`` merge loop; return (merges, the persisted
    base vocabulary, and the final vocabulary with all merges applied).
    The vocabulary persist is TRACKED (simcore discipline): bpe_train
    releases it eagerly once the merges are collected, and bpe_encode —
    whose lazy result still reads it — leaves it to the release when the
    next key starts, so the frame never stays pinned for the rest of a
    long driver run."""
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    toks = spark_tokens("text")
    words = tracked_persist(
        docs.select(F.explode(F.expr(toks)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("sym", F.expr(r"rtrim(regexp_replace(word, '(.)', '_$1_ '))"))
    )
    merges: list[tuple[int, str, str, int]] = []
    cur = words
    for r in range(BPE_ROUNDS):
        top = (
            cur.filter(F.expr("size(split(sym, ' ')) >= 2"))
            .select(F.explode(F.expr(_SPARK_PAIRS)).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )[0]
        merged = top["pair"].replace("_ _", "")
        merges.append((r, top["pair"], merged, top["cnt"]))
        cur = cur.withColumn(
            "sym", F.expr(f"replace(sym, '{top['pair']}', '{merged}')")
        )
    return merges, words, cur


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(round, merge_pair, merged, pair_cnt): the first ``BPE_ROUNDS``
    BPE merges learned from the corpus, in merge order."""
    merges, words, _ = _train(spark, sf_dir)
    words.unpersist()
    return spark.createDataFrame(
        merges, "round int, merge_pair string, merged string, pair_cnt bigint"
    )


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained merges:
    (doc_id, n_words, n_bpe_tokens).

    The scale insight tokenizer APPLICATION shares with training: all
    merge work happens on the VOCABULARY (word, sym) table — each word
    is segmented once however many times it occurs — and documents just
    join their exploded words to the finished per-word symbol count.
    The join key is the word; the vocabulary side grows sublinearly
    (Heaps' law) and carries two narrow columns, the per-doc aggregate
    is map-side combined, and no merge ever touches a corpus-sized row.
    """
    _, words, final = _train(spark, sf_dir)
    vocab = final.select(
        "word", F.expr("size(split(sym, ' '))").alias("n_sym")
    )
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    return (
        docs.select("doc_id", F.explode(F.expr(spark_tokens("text"))).alias("word"))
        .join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


def _duck_round(r: int) -> str:
    """One oracle merge round: s{r} -> (t{r} winner, s{r+1} applied)."""
    return f"""p{r} AS (
  SELECT pair, cast(sum(freq) as bigint) AS cnt FROM (
    SELECT unnest([ a[i] || ' ' || a[i + 1] for i in range(1, len(a)) ]) AS pair,
           freq
    FROM (SELECT string_split(sym, ' ') AS a, freq FROM s{r})
    WHERE len(a) >= 2
  ) GROUP BY 1
),
t{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1),
s{r + 1} AS (
  SELECT word, freq, replace(sym, t{r}.pair, replace(t{r}.pair, '_ _', '')) AS sym
  FROM s{r}, t{r}
)"""


BPE_TRAIN_SQL = (
    f"""
WITH w AS (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest({duck_tokens("text")}) AS word FROM documents)
  GROUP BY 1
),
s0 AS (
  SELECT word, freq,
         rtrim(regexp_replace(word, '(.)', '_\\1_ ', 'g')) AS sym
  FROM w
),
"""
    + ",\n".join(_duck_round(r) for r in range(BPE_ROUNDS))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS round, pair AS merge_pair,"
        f" replace(pair, '_ _', '') AS merged, cnt AS pair_cnt FROM t{r}"
        for r in range(BPE_ROUNDS)
    )
)


BPE_ENCODE_SQL = (
    f"""
WITH w AS (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest({duck_tokens("text")}) AS word FROM documents)
  GROUP BY 1
),
s0 AS (
  SELECT word, freq,
         rtrim(regexp_replace(word, '(.)', '_\\1_ ', 'g')) AS sym
  FROM w
),
"""
    + ",\n".join(_duck_round(r) for r in range(BPE_ROUNDS))
    + f""",
vocab AS (
  SELECT word, len(string_split(sym, ' ')) AS n_sym FROM s{BPE_ROUNDS}
),
dw AS (
  SELECT doc_id, unnest({duck_tokens("text")}) AS word FROM documents
)
SELECT doc_id, count(*) AS n_words,
       cast(sum(n_sym) AS bigint) AS n_bpe_tokens
FROM dw JOIN vocab USING (word)
GROUP BY 1
"""
)


BPE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "bpe_train": bpe_train,
    "bpe_encode": bpe_encode,
}

BPE_ORACLES: dict[str, str] = {
    "bpe_train": BPE_TRAIN_SQL,
    "bpe_encode": BPE_ENCODE_SQL,
}
