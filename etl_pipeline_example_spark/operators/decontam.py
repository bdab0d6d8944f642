"""Benchmark decontamination: flag training documents that share n-grams
with an evaluation set.

Standard pre-training hygiene (the n-gram overlap decontamination
described in the GPT-3 and PaLM training-data appendices, and Lee et
al.'s dedup work): any training document sharing enough distinct n-grams
with a benchmark/eval document is flagged so it can be dropped before
training. Here the "eval set" is the ``src0`` slice of the documents
table and the trainable corpus is everything else.

Spark-first shape: both sides explode to (doc, 5-gram-hash) rows; the
eval side reduces to DISTINCT hashes. A REAL benchmark eval set is small
and its gram table broadcast-eligible — but this operator's eval slice
is defined by a source predicate, which scales with the corpus, so the
join strategy is deliberately left to AQE's runtime stats (it broadcasts
while the eval side is genuinely small, shuffles on the gram key when it
is not) — the same hint hygiene the TPC-H plans follow. The remaining
aggregations are per-doc overlap counts, map-side combined.

The n-gram hash is the shared cross-engine md5 construct, so the DuckDB
oracle reproduces candidate generation bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import (
    duck_hexint,
    duck_tokens,
    spark_hexint,
    spark_tokens,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

NGRAM_N = 5
EVAL_SOURCE = "src0"
MIN_OVERLAP = 1  # distinct shared n-grams to flag


def _spark_grams(df: DataFrame) -> DataFrame:
    """(doc_id, gram) — hashed word-5-grams per document, NOT
    deduplicated: the explode+hash is a pure shuffle-free projection, and
    the consumers dedupe inside their aggregates (``countDistinct`` is a
    two-phase partial agg), which is one shuffle cheaper than a
    standalone ``distinct`` feeding two aggregations."""
    toks = spark_tokens("text")
    gram_hash = spark_hexint(f"concat_ws(' ', slice(tk, j + 1, {NGRAM_N}))")
    return (
        df.select("doc_id", F.expr(toks).alias("tk"))
        .filter(F.expr(f"size(tk) >= {NGRAM_N}"))
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(0, size(tk) - {NGRAM_N})")).alias("j"),
            "tk",
        )
        .select("doc_id", F.expr(gram_hash).alias("gram"))
    )


def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag train docs sharing ≥ MIN_OVERLAP distinct 5-grams with the
    eval slice: (doc_id, n_grams, n_overlap, overlap_pct)."""
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    train = docs.filter(F.col("source") != EVAL_SOURCE)
    eval_docs = docs.filter(F.col("source") == EVAL_SOURCE)
    eval_grams = _spark_grams(eval_docs).select("gram").distinct()
    # persisted: consumed by both the per-doc totals and the overlap join —
    # without it the shingle explode+hash runs twice (see the dedup module
    # docstring for the caching contract)
    train_grams = tracked_persist(_spark_grams(train))
    per_doc = train_grams.groupBy("doc_id").agg(
        F.countDistinct("gram").alias("n_grams")
    )
    overlap = (
        train_grams.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_overlap"))
    )
    return (
        per_doc.join(overlap, "doc_id")
        .filter(F.col("n_overlap") >= MIN_OVERLAP)
        .select(
            "doc_id",
            "n_grams",
            "n_overlap",
            F.expr("cast(round(100.0 * n_overlap / n_grams, 4) as double)").alias(
                "overlap_pct"
            ),
        )
    )


_DUCK_GRAMS = f"""
  SELECT doc_id,
         {duck_hexint(f"array_to_string(tk[j + 1 : j + {NGRAM_N}], ' ')")} AS gram
  FROM (SELECT doc_id, {duck_tokens("text")} AS tk, source FROM documents) t,
       (SELECT unnest(range(0, (SELECT max(len({duck_tokens("text")})) FROM documents))) AS j)
  WHERE len(tk) >= {NGRAM_N} AND j <= len(tk) - {NGRAM_N} AND {{src_pred}}
"""

CONTAMINATION_SQL = f"""
WITH eval_grams AS (
  SELECT DISTINCT gram FROM ({_DUCK_GRAMS.format(src_pred=f"source = '{EVAL_SOURCE}'")})
),
train_grams AS (
  SELECT DISTINCT doc_id, gram
  FROM ({_DUCK_GRAMS.format(src_pred=f"source != '{EVAL_SOURCE}'")})
),
per_doc AS (
  SELECT doc_id, count(*) AS n_grams FROM train_grams GROUP BY 1
),
overlap AS (
  SELECT doc_id, count(*) AS n_overlap
  FROM train_grams JOIN eval_grams USING (gram) GROUP BY 1
)
SELECT doc_id, n_grams, n_overlap,
       round(100.0 * n_overlap / n_grams, 4) AS overlap_pct
FROM per_doc JOIN overlap USING (doc_id)
WHERE n_overlap >= {MIN_OVERLAP}
"""


DECONTAM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "contamination_ngram": contamination_ngram,
}

DECONTAM_ORACLES: dict[str, str] = {
    "contamination_ngram": CONTAMINATION_SQL,
}
