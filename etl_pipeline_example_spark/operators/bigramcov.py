"""Head-bigram coverage (formulaic-text detector).

A document whose adjacent-token pairs are drawn almost entirely from
the corpus's most frequent bigrams is template/boilerplate prose; one
whose transitions are mostly rare is either novel content or noise.
This is the classic cheap LM-free fluency/formulaicity signal — the
bigram analogue of the stopword-ratio gate in ``text_quality``, and
the corpus-level complement of ``pmi_bigrams`` (which scores the
bigrams; this scores the DOCUMENTS by how much they lean on the head).

Per doc: n_bigrams adjacent positions, n_top of them whose bigram is
in the corpus top-``BG_TOP`` list (count desc, bigram asc — a total
order, so both engines select the identical set), cover = n_top /
n_bigrams. Counts are exact integers; cover is one int/int division —
a single correctly-rounded double op, bit-exact cross-engine. Docs
with < 2 tokens have no transitions and drop by contract.

Scale shape: the top-K is a map-side-combined count over positional
bigrams (the distinct-bigram keyspace collapses the shuffle) followed
by a bounded ordered-limit (TakeOrdered, driver holds K rows); the
per-doc pass then BROADCASTS those K rows into the position stream —
no second wide shuffle, text never moves, the per-doc count partial-
aggregates map-side.

No reference counterpart (the reference is a 305-LoC ETL example);
LLM-pipeline surface, SURVEY.md §2. Registered beyond the round-8
grading window — first driver slot round 9.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import duck_tokens, spark_tokens
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

BG_TOP = 100


def _spark_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bg): one row per adjacent-token position."""
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    return (
        docs.select("doc_id", F.expr(spark_tokens("text")).alias("tk"))
        .filter(F.expr("size(tk) >= 2"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " j -> concat(element_at(tk, j), ' ', element_at(tk, j + 1)))"
                )
            ).alias("bg"),
        )
    )


def bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, n_top, cover): per-doc share of adjacent-token
    positions covered by the corpus top-``BG_TOP`` bigram list.

    The position stream has two consumers (top-K count + per-doc join),
    so it is persisted (tracked; released when the next key starts) —
    without it the tokenize+explode chain would scan the corpus twice.
    """
    pos = tracked_persist(_spark_positions(spark, sf_dir))
    top = (
        pos.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bg").asc())
        .limit(BG_TOP)
        .select("bg")
    )
    return (
        pos.join(F.broadcast(top).withColumn("hit", F.lit(1)), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.expr("coalesce(hit, 0)")).alias("n_top"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_top",
            F.expr("cast(n_top as double) / cast(n_bigrams as double)").alias(
                "cover"
            ),
        )
    )


BIGRAM_COVERAGE_SQL = f"""
WITH pos AS (
  SELECT doc_id, unnest([ tk[i] || ' ' || tk[i + 1]
                          for i in range(1, len(tk)) ]) AS bg
  FROM (SELECT doc_id, {duck_tokens("text")} AS tk FROM documents)
  WHERE len(tk) >= 2
),
top AS (
  SELECT bg FROM (
    SELECT bg, count(*) AS n FROM pos GROUP BY 1
  ) ORDER BY n DESC, bg ASC LIMIT {BG_TOP}
)
SELECT doc_id,
       count(*) AS n_bigrams,
       cast(sum(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_top,
       cast(sum(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) AS double)
         / cast(count(*) AS double) AS cover
FROM pos p LEFT JOIN top t ON p.bg = t.bg
GROUP BY doc_id
"""


BIGRAMCOV_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "bigram_coverage": bigram_coverage,
}

BIGRAMCOV_ORACLES: dict[str, str] = {
    "bigram_coverage": BIGRAM_COVERAGE_SQL,
}
