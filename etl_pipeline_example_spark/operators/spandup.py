"""Exact duplicate-span detection (substring-level dedup).

Document-level dedup (exact / minhash / simhash — ``operators/dedup.py``)
misses the dominant duplication mode in web corpora: long VERBATIM
spans repeated across otherwise-distinct documents (licence blocks,
navigation chrome, quoted passages). Deduplicating at the span level is
the "exact substring dedup" of Lee et al. 2022 (*Deduplicating Training
Data Makes Language Models Better*), which cuts every ≥50-token span
that appears twice in the corpus. The suffix-array construction used
there is single-node; the standard distributed re-expression — used
here — is fixed-length token shingles: a span of length ≥ K duplicates
iff all its K-shingles duplicate, so K-shingle duplication is the
detection primitive.

Two entries:

  dedup_substring     the corpus-wide duplicate-span profile:
                      (gram_hash, n_docs, n_occ) for every K-token
                      shingle appearing in ≥ 2 distinct documents —
                      what a span-cut pass would remove.
  substring_dup_rate  the per-document cut metric: how many of a doc's
                      shingles are duplicated elsewhere — the number
                      Lee et al. report as "fraction of corpus removed".

Scale shape: the shingle frame is two narrow columns (doc_id, h) — the
text itself never shuffles; the profile is one groupBy(h) with a
two-phase distinct-doc count (map-side partial); the per-doc rate is a
left-semi join of the same narrow frame against the (bounded, dup-only)
hash set followed by a doc-keyed count. No pairwise expansion anywhere:
cost is linear in corpus tokens, the same budget as tokenization.

No reference counterpart (reference is a 305-LoC ETL example:
glue_jobs/example_job/job.py); LLM-pipeline surface, SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import duck_tokens, spark_tokens
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

SPAN_K = 8  # tokens per shingle — the minimum span length detected


def _spark_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h): one row per K-token shingle position. The CASE guard
    matters: Spark's sequence(1, 0) DESCENDS, so short docs must short-
    circuit to an empty array, not a reversed one."""
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    return (
        docs.select("doc_id", F.expr(spark_tokens("text")).alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(tk) >= {SPAN_K} THEN"
                    f" transform(sequence(1, size(tk) - {SPAN_K} + 1),"
                    f"   i -> md5(concat('span:', concat_ws(' ', slice(tk, i, {SPAN_K})))))"
                    " ELSE array() END"
                )
            ).alias("h"),
        )
    )


_DUCK_SHINGLES = f"""
  SELECT doc_id,
         unnest(CASE WHEN len(tk) >= {SPAN_K} THEN
             list_transform(range(1, len(tk) - {SPAN_K} + 2),
               i -> md5(concat('span:', array_to_string(tk[i:i+{SPAN_K}-1], ' '))))
           ELSE [] END) AS h
  FROM (SELECT doc_id, {duck_tokens("text")} AS tk FROM documents)
"""


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(gram_hash, n_docs, n_occ): every K-token shingle seen in ≥ 2
    distinct documents — the duplicated-span inventory."""
    return (
        _spark_shingles(spark, sf_dir)
        .groupBy(F.col("h").alias("gram_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )


DEDUP_SUBSTRING_SQL = f"""
WITH sh AS ({_DUCK_SHINGLES})
SELECT h AS gram_hash,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occ
FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
"""


def substring_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_grams, n_dup_grams, dup_rate): per-document share of
    shingles that also appear in ANOTHER document (cross-doc only — a
    span repeated within one doc is repetition, not duplication, and
    ``quality_repetition`` owns that signal). Docs shorter than K tokens
    report (0, 0, 0.0). The shingle spine feeds both the dup-hash
    aggregate and the per-doc join, so it is persisted (tracked,
    released when the next key starts) — one tokenize pass, not two."""
    sh = tracked_persist(_spark_shingles(spark, sf_dir))
    dup = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    per_doc = (
        sh.join(dup.withColumn("is_dup", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.expr("CASE WHEN is_dup = 1 THEN 1 ELSE 0 END")).alias(
                "n_dup_grams"
            ),
        )
    )
    docs = read_table(spark, sf_dir, "documents", parallel=True).select("doc_id")
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.expr("coalesce(n_grams, 0L)").alias("n_grams"),
            F.expr("coalesce(n_dup_grams, 0L)").alias("n_dup_grams"),
            F.expr(
                "CASE WHEN coalesce(n_grams, 0L) = 0 THEN cast(0.0 as double)"
                " ELSE round(cast(coalesce(n_dup_grams, 0L) as double)"
                "      / cast(n_grams as double), 6) END"
            ).alias("dup_rate"),
        )
    )


SUBSTRING_DUP_RATE_SQL = f"""
WITH sh AS ({_DUCK_SHINGLES}),
dup AS (
  SELECT h FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
per_doc AS (
  SELECT sh.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS n_dup_grams
  FROM sh LEFT JOIN dup USING (h)
  GROUP BY 1
)
SELECT d.doc_id,
       cast(coalesce(p.n_grams, 0) AS bigint) AS n_grams,
       cast(coalesce(p.n_dup_grams, 0) AS bigint) AS n_dup_grams,
       CASE WHEN coalesce(p.n_grams, 0) = 0 THEN cast(0.0 AS double)
            ELSE round(cast(coalesce(p.n_dup_grams, 0) AS double)
                 / cast(p.n_grams AS double), 6) END AS dup_rate
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


SPANDUP_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_substring": dedup_substring,
    "substring_dup_rate": substring_dup_rate,
}

SPANDUP_ORACLES: dict[str, str] = {
    "dedup_substring": DEDUP_SUBSTRING_SQL,
    "substring_dup_rate": SUBSTRING_DUP_RATE_SQL,
}
