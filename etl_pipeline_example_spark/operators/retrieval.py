"""Shingle-overlap lexical retrieval (posting-list top-k search).

Search-shaped access to the training corpus — "which documents match
this query text" — backs two production workflows: retrieval-based
decontamination (find the training docs an eval item could have leaked
from, then INSPECT them — ``contamination_ngram`` only counts overlap)
and data-attribution audits. Full BM25 needs log-idf (a cross-engine
transcendental, banned by this repo's oracle exactness rules); ranking
by the COUNT of shared low-df shingles keeps the arithmetic
integer-exact while preserving the inverted-index plan shape a lexical
search engine runs. Shingles (``RETR_N``-token grams, the decontam
unit) rather than unigrams because discrimination lives in word
ORDER — on this corpus every unigram is stop-word-common (df ≥ 23)
while shingle df is 1–3.

Queries are the held-out ``EVAL_SOURCE`` documents (the decontam
convention — `operators/decontam.py:40`); candidates are the rest of
the corpus. A shingle participates only if its candidate-side document
frequency is ≤ ``RETR_DF_MAX``, so every posting list is bounded and
the join fans out ≤ df_max rows per query shingle — Σ cost is linear
in query shingles, never |Q|×|D|. Top-``RETR_K`` per query with a
deterministic (score desc, doc_id asc) tie-break.

Scale shape: the distinct (doc, shingle-hash) frames are two narrow
columns — text never shuffles; the df filter is a map-side-combined
aggregate; the candidate join is shingle-keyed with bounded fan-out;
the rank window partitions by query_id over ≤ df_max · |q shingles|
rows per query. At 100 TB the posting-list frame is the inverted
index a search engine would materialize anyway.

No reference counterpart (reference: glue_jobs/example_job/job.py);
LLM-pipeline surface, SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.decontam import EVAL_SOURCE
from etl_pipeline_example_spark.operators.hashing import duck_tokens, spark_tokens
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

RETR_N = 5  # tokens per shingle (the decontam unit)
RETR_DF_MAX = 10  # posting-list bound: more-common shingles are dropped
RETR_K = 3  # results returned per query


def retrieve_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, n_shared, rank): top-K candidate docs per
    eval query by count of shared low-df shingles (rank 1 = best)."""
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    # The inverted-index spine feeds three consumers (query side,
    # candidate side, df filter) — persist it once, tracked so it is
    # released when the next key starts. One explicit g-keyed
    # repartition bounds the shuffle width AND pre-clusters the frame
    # for every downstream g-keyed op (distinct, df groupBy, both joins
    # reuse the partitioning — no further g exchange in the plan).
    par = spark.sparkContext.defaultParallelism
    sh = tracked_persist(
        docs.select(
            "doc_id", "source", F.expr(spark_tokens("text")).alias("tk")
        )
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"CASE WHEN size(tk) >= {RETR_N} THEN"
                    f" transform(sequence(1, size(tk) - {RETR_N} + 1),"
                    f"   i -> md5(concat_ws(' ', slice(tk, i, {RETR_N}))))"
                    " ELSE array() END"
                )
            ).alias("g"),
        )
        .repartition(par, "g")
        .distinct()
    )
    qsh = sh.filter(F.col("source") == EVAL_SOURCE).select(
        F.col("doc_id").alias("query_id"), "g"
    )
    csh = sh.filter(F.col("source") != EVAL_SOURCE).select("doc_id", "g")
    rare = (
        csh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= RETR_DF_MAX)
        .select("g")
    )
    scored = (
        qsh.join(rare, "g", "left_semi")
        .join(csh, "g")
        .repartition(par, "query_id")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_shared").desc(), F.col("doc_id").asc()
    )
    return scored.select(
        "query_id", "doc_id", "n_shared", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= RETR_K)


RETRIEVE_OVERLAP_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, source,
         unnest(CASE WHEN len(tk) >= {RETR_N} THEN
             list_transform(range(1, len(tk) - {RETR_N} + 2),
               i -> md5(array_to_string(tk[i:i+{RETR_N}-1], ' ')))
           ELSE [] END) AS g
  FROM (SELECT doc_id, source, {duck_tokens("text")} AS tk FROM documents)
),
qsh AS (
  SELECT doc_id AS query_id, g FROM sh WHERE source = '{EVAL_SOURCE}'
),
csh AS (
  SELECT doc_id, g FROM sh WHERE source != '{EVAL_SOURCE}'
),
rare AS (
  SELECT g FROM csh GROUP BY 1 HAVING count(*) <= {RETR_DF_MAX}
),
scored AS (
  SELECT q.query_id, c.doc_id, count(*) AS n_shared
  FROM qsh q
  JOIN rare USING (g)
  JOIN csh c USING (g)
  GROUP BY 1, 2
)
SELECT query_id, doc_id, n_shared, cast(rank AS int) AS rank FROM (
  SELECT query_id, doc_id, n_shared,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_shared DESC, doc_id) AS rank
  FROM scored
)
WHERE rank <= {RETR_K}
"""


RETRIEVAL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "retrieve_overlap": retrieve_overlap,
}

RETRIEVAL_ORACLES: dict[str, str] = {
    "retrieve_overlap": RETRIEVE_OVERLAP_SQL,
}
