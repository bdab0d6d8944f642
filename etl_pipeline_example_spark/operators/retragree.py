"""Retrieval scorer agreement: BM25 vs shingle-overlap, per query.

With two ranked retrievers registered (``retrieve_overlap`` — shared
low-df shingle counts; ``bm25_rank`` — fixed-point odds-IDF BM25 over
bigram postings), the evaluation a practitioner actually runs is their
AGREEMENT: per held-out query, how many of the top-K documents do the
two scorers share, and do they agree on the winner? Low agreement
flags queries whose retrieval is unstable under scoring choice — the
standard ensemble-disagreement audit (the ``quality_agreement``
precedent applied to ranking), and the practical guide for which
retrieved contexts to trust in attribution/decontamination review.

BY COMPOSITION of two certified ops (the ``split_leakage`` pattern):
both inputs are the registered operators themselves; the oracle nests
both ops' green oracle SQL as parenthesized CTE bodies. Counting and
rank-1 comparison are integer/boolean only.

Scale: both inputs are top-K-per-query frames (rows ≤ K·|queries|);
the agreement join/aggregates are keyed on query_id over those small
frames — cost is dominated by the two certified retrievers, which are
posting-list-bounded by construction.

Reference: N/A (305-LoC Glue ETL); LLM-pipeline surface, SURVEY.md §2.
Registered beyond the round-15 grading window — first driver slot
round 16.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.bm25 import (
    BM25_RANK_SQL,
    bm25_rank,
)
from etl_pipeline_example_spark.operators.retrieval import (
    RETRIEVE_OVERLAP_SQL,
    retrieve_overlap,
)


def retrieval_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_bm25, n_overlap, n_common, rank1_agree): top-K set
    overlap and winner agreement between the two registered retrievers;
    queries retrieved by only one scorer report the other side as 0.

    COMPOSITE: bm25_rank's tracked posting caches stay live until the
    agreement plan materializes (simcore releases them when the next key
    starts), so bm/ov's plan references read them instead of re-running
    the whole retriever. Lazy only (r17: eager persists of the two top-K
    frames here measured SLOWER and were reverted)."""
    bm = bm25_rank(spark, sf_dir).select("query_id", "doc_id", "rank")
    ov = retrieve_overlap(spark, sf_dir).select("query_id", "doc_id", "rank")
    nb = bm.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_bm25"),
        F.max(F.when(F.col("rank") == 1, F.col("doc_id"))).alias("top_bm"),
    )
    no = ov.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.max(F.when(F.col("rank") == 1, F.col("doc_id"))).alias("top_ov"),
    )
    common = (
        bm.select("query_id", "doc_id")
        .join(ov.select("query_id", "doc_id"), ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        nb.join(no, "query_id", "full_outer")
        .join(common, "query_id", "left")
        .select(
            "query_id",
            F.expr("coalesce(n_bm25, 0L)").alias("n_bm25"),
            F.expr("coalesce(n_overlap, 0L)").alias("n_overlap"),
            F.expr("coalesce(n_common, 0L)").alias("n_common"),
            F.expr(
                "top_bm IS NOT NULL AND top_ov IS NOT NULL"
                " AND top_bm = top_ov"
            ).alias("rank1_agree"),
        )
        .orderBy("query_id")
    )


RETRIEVAL_AGREEMENT_SQL = f"""
WITH bm AS (SELECT * FROM ({BM25_RANK_SQL})),
ov AS (SELECT * FROM ({RETRIEVE_OVERLAP_SQL})),
nb AS (
  SELECT query_id, count(*) AS n_bm25,
         max(CASE WHEN rank = 1 THEN doc_id END) AS top_bm
  FROM bm GROUP BY 1
),
no AS (
  SELECT query_id, count(*) AS n_overlap,
         max(CASE WHEN rank = 1 THEN doc_id END) AS top_ov
  FROM ov GROUP BY 1
),
common AS (
  SELECT b.query_id, count(*) AS n_common
  FROM (SELECT query_id, doc_id FROM bm) b
  JOIN (SELECT query_id, doc_id FROM ov) o USING (query_id, doc_id)
  GROUP BY 1
)
SELECT coalesce(nb.query_id, no.query_id) AS query_id,
       cast(coalesce(nb.n_bm25, 0) AS bigint) AS n_bm25,
       cast(coalesce(no.n_overlap, 0) AS bigint) AS n_overlap,
       cast(coalesce(c.n_common, 0) AS bigint) AS n_common,
       (nb.top_bm IS NOT NULL AND no.top_ov IS NOT NULL
        AND nb.top_bm = no.top_ov) AS rank1_agree
FROM nb FULL OUTER JOIN no ON nb.query_id = no.query_id
LEFT JOIN common c ON coalesce(nb.query_id, no.query_id) = c.query_id
ORDER BY query_id
"""


RETRAGREE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "retrieval_agreement": retrieval_agreement,
}

RETRAGREE_ORACLES: dict[str, str] = {
    "retrieval_agreement": RETRIEVAL_AGREEMENT_SQL,
}
