"""Reciprocal-rank fusion of the two registered retrievers.

With two ranked retrievers (BM25, shingle overlap) and an agreement
audit, the production move is to FUSE them: RRF (Cormack et al. '09)
scores each document Σ 1/(k + rank_i) over the lists that retrieved
it — the embarrassingly simple ensemble that routinely beats either
scorer alone and needs no score calibration, only ranks.

Exactness: ranks are small integers, k = 60 is the literature
constant, and the score is a FIXED-ORDER two-term scalar expression
``1.0/(60 + rank_bm) + 1.0/(60 + rank_ov)`` (missing list → that term
is exactly 0.0) written with identical text in both engines — IEEE
division and one addition of the same two doubles are bit-identical
cross-engine (the doc_fingerprint fixed-order discipline; this is NOT
data-dependent float summation, which stays banned). Ties break on
doc_id.

Scale: inputs are top-K-per-query frames (≤ K·|queries| rows each);
the fusion is one full-outer join + a query_id-partitioned rank-K
window (WindowGroupLimit-prunable). Cost is dominated by the two
certified retrievers.

Reference: N/A (305-LoC Glue ETL); LLM-pipeline surface, SURVEY.md §2.
Registered beyond the round-15 grading window — first driver slot
round 16.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.bm25 import (
    BM25_RANK_SQL,
    bm25_rank,
)
from etl_pipeline_example_spark.operators.retrieval import (
    RETRIEVE_OVERLAP_SQL,
    retrieve_overlap,
)

RRF_K = 60  # the Cormack et al. constant
RRF_TOP = 3  # fused results per query

# Spark parses a bare 1.0 literal as DECIMAL and 0.0 likewise — the
# casts pin both engines to the same IEEE double division/addition
# (values identical; only the literal spelling differs per dialect)
_SCORE_SPARK = (
    "(CASE WHEN rank_bm IS NULL THEN CAST(0 AS DOUBLE)"
    f" ELSE CAST(1 AS DOUBLE) / ({RRF_K} + rank_bm) END)"
    " + (CASE WHEN rank_ov IS NULL THEN CAST(0 AS DOUBLE)"
    f" ELSE CAST(1 AS DOUBLE) / ({RRF_K} + rank_ov) END)"
)
_SCORE_DUCK = (
    "(CASE WHEN rank_bm IS NULL THEN 0.0"
    f" ELSE 1.0 / ({RRF_K} + rank_bm) END)"
    " + (CASE WHEN rank_ov IS NULL THEN 0.0"
    f" ELSE 1.0 / ({RRF_K} + rank_ov) END)"
)


def retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, rank_bm, rank_ov, rrf, rank): top fused
    results per query under reciprocal-rank fusion of bm25_rank and
    retrieve_overlap; docs missing from one list contribute 0 from it."""
    # bm25_rank's posting cache stays live until the fused plan
    # materializes (simcore releases it when the next key starts) — the
    # postings frame is referenced several times inside its own
    # pipeline, and an unpinned cache silently recomputes per reference.
    bm = bm25_rank(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("rank_bm")
    )
    ov = retrieve_overlap(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("rank_ov")
    )
    fused = bm.join(ov, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "rank_bm",
        "rank_ov",
        F.expr(_SCORE_SPARK).alias("rrf"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.select(
            "query_id",
            "doc_id",
            "rank_bm",
            "rank_ov",
            "rrf",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= RRF_TOP)
        .orderBy("query_id", "rank")
    )


RETRIEVAL_RRF_SQL = f"""
WITH bm AS (SELECT query_id, doc_id, rank AS rank_bm
            FROM ({BM25_RANK_SQL})),
ov AS (SELECT query_id, doc_id, rank AS rank_ov
       FROM ({RETRIEVE_OVERLAP_SQL})),
fused AS (
  SELECT coalesce(bm.query_id, ov.query_id) AS query_id,
         coalesce(bm.doc_id, ov.doc_id) AS doc_id,
         rank_bm, rank_ov,
         {_SCORE_DUCK} AS rrf
  FROM bm FULL OUTER JOIN ov
    ON bm.query_id = ov.query_id AND bm.doc_id = ov.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, rank_bm, rank_ov, rrf, rank
FROM ranked WHERE rank <= {RRF_TOP}
ORDER BY query_id, rank
"""


RRF_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "retrieval_rrf": retrieval_rrf,
}

RRF_ORACLES: dict[str, str] = {
    "retrieval_rrf": RETRIEVAL_RRF_SQL,
}
