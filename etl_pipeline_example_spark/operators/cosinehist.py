"""Similarity-landscape histogram over LSH candidate pairs.

Before picking a dedup threshold τ, look at the landscape: the
distribution of exact cosines among LSH-candidate pairs shows where
the near-dup mass sits and whether a clean valley separates it from
background similarity (no valley → banding parameters, not τ, are
the problem). This is the diagnostic that turns minhash_calibration's
THEORETICAL S-curve into a measured one for the embedding side.

Candidates come from the certified ``lsh_candidate_pairs`` blocking
(6 tables × 8 bits — the bucket-bounded pair space, never all
pairs); each candidate is scored with the shared-fold exact cosine
(6-dp pin, the ANN-family contract) and dropped into one of 20
fixed-width bins over [−1, 1] — the bin index is identical double
arithmetic in both engines, so the histogram is hash-exact.

Scale: corpus hashing is one shuffle-free projection against the
broadcast plane table; only id-pairs ride the candidate shuffle
(vectors join back for scoring); the histogram is a bounded 20-cell
map-side-combined fold.

Reference: N/A (305-LoC Glue ETL); LLM-pipeline surface, SURVEY.md
§2. Registered beyond the round-13 grading window — first driver
slot round 14.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.simcore import (
    _DUCK_SELF_NORM,
    _SPARK_DOT,
    _with_norm,
    tracked_persist,
)
from etl_pipeline_example_spark.operators.similarity import (
    _DUCK_SIGN_DOT,
    _PLANES,
    lsh_candidate_pairs,
)
from etl_pipeline_example_spark.sources.readers import read_table

CH_TABLES = 6
CH_BITS = 8
CH_BINS = 20


def embed_cosine_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bin, lo, n_pairs): 20-bin histogram of exact cosine similarity
    over the LSH candidate-pair space (bin k covers
    [−1 + k/10, −1 + (k+1)/10))."""
    emb = tracked_persist(
        _with_norm(
            read_table(spark, sf_dir, "embeddings", parallel=True),
            "embedding",
            "nrm",
        ).select("vec_id", "embedding", "nrm")
    )
    pairs = lsh_candidate_pairs(spark, emb, CH_TABLES, CH_BITS)
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    dot = _SPARK_DOT.format(a="e_a", b="e_b")
    scored = (
        pairs.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            F.expr(f"round(({dot}) / (n_a * n_b), 6)").alias("cosine")
        )
    )
    return (
        scored.select(
            F.expr(
                f"least({CH_BINS - 1},"
                " cast(floor((cosine + 1.0D) * 10.0D) as int))"
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bin",
            F.expr("-1.0D + cast(bin as double) / 10.0D").alias("lo"),
            "n_pairs",
        )
        .orderBy("bin")
    )


_CH_PLANES_TBL = "(VALUES " + ", ".join(
    f"({tp}, '{s}')" for tp, s in enumerate(_PLANES[: CH_TABLES * CH_BITS])
) + ") AS planes(tp, plane)"

EMBED_COSINE_HIST_SQL = f"""
WITH bits AS (
  SELECT vec_id, tp // {CH_BITS} AS tbl,
         CASE WHEN ({_DUCK_SIGN_DOT}) >= 0
              THEN (1::BIGINT << (tp % {CH_BITS})) ELSE 0::BIGINT END
           AS bitval
  FROM embeddings, {_CH_PLANES_TBL}
),
bucketed AS (
  SELECT vec_id, tbl, sum(bitval)::BIGINT AS bucket
  FROM bits GROUP BY vec_id, tbl
),
pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bucketed a JOIN bucketed b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
normed AS (
  SELECT vec_id, embedding, {_DUCK_SELF_NORM} AS nrm FROM embeddings
),
scored AS (
  SELECT round((list_sum([ cast(ea.embedding[i] as double)
                           * cast(eb.embedding[i] as double)
                           for i in range(1, len(ea.embedding) + 1) ]))
               / (ea.nrm * eb.nrm), 6) AS cosine
  FROM pairs
  JOIN normed ea ON ea.vec_id = pairs.vec_a
  JOIN normed eb ON eb.vec_id = pairs.vec_b
),
binned AS (
  SELECT least({CH_BINS - 1},
               cast(floor((cosine + 1.0) * 10.0) AS int)) AS bin
  FROM scored
)
SELECT bin,
       -1.0 + cast(bin AS double) / 10.0 AS lo,
       count(*) AS n_pairs
FROM binned
GROUP BY bin
ORDER BY bin
"""


COSINEHIST_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "embed_cosine_hist": embed_cosine_hist,
}

COSINEHIST_ORACLES: dict[str, str] = {
    "embed_cosine_hist": EMBED_COSINE_HIST_SQL,
}
