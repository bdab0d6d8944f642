"""CCNet-style corpus-trained language-model quality filtering.

Wenzek et al. 2020 (CCNet) rank Common Crawl documents by the
perplexity of a 5-gram KenLM trained on trusted text; low-probability
documents are dropped or down-bucketed. This module implements the same
self-supervised setup one order down — a character-trigram LM trained
on a deterministic hash-gated sample of the corpus itself (the
container has no KenLM) — as a pure DataFrame pipeline with a DuckDB
oracle computing the identical result.

No reference counterpart (the reference is a 305-LoC ETL example);
LLM-pipeline surface, SURVEY.md §2 row 29b.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import duck_hexint, spark_hexint
from etl_pipeline_example_spark.sources.readers import read_table

# CCNet-style character-LM quality score (Wenzek et al. 2020 use a
# 5-gram KenLM; the container has no KenLM, so the model is a char-
# TRIGRAM LM trained on a hash-gated sample of the corpus itself — the
# same self-supervised setup, one order down). Laplace-smoothed average
# trigram probability replaces log-perplexity as the score: it ranks
# identically for filtering purposes (rare-trigram docs score low) while
# staying exactly computable cross-engine — log() library ulps differ
# between engines, exact-decimal sums of 12-dp-rounded IEEE divisions do
# not.
LM_SAMPLE_MOD = 4  # 1-in-4 deterministic training sample
LM_KEEP_MIN = 0.0056  # near corpus p10, so the flag is non-vacuous


def quality_charlm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained char-trigram LM quality score + keep flag.

    Train: trigrams of the hash-gated sample docs → (tri, cnt) model —
    bounded by charset³ regardless of corpus size, so the model and its
    one-row (V, T) scalar both BROADCAST at any scale. Score: one
    explode over all docs, a broadcast left join to the model,
    p = round((cnt+1)/(T+V), 12) per trigram (IEEE division of exact
    integers — bit-identical in both engines), exact decimal per-doc
    sum, final 6-dp average. Shuffle carries only the map-side-combined
    (doc_id, n_tri, Σp) partials — at 100 TB this is two linear scans
    (train sample + score) with no wide row ever shuffled.

    Docs shorter than one trigram (< 3 chars) are excluded by contract.
    """
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    gate = spark_hexint("concat('lm:', cast(doc_id as string))")
    tri = "transform(sequence(1, length(txt) - 2), j -> substring(txt, j, 3))"
    base = docs.filter(F.expr("length(text) >= 3")).select(
        "doc_id", F.expr("lower(text)").alias("txt")
    )
    model = (
        base.filter(F.expr(f"pmod({gate}, {LM_SAMPLE_MOD}) = 0"))
        .select(F.explode(F.expr(tri)).alias("tri"))
        .groupBy("tri")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    scal = model.agg(F.count(F.lit(1)).alias("v"), F.sum("cnt").alias("t"))
    p = "round((coalesce(cnt, 0) + 1.0) / (t + v), 12)"
    scored = (
        base.select("doc_id", F.explode(F.expr(tri)).alias("tri"))
        .join(F.broadcast(model), "tri", "left")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum(F.expr(f"cast({p} as decimal(20,12))")).alias("sp"),
        )
    )
    score = "round(cast(sp as double) / n_tri, 6)"
    return scored.select(
        "doc_id",
        "n_tri",
        F.expr(score).alias("lm_score"),
        F.expr(f"{score} >= {LM_KEEP_MIN}").alias("keep"),
    )


def _charlm_oracle() -> str:
    gate = duck_hexint("concat('lm:', cast(doc_id as varchar))")
    score = "round(cast(sum(cast(round((coalesce(cnt, 0) + 1.0) / (t + v), 12) as decimal(20,12))) as double) / count(*), 6)"
    return f"""
WITH base AS (
  SELECT doc_id, lower(text) AS txt FROM documents WHERE length(text) >= 3
), toks AS (
  SELECT doc_id, unnest([substr(txt, j, 3) for j in range(1, length(txt) - 1)]) AS tri
  FROM base
), model AS (
  SELECT tri, count(*) AS cnt FROM toks
  WHERE {gate} % {LM_SAMPLE_MOD} = 0 GROUP BY 1
), scal AS (SELECT count(*) AS v, sum(cnt) AS t FROM model)
SELECT doc_id, count(*) AS n_tri,
       {score} AS lm_score,
       {score} >= {LM_KEEP_MIN} AS keep
FROM toks LEFT JOIN model USING (tri), scal
GROUP BY doc_id
"""


def quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: bucket every doc by where its LM
    score falls against the corpus 33rd/67th percentiles (head = most
    typical text — CCNet keeps head+middle for training and uses tail
    as the discard/low-trust slice).

    Scale shape: the scored frame is computed once (persisted — two
    consumers: the percentile scalar and the bucket projection), the
    cut points are a broadcast one-row scalar, and bucketing is a pure
    scan expression. Exact ``percentile`` shuffles the score list once;
    at 100 TB switch to ``approx_percentile`` (t-digest) unless the cut
    points are contractual."""
    from etl_pipeline_example_spark.operators.simcore import tracked_persist

    scored = tracked_persist(quality_charlm(spark, sf_dir).select("doc_id", "lm_score"))
    cuts = scored.agg(
        F.expr("round(percentile(lm_score, 0.33), 6)").alias("p33"),
        F.expr("round(percentile(lm_score, 0.67), 6)").alias("p67"),
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "lm_score",
        F.expr(
            "CASE WHEN lm_score >= p67 THEN 'head'"
            " WHEN lm_score >= p33 THEN 'middle'"
            " ELSE 'tail' END"
        ).alias("bucket"),
    )


def _buckets_oracle() -> str:
    return f"""
WITH qscored AS ({_charlm_oracle()}),
cuts AS (
  SELECT round(percentile_cont(0.33) WITHIN GROUP (ORDER BY lm_score), 6) AS p33,
         round(percentile_cont(0.67) WITHIN GROUP (ORDER BY lm_score), 6) AS p67
  FROM qscored
)
SELECT doc_id, lm_score,
       CASE WHEN lm_score >= p67 THEN 'head'
            WHEN lm_score >= p33 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM qscored, cuts
"""


CHARLM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "quality_charlm": quality_charlm,
    "quality_buckets": quality_buckets,
}

CHARLM_ORACLES: dict[str, str] = {
    "quality_charlm": _charlm_oracle(),
    "quality_buckets": _buckets_oracle(),
}
