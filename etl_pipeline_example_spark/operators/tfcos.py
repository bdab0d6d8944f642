"""Rare-term weighted-cosine near-duplicate pairs (lexical TF-IDF
family).

The dedup family covers set overlap (minhash/Jaccard), bit sketches
(simhash), embeddings (semdedup), prefixes/substrings/edit distance —
but not the classic IR notion: COSINE over weighted term-frequency
vectors, which catches "same content, different boilerplate ratio"
pairs that Jaccard under-scores. This operator is exact TF-IDF-style
cosine restricted to RARE terms, with integer-only vector arithmetic
so the DuckDB oracle matches bit-for-bit:

- term weight ``M_t = min(N div df_t, 2^20)`` — an integer IDF
  surrogate (monotone in 1/df, division exact in both engines; the
  cap bounds the products at any corpus size). No log anywhere (the
  house exactness rule);
- component = ``min(tf, 255) · M_t`` (tf saturation, the BM25
  practice — also bounds every product); dot products and squared
  norms are exact DECIMAL(38,0) sums over the rare-term components,
  rendered bigint at the boundary (the house decimal-internally
  rule);
- ``cos = dot / (sqrt(na2) · sqrt(nb2))`` — two correctly-rounded
  sqrts, one multiply, one divide, the same expression text both
  engines;
- terms are BIGRAMS (the bm25 spine discipline — unigram df is too
  dense to leave rare terms in a natural-language corpus); candidate
  pairs come from a df-capped posting join (df ≤ 32): rare bigrams
  both bound the join fan-out AND carry virtually all of the cosine
  mass under the M_t weighting — common terms are exactly the ones
  the weight floors.

Scale shape: one token explode + two keyed aggregates; the weighted
component frame is PERSISTED once and feeds all four consumers (pair
sides + norms); the pair join fans out at most df² ≤ 1024 per rare
term; no window over row-scale data; no global sort (final ordering
is on the ≤ |pairs| result set).

Reference: N/A (305-LoC Glue ETL); LLM-pipeline surface, SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import (
    duck_tokens,
    spark_tokens,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

TFCOS_DF_MAX = 32
TFCOS_WCAP = 1 << 20
TFCOS_MIN_SIM = 0.5

_COS = (
    "CAST(dot AS DOUBLE)"
    " / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))"
)


def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared, dot, cos_sim): document pairs with
    rare-term weighted cosine ≥ 0.5, ordered by similarity."""
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    terms = docs.select(
        "doc_id", F.expr(spark_tokens("text")).alias("tk")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(tk) >= 2 THEN"
                " transform(sequence(1, size(tk) - 1),"
                "   i -> concat(element_at(tk, i), ' ',"
                "               element_at(tk, i + 1)))"
                " ELSE array() END"
            )
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.least(F.count(F.lit(1)), F.lit(255)).alias("tf")
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    rare = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= TFCOS_DF_MAX)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.expr(
                f"least(n_docs div df, {TFCOS_WCAP})"
            ).alias("m"),
        )
    )
    # persisted once: four consumers (both pair sides + both norm
    # joins) would otherwise recompute the tokenize+tf+df subtree
    comp = tracked_persist(
        tf.join(rare, "term").select(
            "doc_id", "term", (F.col("tf") * F.col("m")).alias("c")
        )
    )
    dec = "decimal(38,0)"
    norms = comp.groupBy("doc_id").agg(
        F.sum((F.col("c") * F.col("c")).cast(dec))
        .cast("bigint")
        .alias("n2")
    )
    a = comp.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("c").alias("ca")
    )
    b = comp.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum((F.col("ca") * F.col("cb")).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("dot"),
        )
        .join(
            norms.select(
                F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2")
            ),
            "doc_a",
        )
        .join(
            norms.select(
                F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2")
            ),
            "doc_b",
        )
        .withColumn("cos_sim", F.expr(_COS))
        .filter(F.col("cos_sim") >= TFCOS_MIN_SIM)
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("n_shared").cast("int").alias("n_shared"),
        "dot", "cos_sim",
    ).orderBy(
        F.col("cos_sim").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    )


_TK = duck_tokens("text")

DEDUP_TFIDF_COSINE_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(
           CASE WHEN len(tk) >= 2 THEN
             list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
           ELSE [] END) AS term
  FROM (SELECT doc_id, {_TK} AS tk FROM documents)
),
tf AS (
  SELECT doc_id, term, least(count(*), 255) AS tf
  FROM terms GROUP BY 1, 2
),
rare AS (
  SELECT term,
         least((SELECT count(*) FROM documents) // df, {TFCOS_WCAP}) AS m
  FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1)
  WHERE df <= {TFCOS_DF_MAX}
),
comp AS (
  SELECT t.doc_id, t.term, t.tf * r.m AS c
  FROM tf t JOIN rare r ON r.term = t.term
),
norms AS (
  SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM comp GROUP BY 1
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS n_shared, CAST(sum(a.c * b.c) AS BIGINT) AS dot
  FROM comp a JOIN comp b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT p.doc_a, p.doc_b, p.n_shared, p.dot,
         na.n2 AS na2, nb.n2 AS nb2
  FROM pairs p
  JOIN norms na ON na.doc_id = p.doc_a
  JOIN norms nb ON nb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, CAST(n_shared AS int) AS n_shared, dot,
       {_COS} AS cos_sim
FROM scored
WHERE {_COS} >= {TFCOS_MIN_SIM}
ORDER BY cos_sim DESC, doc_a ASC, doc_b ASC
"""


TFCOS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_tfidf_cosine": dedup_tfidf_cosine,
}

TFCOS_ORACLES: dict[str, str] = {
    "dedup_tfidf_cosine": DEDUP_TFIDF_COSINE_SQL,
}
