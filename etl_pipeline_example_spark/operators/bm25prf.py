"""BM25 with pseudo-relevance feedback (PRF / Rocchio-style query
expansion) — the second IR pipeline stage over the certified bm25
spine.

Classic two-pass retrieval (Robertson's okapi + blind feedback): run
the first-pass ranker, assume its top-R results are relevant, mine
expansion terms from them, re-score with the expanded weighted query.
The arithmetic stays on the bm25 fixed-point grid (operators/bm25.py
— the same odds-IDF contrib formula, DECIMAL-exact, no floats before
the boundary), so the DuckDB oracle reproduces the whole two-pass
pipeline bit-for-bit:

- pass 1: the exact ``bm25_rank`` scoring (same spine: impact-pruned
  df ≤ 32 bigram postings, 44/20/6/18 fixed-point constants), top
  R = BM25_K = 3 feedback docs per query;
- expansion mining: rare bigrams of the feedback docs, minus the
  query's own bigrams, scored by VOTES (how many of the R feedback
  docs contain the term, 1..3); top E = 4 per query by (votes desc,
  term asc) — a WindowGroupLimit rank filter;
- pass 2: weighted re-score over original terms (weight 4) plus
  expansion terms (weight = votes ≤ 3 — original terms always
  outweigh borrowed ones), score2 = Σ contrib·w summed in
  DECIMAL(38,0); final score rendered double at the boundary as
  score2 / (4·10^6), so a query with no viable expansion reproduces
  its pass-1 ranking at the same numeric scale.

A query whose feedback docs yield no admissible expansion terms
still re-ranks (pure weight-4 original terms); n_exp reports how
many matched expansion terms actually contributed per result row.

Scale shape: the bigram spine is persisted ONCE and feeds both
passes (postings, df census, query terms, feedback mining); both
rank selections are WindowGroupLimit; the feedback join fans out at
most R·E rows per query. Same class as retrieval_agreement — a
composition over the certified retriever, roughly 2× its cost.

Reference: N/A (305-LoC Glue ETL); LLM-pipeline surface, SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.bm25 import (
    BM25_DF_MAX,
    BM25_K,
    BM25_SCALE,
    _DEC,
)
from etl_pipeline_example_spark.operators.decontam import EVAL_SOURCE
from etl_pipeline_example_spark.operators.hashing import (
    duck_tokens,
    spark_tokens,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

PRF_R = BM25_K  # feedback docs per query (pass-1 top-K)
PRF_E = 4  # expansion terms per query
PRF_W_ORIG = 4  # weight of original query terms (expansion: votes 1..3)

_CONTRIB_SPARK = (
    f"CAST(CAST({BM25_SCALE} AS {_DEC}) * 44 * len_total * tf"
    f"       * (2 * n_docs - 2 * df + 1) AS {_DEC})"
    f" div CAST((CAST(20 AS {_DEC}) * len_total * tf"
    f"            + 6 * len_total + 18 * dl * n_docs)"
    f"           * (2 * df + 1) AS {_DEC})"
)


def bm25_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, n_terms, n_exp, score, rank): top-K results
    per eval query after one round of pseudo-relevance feedback over
    the fixed-point BM25 ranker."""
    par = spark.sparkContext.defaultParallelism
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    big = tracked_persist(
        docs.select(
            "doc_id", "source", F.expr(spark_tokens("text")).alias("tk")
        )
        .select(
            "doc_id",
            "source",
            F.size("tk").alias("dl"),
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
        .repartition(par, "term")
    )
    # Eager fill: the two PRF passes hold ~9 independent plan
    # references to big-derived subtrees, and before the cache filled
    # each materialized its OWN copy of the tokenize+bigram+explode
    # spine (profiler: nine concurrent ~380 ms duplicate 65-task jobs
    # saturating the session). One count() fills the cache exactly
    # once; every consumer below then reads it.
    big.count()
    cand = big.filter(F.col("source") != EVAL_SOURCE)
    cstats = F.broadcast(
        read_table(spark, sf_dir, "documents")
        .filter(F.col("source") != EVAL_SOURCE)
        .select(F.size(F.expr(spark_tokens("text"))).alias("dl"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("len_total"),
        )
    )
    # persisted: postings and rare feed BOTH scoring passes (and rare
    # additionally the vote gate), qterms feeds pass 1 + votes + the
    # pass-2 union — unpersisted, each reference re-ran the aggregate
    # over the cached spine as its own job.
    postings = tracked_persist(
        cand.groupBy("doc_id", "term", "dl").agg(
            F.count(F.lit(1)).alias("tf")
        )
    )
    doc_terms = cand.select("doc_id", "term").distinct()
    rare = tracked_persist(
        doc_terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= BM25_DF_MAX)
    )
    qterms = tracked_persist(
        big.filter(F.col("source") == EVAL_SOURCE)
        .select(F.col("doc_id").alias("query_id"), "term")
        .distinct()
    )

    def _score(wterms: DataFrame) -> DataFrame:
        """Σ contrib·w per (query, doc) over weighted query terms."""
        return (
            wterms.join(rare, "term")
            .join(postings, "term")
            .crossJoin(cstats)
            .select(
                "query_id",
                "doc_id",
                "w",
                F.expr(_CONTRIB_SPARK).alias("contrib"),
            )
            .repartition(par, "query_id")
            .groupBy("query_id", "doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_terms"),
                F.sum(
                    F.when(F.col("w") < PRF_W_ORIG, 1).otherwise(0)
                ).cast("bigint").alias("n_exp"),
                F.sum(
                    F.expr(f"CAST(contrib AS {_DEC}) * w")
                ).alias("s"),
            )
        )

    w1 = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("doc_id").asc()
    )
    fb = (
        _score(qterms.withColumn("w", F.lit(PRF_W_ORIG)))
        .withColumn("rank", F.row_number().over(w1))
        .filter(F.col("rank") <= PRF_R)
        .select("query_id", "doc_id")
    )
    votes = (
        fb.join(doc_terms, "doc_id")
        .join(rare.select("term"), "term")
        .join(qterms, ["query_id", "term"], "left_anti")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("term").asc()
    )
    exp = (
        votes.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= PRF_E)
        .select("query_id", "term", F.col("votes").alias("w"))
    )
    wterms2 = qterms.withColumn("w", F.lit(PRF_W_ORIG)).unionByName(exp)
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("doc_id").asc()
    )
    return (
        _score(wterms2)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= BM25_K)
        .select(
            "query_id",
            "doc_id",
            "n_terms",
            "n_exp",
            (
                F.expr("CAST(s AS DOUBLE)")
                / F.lit(float(PRF_W_ORIG * BM25_SCALE))
            ).alias("score"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


_CONTRIB_DUCK = (
    f"({BM25_SCALE}::HUGEINT * 44 * s.len_total * p.tf"
    "    * (2 * s.n_docs - 2 * r.df + 1))"
    " // ((20::HUGEINT * s.len_total * p.tf"
    "       + 6 * s.len_total + 18 * p.dl * s.n_docs)"
    "     * (2 * r.df + 1))"
)

BM25_PRF_SQL = f"""
WITH big AS (
  SELECT doc_id, source, unnest(
           CASE WHEN len(tk) >= 2 THEN
             list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
           ELSE [] END) AS term,
         len(tk) AS dl
  FROM (SELECT doc_id, source, {duck_tokens("text")} AS tk FROM documents)
),
cstats AS (
  SELECT count(*) AS n_docs, sum(len(tk)) AS len_total
  FROM (SELECT {duck_tokens("text")} AS tk, source FROM documents)
  WHERE source != '{EVAL_SOURCE}'
),
postings AS (
  SELECT doc_id, term, dl, count(*) AS tf FROM big
  WHERE source != '{EVAL_SOURCE}' GROUP BY 1, 2, 3
),
doc_terms AS MATERIALIZED (
  SELECT DISTINCT doc_id, term FROM big WHERE source != '{EVAL_SOURCE}'
),
rare AS MATERIALIZED (
  SELECT term, count(*) AS df
  FROM doc_terms
  GROUP BY 1 HAVING count(*) <= {BM25_DF_MAX}
),
qterms AS MATERIALIZED (
  SELECT DISTINCT doc_id AS query_id, term FROM big
  WHERE source = '{EVAL_SOURCE}'
),
score1 AS (
  SELECT q.query_id, p.doc_id,
         sum({PRF_W_ORIG} * ({_CONTRIB_DUCK})) AS s
  FROM qterms q JOIN rare r USING (term)
  JOIN postings p USING (term) CROSS JOIN cstats s
  GROUP BY 1, 2
),
fb AS MATERIALIZED (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s DESC, doc_id ASC) AS rank
    FROM score1
  ) WHERE rank <= {PRF_R}
),
votes AS (
  SELECT f.query_id, d.term, count(*) AS votes
  FROM fb f
  JOIN doc_terms d USING (doc_id)
  JOIN rare r USING (term)
  WHERE NOT EXISTS (
    SELECT 1 FROM qterms q
    WHERE q.query_id = f.query_id AND q.term = d.term
  )
  GROUP BY 1, 2
),
exp AS MATERIALIZED (
  SELECT query_id, term, votes AS w FROM (
    SELECT query_id, term, votes,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY votes DESC, term ASC) AS rn
    FROM votes
  ) WHERE rn <= {PRF_E}
),
wterms2 AS (
  SELECT query_id, term, {PRF_W_ORIG} AS w FROM qterms
  UNION ALL
  SELECT query_id, term, w FROM exp
),
score2 AS (
  SELECT q.query_id, p.doc_id, count(*)::BIGINT AS n_terms,
         CAST(sum(CASE WHEN q.w < {PRF_W_ORIG} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_exp,
         sum(q.w * ({_CONTRIB_DUCK})) AS s
  FROM wterms2 q JOIN rare r USING (term)
  JOIN postings p USING (term) CROSS JOIN cstats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, n_terms, n_exp,
         CAST(s AS DOUBLE) / {PRF_W_ORIG * BM25_SCALE}.0 AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, doc_id ASC) AS rank
  FROM score2
)
SELECT query_id, doc_id, n_terms, n_exp, score, rank
FROM ranked WHERE rank <= {BM25_K}
ORDER BY query_id, rank
"""


BM25PRF_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "bm25_prf": bm25_prf,
}

BM25PRF_ORACLES: dict[str, str] = {
    "bm25_prf": BM25_PRF_SQL,
}
