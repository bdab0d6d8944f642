"""Asymmetric containment near-dup: the subset-duplicate detector.

Jaccard-based dedup (``dedup_minhash``/``ngram_jaccard``) misses the
commonest real-world duplication shape: document B quoting or wholly
containing document A. If B = A + as much again, J(A,B) ≈ 0.5 — under
every Jaccard threshold — while containment C(A→B) = |A∩B|/|A| = 1.0.
Broder 1997 defines both; production pipelines (news quoting, license
text, forum reposts) need the asymmetric one.

Blocking is the inverted-index RARE-SHINGLE trick (plagiarism
detection's seed-and-extend, BLAST's seeding): candidate pairs must
share at least one shingle with document frequency ≤ ``DF_MAX``, so
every posting list in the candidate join is ≤ DF_MAX long and the
pair space is Σ df² ≤ DF_MAX · Σ df — linear in corpus shingles, no
Σ|bucket|² blowup — plus a ≥ ``CONT_MIN_SEEDS`` shared-rare-shingle
floor (single-seed chance collisions on random-ish text produced 10×
the candidates with zero extra recall; a genuine ≥ 0.8-containment
pair shares many rare shingles). Recall contract, stated: a pair
sharing ONLY ultra-common shingles is missed by design (such pairs are
boilerplate overlap, the thing ``boilerplate_chunks`` handles).

No reference counterpart (the reference is a 305-LoC ETL example);
LLM-pipeline surface, SURVEY.md §2 row 24a.
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

CONT_SHINGLE = 3  # word-3-gram shingles
CONT_DF_MAX = 5  # rare-shingle blocking bound
CONT_MIN_SEEDS = 2  # candidate pairs must share >= this many rare shingles
CONT_TAU = 0.8  # containment threshold


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, shared, n_a, n_b, cont_ab, cont_ba): ordered pairs
    (doc_a < doc_b) sharing a rare shingle where either direction's
    containment ≥ ``CONT_TAU``; cont_ab = shared/|A| (A inside B).

    Scale shape: one explode → distinct builds the (doc, shingle) set
    (persisted: three consumers), explicitly partitioned on the shingle
    hash at the session's core count — the df aggregate, the rare join,
    and the seed self-join all REUSE that one partitioning (zero
    further exchanges on sh), which is what keeps a 7-stage op usable
    under a vanilla 200-partition session (measured 32 s → 11 s cold).
    Candidates come from the df-bounded self-join — each rare shingle
    contributes ≤ DF_MAX² pairs, min-seed filtered — and exact scoring
    joins the full shingle sets of CANDIDATE docs only.
    """
    sh_hash = spark_hexint(f"concat_ws(' ', slice(tk, j + 1, {CONT_SHINGLE}))")
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    par = spark.sparkContext.defaultParallelism
    shingles = tracked_persist(
        docs.select("doc_id", F.expr(spark_tokens("text")).alias("tk"))
        .filter(F.expr(f"size(tk) >= {CONT_SHINGLE}"))
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(0, size(tk) - {CONT_SHINGLE})")).alias("j"),
            "tk",
        )
        .select("doc_id", F.expr(sh_hash).alias("sh"))
        .repartition(par, "sh")
        .distinct()
    )
    # Eagerly filled: the five plan references (sizes, df aggregate,
    # rare join, both exact-scoring sides) raced ~8 concurrent copies
    # of the tokenize+md5 shingle build before the cache filled
    # (profiler: eight near-identical ~0.5 s 32-task jobs). One count
    # runs the spine exactly once; every consumer reads the cache AND
    # reuses its (sh) hash partitioning.
    shingles.count()
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    rare = (
        shingles.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONT_DF_MAX)
        .select("sh")
    )
    rare_postings = shingles.join(rare, "sh")
    cands = (
        rare_postings.alias("a")
        .join(rare_postings.alias("b"), "sh")
        .filter(F.expr("a.doc_id < b.doc_id"))
        .groupBy(
            F.expr("a.doc_id").alias("doc_a"), F.expr("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("seeds"))
        .filter(F.col("seeds") >= CONT_MIN_SEEDS)
        .select("doc_a", "doc_b")
    )
    shared = (
        cands.join(shingles.alias("sa"), F.expr("doc_a = sa.doc_id"))
        .join(
            shingles.alias("sb"),
            F.expr("doc_b = sb.doc_id AND sa.sh = sb.sh"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "n_a",
            "n_b",
            F.expr("round(cast(shared as double) / cast(n_a as double), 6)").alias("cont_ab"),
            F.expr("round(cast(shared as double) / cast(n_b as double), 6)").alias("cont_ba"),
        )
        .filter(F.expr(f"cont_ab >= {CONT_TAU} OR cont_ba >= {CONT_TAU}"))
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH tk_tbl AS (
  SELECT doc_id, {duck_tokens("text")} AS tk FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id,
         {duck_hexint(f"array_to_string(tk[j + 1 : j + {CONT_SHINGLE}], ' ')")} AS sh
  FROM tk_tbl,
       (SELECT unnest(range(0, (SELECT coalesce(max(len(tk)), 0) FROM tk_tbl))) AS j)
  WHERE len(tk) >= {CONT_SHINGLE} AND j <= len(tk) - {CONT_SHINGLE}
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY 1),
rare AS (
  SELECT sh FROM shingles GROUP BY 1 HAVING count(*) <= {CONT_DF_MAX}
),
rp AS (SELECT s.* FROM shingles s JOIN rare USING (sh)),
cands AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rp a JOIN rp b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {CONT_MIN_SEEDS}
),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*) AS shared
  FROM cands c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b, s.shared, za.n_sh AS n_a, zb.n_sh AS n_b,
       round(cast(s.shared AS double) / cast(za.n_sh AS double), 6) AS cont_ab,
       round(cast(s.shared AS double) / cast(zb.n_sh AS double), 6) AS cont_ba
FROM shared s
JOIN sizes za ON za.doc_id = s.doc_a
JOIN sizes zb ON zb.doc_id = s.doc_b
WHERE round(cast(s.shared AS double) / cast(za.n_sh AS double), 6) >= {CONT_TAU}
   OR round(cast(s.shared AS double) / cast(zb.n_sh AS double), 6) >= {CONT_TAU}
"""


CONTAINMENT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_containment": dedup_containment,
}

CONTAINMENT_ORACLES: dict[str, str] = {
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
}
