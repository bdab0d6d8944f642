"""The composed cleaning funnel: gate → dedup → decontam → cap.

Every production corpus pipeline is a FUNNEL of the individual
operators this package ships — C4-style rule gating, exact content
dedup, benchmark decontamination, per-domain capping — applied in
sequence, and the number every pipeline owner actually watches is the
per-stage attrition. This operator runs the four stages as ONE composed
DataFrame plan over the train slice (``source != EVAL_SOURCE`` — the
eval slice is the decontamination reference, not corpus material) and
emits the funnel report: (stage, n_in, n_kept).

Stage semantics (each reusing the exact shared constructs of its
standalone operator, so the funnel IS the composition, not a fork):

  c4_gate       keep = the quality_c4 conjunction (operators/c4.py)
  exact_dedup   keep the lowest doc_id per md5(normalized text) group
  decontam      drop docs sharing ≥1 distinct word-5-gram with the
                eval slice (operators/decontam.py constants)
  domain_cap    ≤ DOMAIN_CAP survivors per source by deterministic
                hash rank (operators/domain.py constants)

Scale shape: one narrow (doc_id, source, flags…) spine flows through
the stages — text-derived values are reduced to hashes/booleans at
first touch, the dedup keep-set is a min-aggregate + semi join on the
content hash, the decontam probe is a semi join on 60-bit gram hashes,
and the final cap is the WindowGroupLimit rank of domain_cap. The
four n_kept counts aggregate the same spine four times; Spark reuses
the cached stage frames (persisted once, narrow).

No reference counterpart (the reference is a 305-LoC ETL example);
LLM-pipeline surface, SURVEY.md §2 row 35h.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.c4 import duck_c4_keep, spark_c4_keep
from etl_pipeline_example_spark.operators.decontam import EVAL_SOURCE, NGRAM_N
from etl_pipeline_example_spark.operators.domain import DOMAIN_CAP
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.operators.hashing import (
    duck_hexint,
    duck_norm_text,
    duck_tokens,
    spark_hexint,
    spark_norm_text,
    spark_tokens,
)
from etl_pipeline_example_spark.sources.readers import read_table


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-stage attrition report: (stage, n_in, n_kept), one row per
    stage in pipeline order."""
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    train = docs.filter(F.col("source") != EVAL_SOURCE)

    # --- stage 1: C4 rule gate (quality_c4's shared keep builder) ------
    base = train.select(
        "doc_id",
        "source",
        "text",
        F.expr(spark_tokens("text")).alias("tk"),
    )
    s1 = (
        base.filter(F.expr(spark_c4_keep()))
        .select(
            "doc_id",
            "source",
            "tk",
            F.expr(f"md5({spark_norm_text('text')})").alias("content_hash"),
        )
    )
    s1 = tracked_persist(s1)

    # --- stage 2: exact dedup (lowest doc_id survives its hash group) --
    keepers = s1.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    s2 = tracked_persist(s1.join(keepers, ["content_hash", "doc_id"], "left_semi"))

    # --- stage 3: decontamination (no 5-gram shared with eval slice) ---
    gram = spark_hexint(f"concat_ws(' ', slice(tk, j + 1, {NGRAM_N}))")
    eval_grams = (
        docs.filter(F.col("source") == EVAL_SOURCE)
        .select(F.expr(spark_tokens("text")).alias("tk"))
        .filter(F.expr(f"size(tk) >= {NGRAM_N}"))
        .select(
            F.explode(F.expr(f"sequence(0, size(tk) - {NGRAM_N})")).alias("j"), "tk"
        )
        .select(F.expr(gram).alias("gram"))
        .distinct()
    )
    contaminated = (
        s2.filter(F.expr(f"size(tk) >= {NGRAM_N}"))
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(0, size(tk) - {NGRAM_N})")).alias("j"),
            "tk",
        )
        .select("doc_id", F.expr(gram).alias("gram"))
        .join(eval_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    s3 = tracked_persist(s2.join(contaminated, "doc_id", "left_anti"))

    # --- stage 4: per-source frequency cap (domain_cap's rank) ---------
    h = spark_hexint("concat('cap:', cast(doc_id as string))")
    w = Window.partitionBy("source").orderBy(F.expr(h).asc(), F.col("doc_id").asc())
    s4 = (
        s3.withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= DOMAIN_CAP)
    )

    # One count job per frame (each count below fed two report cells —
    # the duplicate .count() calls were extra scheduler round-trips),
    # and the independent train.count() overlaps the s1→s4 chain from a
    # driver thread (guide §2.6: back-fill the stage tail with the next
    # independent job; job descriptions are thread-local).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut_train = pool.submit(train.count)
        n1, n2, n3, n4 = s1.count(), s2.count(), s3.count(), s4.count()
        n_train = fut_train.result()
    counts = [
        ("1_c4_gate", n_train, n1),
        ("2_exact_dedup", n1, n2),
        ("3_decontam", n2, n3),
        ("4_domain_cap", n3, n4),
    ]
    return spark.createDataFrame(counts, "stage string, n_in bigint, n_kept bigint")


CURATION_FUNNEL_SQL = f"""
WITH train AS (
  SELECT doc_id, source, text, {duck_tokens("text")} AS tk
  FROM documents WHERE source != '{EVAL_SOURCE}'
),
s1 AS (
  SELECT doc_id, source, tk,
         md5({duck_norm_text("text")}) AS content_hash
  FROM train
  WHERE {duck_c4_keep()}
),
s2 AS (
  SELECT s1.* FROM s1
  JOIN (SELECT content_hash, min(doc_id) AS doc_id FROM s1 GROUP BY 1) k
    USING (content_hash, doc_id)
),
eval_grams AS (
  SELECT DISTINCT
         {duck_hexint(f"array_to_string(tk[j + 1 : j + {NGRAM_N}], ' ')")} AS gram
  FROM (SELECT {duck_tokens("text")} AS tk FROM documents
        WHERE source = '{EVAL_SOURCE}') t,
       (SELECT unnest(range(0, (SELECT coalesce(max(len({duck_tokens("text")})), 0)
                                FROM documents))) AS j)
  WHERE len(tk) >= {NGRAM_N} AND j <= len(tk) - {NGRAM_N}
),
contaminated AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id,
           {duck_hexint(f"array_to_string(tk[j + 1 : j + {NGRAM_N}], ' ')")} AS gram
    FROM s2,
         (SELECT unnest(range(0, (SELECT coalesce(max(len({duck_tokens("text")})), 0)
                                  FROM documents))) AS j)
    WHERE len(tk) >= {NGRAM_N} AND j <= len(tk) - {NGRAM_N}
  ) g WHERE gram IN (SELECT gram FROM eval_grams)
),
s3 AS (
  SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
s4 AS (
  SELECT * FROM (
    SELECT doc_id, source,
           row_number() OVER (
             PARTITION BY source
             ORDER BY {duck_hexint("concat('cap:', cast(doc_id as varchar))")}, doc_id
           ) AS cap_rank
    FROM s3
  ) WHERE cap_rank <= {DOMAIN_CAP}
)
SELECT '1_c4_gate' AS stage, (SELECT count(*) FROM train) AS n_in,
       (SELECT count(*) FROM s1) AS n_kept
UNION ALL
SELECT '2_exact_dedup', (SELECT count(*) FROM s1), (SELECT count(*) FROM s2)
UNION ALL
SELECT '3_decontam', (SELECT count(*) FROM s2), (SELECT count(*) FROM s3)
UNION ALL
SELECT '4_domain_cap', (SELECT count(*) FROM s3), (SELECT count(*) FROM s4)
"""


FUNNEL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "curation_funnel": curation_funnel,
}

FUNNEL_ORACLES: dict[str, str] = {
    "curation_funnel": CURATION_FUNNEL_SQL,
}
