"""Bloom-filter decontamination gate with measured false-positive rate.

The approximate-structure counterpart of ``contamination_ngram``: a
real deployment screens 100 TB of training shards against benchmark
n-grams with a BROADCAST BIT ARRAY, not a shuffle join — the filter is
KBs, rides to every executor, and a membership probe is three bit
tests. The catch is false positives, so this operator runs the bloom
gate AND the exact join side-by-side and reports, per source, how many
docs each flags: the measured FPR of the deployed parameters, not the
textbook formula. Bloom membership has no false negatives (an exact
match's bits are set by construction), so ``n_false_pos`` is exactly
``n_bloom - n_exact``.

Determinism: the filter is NOT Spark's ``bloomFilter`` sketch (whose
bit layout is engine-private) — bit positions are three disjoint
16-bit SLICES of the shared cross-engine md5-hexint gram hash
(``pos_i = (gram >> 16·i) mod 65536``), so both engines compute the
identical bit set and the identical probe outcome, bit for bit. All
outputs are exact integers.

Gram construction is IMPORTED from the frozen decontam module
(composition, not fork — decontam.py stays byte-identical).

Scale shape: the bit set is ≤ 65536 rows (≤ 0.5 MB of longs; a real
deployment packs it into a bitmap — the row form keeps the oracle
trivially mirrorable) and
broadcast; the probe is three successive broadcast LEFT SEMI joins on
the train gram stream — no shuffle, progressively filtering; only the
final distinct-doc reductions shuffle narrow (doc_id) rows. The exact
side reuses ``contamination_ngram``'s AQE-decided join. Text never
moves.

No reference counterpart (the reference is a 305-LoC Glue ETL
example); LLM-pipeline surface, SURVEY.md §2. Registered beyond the
round-9 grading window — first driver slot round 10.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.decontam import (
    _DUCK_GRAMS,
    EVAL_SOURCE,
    _spark_grams,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

BLOOM_BITS = 65536  # 2^16 address space, one shared bit array
BLOOM_K = 3  # disjoint 16-bit slices of the 60-bit gram hash


def _spark_pos(i: int) -> str:
    return f"pmod(gram div {BLOOM_BITS ** i}, {BLOOM_BITS})"


def _duck_pos(i: int) -> str:
    return f"(gram // {BLOOM_BITS ** i}) % {BLOOM_BITS}"


def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_bloom, n_exact, n_false_pos): per train
    source, docs flagged by the broadcast bloom gate vs the exact
    n-gram join — the measured FPR panel of the deployed filter."""
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    train = docs.filter(F.col("source") != EVAL_SOURCE)
    eval_docs = docs.filter(F.col("source") == EVAL_SOURCE)

    # two consumers each (bits + exact probe / bloom + exact chains);
    # explicit key-partitioning at the session's parallelism so the
    # downstream distincts/joins reuse ONE bounded exchange instead of
    # inheriting a wide default shuffle width (drivercheck convention)
    dp = spark.sparkContext.defaultParallelism
    eval_grams = tracked_persist(
        _spark_grams(eval_docs)
        .select("gram")
        .repartition(dp, "gram")
        .distinct()
    )
    train_grams = tracked_persist(
        _spark_grams(train).repartition(dp, "doc_id")
    )

    bits = (
        eval_grams.select(
            F.explode(
                F.expr(
                    "array("
                    + ", ".join(_spark_pos(i) for i in range(BLOOM_K))
                    + ")"
                )
            ).alias("bit")
        )
        .distinct()
    )
    cand = train_grams
    for i in range(BLOOM_K):
        cand = cand.join(
            F.broadcast(bits.withColumnRenamed("bit", f"b{i}")),
            F.expr(_spark_pos(i)) == F.col(f"b{i}"),
            "left_semi",
        )
    bloom_docs = cand.select("doc_id").distinct().withColumn(
        "bloom", F.lit(1)
    )
    exact_docs = (
        train_grams.join(eval_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("exact", F.lit(1))
    )
    return (
        train.select("doc_id", "source")
        .join(bloom_docs, "doc_id", "left")
        .join(exact_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr("coalesce(bloom, 0)")).alias("n_bloom"),
            F.sum(F.expr("coalesce(exact, 0)")).alias("n_exact"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_bloom",
            "n_exact",
            "n_bloom - n_exact AS n_false_pos",
        )
        .orderBy("source")
    )


_EG = _DUCK_GRAMS.format(src_pred=f"source = '{EVAL_SOURCE}'")
_TG = _DUCK_GRAMS.format(src_pred=f"source <> '{EVAL_SOURCE}'")

CONTAMINATION_BLOOM_SQL = f"""
WITH eg AS (SELECT DISTINCT gram FROM ({_EG})),
tg AS ({_TG}),
bits AS (
  SELECT DISTINCT bit FROM (
    {" UNION ALL ".join(f"SELECT {_duck_pos(i)} AS bit FROM eg" for i in range(BLOOM_K))}
  )
),
bloom_docs AS (
  SELECT DISTINCT doc_id FROM tg
  WHERE {" AND ".join(f"{_duck_pos(i)} IN (SELECT bit FROM bits)" for i in range(BLOOM_K))}
),
exact_docs AS (
  SELECT DISTINCT doc_id FROM tg WHERE gram IN (SELECT gram FROM eg)
)
SELECT d.source,
       count(*) AS n_docs,
       cast(sum(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS bigint) AS n_bloom,
       cast(sum(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS bigint) AS n_exact,
       cast(sum(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            - sum(CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS bigint) AS n_false_pos
FROM documents d
LEFT JOIN bloom_docs b ON d.doc_id = b.doc_id
LEFT JOIN exact_docs x ON d.doc_id = x.doc_id
WHERE d.source <> '{EVAL_SOURCE}'
GROUP BY 1
ORDER BY 1
"""


BLOOMGATE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "contamination_bloom": contamination_bloom,
}

BLOOMGATE_ORACLES: dict[str, str] = {
    "contamination_bloom": CONTAMINATION_BLOOM_SQL,
}
