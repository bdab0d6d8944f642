"""Fuzzy benchmark decontamination: MinHash train↔eval overlap.

``contamination_ngram`` (operators/decontam.py) catches exact 5-gram
overlap — the GPT-3-appendix method. Real leakage is often paraphrased
or truncated, where exact n-grams miss; the standard stronger tool (Lee
et al. 2022 "Deduplicating Training Data", and the fuzzy-dedup pass in
most recent data recipes) is MinHash similarity between every training
document and the eval set. This module flags each train doc whose
estimated-then-verified Jaccard against ANY eval doc reaches τ and
reports its best-matching eval doc.

Spark-first shape (reusing the banding design of
``operators/dedup.py:dedup_minhash`` — Kirsch–Mitzenmacher double
hashing, one md5 per shingle, 16 signature mins as map-side-combined
scalar aggregates):

- one shingle explode over the whole table, tagged with ``source`` —
  both slices, the signature pass, and both verify sides read the one
  persisted table (tracked; released when the next key starts);
- band buckets join TRAIN × EVAL on (band, bucket) — not a self-join:
  candidates are bounded by eval-side bucket occupancy, and a real
  benchmark eval set is tiny, so AQE broadcasts it (the hint stays off
  for the same reason as ``contamination_ngram``: this synthetic eval
  slice is a source predicate that scales with the corpus);
- exact-Jaccard verification only within candidates, then one
  per-train-doc argmax (row_number over (jaccard DESC, eval_doc_id) —
  WindowGroupLimit prunes map-side).

The DuckDB oracle reproduces candidate generation bit-for-bit through
the shared md5 hash construct.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.dedup import (
    MH_BANDS,
    MH_NUM_HASHES,
    MH_PRIME,
    MH_ROWS,
    SHINGLE_K,
)
from etl_pipeline_example_spark.operators.decontam import EVAL_SOURCE
from etl_pipeline_example_spark.operators.hashing import (
    duck_h32,
    duck_tokens,
    spark_h32,
    spark_tokens,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

CONTAM_MH_TAU = 0.5


def contamination_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, eval_doc_id, jaccard): train docs whose verified Jaccard
    with their best-matching eval doc is ≥ τ — the fuzzy-decontam drop
    list with provenance."""
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    toks = spark_tokens("text")
    shingles = tracked_persist(
        docs.select("doc_id", "source", F.expr(toks).alias("tk"))
        .filter(F.expr(f"size(tk) >= {SHINGLE_K}"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(0, size(tk) - {SHINGLE_K}),"
                    f" j -> concat_ws(' ', slice(tk, j + 1, {SHINGLE_K}))))"
                )
            ).alias("shingle"),
        )
    )
    hashed = shingles.select(
        "doc_id",
        "source",
        F.expr(spark_h32("shingle", 1)).alias("h1"),
        F.expr(spark_h32("shingle", 17)).alias("h2"),
    )
    sig = tracked_persist(
        hashed.groupBy("doc_id", "source").agg(
            F.count(F.lit(1)).alias("n_sh"),
            *[
                F.min(F.expr(f"(h1 + {i + 1} * h2) % {MH_PRIME}")).alias(f"m{i}")
                for i in range(MH_NUM_HASHES)
            ],
        )
    )
    # The 17-aggregate signature table feeds FOUR plan references (both
    # band sides via t/e, both n_sh count sides via ct/ce); unpersisted,
    # the tokenize+shingle+hash spine and the signature aggregation each
    # materialized several concurrent copies before any cache filled
    # (profiler: six ~1.2 s duplicate shingle jobs + four 1.8-4.8 s
    # duplicate aggregate jobs). One eager fill of the narrow scalar
    # rows runs the spine exactly once — the dedup_minhash discipline.
    sig.count()
    band_cols = [
        F.struct(
            F.lit(j).alias("band"),
            F.expr(
                "md5(concat_ws('_', "
                + ", ".join(f"m{j * MH_ROWS + r}" for r in range(MH_ROWS))
                + "))"
            ).alias("bucket"),
        )
        for j in range(MH_BANDS)
    ]
    bands = sig.select(
        "doc_id", "source", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "source", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    t, e = (
        bands.filter(F.col("source") != EVAL_SOURCE).alias("t"),
        bands.filter(F.col("source") == EVAL_SOURCE).alias("e"),
    )
    cand = (
        t.join(e, (F.col("t.band") == F.col("e.band")) & (F.col("t.bucket") == F.col("e.bucket")))
        .select(F.col("t.doc_id").alias("t_id"), F.col("e.doc_id").alias("e_id"))
        .distinct()
    )
    tsh = shingles.filter(F.col("source") != EVAL_SOURCE).alias("ts")
    esh = shingles.filter(F.col("source") == EVAL_SOURCE).alias("es")
    common = (
        cand.join(tsh, F.col("t_id") == F.col("ts.doc_id"))
        .join(
            esh,
            (F.col("e_id") == F.col("es.doc_id"))
            & (F.col("ts.shingle") == F.col("es.shingle")),
        )
        .groupBy("t_id", "e_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    counts = sig.select("doc_id", "n_sh")
    verified = (
        common.join(counts.alias("ct"), F.col("t_id") == F.col("ct.doc_id"))
        .join(counts.alias("ce"), F.col("e_id") == F.col("ce.doc_id"))
        .select(
            "t_id",
            "e_id",
            F.expr(
                "round(cast(n_common as double)"
                " / (ct.n_sh + ce.n_sh - n_common), 6)"
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= CONTAM_MH_TAU)
    )
    w = Window.partitionBy("t_id").orderBy(
        F.col("jaccard").desc(), F.col("e_id").asc()
    )
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("t_id").alias("doc_id"),
            F.col("e_id").alias("eval_doc_id"),
            "jaccard",
        )
    )


_DUCK_MINS = ",\n         ".join(
    f"min((h1 + {i + 1} * h2) % {MH_PRIME}) AS m{i}" for i in range(MH_NUM_HASHES)
)
_DUCK_BANDS = " UNION ALL ".join(
    "SELECT doc_id, source, "
    + str(j)
    + " AS band, md5(concat_ws('_', "
    + ", ".join(f"m{j * MH_ROWS + r}" for r in range(MH_ROWS))
    + ")) AS bucket FROM fsig"
    for j in range(MH_BANDS)
)

CONTAMINATION_MINHASH_SQL = f"""
WITH ftok AS (
  SELECT doc_id, source, {duck_tokens("text")} AS tk FROM documents
),
fshingle AS (
  SELECT DISTINCT doc_id, source,
         unnest([ concat(tk[j + 1], ' ', tk[j + 2], ' ', tk[j + 3])
                  for j in range(0, len(tk) - {SHINGLE_K} + 1) ]) AS shingle
  FROM ftok
  WHERE len(tk) >= {SHINGLE_K}
),
fhashed AS (
  SELECT doc_id, source,
         {duck_h32("shingle", 1)} AS h1, {duck_h32("shingle", 17)} AS h2
  FROM fshingle
),
fsig AS (
  SELECT doc_id, source, count(*) AS n_sh,
         {_DUCK_MINS}
  FROM fhashed GROUP BY doc_id, source
),
fbands AS (
  {_DUCK_BANDS}
),
fcand AS (
  SELECT DISTINCT t.doc_id AS doc_id, e.doc_id AS eval_doc_id
  FROM fbands t JOIN fbands e
    ON t.band = e.band AND t.bucket = e.bucket
  WHERE t.source != '{EVAL_SOURCE}' AND e.source = '{EVAL_SOURCE}'
),
fcommon AS (
  SELECT c.doc_id, c.eval_doc_id, count(*) AS n_common
  FROM fcand c
  JOIN fshingle ts ON ts.doc_id = c.doc_id
  JOIN fshingle es ON es.doc_id = c.eval_doc_id AND es.shingle = ts.shingle
  GROUP BY c.doc_id, c.eval_doc_id
),
fverified AS (
  SELECT m.doc_id, m.eval_doc_id,
         round(cast(m.n_common as double)
               / (ct.n_sh + ce.n_sh - m.n_common), 6) AS jaccard
  FROM fcommon m
  JOIN fsig ct ON ct.doc_id = m.doc_id
  JOIN fsig ce ON ce.doc_id = m.eval_doc_id
  WHERE round(cast(m.n_common as double)
              / (ct.n_sh + ce.n_sh - m.n_common), 6) >= {CONTAM_MH_TAU}
)
SELECT doc_id, eval_doc_id, jaccard FROM (
  SELECT doc_id, eval_doc_id, jaccard,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY jaccard DESC, eval_doc_id) AS rn
  FROM fverified
) WHERE rn = 1
"""


DECONTAM_FUZZY_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "contamination_minhash": contamination_minhash,
}

DECONTAM_FUZZY_ORACLES: dict[str, str] = {
    "contamination_minhash": CONTAMINATION_MINHASH_SQL,
}
