"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken '03 —
the MOSS algorithm).

The dedup family's guarantee gap: minhash bounds EXPECTED overlap
detection, simhash bounds hamming drift, but neither gives
winnowing's LOCAL guarantee — any shared substring of length
``w + k - 1`` tokens is caught with certainty, because from every
window of w consecutive k-gram hashes at least one is selected. That
local certainty is why MOSS uses it for plagiarism and why it is the
standard "catch every long verbatim span" fingerprint for training
corpora.

Algorithm, exact in both engines:

- k-gram (k = 4 tokens) hashes via the shared md5-slice construct;
- per window of w = 6 consecutive k-gram hashes select the MINIMUM
  value (the fingerprint set is the DISTINCT selected (hash, doc)
  pairs, so the paper's positional tie rule is immaterial here —
  equal hashes collapse in the distinct);
- pairs of documents sharing a fingerprint are the candidate
  verbatim-overlap pairs, df-capped like every posting join here
  (a fingerprint shared by more than 16 docs is boilerplate, exactly
  the mass the cap is for).

Output: per candidate pair, the number of shared fingerprints and
both docs' fingerprint counts — the winnowing containment evidence.

All the per-doc window arithmetic runs INSIDE array expressions on
the token array (no explode of k-gram rows until the final distinct),
and the selection indexes COLUMN arrays, never literals (the
60-600× literal-rematerialization hazard).

Scale shape: one token-array scan per doc, one distinct on selected
fingerprints, one df-capped self-join; no window over row-scale data.

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

WIN_K = 4  # tokens per k-gram
WIN_W = 6  # k-gram hashes per winnowing window
WIN_DF_MAX = 16  # fingerprint df cap for the pair join

# k-gram text at position i (1-based) of token array tk
_SPARK_GRAM = (
    "concat_ws(' ', slice(tk, i, " + str(WIN_K) + "))"
)
_DUCK_GRAM = (
    "array_to_string(list_slice(tk, i, i + " + str(WIN_K - 1) + "), ' ')"
)


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared, fp_a, fp_b): candidate verbatim-overlap
    pairs by shared winnowing fingerprints (local guarantee: any
    shared run of WIN_W + WIN_K - 1 tokens produces at least one
    shared fingerprint)."""
    # The short-doc gate lives INSIDE the window projection (the
    # size(hs) >= W conditional below), not in a .filter().  The
    # original `.filter(size(hs) >= W)` was equivalent row-wise, but
    # Catalyst pushes deterministic filters through a round-robin
    # repartition, and the predicate embeds the full md5 k-gram
    # transform — so the entire md5 corpus pass ran INSIDE the
    # single-task parquet-scan stage (13.5 s serial at sf0.1, twice),
    # while the 32-way stage above recomputed it anyway.  As a
    # projection conditional nothing sits below the exchange: the scan
    # stage ships raw (doc_id, text) and tokenize + hash run once,
    # post-exchange, at full width (guide §2.4 / §4.2).
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    hashes = docs.select(
        "doc_id", F.expr(spark_tokens("text")).alias("tk")
    ).select(
        "doc_id",
        F.expr(
            "transform(sequence(1, greatest(size(tk) - "
            f"{WIN_K - 1}, 0)), i -> "
            "cast(conv(substr(md5(concat('win:', "
            f"{_SPARK_GRAM})),1,15),16,10) as bigint))"
        ).alias("hs"),
    )
    # winnowing selection: for each window start j (1-based) take the
    # minimum of hs[j..j+W-1]; docs with fewer than W k-grams emit an
    # empty window array (zero rows after the explode — exactly the
    # rows the old filter dropped); distinct selected hashes per doc.
    # PERSISTED (tracked): fp_counts, rare and both sides of the pair
    # join all read this frame — without the persist the physical plan
    # held TWELVE parquet-scan subtrees and re-ran the md5 pass per
    # consumer.  The cached frame is narrow (doc_id, fp) int pairs and
    # spills to disk at scale (MEMORY_AND_DISK default).
    selected = tracked_persist(
        hashes.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"if(size(hs) >= {WIN_W},"
                    f" transform(sequence(1, size(hs) - {WIN_W - 1}),"
                    f" j -> array_min(slice(hs, j, {WIN_W}))),"
                    " array())"
                )
            ).alias("fp"),
        ).distinct()
    )
    fp_counts = selected.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp")
    )
    rare = (
        selected.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WIN_DF_MAX)
        .select("fp")
    )
    keyed = selected.join(rare, "fp")
    a = keyed.select(F.col("doc_id").alias("doc_a"), "fp")
    b = keyed.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(
            fp_counts.select(
                F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("fp_a")
            ),
            "doc_a",
        )
        .join(
            fp_counts.select(
                F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("fp_b")
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "n_shared", "fp_a", "fp_b")
        .orderBy(
            F.col("n_shared").desc(), F.col("doc_a").asc(),
            F.col("doc_b").asc(),
        )
    )


DEDUP_WINNOW_PAIRS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {duck_tokens("text")} AS tk FROM documents
),
hashes AS (
  SELECT doc_id,
         [ cast(concat('0x', substr(md5(concat('win:', {_DUCK_GRAM})),
                       1, 15)) as bigint)
           for i in range(1, greatest(len(tk) - {WIN_K - 1}, 0) + 1) ]
           AS hs
  FROM toks
),
selected AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id,
           unnest([ list_min(list_slice(hs, j, j + {WIN_W - 1}))
                    for j in range(1, len(hs) - {WIN_W - 1} + 1) ]) AS fp
    FROM hashes
    WHERE len(hs) >= {WIN_W}
  )
),
fp_counts AS (
  SELECT doc_id, count(*) AS n_fp FROM selected GROUP BY 1
),
rare AS (
  SELECT fp FROM (SELECT fp, count(*) AS df FROM selected GROUP BY 1)
  WHERE df <= {WIN_DF_MAX}
),
keyed AS (SELECT s.doc_id, s.fp FROM selected s JOIN rare USING (fp)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM keyed a JOIN keyed b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.n_shared,
       fa.n_fp AS fp_a, fb.n_fp AS fp_b
FROM pairs p
JOIN fp_counts fa ON fa.doc_id = p.doc_a
JOIN fp_counts fb ON fb.doc_id = p.doc_b
ORDER BY n_shared DESC, doc_a ASC, doc_b ASC
"""


WINNOW_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_winnow_pairs": dedup_winnow_pairs,
}

WINNOW_ORACLES: dict[str, str] = {
    "dedup_winnow_pairs": DEDUP_WINNOW_PAIRS_SQL,
}
