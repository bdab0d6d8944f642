"""Boilerplate removal: reassemble documents minus cross-document chunks.

The CCNet/RefinedWeb cleaning step downstream of boilerplate DETECTION:
``boilerplate_chunks`` (operators/corpus.py) emits the removal list —
fixed-width token chunks whose exact text occurs in ≥ BOILER_MIN_DOCS
distinct documents (license blobs, templated headers); this operator
APPLIES it, anti-joining every document's chunks against the list and
reassembling the survivors in order into the cleaned text.

Contract: a document whose every chunk is boilerplate drops out of the
cleaned corpus entirely (there is nothing left to emit) — the same
convention as empty docs in ``doc_chunk``.

No reference counterpart (the reference is a 305-LoC ETL example);
LLM-pipeline surface, SURVEY.md §2 row 35g.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.corpus import (
    BOILER_MIN_DOCS,
    DOC_CHUNK_SQL,
    doc_chunk,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist


def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned-corpus summary after boilerplate removal:
    (doc_id, n_chunks, n_kept, n_dropped, clean_hash) — clean_hash is
    md5 of the reassembled in-order cleaned text, so the (wide) cleaned
    document never leaves the executors.

    Scale shape: the chunk explode runs ONCE and is persisted — three
    consumers (the boilerplate groupBy, the per-doc totals, the
    anti-join) would otherwise each re-scan and re-tokenize the corpus
    (the decontam module's caching contract). The removal list is a
    narrow chunk_hash aggregate; the anti-join key is the 32-char hash,
    never the chunk text; reassembly is one groupBy whose shuffle
    carries exactly the surviving chunks — the unavoidable payload,
    since the output IS the cleaned text (hashed here to keep the
    driver-facing result narrow).
    """
    chunks = tracked_persist(
        doc_chunk(spark, sf_dir).select(
            "doc_id",
            "chunk_id",
            "chunk_text",
            F.expr("md5(chunk_text)").alias("chunk_hash"),
        )
    )
    boiler = (
        chunks.groupBy("chunk_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
        .select("chunk_hash")
    )
    totals = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    kept = chunks.join(boiler, "chunk_hash", "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr(
            "md5(concat_ws(' ', transform("
            "array_sort(collect_list(struct(chunk_id, chunk_text))),"
            " s -> s.chunk_text)))"
        ).alias("clean_hash"),
    )
    return (
        totals.join(reassembled, "doc_id")
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.expr("n_chunks - n_kept").alias("n_dropped"),
            "clean_hash",
        )
    )


BOILERPLATE_STRIP_SQL = f"""
WITH chunks AS (
  SELECT doc_id, chunk_id, chunk_text, md5(chunk_text) AS chunk_hash
  FROM ({DOC_CHUNK_SQL})
),
boiler AS (
  SELECT chunk_hash FROM chunks
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
),
kept AS (
  SELECT * FROM chunks
  WHERE chunk_hash NOT IN (SELECT chunk_hash FROM boiler)
),
totals AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY 1),
reasm AS (
  SELECT doc_id, count(*) AS n_kept,
         md5(string_agg(chunk_text, ' ' ORDER BY chunk_id)) AS clean_hash
  FROM kept GROUP BY 1
)
SELECT t.doc_id, t.n_chunks, r.n_kept,
       t.n_chunks - r.n_kept AS n_dropped, r.clean_hash
FROM totals t JOIN reasm r USING (doc_id)
"""


BOILERSTRIP_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "boilerplate_strip": boilerplate_strip,
}

BOILERSTRIP_ORACLES: dict[str, str] = {
    "boilerplate_strip": BOILERPLATE_STRIP_SQL,
}
