"""Curation on the ingest stream: the C4 rule gate as a streaming filter.

A 100 TB corpus isn't cleaned in one batch — it ARRIVES continuously,
and the cheap rule gates should run at ingest so garbage never lands
in the lake. This runs ``quality_c4``'s keep conjunction (the same
shared constants — the gate is the composition, not a fork) as a
STATELESS streaming filter over the documents source: stateless means
no state store, no watermark, per-microbatch cost O(batch), and exact
stream/batch parity by construction — which the DuckDB oracle checks
(it computes the batch keep-set).

Drained with AvailableNow through ``events.drain`` like the other
streaming ops; output is the kept (doc_id, word_cnt) — the audit trail an ingest
gate emits.

No reference counterpart (the reference is a 305-LoC ETL example);
streaming surface, SURVEY.md §2 row 41d.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.c4 import duck_c4_keep, spark_c4_keep
from etl_pipeline_example_spark.operators.hashing import duck_tokens, spark_tokens
from etl_pipeline_example_spark.sources.readers import read_documents_stream
from etl_pipeline_example_spark.streaming.events import drain


def stream_c4_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the documents source through the C4 keep conjunction;
    return the kept (doc_id, word_cnt) after an AvailableNow drain."""
    kept = (
        read_documents_stream(spark, sf_dir)
        .select("doc_id", "text", F.expr(spark_tokens("text")).alias("tk"))
        .filter(F.expr(spark_c4_keep()))
        .select("doc_id", F.expr("size(tk)").alias("word_cnt"))
    )
    return drain(kept, "append")


STREAM_C4_GATE_SQL = f"""
SELECT doc_id, len(tk) AS word_cnt FROM (
  SELECT doc_id, text, {duck_tokens("text")} AS tk FROM documents
)
WHERE {duck_c4_keep()}
"""


CURATION_STREAM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_c4_gate": stream_c4_gate,
}

CURATION_STREAM_ORACLES: dict[str, str] = {
    "stream_c4_gate": STREAM_C4_GATE_SQL,
}
