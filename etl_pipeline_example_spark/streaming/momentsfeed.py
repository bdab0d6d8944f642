"""Moments sketch built ON THE STREAM — add-merge over power sums.

The streaming twin of ``sketch_moments`` (operators/moments.py), the
same pairing discipline as cms/hll/kmv: the power sums Σc..Σc⁴ are
pure additive state, so the whole sketch is one complete-mode
streaming aggregation with G rows of state (event types), decimal-
exact — the distribution-shape sketch at its native home. Each sum
leaves as its exact DECIMAL(38,0) integer rendered as a string, the
batch twin's boundary (see its docstring for why neither double nor
decimal output survives the cross-engine hash). The oracle
is the batch SQL minus the derived ``__merged__`` row (merge-by-
addition is the BATCH op's certified path; the stream certifies the
per-group state), so stream/batch parity catches dropped or replayed
microbatches and quantization drift.

Reference: N/A (305-LoC Glue ETL); streaming surface, SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.sources.readers import read_events_stream
from etl_pipeline_example_spark.streaming.events import drain

_DEC = "decimal(38,0)"


def _guarded(col: str) -> F.Column:
    """Loud overflow (round-16 ADVICE) — same contract as the batch
    twin operators/moments.py: a NULL power sum with non-null inputs
    raises instead of silently diverging from DuckDB's erroring
    HUGEINT; legitimate all-NULL groups still render NULL."""
    return F.expr(
        f"CASE WHEN {col} IS NULL AND nn > 0 THEN"
        f" CAST(raise_error('stream_moments: decimal(38,0) power-sum"
        f" overflow — input magnitude exceeds the exactness bound')"
        f" AS {_DEC}) ELSE {col} END"
    )


def stream_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, n, s1, s2, s3, s4): the per-event_type exact power sums
    as a bounded-state streaming aggregation (complete mode,
    AvailableNow drain)."""
    agg = (
        read_events_stream(spark, sf_dir)
        .select(
            F.col("event_type").alias("grp"),
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("c").alias("nn"),
            F.sum(F.expr(f"CAST(c AS {_DEC})")).alias("d1"),
            F.sum(F.expr(f"CAST(c AS {_DEC}) * c")).alias("d2"),
            F.sum(F.expr(f"CAST(c AS {_DEC}) * c * c")).alias("d3"),
            F.sum(F.expr(f"CAST(c AS {_DEC}) * c * c * c")).alias("d4"),
        )
    )
    return (
        drain(agg, "complete")
        .select(
            "grp",
            "n",
            _guarded("d1").cast("string").alias("s1"),
            _guarded("d2").cast("string").alias("s2"),
            _guarded("d3").cast("string").alias("s3"),
            _guarded("d4").cast("string").alias("s4"),
        )
        .orderBy("grp")
    )


STREAM_MOMENTS_SQL = """
WITH cents AS (
  SELECT event_type AS grp,
         CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
)
SELECT grp, count(*) AS n,
       CAST(CAST(sum(CAST(c AS HUGEINT)) AS DECIMAL(38,0)) AS VARCHAR) AS s1,
       CAST(CAST(sum(CAST(c AS HUGEINT) * c) AS DECIMAL(38,0)) AS VARCHAR) AS s2,
       CAST(CAST(sum(CAST(c AS HUGEINT) * c * c) AS DECIMAL(38,0)) AS VARCHAR) AS s3,
       CAST(CAST(sum(CAST(c AS HUGEINT) * c * c * c) AS DECIMAL(38,0)) AS VARCHAR) AS s4
FROM cents
GROUP BY 1
ORDER BY 1
"""


MOMENTSFEED_STREAM_QUERIES: dict[
    str, Callable[[SparkSession, str], DataFrame]
] = {
    "stream_moments": stream_moments,
}

MOMENTSFEED_STREAM_ORACLES: dict[str, str] = {
    # stream/batch parity: the aggregation recomputed as batch SQL
    "stream_moments": STREAM_MOMENTS_SQL,
}
