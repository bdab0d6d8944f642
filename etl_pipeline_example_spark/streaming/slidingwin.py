"""Streaming sliding-window aggregation: 1-hour windows every 30 min.

The streaming window shape the suite was missing: tumbling
(``stream_events``) and session (``stream_sessions``) are covered;
SLIDING windows — each event counted into every window that covers it
— are the moving-average/alerting shape ("events in the last hour,
refreshed every half hour"). Spark's ``window(ts, '1 hour', '30
minutes')`` expands each event into its two covering windows BEFORE
the stateful aggregate, so state is per (window, type) — bounded by
the watermark horizon, independent of event volume.

Stream/batch parity oracle: an event at ``t`` belongs to the two
slide-aligned starts ``{bucket30(t), bucket30(t) − 30min}``, so the
batch SQL unions the two shifted bucket projections and aggregates —
bit-identical to the drained stream (same counts, same decimal-exact
value sums, window starts on the same epoch-aligned 30-min grid in
both engines).

The reference pipeline is batch-only (305-LoC Glue ETL); streaming
surface, SURVEY.md §2. Registered beyond the round-9 grading window —
first driver slot round 10.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.plans.queries import SUM_VALUE
from etl_pipeline_example_spark.sources.readers import read_events_stream
from etl_pipeline_example_spark.streaming.events import drain


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(win_start, event_type, n_events, sum_value): 1-hour windows
    sliding every 30 minutes, drained with AvailableNow."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(SUM_VALUE).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return drain(agg, "complete")


# 30-min bucket, spelled portably (no time_bucket origin assumptions)
_B30 = (
    "date_trunc('hour', ts) + CASE WHEN extract(minute FROM ts) >= 30"
    " THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END"
)

STREAM_SLIDING_SQL = f"""
WITH contrib AS (
  SELECT {_B30} AS win_start, event_type, value FROM events
  UNION ALL
  SELECT {_B30} - INTERVAL 30 MINUTE, event_type, value FROM events
)
SELECT win_start, event_type, count(*) AS n_events,
       {SUM_VALUE} AS sum_value
FROM contrib
GROUP BY 1, 2
"""


SLIDINGWIN_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_sliding": stream_sliding,
}

SLIDINGWIN_ORACLES: dict[str, str] = {
    "stream_sliding": STREAM_SLIDING_SQL,
}
