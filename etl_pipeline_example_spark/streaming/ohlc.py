"""Streaming OHLC candles: the q_events_ohlc shape at ingest time.

The metrics/trading deployment aggregates candles IN the stream —
waiting for a batch job means the dashboard is an hour stale. The
open/close picks ride the same total order as the batch twin
(ts, event_id), folded into ONE streaming aggregate by the orderable-
struct trick: ``min(struct(ts, event_id, value))`` is the frame's
first observation (struct comparison is lexicographic), ``max`` the
last — both are classic algebraic aggregates, so the state per
(window, type) is two structs + two doubles + a count, bounded by the
watermark horizon exactly like any windowed count. No sums of floats
anywhere — picks and comparisons only, the q_events_ohlc exactness
contract.

Stream/batch parity oracle: AvailableNow over a static source drains
deterministically, so the drained candles equal the batch hourly
candles — full SQL oracle, hash-exact.

The reference is batch-only (305-LoC Glue ETL); streaming surface,
SURVEY.md §2. Registered beyond the round-12 grading window — first
driver slot round 13.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.sources.readers import read_events_stream
from etl_pipeline_example_spark.streaming.events import drain


def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(win_start, event_type, n_events, open, high, low, close):
    hourly value candles per event type from a drained stream."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.struct("ts", "event_id", "value")).alias("__first"),
            F.max(F.struct("ts", "event_id", "value")).alias("__last"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            F.col("__first.value").alias("open"),
            "high",
            "low",
            F.col("__last.value").alias("close"),
        )
    )
    return drain(agg, "complete").orderBy("win_start", "event_type")


STREAM_OHLC_SQL = """
WITH ev AS (
  SELECT event_type, date_trunc('hour', ts) AS win_start, ts, event_id,
         value
  FROM events
),
ranked AS (
  SELECT event_type, win_start, value,
         row_number() OVER (PARTITION BY event_type, win_start
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, win_start
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM ev
),
stats AS (
  SELECT event_type, win_start, count(*) AS n_events,
         max(value) AS high, min(value) AS low
  FROM ev GROUP BY 1, 2
)
SELECT s.win_start, s.event_type, s.n_events, o.value AS open,
       s.high, s.low, c.value AS close
FROM stats s
JOIN (SELECT event_type, win_start, value FROM ranked WHERE rn_a = 1) o
  ON o.event_type = s.event_type AND o.win_start = s.win_start
JOIN (SELECT event_type, win_start, value FROM ranked WHERE rn_d = 1) c
  ON c.event_type = s.event_type AND c.win_start = s.win_start
ORDER BY s.win_start, s.event_type
"""


OHLC_STREAM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_ohlc": stream_ohlc,
}

OHLC_STREAM_ORACLES: dict[str, str] = {
    "stream_ohlc": STREAM_OHLC_SQL,
}
