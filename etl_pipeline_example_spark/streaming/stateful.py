"""Custom stateful streaming operator via ``applyInPandasWithState``.

``stream_user_stats`` maintains per-user state (event count, last event
time, max inter-event gap) across micro-batches — the operator shape
Structured Streaming's built-in aggregates can't express (the gap depends
on event ORDER, not just values). State is an explicit tuple the function
folds every batch into; on a 24/7 stream a timeout would evict idle users
(state bound); with the AvailableNow drain the emitted rows equal the
batch lag-window computation, so the op carries a full SQL oracle.

All emitted measures are integers (count, microsecond gap) — no float
summation order to disagree with the oracle about.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from etl_pipeline_example_spark.streaming.events import drain

_OUT_SCHEMA = "user_id bigint, n_events bigint, max_gap_us bigint"
_STATE_SCHEMA = "n bigint, last_ts bigint, max_gap bigint"


def _fold_user_stats(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, last_ts, max_gap = state.get if state.exists else (0, None, 0)
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        for t in ts_us:
            if last_ts is not None:
                gap = int(t) - last_ts
                if gap > max_gap:
                    max_gap = gap
            last_ts = int(t)
            n += 1
    state.update((n, last_ts, max_gap))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "max_gap_us": [max_gap]}
    )


def stream_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user order-dependent stats with explicit state."""
    from etl_pipeline_example_spark.sources.readers import read_events_stream

    events = read_events_stream(spark, sf_dir).select("user_id", "event_id", "ts")
    stats = events.groupBy("user_id").applyInPandasWithState(
        _fold_user_stats,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # update-mode memory sink keeps one row per emission; the LAST emission
    # per user is the final state (single-batch drains emit exactly once)
    return (
        drain(stats, "update")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("max_gap_us").alias("max_gap_us"))
    )


STREAM_USER_STATS_SQL = """
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT user_id, count(*) AS n_events,
       cast(coalesce(max(gap), 0) as bigint) AS max_gap_us
FROM gaps GROUP BY 1
"""

STATEFUL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_user_stats": stream_user_stats,
}

STATEFUL_ORACLES: dict[str, str] = {
    "stream_user_stats": STREAM_USER_STATS_SQL,
}
