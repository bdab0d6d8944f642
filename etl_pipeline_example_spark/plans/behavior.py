"""Behavioral event analytics: conversion funnel, cohort retention,
transition paths.

The three queries every product-analytics engine ships over an event
stream (ClickHouse's windowFunnel/retention, Amplitude/Mixpanel's
funnels and pathing), expressed as DataFrame plans over the events
table with DuckDB oracles computing identical results.

  q_window_funnel  per-user view → click → purchase completion inside
                   a 24 h window anchored at the first view
  q_retention      weekly cohorts (ISO week of first event) × activity
                   in cohort week + k
  q_event_path     top next-event transitions (the first-order Markov
                   edge counts pathing tools draw)

No reference counterpart (the reference is a 305-LoC ETL example);
general query-engine surface, SURVEY.md §2 rows 20y–20z1.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_HOURS = 24
RETENTION_WEEKS = 4
PATH_TOP = 10


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(step, n_users): users completing each funnel prefix within
    ``FUNNEL_WINDOW_HOURS`` of their first 'view'.

    Step semantics: t1 = first view; t2 = first click AFTER t1 and
    inside the window; t3 = first purchase after t2, same window.
    Counts are monotone non-increasing by construction.

    Scale shape: three aggregations all shuffling on user_id — AQE
    reuses the partitioning across the chained joins — and each
    conditional min is a map-side-combined partial; the events table
    is scanned once per step with only (user_id, ts) surviving the
    projection. t1/t2 are persisted (tracked, released when the next
    key starts): each feeds BOTH the next step's lineage and its own
    count, so without the persist the three driver-side counts would
    re-run the events scan+agg chain ~6× instead of 3×.
    """
    s1, s2, s3 = FUNNEL_STEPS
    # one explicit user_id-keyed repartition at core count: every step's
    # aggregation and join reuses the partitioning, and the shuffle width
    # stays bounded under a vanilla wide-partition session (the
    # dedup_containment lesson)
    par = spark.sparkContext.defaultParallelism
    ev = (
        read_table(spark, sf_dir, "events", parallel=True)
        .select("user_id", "event_type", "ts")
        .repartition(par, "user_id")
    )
    t1 = tracked_persist(
        ev.filter(F.col("event_type") == s1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = tracked_persist(
        ev.filter(F.col("event_type") == s2)
        .join(t1, "user_id")
        .filter(
            F.expr(f"ts > t1 AND ts <= t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
        )
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == s3)
        .join(t2, "user_id")
        .filter(
            F.expr(f"ts > t2 AND ts <= t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    rows = [
        (f"1_{s1}", t1.count()),
        (f"2_{s2}", t2.count()),
        (f"3_{s3}", t3.count()),
    ]
    return spark.createDataFrame(rows, "step string, n_users bigint")


Q_WINDOW_FUNNEL_SQL = f"""
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
),
t2 AS (
  SELECT e.user_id, t1.t1, min(e.ts) AS t2
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[1]}'
    AND e.ts > t1.t1 AND e.ts <= t1.t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY 1, 2
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[2]}'
    AND e.ts > t2.t2 AND e.ts <= t2.t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY 1
)
SELECT '1_{FUNNEL_STEPS[0]}' AS step, (SELECT count(*) FROM t1) AS n_users
UNION ALL
SELECT '2_{FUNNEL_STEPS[1]}', (SELECT count(*) FROM t2)
UNION ALL
SELECT '3_{FUNNEL_STEPS[2]}', (SELECT count(*) FROM t3)
"""


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort_week, week_k, n_active): ISO-week cohorts by first event,
    distinct active users k weeks later, k < ``RETENTION_WEEKS``.

    Scale shape: one aggregation derives cohorts (user-keyed shuffle),
    one join tags every event with its user's cohort (same key — AQE
    reuses the exchange), and the count-distinct is a two-phase
    partial. Week arithmetic stays integer (day diff / 7): no
    timestamp floats anywhere.
    """
    ev = read_table(spark, sf_dir, "events", parallel=True).select(
        "user_id", F.expr("cast(date_trunc('week', ts) as date)").alias("week")
    )
    cohort = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        ev.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.expr("cast(datediff(week, cohort_week) / 7 as int)").alias("week_k"),
        )
        .filter(F.col("week_k") < RETENTION_WEEKS)
        .groupBy("cohort_week", "week_k")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


Q_RETENTION_SQL = f"""
WITH ev AS (
  SELECT user_id, cast(date_trunc('week', ts) AS date) AS week FROM events
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1
)
SELECT cohort_week,
       cast(date_diff('day', cohort_week, week) / 7 AS int) AS week_k,
       count(DISTINCT user_id) AS n_active
FROM ev JOIN cohort USING (user_id)
WHERE date_diff('day', cohort_week, week) / 7 < {RETENTION_WEEKS}
GROUP BY 1, 2
"""


def q_event_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prev_type, next_type, n): top-``PATH_TOP`` event transitions —
    first-order Markov edge counts over each user's time-ordered
    stream (ties broken by event_id for determinism).

    Scale shape: one user-partitioned window (the unavoidable
    per-user ordering), then a map-side-combined 25-key aggregate and
    a TakeOrderedAndProject top-K.
    """
    ev = read_table(spark, sf_dir, "events", parallel=True)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("prev_type").asc(), F.col("next_type").asc())
        .limit(PATH_TOP)
    )


Q_EVENT_PATH_SQL = f"""
SELECT prev_type, next_type, count(*) AS n FROM (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_type,
         event_type AS next_type
  FROM events
) WHERE prev_type IS NOT NULL
GROUP BY 1, 2
ORDER BY n DESC, prev_type, next_type
LIMIT {PATH_TOP}
"""


BEHAVIOR_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_window_funnel": q_window_funnel,
    "q_retention": q_retention,
    "q_event_path": q_event_path,
}

BEHAVIOR_ORACLES: dict[str, str] = {
    "q_window_funnel": Q_WINDOW_FUNNEL_SQL,
    "q_retention": Q_RETENTION_SQL,
    "q_event_path": Q_EVENT_PATH_SQL,
}
