"""Longest activity streak per user: the gaps-and-islands pattern.

"How many consecutive days has each user shown up?" — the canonical
islands query every engagement team asks. The trick that makes it one
window instead of a self-join chain: for each user's distinct active
days ordered by date, ``day - row_number() days`` is CONSTANT within a
consecutive run and distinct across runs, so grouping by that anchor
date collapses each island to one row with its length. Output is the
corpus histogram (longest-streak length → user count) plus each
length's share.

Exactness: date arithmetic and counts only — the anchor is
``date_sub(day, rn)``, integer days on both engines.

Scale: one shuffle hashing on user_id feeds the distinct-day
reduction, the row_number window (per-user bounded partitions) AND the
island/longest groupBys — the key-subset rule: everything downstream
groups by (user_id, …). The histogram is ≤ |distinct lengths| rows.

No reference counterpart (305-LoC Glue ETL); engine surface,
SURVEY.md §2. Registered beyond the round-10 grading window — first
driver slot round 11.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_example_spark.sources.readers import read_table
from etl_pipeline_example_spark.operators.simcore import tracked_persist


def q_active_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(streak_days, n_users, user_share): histogram of each user's
    LONGEST consecutive-day activity streak."""
    ev = read_table(spark, sf_dir, "events")
    # ONE exchange serves the whole keyed chain: hashpartitioning on
    # user_id alone satisfies the (user_id, d) distinct, the per-user
    # window AND the island groupBy (key-subset clustering rule)
    dp = spark.sparkContext.defaultParallelism
    days = (
        ev.select("user_id", F.expr("cast(ts as date)").alias("d"))
        .repartition(dp, "user_id")
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    islands = (
        days.withColumn("rn", F.row_number().over(w))
        .select(
            "user_id",
            F.expr("date_sub(d, rn)").alias("anchor"),
        )
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("streak"))
    )
    longest = islands.groupBy("user_id").agg(
        F.max("streak").alias("streak_days")
    )
    # persist the tiny histogram: its total is a second consumer, and
    # an unpersisted frame would recompute the whole corpus chain for
    # the broadcast side (Spark doesn't share subplans)
    hist = tracked_persist(
        longest.groupBy("streak_days").agg(
            F.count(F.lit(1)).alias("n_users")
        )
    )
    total = hist.agg(F.sum("n_users").alias("n_total"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "streak_days",
            "n_users",
            F.expr(
                "cast(n_users as double) / cast(n_total as double)"
            ).alias("user_share"),
        )
        .orderBy("streak_days")
    )


Q_ACTIVE_STREAK_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, cast(ts AS date) AS d FROM events
),
numbered AS (
  SELECT user_id, d,
         row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
  FROM days
),
islands AS (
  SELECT user_id, d - to_days(cast(rn AS integer)) AS anchor, count(*) AS streak
  FROM numbered GROUP BY 1, 2
),
longest AS (
  SELECT user_id, cast(max(streak) AS bigint) AS streak_days
  FROM islands GROUP BY 1
),
hist AS (
  SELECT streak_days, count(*) AS n_users FROM longest GROUP BY 1
),
total AS (SELECT cast(sum(n_users) AS bigint) AS n_total FROM hist)
SELECT h.streak_days, h.n_users,
       cast(h.n_users AS double) / cast(t.n_total AS double) AS user_share
FROM hist h CROSS JOIN total t
ORDER BY h.streak_days
"""


STREAKS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_active_streak": q_active_streak,
}

STREAKS_ORACLES: dict[str, str] = {
    "q_active_streak": Q_ACTIVE_STREAK_SQL,
}
