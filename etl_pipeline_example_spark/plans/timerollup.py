"""Hierarchical multi-resolution time rollup over the events stream
(the "hypertable continuous-aggregate" shape).

One panel holds the minute, hour, and day views of the event stream:
(resolution, bucket_ts, n_events, n_users, min_value, max_value).

The SCALE-RIGHT construction is hierarchical, not three independent
scans: ONE full-data shuffle partial-aggregates to the (minute, user)
grain, and every level derives from that spine — per-bucket event
counts as the SUM of per-user counts, min/max composing upward, and
COUNT DISTINCT users (which does not roll up: a user active in two
minutes of one hour is one hour-user) as the spine's row count per
bucket, with the hour spine aggregating the minute spine's truncation
(strictly smaller input) and the day spine the hour's. Events are
scanned once; nothing corpus-sized shuffles twice.

The minute and hour spines are multi-consumer frames (each feeds both
its level's output fold and the next level), so both are
tracked-persisted (simcore cache discipline).

The oracle is the naive formulation — three direct GROUP BYs unioned —
which the cascade must equal exactly: counts are additive, min/max
compose, and the spine distinct equals the direct distinct.

min/max of DOUBLE are order-free IEEE selections (exact cross-engine);
sums of doubles are deliberately NOT in the panel (addition-order
nondeterminism — the round-5 exactness rules).

No reference counterpart (the reference is a 305-LoC ETL example);
general-engine surface, SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table


def events_rollup_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(resolution, bucket_ts, n_events, n_users, min_value, max_value)
    at minute, hour, and day grain."""
    events = read_table(spark, sf_dir, "events", parallel=True)
    # Cached plans opt out of AQE's partition coalescing, so a vanilla
    # 200-shuffle-partition session would pin both persisted spines at
    # 200 tiny partitions and pay 200-task scans per consumer; coalesce
    # the reduce side to the engine's parallelism instead (narrow — no
    # extra shuffle; a no-op under the engine session's 32).
    par = spark.sparkContext.defaultParallelism
    # THE one full-data shuffle: partial-aggregate to the (minute, user)
    # grain. Every level derives from this spine — per-bucket events as
    # the SUM of per-user counts, min/max composing, and distinct users
    # as the spine's row count per bucket — so events are scanned once
    # and nothing corpus-sized shuffles again.
    mu = tracked_persist(
        events.select(
            F.date_trunc("minute", F.col("ts")).alias("bucket_ts"),
            "user_id",
            "value",
        )
        .groupBy("bucket_ts", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .coalesce(par)
    )
    # Eagerly filled: the hour spine and the minute-level report both
    # reference `mu`, and before the cache filled each raced its own
    # copy of the one full-data shuffle (profiler: duplicate ~0.5 s
    # 32-task jobs). The count runs the events scan exactly once; the
    # derived hour/day spines then aggregate the cache.
    mu.count()
    hu = tracked_persist(
        mu.groupBy(
            F.date_trunc("hour", F.col("bucket_ts")).alias("bucket_ts"), F.col("user_id")
        ).agg(
            F.sum("n").alias("n"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        .coalesce(par)
    )
    du = hu.groupBy(
        F.date_trunc("day", F.col("bucket_ts")).alias("bucket_ts"), F.col("user_id")
    ).agg(
        F.sum("n").alias("n"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )

    def level(spine: DataFrame, name: str) -> DataFrame:
        return spine.groupBy("bucket_ts").agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_users"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        ).select(
            F.lit(name).alias("resolution"),
            "bucket_ts",
            "n_events",
            "n_users",
            "min_value",
            "max_value",
        )

    return (
        level(mu, "minute")
        .unionAll(level(hu, "hour"))
        .unionAll(level(du, "day"))
        .orderBy("resolution", "bucket_ts")
    )


_LEVEL_SQL = """
SELECT '{name}' AS resolution,
       cast(date_trunc('{name}', ts) as timestamp) AS bucket_ts,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       min(value) AS min_value,
       max(value) AS max_value
FROM events GROUP BY 2
"""

EVENTS_ROLLUP_MULTI_SQL = (
    _LEVEL_SQL.format(name="minute")
    + " UNION ALL "
    + _LEVEL_SQL.format(name="hour")
    + " UNION ALL "
    + _LEVEL_SQL.format(name="day")
    + " ORDER BY resolution, bucket_ts"
)


TIMEROLLUP_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "events_rollup_multi": events_rollup_multi,
}

TIMEROLLUP_ORACLES: dict[str, str] = {
    "events_rollup_multi": EVENTS_ROLLUP_MULTI_SQL,
}
