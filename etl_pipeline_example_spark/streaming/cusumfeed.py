"""CUSUM changepoint detection fed ON THE STREAM — bounded day state.

The streaming twin of ``events_cusum_shift`` (operators/cusum.py), the
cms/hll/kmv/moments pairing discipline applied to the anomaly family's
changepoint member: the per-(event_type, day) COUNTS are pure additive
state — exactly what a complete-mode streaming aggregation maintains,
bounded by G·days rows regardless of event volume — and Page's
recurrence is a DERIVED statistic computed over that drained state
with the same two partitioned window passes as the batch op (the
max-drawdown unrolling, identical integer arithmetic).

This split is the production shape: the stream maintains the cheap
additive day grid continuously; the changepoint scan runs at query
time over days, never over events. Stream/batch parity (the oracle IS
the batch SQL) catches dropped or replayed microbatches — a lost
microbatch shifts a daily count and moves the exact integer excursion.

Scale shape: streaming state = G × days rows (input-volume-free);
the window passes run on that same bounded grid.

Reference: N/A (305-LoC Glue ETL); streaming surface, SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.cusum import (
    EVENTS_CUSUM_SHIFT_SQL,
)
from etl_pipeline_example_spark.sources.readers import read_events_stream
from etl_pipeline_example_spark.streaming.events import drain


def stream_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, n_days, total, up_scaled, up_day, down_scaled, down_day):
    the exact CUSUM excursion panel of events_cusum_shift, with the
    daily count grid maintained as bounded complete-mode streaming
    state (AvailableNow drain) and the window recurrence applied over
    the drained grid."""
    daily = (
        read_events_stream(spark, sf_dir)
        .select(
            F.col("event_type").alias("grp"), F.to_date("ts").alias("day")
        )
        .groupBy("grp", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    grid = drain(daily, "complete")
    # per-group scalars as partition windows over the SAME bounded grid
    # (a groupBy+self-join of a memory sink trips Spark's conflicting-
    # attribute check; the window form is also one pass, not two)
    wg0 = Window.partitionBy("grp")
    grid = grid.withColumn(
        "n_days", F.count(F.lit(1)).over(wg0)
    ).withColumn("total", F.sum("x").over(wg0).cast("bigint"))
    w = (
        Window.partitionBy("grp")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        grid
        .withColumn("y", F.col("x") * F.col("n_days") - F.col("total"))
        .withColumn("cum", F.sum("y").over(w).cast("bigint"))
        .withColumn("runmin", F.min("cum").over(w))
        .withColumn("runmax", F.max("cum").over(w))
        .withColumn(
            "s_up", F.col("cum") - F.least(F.col("runmin"), F.lit(0))
        )
        .withColumn(
            "s_dn", F.greatest(F.col("runmax"), F.lit(0)) - F.col("cum")
        )
    )
    wg = Window.partitionBy("grp")
    peaked = cum.withColumn("mx_up", F.max("s_up").over(wg)).withColumn(
        "mx_dn", F.max("s_dn").over(wg)
    )
    return (
        peaked.groupBy("grp")
        .agg(
            F.max("n_days").cast("bigint").alias("n_days"),
            F.max("total").alias("total"),
            F.max("s_up").alias("up_scaled"),
            F.min(
                F.when(F.col("s_up") == F.col("mx_up"), F.col("day"))
            ).alias("up_day"),
            F.max("s_dn").alias("down_scaled"),
            F.min(
                F.when(F.col("s_dn") == F.col("mx_dn"), F.col("day"))
            ).alias("down_day"),
        )
        .orderBy("grp")
    )


# the oracle IS the batch SQL: an AvailableNow drain must land on the
# identical exact-integer excursion panel
STREAM_CUSUM_SHIFT_SQL = EVENTS_CUSUM_SHIFT_SQL


CUSUMFEED_STREAM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_cusum_shift": stream_cusum_shift,
}

CUSUMFEED_STREAM_ORACLES: dict[str, str] = {
    "stream_cusum_shift": STREAM_CUSUM_SHIFT_SQL,
}
