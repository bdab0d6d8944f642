"""Ingest-volume anomaly detection: exact z-scores on daily counts.

The pipeline-monitoring twin of ``anomaly_mad`` (values → MAD): daily
EVENT VOLUMES per type, each day scored against its type's own
distribution with a classic z-score — feasible bit-exactly because the
moments of INTEGER counts are integers: mean = Σc/n and
var = (nΣc² − (Σc)²)/n² are single correctly-rounded double ops over
exact integer sums, sqrt is correctly rounded by IEEE, and the z
itself is one subtraction and one division in fixed order. (Float
moment ACCUMULATION — what stddev_pop() does — is partition-order-
dependent and could never pass the hash gate; integer sums are not.)

Output: every (type, day) with its volume and z, flagged when
|z| > Z_FLAG — the "did yesterday's feed silently halve" alert.

Scale: one map-side-combined groupBy (type, day) — output bounded by
|types| × |days| — then per-type moments over that bounded frame and a
broadcast join back. The fact scan is the only corpus-scale work.

No reference counterpart (305-LoC Glue ETL has no monitoring); engine
surface, SURVEY.md §2. Registered beyond the round-10 grading window —
first driver slot round 11.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.sources.readers import read_table
from etl_pipeline_example_spark.operators.simcore import tracked_persist

Z_FLAG = 2.0

_Z = (
    "(cast(c as double) - cast(s as double) / cast(n as double))"
    " / sqrt((cast(n as double) * cast(ssq as double)"
    " - cast(s as double) * cast(s as double))"
    " / (cast(n as double) * cast(n as double)))"
)


def dq_volume_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n_events, z, flagged): per-day ingest volume
    scored against its type's distribution."""
    ev = read_table(spark, sf_dir, "events")
    daily = tracked_persist(
        ev.groupBy(
            "event_type",
            F.expr("cast(date_trunc('day', ts) as date)").alias("day"),
        ).agg(F.count(F.lit(1)).alias("c"))
    )
    moments = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.expr("sum(c * c)").alias("ssq"),
    )
    return (
        daily.join(F.broadcast(moments), "event_type")
        .select(
            "event_type",
            "day",
            F.col("c").alias("n_events"),
            F.expr(_Z).alias("z"),
            F.expr(
                f"CASE WHEN abs({_Z}) > {Z_FLAG} THEN 1 ELSE 0 END"
            ).alias("flagged"),
        )
        .orderBy("event_type", "day")
    )


DQ_VOLUME_ZSCORE_SQL = f"""
WITH daily AS (
  SELECT event_type, cast(date_trunc('day', ts) AS date) AS day,
         count(*) AS c
  FROM events GROUP BY 1, 2
),
moments AS (
  SELECT event_type,
         count(*) AS n,
         cast(sum(c) AS bigint) AS s,
         cast(sum(c * c) AS bigint) AS ssq
  FROM daily GROUP BY 1
)
SELECT d.event_type, d.day, d.c AS n_events,
       {_Z} AS z,
       CASE WHEN abs({_Z}) > {Z_FLAG} THEN 1 ELSE 0 END AS flagged
FROM daily d JOIN moments m ON d.event_type = m.event_type
ORDER BY d.event_type, d.day
"""


VOLUMEZ_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dq_volume_zscore": dq_volume_zscore,
}

VOLUMEZ_ORACLES: dict[str, str] = {
    "dq_volume_zscore": DQ_VOLUME_ZSCORE_SQL,
}
