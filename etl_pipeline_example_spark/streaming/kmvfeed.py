"""Minimum-value register sketch built ON THE STREAM — min-merge.

The streaming sketch family now covers all three merge disciplines:
counters merging by ADDITION (stream_cms_topk), rho registers merging
by MAX (stream_hll_registers), and — here — hash registers merging by
MIN: hash space split into R registers (stochastic averaging, the
theta/KMV practice), each holding the MINIMUM 60-bit hash that landed
there. ``min`` is a streamable aggregate, so the state is exactly
G·R cells (event types × 32 registers) regardless of event volume,
and two register tables merge cell-wise by min — the property that
makes this the distributed distinct-sketch shape (the batch bottom-K
twin is operators/kmv.py's ``sketch_kmv_distinct``).

Output per (grp, register): ``min_hash`` (the mergeable state) and
``n_events`` (raw arrivals, pinning that no microbatch was dropped or
replayed twice). The oracle is the same aggregation as batch SQL —
stream/batch parity is the check, which a dropped microbatch,
double-count, or hash drift would all fail.

Scale: streaming state bounded at G·R cells; per-microbatch cost one
map-side combine (min and count both combine associatively).

Reference: N/A (305-LoC Glue ETL); streaming surface, SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import (
    duck_hexint,
    spark_hexint,
)
from etl_pipeline_example_spark.sources.readers import read_events_stream
from etl_pipeline_example_spark.streaming.events import drain

KMV_R = 32  # registers per group

_SPARK_H = spark_hexint("concat('kmv:', cast(user_id as string))")
_DUCK_H = duck_hexint("concat('kmv:', user_id)")


def stream_kmv_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, register, min_hash, n_events): the min-merge register
    sketch as a bounded-state streaming aggregation over the events
    stream (complete-mode memory sink, AvailableNow drain)."""
    regs_stream = (
        read_events_stream(spark, sf_dir)
        .select(
            F.col("event_type").alias("grp"),
            F.expr(_SPARK_H).alias("h"),
        )
        .select("grp", F.expr(f"pmod(h, {KMV_R})").alias("register"), "h")
        .groupBy("grp", "register")
        .agg(
            F.min("h").alias("min_hash"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return (
        drain(regs_stream, "complete")
        .select("grp", "register", "min_hash", "n_events")
        .orderBy("grp", "register")
    )


STREAM_KMV_REGISTERS_SQL = f"""
SELECT event_type AS grp,
       (h % {KMV_R}) AS register,
       min(h) AS min_hash,
       count(*) AS n_events
FROM (SELECT event_type, {_DUCK_H} AS h FROM events)
GROUP BY 1, 2
ORDER BY 1, 2
"""


KMVFEED_STREAM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_kmv_registers": stream_kmv_registers,
}

KMVFEED_STREAM_ORACLES: dict[str, str] = {
    # stream/batch parity: the aggregation recomputed as batch SQL
    "stream_kmv_registers": STREAM_KMV_REGISTERS_SQL,
}
