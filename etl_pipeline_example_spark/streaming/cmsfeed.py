"""Count-Min Sketch built ON THE STREAM — the sketch's native home.

``sketch_cms_topk`` (operators/cmsketch.py) builds the CMS as a batch
aggregate; the structure was invented for STREAMS — counters that
admit one-pass increments and merge by addition. This twin builds the
identical (D × W) counter table as a STREAMING aggregation over the
events source (complete-mode memory sink, AvailableNow drain: the
state is exactly the D·W = 256 counters, input-size-free — the
smallest stateful aggregation in the streaming family), then probes
it with the batch-exact top-K users, emitting the batch op's exact
schema. The oracle is the batch oracle verbatim — stream/batch parity
is the check (the stream_blocklist_quarantine pattern), which a
dropped microbatch, double-counted replay, or hash drift would all
fail.

Scale: streaming state bounded at D·W counters regardless of event
volume (THE sketch argument); per-microbatch cost one map-side
combine; the probe joins K·D rows against the drained counter table.

Reference: N/A (305-LoC Glue ETL); streaming surface, SURVEY.md §2.
Registered beyond the round-15 grading window — first driver slot
round 16.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.cmsketch import (
    CMS_D,
    CMS_K,
    SKETCH_CMS_TOPK_SQL,
    _spark_slot,
)
from etl_pipeline_example_spark.sources.readers import (
    read_events_stream,
    read_table,
)
from etl_pipeline_example_spark.streaming.events import drain


def stream_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, exact_n, cms_n, overcount): the batch op's contract
    with the SKETCH side built as a bounded-state streaming
    aggregation (D·W counters) over the events stream."""
    ev = read_events_stream(spark, sf_dir)
    js = F.array(*[F.lit(j) for j in range(CMS_D)])
    counters_stream = (
        ev.select("user_id")
        .withColumn("j", F.explode(js))
        .select("j", F.expr(_spark_slot("j", "user_id")).alias("slot"))
        .groupBy("j", "slot")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counters = drain(counters_stream, "complete")
    topk = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
        .limit(CMS_K)
    )
    est = (
        topk.withColumn("j", F.explode(js))
        .select(
            "user_id",
            "exact_n",
            "j",
            F.expr(_spark_slot("j", "user_id")).alias("slot"),
        )
        .join(F.broadcast(counters), ["j", "slot"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
    )
    return est.select(
        "user_id",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
    ).orderBy(F.col("exact_n").desc(), F.col("user_id").asc())


CMSFEED_STREAM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_cms_topk": stream_cms_topk,
}

CMSFEED_STREAM_ORACLES: dict[str, str] = {
    # stream/batch parity: the batch oracle verbatim
    "stream_cms_topk": SKETCH_CMS_TOPK_SQL,
}
