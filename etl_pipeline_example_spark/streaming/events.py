"""Structured Streaming over the events table, and the one drain every
streaming key runs through.

The reference pipeline is batch-only; its streaming analogue — continuous
arrival into the land zone — maps to Structured Streaming: a file source
watching the directory, event-time tumbling windows with a watermark
bounding state, and an idempotent sink. Here each op is expressed once and
run with ``Trigger.AvailableNow`` so it drains the existing files and
stops — the same code is a 24/7 stream on a cluster with checkpointing.

``drain`` is that run, stated once: it writes a streaming frame to a
memory sink under a unique query name and a fresh ``mkdtemp`` checkpoint,
waits for the AvailableNow drain, checks that a single micro-batch read
the rows, and hands back the sink as a batch frame. The checkpoint
directory is deleted and the sink's temp view dropped before it returns;
the returned frame already holds the analysed sink plan, so it stays
readable after both are gone, and no key leaves a view or a directory
behind for the next one.

``stream_events_tumbling`` produces exactly the batch ``q_events_tumbling``
result (hour window + event_type counts/sums), so it carries a full SQL
oracle: stream/batch parity is the correctness contract Structured
Streaming is built around.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.plans.queries import (
    Q_SESSION_WINDOW_SQL,
    Q_TUMBLING_SQL,
    SUM_VALUE,
)
from etl_pipeline_example_spark.session import scoped_confs
from etl_pipeline_example_spark.sources.readers import (
    read_documents_stream,
    read_events_stream,
)

# State-store partition count for the stateful streaming ops. This
# is an explicit knob (not inherited shuffle parallelism) because it is
# FROZEN into the checkpoint at first start and each partition carries a
# state store on both join sides — 200 default partitions means 400
# state stores spinning up for a test-scale drain. A production 24/7
# job sizes this to its key cardinality and keeps it for life.
STREAM_STATE_PARTITIONS = 16


def drain(
    df: DataFrame, output_mode: str, partitions: int = STREAM_STATE_PARTITIONS
) -> DataFrame:
    """Run streaming ``df`` to completion with ``Trigger.AvailableNow``
    into a memory sink in ``output_mode``; return the sink as a batch
    frame.

    The drain runs with ``partitions`` state partitions (see
    ``STREAM_STATE_PARTITIONS``) and with
    ``noDataMicroBatches.enabled=false``, both scoped to the run. After
    the file source is exhausted the engine would schedule one extra
    empty batch to advance the watermark; that batch costs a full
    incremental re-plan plus a commit of every state store (~1 s per
    drain here) and can only affect the sink when (a) an append-mode
    WATERMARKED AGGREGATION still holds unflushed windows, or (b) a
    stateful op has event/processing-time TIMEOUTS to fire. No drained
    query in this package is either: aggregations drain in complete or
    update mode (complete re-emits identical full state, update emits
    only deltas — an empty batch has none), stream-stream joins are
    inner+append (rows emit at match time; the final batch only evicts
    state that the throwaway checkpoint discards anyway), and both
    ``applyInPandasWithState`` ops run ``GroupStateTimeout.NoTimeout``.
    A 24/7 deployment must NOT skip it: there the no-data batch is what
    bounds state between bursts and flushes append-mode windows.

    Every batch-parity oracle here assumes the drain folded all input in
    ONE micro-batch (a stateful fold is arrival-ordered across batches),
    so a drain in which more than one batch read rows raises
    ``RuntimeError`` instead of returning a silently different result.

    The checkpoint is per-run scratch and is deleted, and the sink's temp
    view dropped, on every exit; the returned frame keeps the analysed
    sink plan and stays readable.
    """
    spark = df.sparkSession
    sink = f"drain_{uuid.uuid4().hex}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    confs = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    try:
        # the confs must be live at start(): the query captures them then
        with scoped_confs(spark, confs):
            q = (
                df.writeStream.format("memory")
                .queryName(sink)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        data_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        if data_batches > 1:
            raise RuntimeError(
                f"AvailableNow drain read rows in {data_batches} micro-batches;"
                " the batch-parity oracles require a single-batch drain"
                " (did a rate-limit option split it?)"
            )
        frame = spark.table(sink)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.catalog.dropTempView(sink)
    return frame


def stream_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the tumbling-window aggregation as a stream over the events
    parquet, drain with AvailableNow, and return the final result.

    Watermark: 1 hour — bounds in-flight window state on a real stream;
    with AvailableNow + complete mode every window is emitted, giving
    batch parity.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.expr(SUM_VALUE).alias("sum_value"))
        .select(
            F.col("win.start").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return drain(agg, "complete")


STREAM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_events": stream_events_tumbling,
}

# Stream/batch parity: the oracle is the batch tumbling SQL.
STREAM_ORACLES: dict[str, str] = {
    "stream_events": Q_TUMBLING_SQL,
}


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: drop duplicate content hashes as documents
    arrive; output the distinct content-hash set.

    On a 24/7 stream ``dropDuplicates`` keeps per-key state forever unless
    watermark-bounded; here the key is the content hash itself and the
    drain is AvailableNow, so the emitted set equals the batch DISTINCT —
    the stream/batch parity contract. (With late-data bounds you'd add
    ``withWatermark`` and ``dropDuplicatesWithinWatermark``.)
    """
    from etl_pipeline_example_spark.operators.hashing import spark_norm_text

    docs = read_documents_stream(spark, sf_dir)
    hashed = docs.select(F.expr(f"md5({spark_norm_text('text')})").alias("content_hash"))
    deduped = hashed.dropDuplicates(["content_hash"])
    return drain(deduped, "append")


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: native ``session_window`` (30-min gap) per
    user over the event stream — the state-store-backed streaming form of
    ``q_session_window``, drained with AvailableNow for batch parity.

    On a 24/7 stream the watermark closes a session once event time passes
    its end + gap, emitting it exactly once and freeing its state — the
    mechanism that keeps session state bounded at any scale; with the
    drain-and-stop trigger plus complete mode, every session is emitted,
    so the result equals the batch session_window query and carries its
    full SQL oracle.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.expr(SUM_VALUE).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return drain(agg, "complete")


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer
    dimension, then aggregate per market segment per hour.

    The static side is re-read per micro-batch by Structured Streaming
    (so a slowly-changing dim stays fresh) and joins without any stream
    state — the standard enrichment topology. Aggregation carries the
    watermark; AvailableNow + complete mode gives batch parity, so the
    op has a full SQL oracle.
    """
    events = read_events_stream(spark, sf_dir)
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    joined = events.join(customer, events.user_id == customer.c_custkey)
    agg = (
        joined.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("c_mktsegment"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.expr(SUM_VALUE).alias("sum_value"))
        .select(
            F.col("win.start").alias("hour_ts"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "sum_value",
        )
    )
    return drain(agg, "complete")


STREAM_ENRICH_SQL = """
SELECT date_trunc('hour', ts) AS hour_ts, c_mktsegment AS segment,
       count(*) AS n_events,
       cast(sum(cast(value as decimal(18,6))) as double) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


STREAM_QUERIES["stream_sessions"] = stream_sessions
STREAM_ORACLES["stream_sessions"] = Q_SESSION_WINDOW_SQL

STREAM_QUERIES["stream_enrich"] = stream_enrich
STREAM_ORACLES["stream_enrich"] = STREAM_ENRICH_SQL


def _event_stream(spark: SparkSession, sf_dir: str, types: list[str]):
    return read_events_stream(spark, sf_dir).filter(F.col("event_type").isin(types))


def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join: attribute each purchase to the clicks the same
    user made in the preceding hour.

    Both sides are unbounded streams, so the join buffers state on BOTH
    and needs watermarks plus a time-range join condition for Spark to
    know when a buffered click can never match again and evict it — the
    canonical funnel/attribution topology. With the AvailableNow drain
    the emitted set equals the batch interval self-join, giving a full
    SQL oracle.
    """
    clicks = _event_stream(spark, sf_dir, ["click"]).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", "2 hours")
    purchases = _event_stream(spark, sf_dir, ["purchase"]).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", "2 hours")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        F.expr("unix_micros(purchase_ts) - unix_micros(click_ts)").alias("lag_us"),
    )
    return drain(joined, "append")


STREAM_JOIN_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND c.ts <= p.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""

STREAM_QUERIES["stream_join"] = stream_join
STREAM_ORACLES["stream_join"] = STREAM_JOIN_SQL

STREAM_QUERIES["stream_dedup"] = stream_dedup
STREAM_ORACLES["stream_dedup"] = """
SELECT DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash
FROM documents
"""
