"""Streaming near-duplicate gate (ingest-time batch-vs-history check).

``neardup_incremental`` (operators/nearincremental.py) runs the daily
BATCH shape; a continuously-ingesting pipeline wants the same check at
the STREAM boundary: as documents arrive, probe the persisted history
band index, verify candidates by signature agreement, and flag — so a
near-dup never even lands in the raw zone. Topology (shared by both
entry points via ``_gate_flags``; streaming/neargate_index.py supplies
the persisted-index static sides):

  per-row signatures   the 16 minhash components computed as SCALAR
                       array expressions over the doc's own shingle
                       set (two md5 slices per shingle, zip_with +
                       array_min per component) — NO aggregation, NO
                       stream state for signing; bit-identical to the
                       batch groupBy/min construction because min over
                       a doc's shingles is min over that array.
  band probe           explode the 8 (band, bucket) cells, stream-
                       static INNER join against the history band
                       index (static side re-read per micro-batch —
                       the enrichment topology of ``stream_enrich``).
  verify               second stream-static join pulls the candidate
                       history doc's signature; keep when ≥
                       ``NEAR_EST_MIN`` of 16 components agree (the
                       ``neardup_incremental`` criterion).
  dedup emissions      a doc colliding in several bands emits several
                       verified rows → one stateful groupBy(doc_id)
                       max() in update mode (state = one row per
                       FLAGGED doc, watermark-free drain).

With the AvailableNow drain the flag set equals the batch operator's
``neardup_of_history`` half, so the op carries a full SQL oracle.

Scale shape: signing is per-row whole-stage codegen; both joins are
stream-static on narrow keys; only flagged doc_ids enter state.

No reference counterpart (reference: glue_jobs/example_job/job.py);
LLM-pipeline surface, SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.dedup import (
    MH_BANDS,
    MH_NUM_HASHES,
    MH_PRIME,
    MH_ROWS,
    SHINGLE_K,
)
from etl_pipeline_example_spark.operators.hashing import spark_h32, spark_tokens
from etl_pipeline_example_spark.operators.incremental import INCR_SPLIT
from etl_pipeline_example_spark.operators.nearincremental import (
    NEAR_EST_MIN,
    NEARDUP_INCREMENTAL_SQL,
    _bands,
    _signatures,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import (
    read_documents_stream,
    read_table,
)
from etl_pipeline_example_spark.streaming.events import drain

# The gate's only stateful stage holds ONE boolean row per FLAGGED doc —
# orders of magnitude smaller state than the event-stream ops that share
# events.py's STREAM_STATE_PARTITIONS=16. Narrower state parallelism
# drops the per-micro-batch state-store coordination floor ~15% (16→8
# measured 3.1 → 2.6 s at sf0.1; 8→4 was noise), and at production
# flag volumes this constant scales with flagged rows, not corpus size.
GATE_STATE_PARTITIONS = 8


def _incoming_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming (doc_id, m0..m15, band, bucket): per-row scalar minhash
    signing of the incoming batch plus the exploded LSH band cells."""
    h1 = spark_h32("s", 1)
    h2 = spark_h32("s", 17)
    docs = (
        read_documents_stream(spark, sf_dir)
        .filter(F.col("doc_id") >= INCR_SPLIT)
        # widen BEFORE the tokenize+md5 signing chain: a single-file
        # micro-batch scans as ONE task, and the whole per-row scalar
        # minhash pass (2 md5 per shingle + 16 zip_with mins) ran
        # serially inside it — measured 2.0 s of the gate's 3.1 s warm
        # addBatch (guide §2.5: width follows per-row cost, not bytes).
        # The exchange moves only the raw batch rows once; explicit
        # width is exempt from the scoped 8-partition state conf, and
        # state partitioning (shuffle.partitions) is untouched.
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.expr(spark_tokens("text")).alias("tk"))
        .filter(F.expr(f"size(tk) >= {SHINGLE_K}"))
        .select(
            "doc_id",
            F.expr(
                f"array_distinct(transform(sequence(1, size(tk) - {SHINGLE_K} + 1),"
                f" j -> concat_ws(' ', slice(tk, j, {SHINGLE_K}))))"
            ).alias("sh"),
        )
        .select(
            "doc_id",
            F.expr(f"transform(sh, s -> {h1})").alias("h1s"),
            F.expr(f"transform(sh, s -> {h2})").alias("h2s"),
        )
        .select(
            "doc_id",
            *[
                F.expr(
                    f"array_min(zip_with(h1s, h2s,"
                    f" (a, b) -> (a + {i + 1} * b) % {MH_PRIME}))"
                ).alias(f"m{i}")
                for i in range(MH_NUM_HASHES)
            ],
        )
    )
    band_cols = [
        F.struct(
            F.lit(j).alias("band"),
            F.expr(
                "md5(concat_ws('_', "
                + ", ".join(f"m{j * MH_ROWS + r}" for r in range(MH_ROWS))
                + "))"
            ).alias("bucket"),
        )
        for j in range(MH_BANDS)
    ]
    return docs.select(
        "doc_id",
        *[F.col(f"m{i}") for i in range(MH_NUM_HASHES)],
        F.explode(F.array(*band_cols)).alias("bb"),
    ).select(
        "doc_id",
        *[F.col(f"m{i}") for i in range(MH_NUM_HASHES)],
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def _gate_flags(
    spark: SparkSession,
    sf_dir: str,
    hist_bands: DataFrame,
    hist_sig_b: DataFrame,
) -> DataFrame:
    """The full gate given the two static history sides: probe + verify
    + stateful flag-dedup + AvailableNow drain + left join back onto the
    incoming batch. ``hist_bands`` is (band, bucket, other); ``hist_sig_b``
    is (other, hm0..hm15). A production deployment would write to a
    durable checkpoint and NOT drain with AvailableNow."""
    stream_bands = _incoming_bands(spark, sf_dir)
    match = " + ".join(
        f"CASE WHEN m{i} = hm{i} THEN 1 ELSE 0 END" for i in range(MH_NUM_HASHES)
    )
    flagged = (
        stream_bands.join(hist_bands, ["band", "bucket"])
        .join(hist_sig_b, "other")
        .filter(F.expr(f"{match} >= {NEAR_EST_MIN}"))
        .groupBy("doc_id")
        .agg(F.lit(True).alias("near_hist"))
    )
    hits = (
        drain(flagged, "update", GATE_STATE_PARTITIONS)
        .groupBy("doc_id")
        .agg(F.max("near_hist").alias("near_hist"))
    )
    batch_docs = (
        read_table(spark, sf_dir, "documents", parallel=True)
        .select("doc_id")
        .filter(F.col("doc_id") >= INCR_SPLIT)
    )
    return batch_docs.join(hits, "doc_id", "left").select(
        "doc_id", F.expr("coalesce(near_hist, false)").alias("near_hist")
    )


def stream_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, near_hist): every incoming-batch doc, flagged true when
    a verified history near-dup exists. AvailableNow drain. This is the
    oracle shape: history is signed in-op; the production shape probes
    the ``build_neardup_index`` artifact (streaming/neargate_index.py)."""
    # The signature frame has TWO stream-static consumers (band probe +
    # verify pull), each re-evaluated per micro-batch, so it is cached
    # (tracked, released when the next key starts) — without it the full
    # history tokenize+sign chain would run twice per batch.
    hist_sig = tracked_persist(
        _signatures(spark, sf_dir).filter(F.col("doc_id") < INCR_SPLIT)
    )
    hist_bands = _bands(hist_sig).withColumnRenamed("doc_id", "other")
    hist_sig_b = hist_sig.select(
        F.col("doc_id").alias("other"),
        *[F.col(f"m{i}").alias(f"hm{i}") for i in range(MH_NUM_HASHES)],
    )
    return _gate_flags(spark, sf_dir, hist_bands, hist_sig_b)


# the batch operator's vs-history half IS the oracle: rewrap its CTE
# chain and project the flag
STREAM_NEARDUP_GATE_SQL = f"""
WITH inc AS ({NEARDUP_INCREMENTAL_SQL})
SELECT doc_id, status = 'neardup_of_history' AS near_hist FROM inc
"""


NEARGATE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_neardup_gate": stream_neardup_gate,
}

NEARGATE_ORACLES: dict[str, str] = {
    "stream_neardup_gate": STREAM_NEARDUP_GATE_SQL,
}
