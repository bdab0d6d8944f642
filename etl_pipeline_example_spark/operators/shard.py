"""Token-budgeted shard assignment via a distributed prefix sum.

The last step before training ingestion: lay the corpus out in
deterministic hash order and cut it into shards of ~``SHARD_TOKENS``
tokens each (shard files are the unit of dataloader parallelism, so
their sizes must balance). The assignment needs each document's RUNNING
token total — a global prefix sum, which naively is a window over ONE
partition: the classic single-task bottleneck, fine in an oracle, fatal
at 100 TB.

The Spark plan uses the standard two-phase scalable form instead:

  phase 1   bucket by the TOP bits of the 60-bit order hash (so bucket
            ranges ARE contiguous ranges of the global order), cumsum
            within each bucket via an ordinary partitioned window;
  phase 2   per-bucket token totals (``NUM_BUCKETS`` rows) → their
            exclusive prefix on the driver → broadcast-joined back as
            each bucket's global offset. global_cum = local_cum +
            bucket_offset, shard = (global_cum − n_tokens) DIV budget.

The DuckDB oracle runs the single global window — same integers, so the
assignment matches bit-for-bit while the Spark side never funnels the
corpus through one task.

No reference counterpart (the reference is a 305-LoC ETL example);
LLM-pipeline surface, SURVEY.md §2 row 34b.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import (
    duck_hexint,
    duck_tokens,
    spark_hexint,
    spark_tokens,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

SHARD_TOKENS = 2000  # token budget per shard
NUM_BUCKETS = 32  # prefix-sum fan-out; top 5 bits of the order hash
_BUCKET_SHIFT = 60 - 5  # hexhash is 60-bit


def shard_by_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, shard_id): deterministic-hash-ordered corpus
    cut into ~``SHARD_TOKENS``-token shards; a doc belongs to the shard
    its RUNNING total starts in (docs are never split)."""
    h = spark_hexint("concat('shard:', cast(doc_id as string))")
    # the narrow (doc_id, n_tokens, h, bucket) spine feeds BOTH phases
    # (the bucket-totals collect and the windowed cumsum) — persisted so
    # the tokenize+hash scan runs once, released when the next key starts
    docs = tracked_persist(
        read_table(spark, sf_dir, "documents", parallel=True)
        .select(
            "doc_id",
            F.expr(f"size({spark_tokens('text')})").alias("n_tokens"),
            F.expr(h).alias("h"),
        )
        .withColumn("bucket", F.expr(f"shiftright(h, {_BUCKET_SHIFT})"))
    )
    w = Window.partitionBy("bucket").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    local = docs.withColumn(
        "local_cum", F.sum("n_tokens").over(w)
    )
    totals = sorted(
        docs.groupBy("bucket").agg(F.sum("n_tokens").alias("t")).collect(),
        key=lambda r: r["bucket"],
    )
    offsets, acc = [], 0
    for r in totals:  # exclusive prefix over ≤ NUM_BUCKETS rows
        offsets.append((r["bucket"], acc))
        acc += r["t"]
    off = spark.createDataFrame(offsets, "bucket bigint, bucket_offset bigint")
    return (
        local.join(F.broadcast(off), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            F.expr(
                f"(local_cum + bucket_offset - n_tokens) div {SHARD_TOKENS}"
            ).alias("shard_id"),
        )
    )


SHARD_BY_TOKENS_SQL = f"""
WITH d AS (
  SELECT doc_id, len({duck_tokens("text")}) AS n_tokens,
         {duck_hexint("concat('shard:', cast(doc_id as varchar))")} AS h
  FROM documents
)
SELECT doc_id, n_tokens,
       cast((sum(n_tokens) OVER (ORDER BY h, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
         // {SHARD_TOKENS} AS bigint) AS shard_id
FROM d
"""


SHARD_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "shard_by_tokens": shard_by_tokens,
}

SHARD_ORACLES: dict[str, str] = {
    "shard_by_tokens": SHARD_BY_TOKENS_SQL,
}
