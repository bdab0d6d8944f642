"""Streaming token-budgeted shard assignment (stateful shard feed).

``shard_by_tokens`` cuts a STATIC corpus into ~``SHARD_TOKENS``-token
shards with a two-phase distributed prefix sum. The streaming
counterpart a continuously-ingesting pipeline runs is a per-feed SHARD
WRITER: documents arrive, each feed keeps a running token total in
operator state, and a document is assigned to the shard its running
total starts in — shard N closes when the total passes N·budget. Feeds
are keyed by source (one output stream per domain), so state groups
parallelize across domains and no single writer serializes the corpus;
within a MICRO-BATCH the deterministic hash order (the
``shard_by_tokens`` spine order) fixes the assignment — the whole
group is drained and sorted ONCE before the fold, never per Arrow
chunk (chunk-local sorting would silently break parity past
maxRecordsPerBatch docs per source). Across micro-batches the fold is
arrival-ordered, as any streaming writer is; the AvailableNow drain is
a single batch, which is what gives exact batch parity — and
``events.drain`` ASSERTS that (one data-carrying micro-batch in the
query progress) instead of assuming it, so a rate-limit option or
multi-file source batching can never silently void the oracle
contract.

Plan shape: tokenize/hash run JVM-side BEFORE the stateful fold (the
pandas function only sorts its batch and folds integers — no text ever
reaches Python); state is one bigint per feed. With the AvailableNow
drain the emitted assignment equals the per-source exclusive-prefix-sum
window, so the op carries a full SQL oracle.

No reference counterpart (reference: glue_jobs/example_job/job.py);
LLM-pipeline surface, SURVEY.md §2. Pulled into the round-8 grading
window when the single-batch assertion landed (freeze rule: an edited
op regrades in the current window).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from etl_pipeline_example_spark.operators.hashing import (
    duck_hexint,
    duck_tokens,
    spark_hexint,
    spark_tokens,
)
from etl_pipeline_example_spark.operators.shard import SHARD_TOKENS
from etl_pipeline_example_spark.sources.readers import read_documents_stream
from etl_pipeline_example_spark.streaming.events import drain

_OUT_SCHEMA = "doc_id bigint, source string, n_tokens bigint, shard_seq bigint"
_STATE_SCHEMA = "cum bigint"


def _fold_shard_feed(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (cum,) = state.get if state.exists else (0,)
    # Arrow delivers the group as MULTIPLE chunks (maxRecordsPerBatch);
    # sorting per chunk would make the fold order chunk-local and break
    # stream/batch parity past ~10k docs per source — so drain, concat,
    # and sort the whole micro-batch group ONCE before folding.
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values(["h", "doc_id"], ignore_index=True)
    seqs = []
    for n in pdf["n_tokens"].astype("int64"):
        seqs.append(cum // SHARD_TOKENS)  # the shard the total STARTS in
        cum += int(n)
    out = pdf[["doc_id", "n_tokens"]].copy()
    out.insert(1, "source", key[0])
    out["shard_seq"] = pd.Series(seqs, dtype="int64")
    state.update((int(cum),))
    yield out


def stream_shard_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens, shard_seq): per-source streaming shard
    assignment after an AvailableNow drain."""
    h = spark_hexint("concat('shard:', cast(doc_id as string))")
    docs = (
        read_documents_stream(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            F.expr(f"size({spark_tokens('text')})").alias("n_tokens"),
            F.expr(h).alias("h"),
        )
    )
    assigned = docs.groupBy("source").applyInPandasWithState(
        _fold_shard_feed,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # the batch-parity oracle (global per-source prefix sum) holds only
    # for a single-batch drain, which ``drain`` asserts
    return drain(assigned, "append")


STREAM_SHARD_FEED_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         cast(len({duck_tokens("text")}) AS bigint) AS n_tokens,
         {duck_hexint("concat('shard:', cast(doc_id as varchar))")} AS h
  FROM documents
)
SELECT doc_id, source, n_tokens,
       cast(coalesce(sum(n_tokens) OVER (
              PARTITION BY source ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // {SHARD_TOKENS} AS bigint) AS shard_seq
FROM d
"""


SHARDFEED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_shard_feed": stream_shard_feed,
}

SHARDFEED_ORACLES: dict[str, str] = {
    "stream_shard_feed": STREAM_SHARD_FEED_SQL,
}
