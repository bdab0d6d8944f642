"""foreachBatch sink into the VERSIONED table layer: streaming commits
with time travel.

``stream_upsert`` (streaming/upsertsink.py) merges micro-batches into
a serving table in place; this sink commits each micro-batch as a NEW
VERSION of a manifest-based versioned table (pipeline/versioned.py),
so the streaming pipeline inherits the layer's whole contract: time
travel to the table as of any batch, bucket-granular copy-on-write
writes, audit diffs between batches, retention with shared-file GC.

Exactly-once VERSIONS (not just content): foreachBatch is
at-least-once, and a replayed batch would otherwise commit a second,
content-identical version (version bloat, broken batch↔version
audit). The sink keeps a batch LEDGER inside the table dir
(``_batches/<id>``, created atomically AFTER the version commit) and
skips any batch id already present — the same durable-marker pattern
the backfill ledger uses (pipeline/backfill.py). A crash BETWEEN the
version commit and the marker re-runs the batch: the upsert is
latest-wins idempotent, so the extra version is content-identical and
the audit trail stays correct (documented at-least-once-version,
exactly-once-content in the crash window — the honest bound without a
transactional catalog). The ledger is only meaningful against ITS
checkpoint (ids restart with a fresh one), so both live inside the
table directory — lost or kept together, one recovery unit.

No reference counterpart (305-LoC Glue ETL); streaming-sink surface,
SURVEY.md §2 (pytest-verified — stateful side effects, no oracle by
design).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_example_spark.fsutil import hadoop_fs, write_bytes
from etl_pipeline_example_spark.pipeline.versioned import (
    _versions,
    upsert_versioned,
    write_versioned,
)

_LEDGER = "_batches"


def _mark_path(path: str, batch_id: int) -> str:
    return f"{path}/{_LEDGER}/{batch_id:012d}"


def _mark(spark: SparkSession, path: str, batch_id: int) -> None:
    write_bytes(spark, _mark_path(path, batch_id), b"done\n", overwrite=True)


def _marked(spark: SparkSession, path: str, batch_id: int) -> bool:
    fs, mark = hadoop_fs(spark, _mark_path(path, batch_id))
    return bool(fs.exists(mark))


def stream_versioned_upsert(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    key: str,
    version_col: str,
) -> None:
    """Drain ``source`` (a streaming DataFrame) into the versioned
    table at ``target_path``: one table version per (non-empty,
    not-yet-committed) micro-batch."""

    def _commit(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty() or _marked(spark, target_path, batch_id):
            return
        if _versions(spark, target_path):
            upsert_versioned(spark, target_path, batch, key, version_col)
        else:
            write_versioned(spark, batch, target_path, key=key)
        _mark(spark, target_path, batch_id)

    # the checkpoint lives INSIDE the table dir: batch ids are only
    # meaningful against a durable checkpoint (a fresh checkpoint
    # restarts ids at 0, and the ledger would wrongly skip new data),
    # and co-locating it makes table + progress one recovery unit
    ckpt = f"{target_path}/_checkpoint"
    q = (
        source.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def committed_batches(path: str) -> list[int]:
    """Batch ids the ledger records (local-path helper for tests)."""
    ledger = os.path.join(path, _LEDGER)
    if not os.path.isdir(ledger):
        return []
    # skip Hadoop-local .crc sidecars and any other non-marker entries
    return sorted(
        int(name) for name in os.listdir(ledger) if name.isdigit()
    )
