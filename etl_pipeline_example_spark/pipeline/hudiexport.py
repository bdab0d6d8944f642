"""Hudi Copy-on-Write EXPORT for versioned tables — the reverse of
``read_hudi``, completing the third interop pair the way deltaexport
completed Delta (r15) and icebergexport completed Iceberg (r16): a
versioned table published in the public Hudi COW storage layout so any
Hudi reader (Spark+hudi, Trino, our own hudiread) can consume it.

Unlike the Delta/Iceberg exports — which publish METADATA over the
versioned table's existing parquet files — Hudi's format requires the
data files themselves to carry the ``_hoodie_*`` meta columns and the
``<fileId>_<token>_<instant>.parquet`` naming, so the export REWRITES
data (the format's inherent cost, stated rather than hidden) into a
SEPARATE destination directory:

- one stable FILE GROUP per versioned bucket (``fileId = b<bucket>``),
  so a later export rewrites ONLY the buckets whose backing files
  changed — the versioned layer's bucket-granular copy-on-write maps
  1:1 onto Hudi file-slice semantics, and the exported table's write
  amplification matches the source's;
- the instant timestamp ENCODES the captured versioned version
  (``<version:014d>`` — digit-string instants sort exactly like
  versions), which is how idempotence (re-exporting an exported head
  is a no-op) and time travel (``read_hudi(as_of=...)``) line up with
  versioned history;
- each export walks the real instant lifecycle —
  ``.commit.requested`` -> ``.commit.inflight`` -> ``.commit`` (the
  completed commit JSON carries partitionToWriteStats plus the
  captured per-bucket source-file map in ``extraMetadata``, which is
  the next export's diff base — self-contained, so the export keeps
  working after old SOURCE versions expire);
- meta columns are populated the way Hudi writers do:
  ``_hoodie_commit_time`` = the instant, ``_hoodie_record_key`` = the
  table's merge key (string), ``_hoodie_partition_path`` = '' (flat
  layout — bucket dirs are a layout, not hive partitions),
  ``_hoodie_file_name`` = the base-file name,
  ``_hoodie_commit_seqno`` = ``<instant>_<key>`` (deterministic).

Round-trip is pinned against our own ``read_hudi`` (itself pinned
against hand-built layout-conformant tables): latest read equals
``read_versioned``, post-upsert exports rewrite only changed buckets,
and instant time travel matches versioned history.

Honest boundary: shallow-clone borrowed external refs refuse export
(compact first), the deltaexport/icebergexport contract.

Reference: N/A (305-LoC Glue ETL); engine surface, SURVEY.md §2.
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.fsutil import (
    hadoop_fs,
    hadoop_path,
    publish_single_part,
    read_bytes,
    write_bytes,
)
from etl_pipeline_example_spark.pipeline.hudiread import _timeline
from etl_pipeline_example_spark.pipeline.versioned import (
    _is_external,
    _read_manifest,
    _read_pointer,
)

_TOKEN = "0-0-0"


def export_hudi(spark: SparkSession, src: str, dest: str) -> str:
    """Publish the CURRENT versioned state of ``src`` as a Hudi COW
    table at ``dest``; returns the instant timestamp now at the head
    (idempotent if the current versioned version is already
    exported). Only buckets whose source files changed since the last
    export are rewritten."""
    head = _read_pointer(spark, src)
    manifest = _read_manifest(spark, src, head)
    externals = [
        e["path"] for e in manifest["files"] if _is_external(e["path"])
    ]
    if externals:
        raise ValueError(
            "cannot export a shallow clone's borrowed external refs to a"
            " self-contained Hudi table — compact_versioned() first"
            f" (first borrowed ref: {externals[0]})"
        )
    ts = f"{head:014d}"
    hoodie = f"{dest}/.hoodie"
    fs, commit_path = hadoop_fs(spark, f"{hoodie}/{ts}.commit")
    if fs.exists(commit_path):
        return ts  # this versioned head is already published
    props = f"{hoodie}/hoodie.properties"
    if not fs.exists(hadoop_path(spark, props)):
        write_bytes(
            spark,
            props,
            (
                "#etl versioned export\n"
                "hoodie.table.name=etl_versioned_export\n"
                "hoodie.table.type=COPY_ON_WRITE\n"
                "hoodie.table.version=6\n"
            ).encode(),
            overwrite=True,
        )
    # previous export's captured per-bucket source-file map (diff base)
    completed, _earliest = _timeline(spark, dest)
    prev_map: dict = {}
    if completed:
        prev_meta = json.loads(
            read_bytes(spark, f"{hoodie}/{max(completed)}.commit")
        )
        prev_map = json.loads(
            (prev_meta.get("extraMetadata") or {}).get("bucketFiles", "{}")
        )
    buckets: dict[int, list[str]] = {}
    for e in manifest["files"]:
        buckets.setdefault(int(e.get("bucket", 0)), []).append(e["path"])
    key = manifest.get("key")
    # real instant lifecycle: requested -> inflight -> completed
    for state in ("requested", "inflight"):
        write_bytes(
            spark, f"{hoodie}/{ts}.commit.{state}", b"{}", overwrite=True
        )
    stats = []
    rewritten = 0
    for b in sorted(buckets):
        srcs = sorted(buckets[b])
        fid = f"b{b:05d}"
        if prev_map.get(str(b)) == srcs:
            continue  # unchanged bucket: the prior file slice stands
        rewritten += 1
        name = f"{fid}_{_TOKEN}_{ts}.parquet"
        df = spark.read.parquet(
            *[posixpath.join(src, p) for p in srcs]
        )
        keycol = (
            F.col(key).cast("string") if key is not None else F.lit("")
        )
        df = df.select(
            F.lit(ts).alias("_hoodie_commit_time"),
            F.concat_ws("_", F.lit(ts), keycol).alias(
                "_hoodie_commit_seqno"
            ),
            keycol.alias("_hoodie_record_key"),
            F.lit("").alias("_hoodie_partition_path"),
            F.lit(name).alias("_hoodie_file_name"),
            "*",
        )
        size = publish_single_part(
            spark, df, f"{hoodie}/.stage_{fid}_{ts}", f"{dest}/{name}"
        )
        stats.append(
            {
                "fileId": fid,
                "path": name,
                "fileSizeInBytes": size,
                "numWrites": None,
            }
        )
    commit = {
        "partitionToWriteStats": {"": stats},
        "operation": "upsert" if completed else "bulk_insert",
        "extraMetadata": {
            "etlVersionedVersion": str(head),
            "bucketFiles": json.dumps(
                {str(b): sorted(buckets[b]) for b in buckets}
            ),
        },
    }
    write_bytes(
        spark,
        f"{hoodie}/{ts}.commit",
        json.dumps(commit).encode(),
        overwrite=True,
    )
    return ts
