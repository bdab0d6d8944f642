"""Apache Iceberg EXPORT for versioned tables — the reverse interop.

``read_iceberg`` (icebergread.py) reads external Iceberg tables here;
this module is the other direction, completing the Iceberg pair the
way deltaexport.py completed the Delta pair: publish a versioned
table as spec-conformant Iceberg v2 metadata any Iceberg runtime can
plan against, while our rename-free commit protocol keeps owning
writes.

``export_iceberg(spark, path)`` brings ``<path>/metadata`` in sync
with the CURRENT versioned manifest:

- Iceberg schema translated from the manifest's Spark StructType
  JSON with STABLE field ids: ids are assigned on first export and
  REUSED by name afterwards (new columns get fresh ids — exactly the
  versioned layer's add-only evolution; a renamed source column
  would mint a new id, which is the honest mapping for a layer that
  has no rename op);
- every export appends one SNAPSHOT: a new manifest (Avro, written
  by the stdlib encoder avrowrite.py with spec field-ids and the
  required v2 counts) listing every live data file — ADDED for new
  paths, EXISTING for carried ones — plus a one-entry manifest list
  pointing at it. Full-manifest-per-snapshot is the spec's
  rewrite/compaction commit shape; versioned tables are bucket-COW,
  so manifests stay file-count-sized;
- ``record_count`` / ``file_size_in_bytes`` are REAL (parquet footer
  + file stat — split-planning inputs for external engines);
- the captured versioned version rides table ``properties``
  (``etl.versioned.version``), the next export's diff/no-op base;
- metadata files are ``0000N-<contenthash>.metadata.json``;
  ``version-hint.text`` is written as the usual hint, and the
  listing stays the truth (the icebergread contract);
- idempotent: exporting an already-exported version returns the
  current snapshot id without writing.

Honest boundaries: shallow-clone borrowed refs refuse export (the
deltaexport rule — no dangling absolute paths in a published log);
array/map columns raise (their Iceberg element/key/value ids need a
stable nesting story our add-only evolution doesn't define); struct
and all primitive/decimal types translate.

Round-trip is pinned against our own ``read_iceberg`` (itself pinned
against hand-built conformant metadata + the INDEPENDENT test-side
Avro encoder), covering latest read, snapshot time travel across
exports, and schema evolution.

Reference: N/A (305-LoC Glue ETL); engine surface, SURVEY.md §2.
"""

from __future__ import annotations

import hashlib
import json
import posixpath

from pyspark.sql import SparkSession

from etl_pipeline_example_spark.fsutil import (
    hadoop_fs,
    hadoop_path,
    read_bytes,
    write_bytes,
)
from etl_pipeline_example_spark.pipeline.avroread import read_avro_ocf
from etl_pipeline_example_spark.pipeline.avrowrite import write_avro_ocf
from etl_pipeline_example_spark.pipeline.icebergread import _latest_metadata
from etl_pipeline_example_spark.pipeline.versioned import (
    _is_external,
    _read_manifest,
    _read_pointer,
)

_PROP_VERSION = "etl.versioned.version"

# Spark schema JSON type -> Iceberg primitive
_PRIM = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "string": "string",
    "binary": "binary",
    "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz",
}

# Avro writer schemas with the spec's field-ids. Optional fields are
# (null | T) unions the exporter leaves null.
_MANIFEST_LIST_AVRO = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

_MANIFEST_AVRO = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {
            "name": "sequence_number",
            "type": ["null", "long"],
            "field-id": 3,
        },
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "field-id": 4,
        },
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {
                        "name": "file_format",
                        "type": "string",
                        "field-id": 101,
                    },
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {
                            "type": "record",
                            "name": "r102",
                            "fields": [],
                        },
                    },
                    {
                        "name": "record_count",
                        "type": "long",
                        "field-id": 103,
                    },
                    {
                        "name": "file_size_in_bytes",
                        "type": "long",
                        "field-id": 104,
                    },
                ],
            },
        },
    ],
}


def _iceberg_fields(
    spark_fields: list[dict], ids: dict[str, int], next_id: list[int],
    prefix: str = "",
) -> list[dict]:
    out = []
    for f in spark_fields:
        full = prefix + f["name"]
        if full not in ids:
            ids[full] = next_id[0]
            next_id[0] += 1
        t = f["type"]
        if isinstance(t, dict):
            if t.get("type") == "struct":
                fid = ids[full]
                nested = _iceberg_fields(
                    t["fields"], ids, next_id, full + "."
                )
                out.append(
                    {
                        "id": fid,
                        "name": f["name"],
                        "required": not f.get("nullable", True),
                        "type": {"type": "struct", "fields": nested},
                    }
                )
                continue
            raise ValueError(
                f"unsupported column type for Iceberg export: {t.get('type')!r}"
                f" (column {full!r}) — array/map element-id evolution is"
                " not defined for this layer"
            )
        if t.startswith("decimal"):
            ice = t.replace("decimal", "decimal", 1)  # decimal(p,s) matches
        elif t in _PRIM:
            ice = _PRIM[t]
        else:
            raise ValueError(
                f"unsupported column type for Iceberg export: {t!r}"
                f" (column {full!r})"
            )
        out.append(
            {
                "id": ids[full],
                "name": f["name"],
                "required": not f.get("nullable", True),
                "type": ice,
            }
        )
    return out


def _existing_ids(schema: dict, ids: dict[str, int], prefix: str = "") -> None:
    for f in schema.get("fields", []):
        full = prefix + f["name"]
        ids[full] = f["id"]
        if isinstance(f["type"], dict) and f["type"].get("type") == "struct":
            _existing_ids(f["type"], ids, full + ".")


def _prev_file_seqs(
    spark: SparkSession, prev: dict | None
) -> dict[str, tuple[int, int]]:
    """file_path -> (data sequence number, file sequence number)
    resolved from the PREVIOUS snapshot's manifest chain, applying the
    spec's inheritance rule: a null sequence number on a status-ADDED
    entry inherits the manifest-list entry's ``sequence_number``; a
    null ``file_sequence_number`` falls back to the entry's data
    sequence (a data file's file-sequence equals the sequence of the
    snapshot that added it)."""
    if not prev:
        return {}
    cur = prev.get("current-snapshot-id")
    snap = next(
        (
            s
            for s in prev.get("snapshots") or []
            if s.get("snapshot-id") == cur
        ),
        None,
    )
    if not snap or not snap.get("manifest-list"):
        return {}
    out: dict[str, tuple[int, int]] = {}
    _s, ml_entries = read_avro_ocf(
        read_bytes(spark, snap["manifest-list"])
    )
    for mle in ml_entries:
        mseq = int(mle.get("sequence_number") or 0)
        _s2, m_entries = read_avro_ocf(
            read_bytes(spark, mle["manifest_path"])
        )
        for e in m_entries:
            if int(e.get("status") or 0) == 2:  # DELETED
                continue
            ds = e.get("sequence_number")
            ds = int(ds) if ds is not None else mseq
            fsq = e.get("file_sequence_number")
            fsq = int(fsq) if fsq is not None else ds
            out[e["data_file"]["file_path"]] = (ds, fsq)
    return out


def _parquet_rows(spark: SparkSession, path: str) -> int:
    """Row count from the parquet footer, read through Hadoop so any
    scheme works: the last 8 bytes give the footer length, then the
    footer is read and parsed from memory behind a leading magic."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    footer_len = int.from_bytes(read_bytes(spark, path, tail=8)[:4], "little")
    footer = read_bytes(spark, path, tail=footer_len + 8)
    return int(pq.read_metadata(pa.BufferReader(b"PAR1" + footer)).num_rows)


def export_iceberg(spark: SparkSession, path: str) -> int:
    """Sync ``<path>/metadata`` (Iceberg v2) to the current versioned
    manifest; returns the snapshot id now current (idempotent if the
    current versioned version is already exported)."""
    head = _read_pointer(spark, path)
    manifest = _read_manifest(spark, path, head)
    externals = [
        e["path"] for e in manifest["files"] if _is_external(e["path"])
    ]
    if externals:
        raise ValueError(
            "cannot export a shallow clone's borrowed external refs to a"
            " self-contained Iceberg table — compact_versioned() first"
            f" (first borrowed ref: {externals[0]})"
        )
    fs, _ = hadoop_fs(spark, path)
    mdir = f"{path}/metadata"
    try:
        prev = json.loads(read_bytes(spark, _latest_metadata(spark, path)))
    except FileNotFoundError:
        prev = None
    if prev is not None:
        captured = (prev.get("properties") or {}).get(_PROP_VERSION)
        if captured is not None and int(captured) == head:
            return int(prev.get("current-snapshot-id"))
    # stable field ids: reuse by (dotted) name from every prior schema
    ids: dict[str, int] = {}
    if prev is not None:
        for s in prev.get("schemas") or []:
            _existing_ids(s, ids)
    next_id = [max(ids.values(), default=0) + 1]
    spark_schema = json.loads(manifest["schema"])
    fields = _iceberg_fields(spark_schema["fields"], ids, next_id)
    last_column_id = max(
        [next_id[0] - 1] + [int(prev["last-column-id"])] if prev else
        [next_id[0] - 1]
    )
    schemas = list(prev.get("schemas") or []) if prev else []
    cur_fields_json = json.dumps(fields, sort_keys=True)
    schema_id = None
    for s in schemas:
        if json.dumps(s.get("fields"), sort_keys=True) == cur_fields_json:
            schema_id = s["schema-id"]
            break
    if schema_id is None:
        schema_id = max((s["schema-id"] for s in schemas), default=-1) + 1
        schemas.append(
            {"schema-id": schema_id, "type": "struct", "fields": fields}
        )
    snapshots = list(prev.get("snapshots") or []) if prev else []
    snap_id = max((s["snapshot-id"] for s in snapshots), default=0) + 1
    seq = int(prev.get("last-sequence-number", 0)) + 1 if prev else 1
    stamp = int(manifest.get("committed_at_ms", 0))
    prev_files: set[str] = set()
    if snapshots:
        # carried-vs-added statuses come from the versioned manifest
        # history, not from re-reading our own avro
        try:
            pm = _read_manifest(
                spark, path,
                int((prev.get("properties") or {}).get(_PROP_VERSION, -1)),
            )
            prev_files = {e["path"] for e in pm["files"]}
        except Exception:
            prev_files = set()
    prev_seqs = _prev_file_seqs(spark, prev) if snapshots else {}
    entries = []
    added = existing = 0
    added_rows = existing_rows = 0
    min_seq = seq
    for e in manifest["files"]:
        full = posixpath.join(path, e["path"])
        rows = _parquet_rows(spark, full)
        size = int(fs.getFileStatus(hadoop_path(spark, full)).getLen())
        # a file is EXISTING only when BOTH histories agree: the
        # versioned manifest says it was carried AND the prior Iceberg
        # manifest chain yields its original add sequence (the spec
        # allows null/inheritance only for status ADDED, so an
        # unresolvable carried file degrades to ADDED — self-healing)
        seq_pair = prev_seqs.get(full)
        is_new = e["path"] not in prev_files or seq_pair is None
        added += int(is_new)
        existing += int(not is_new)
        added_rows += rows * int(is_new)
        existing_rows += rows * int(not is_new)
        if not is_new:
            min_seq = min(min_seq, seq_pair[0])
        entries.append(
            {
                "status": 1 if is_new else 0,
                "snapshot_id": snap_id,
                # EXISTING entries carry the file's ORIGINAL data/file
                # sequence numbers, stable across any number of carries
                # (round-16 ADVICE); ADDED entries inherit seq per spec
                "sequence_number": None if is_new else seq_pair[0],
                "file_sequence_number": None if is_new else seq_pair[1],
                "data_file": {
                    "content": 0,
                    "file_path": full,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": rows,
                    "file_size_in_bytes": size,
                },
            }
        )
    man_bytes = write_avro_ocf(
        _MANIFEST_AVRO,
        entries,
        extra_meta={
            "schema": json.dumps(
                {"schema-id": schema_id, "type": "struct", "fields": fields}
            ),
            "partition-spec": "[]",
            "partition-spec-id": "0",
            "format-version": "2",
            "content": "data",
        },
    )
    man_name = f"m{snap_id:05d}-{hashlib.md5(man_bytes).hexdigest()[:8]}.avro"
    man_path = f"{mdir}/{man_name}"
    write_bytes(spark, man_path, man_bytes, overwrite=True)
    ml_bytes = write_avro_ocf(
        _MANIFEST_LIST_AVRO,
        [
            {
                "manifest_path": man_path,
                "manifest_length": len(man_bytes),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": min_seq,
                "added_snapshot_id": snap_id,
                "added_files_count": added,
                "existing_files_count": existing,
                "deleted_files_count": 0,
                "added_rows_count": added_rows,
                "existing_rows_count": existing_rows,
                "deleted_rows_count": 0,
            }
        ],
        extra_meta={"format-version": "2"},
    )
    ml_name = (
        f"snap-{snap_id}-{hashlib.md5(ml_bytes).hexdigest()[:8]}.avro"
    )
    ml_path = f"{mdir}/{ml_name}"
    write_bytes(spark, ml_path, ml_bytes, overwrite=True)
    snapshots.append(
        {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": stamp,
            "manifest-list": ml_path,
            "schema-id": schema_id,
            "summary": {"operation": "overwrite"},
        }
    )
    uuid = (
        prev.get("table-uuid")
        if prev
        else hashlib.md5(path.encode()).hexdigest()
    )
    meta = {
        "format-version": 2,
        "table-uuid": uuid,
        "location": path,
        "last-sequence-number": seq,
        "last-updated-ms": stamp,
        "last-column-id": last_column_id,
        "schemas": schemas,
        "current-schema-id": schema_id,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {_PROP_VERSION: str(head)},
        "current-snapshot-id": snap_id,
        "snapshots": snapshots,
        "snapshot-log": [
            {
                "snapshot-id": s["snapshot-id"],
                "timestamp-ms": s["timestamp-ms"],
            }
            for s in snapshots
        ],
        "metadata-log": [],
    }
    mv = snap_id  # one metadata file per export
    body = json.dumps(meta, indent=1).encode()
    name = f"{mv:05d}-{hashlib.md5(body).hexdigest()[:8]}.metadata.json"
    # create-exclusive: racing exporters cannot both claim version mv
    write_bytes(spark, f"{mdir}/{name}", body, overwrite=False)
    write_bytes(
        spark, f"{mdir}/version-hint.text", str(mv).encode(), overwrite=True
    )
    return snap_id
