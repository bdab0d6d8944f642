"""Curated-zone maintenance: small-file compaction and key-based upsert.

Neither exists in the reference (its curated tables are write-once per
snapshot), but any lake that ingests continuously needs both:

- ``compact_partition`` — a landing/curated partition accumulates many
  small files (one per micro-batch / per extract task); small files
  destroy scan throughput at scale (per-file open cost, tiny row
  groups, starved vectorized reads). Compaction rewrites the partition
  into size-targeted files. Spark-first: one distributed read +
  ``repartition`` + overwrite — never a driver-side file merge.

- ``upsert_snapshot`` — latest-wins merge of an updates frame into a
  keyed table, the plain-parquet stand-in for MERGE INTO: union the
  current rows with the updates, keep the newest version per key via a
  window, rewrite. One shuffle on the key; at scale you'd bucket the
  table on the key so the window reuses the layout. The rewrite stages
  to a temp dir and swaps with crash-recoverable ordering (the displaced
  version survives under ``<path>__old`` until the new one is live) —
  plain-filesystem semantics; a lakehouse table format's commit protocol
  is the stronger production answer.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.fsutil import hadoop_fs, hadoop_path, swap_into_place

TARGET_FILE_BYTES = 128 * 1024 * 1024  # the usual parquet sweet spot


def compact_partition(
    spark: SparkSession,
    path: str,
    target_bytes: int = TARGET_FILE_BYTES,
    data_format: str = "parquet",
) -> int:
    """Rewrite ``path`` into ceil(bytes/target) files; returns file count.

    Size is estimated from the existing files (metadata listing, no data
    read); the rewrite itself is fully distributed, staged to a temp dir
    and swapped in with crash-recoverable ordering (see
    ``fsutil.swap_into_place``).
    """
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        raise FileNotFoundError(path)
    size = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(size / target_bytes))
    df = spark.read.format(data_format).load(path)
    tmp = f"{path}__compact_tmp"
    df.repartition(n_files).write.mode("overwrite").format(data_format).save(tmp)
    swap_into_place(spark, tmp, path)
    spark.catalog.refreshByPath(path)
    return n_files


def expire_snapshots(
    spark: SparkSession,
    path: str,
    partition_col: str,
    keep: int,
) -> list[str]:
    """Retention: drop all but the newest ``keep`` partitions of a
    snapshot-partitioned table; returns the deleted partition names.

    Partition dirs sort lexicographically (ISO dates / zero-padded ids do)
    — a metadata-only listing plus per-partition deletes, never a data
    scan. The batch analogue of a stream's watermark: bounded history.
    """
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        raise FileNotFoundError(path)
    parts = sorted(
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.isDirectory() and st.getPath().getName().startswith(f"{partition_col}=")
    )
    doomed = parts[:-keep] if keep > 0 else parts
    for name in doomed:
        fs.delete(hadoop_path(spark, f"{path}/{name}"), True)
    spark.catalog.refreshByPath(path)
    return doomed


def upsert_snapshot(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    version_col: str,
    data_format: str = "parquet",
) -> None:
    """Latest-wins upsert of ``updates`` into the keyed table at ``path``.

    Rows tie-breaking on equal ``version_col`` prefer the update side.
    """
    current = spark.read.format(data_format).load(path)
    tagged = current.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(key).orderBy(
        F.col(version_col).desc(), F.col("__src").desc()
    )
    merged = (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
    tmp = f"{path}__upsert_tmp"
    merged.write.mode("overwrite").format(data_format).save(tmp)
    swap_into_place(spark, tmp, path)
    spark.catalog.refreshByPath(path)
