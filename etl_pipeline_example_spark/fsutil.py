"""Shared Hadoop-filesystem plumbing (scheme-agnostic: local, s3a, ...).

Single home for the py4j FileSystem access and the staged-swap sequence
that catalog deploy, compaction, and upsert all need — one place to fix,
one behavior everywhere.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the session's Hadoop conf."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def dataset_bytes(spark: SparkSession, path: str) -> int | None:
    """Total bytes of the file or directory tree at ``path`` — part files
    and ``k=v`` partitions included, checksum files not — from Hadoop's
    ``getContentSummary``, so one driver-side call answers for any scheme
    and starts no job. None when ``path`` does not exist."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    return int(fs.getContentSummary(hpath).getLength())


def swap_into_place(spark: SparkSession, tmp_path: str, dest_path: str) -> None:
    """Replace ``dest_path`` with ``tmp_path`` with crash-recoverable
    ordering: move the old dir ASIDE (rename), move tmp in, then delete
    the old copy. A crash at any point leaves either the original or the
    new data intact under a well-known name (``<dest>__old`` holds the
    displaced version until the final delete) — never a window where the
    path is simply gone, which a delete-then-rename sequence has.

    Note: directory rename is atomic on HDFS/local FS; on S3 it is a
    copy+delete, where a real deployment uses a table format's commit
    protocol instead — this helper is the plain-filesystem fallback for
    the in-place zone/catalog tables. The versioned-table layer
    (pipeline/versioned.py) needs no such fallback: its commit protocol
    is rename-free end-to-end (create-exclusive manifest + overwrite
    pointer PUT, torn-tolerant readers) and is the object-store path.
    """
    jvm = spark.sparkContext._jvm
    fs, dest = hadoop_fs(spark, dest_path)
    tmp = jvm.org.apache.hadoop.fs.Path(tmp_path)
    old = jvm.org.apache.hadoop.fs.Path(dest_path + "__old")
    if fs.exists(old):
        fs.delete(old, True)
    had_dest = fs.exists(dest)
    if had_dest and not fs.rename(dest, old):
        raise IOError(f"could not stage aside {dest_path}")
    if not fs.rename(tmp, dest):
        # roll back so the original stays live
        if had_dest:
            fs.rename(old, dest)
        raise IOError(f"could not move {tmp_path} into place")
    if had_dest:
        fs.delete(old, True)
