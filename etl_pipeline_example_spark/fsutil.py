"""Shared Hadoop-filesystem plumbing (scheme-agnostic: local, s3a, ...).

Single home for the py4j FileSystem access — one place to fix, one
behavior everywhere. No other package module touches the JVM's
FileSystem API; they go through these helpers:

- ``hadoop_path`` / ``hadoop_fs``: a Hadoop ``Path``, and the
  ``(FileSystem, Path)`` pair resolved through the session's conf;
- ``read_bytes(spark, path, tail=None)``: a file's bytes, or only its
  last ``tail`` bytes (a parquet footer without the data pages);
- ``write_bytes(spark, path, data, overwrite=...)``: one create →
  write → close. With ``overwrite=False`` the create is exclusive, and a file
  already at ``path`` raises Python ``FileExistsError`` (the commit
  primitive: a conditional PUT on S3, ``O_EXCL`` on HDFS/local); every
  other error propagates unchanged;
- ``publish_single_part``: a one-file parquet write to a fixed name;
- ``dataset_bytes``: the driver-side size gate;
- ``swap_into_place``: the staged directory swap that catalog deploy,
  compaction and upsert need.
"""

from __future__ import annotations

from functools import lru_cache

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


@lru_cache(maxsize=None)
def _path_class(jvm):
    # each step of the package walk is a py4j round trip; resolve the
    # class once per JVM, so a Path costs one call, its constructor
    return jvm.org.apache.hadoop.fs.Path


def hadoop_path(spark: SparkSession, path: str):
    """A Hadoop ``Path`` for ``path``."""
    return _path_class(spark.sparkContext._jvm)(path)


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the session's Hadoop conf."""
    hpath = hadoop_path(spark, path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def read_bytes(spark: SparkSession, path: str, tail: int | None = None) -> bytes:
    """The bytes of the file at ``path``; with ``tail``, only its last
    ``tail`` bytes (all of them when the file is shorter)."""
    fs, hpath = hadoop_fs(spark, path)
    stream = fs.open(hpath)
    try:
        if tail is None:
            return bytes(stream.readAllBytes())
        stream.seek(max(int(fs.getFileStatus(hpath).getLen()) - tail, 0))
        return bytes(stream.readNBytes(tail))
    finally:
        stream.close()


def write_bytes(
    spark: SparkSession, path: str, data: bytes, *, overwrite: bool
) -> None:
    """Create ``path`` holding ``data``. ``overwrite=False`` creates
    exclusively: an existing file raises ``FileExistsError`` and keeps
    its content."""
    fs, hpath = hadoop_fs(spark, path)
    try:
        out = fs.create(hpath, overwrite)
    except Py4JJavaError as exc:
        if not overwrite and is_instance_of(
            spark.sparkContext._gateway,
            exc.java_exception,
            "org.apache.hadoop.fs.FileAlreadyExistsException",
        ):
            raise FileExistsError(f"{path} already exists") from exc
        raise
    try:
        out.write(data)
    finally:
        out.close()


def publish_single_part(
    spark: SparkSession, df: DataFrame, stage: str, target: str
) -> int:
    """Write ``df`` as ONE parquet file named ``target``: write a single
    part under ``stage``, replace any file at ``target`` with it by
    rename, then delete ``stage``. Returns the file's byte length.

    For derived, re-creatable files only (checkpoints, base files): the
    replace is a delete then a rename, and a rename signals failure by
    RETURN VALUE on HDFS/object-store semantics, so a false return
    raises ``IOError`` rather than leaving ``target`` missing."""
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    fs, hstage = hadoop_fs(spark, stage)
    part = next(
        s.getPath()
        for s in fs.listStatus(hstage)
        if s.getPath().getName().endswith(".parquet")
    )
    dest = hadoop_path(spark, target)
    if fs.exists(dest):
        fs.delete(dest, False)
    if not fs.rename(part, dest):
        raise IOError(f"rename failed: {part.toString()} -> {target}")
    fs.delete(hstage, True)
    return int(fs.getFileStatus(dest).getLen())


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
    fs, dest = hadoop_fs(spark, dest_path)
    tmp = hadoop_path(spark, tmp_path)
    old = hadoop_path(spark, dest_path + "__old")
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
