"""``fsutil``: the one driver-side size gate, over every dataset layout
the size-gated operators may be pointed at, and the byte-level file
helpers the table-format layer uses, over a local and a mounted scheme."""

from __future__ import annotations

import os

import pytest

from etl_pipeline_example_spark.fsutil import (
    dataset_bytes,
    publish_single_part,
    read_bytes,
    write_bytes,
)


def _data_bytes(root) -> int:
    """Bytes of every file under ``root`` except Hadoop checksum files."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
        if not f.endswith(".crc")
    )


def test_dataset_bytes_counts_every_layout(spark, tmp_path):
    single = tmp_path / "single.parquet"
    single.write_bytes(b"\0" * 1234)
    parts = tmp_path / "parts.parquet"
    parts.mkdir()
    for i in range(3):
        (parts / f"part-{i}.parquet").write_bytes(b"\0" * 1000)
    partitioned = tmp_path / "kv.parquet"
    spark.range(0, 200, 1, 2).selectExpr("id", "id % 3 AS k").write.partitionBy(
        "k"
    ).parquet(str(partitioned))

    assert dataset_bytes(spark, str(single)) == 1234
    assert dataset_bytes(spark, str(parts)) == 3000
    # the data lives one level down, in k=0/, k=1/, k=2/; the top level
    # holds only the empty _SUCCESS marker
    assert any(p.name.endswith(".crc") for p in partitioned.rglob("*"))
    kv = dataset_bytes(spark, str(partitioned))
    assert kv == _data_bytes(partitioned) > 0
    assert dataset_bytes(spark, str(tmp_path / "missing.parquet")) is None

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    auth = "sz" + tmp_path.name.replace("_", "").replace("-", "").lower()
    hconf.set(f"fs.viewfs.mounttable.{auth}.link./wh", f"file://{tmp_path}")
    assert dataset_bytes(spark, f"viewfs://{auth}/wh/kv.parquet") == kv
    assert dataset_bytes(spark, f"viewfs://{auth}/wh/parts.parquet") == 3000
    assert dataset_bytes(spark, f"viewfs://{auth}/wh/missing.parquet") is None


@pytest.fixture(params=["file", "viewfs"])
def root(request, tmp_path):
    """A directory URI over the local scheme and over a mounted one."""
    if request.param == "file":
        return str(tmp_path)
    return request.getfixturevalue("viewfs_path")


def test_bytes_round_trip_whole_and_tail(spark, root):
    data = bytes(range(256)) * 4
    write_bytes(spark, f"{root}/d/blob", data, overwrite=False)
    assert read_bytes(spark, f"{root}/d/blob") == data
    assert read_bytes(spark, f"{root}/d/blob", tail=8) == data[-8:]
    assert read_bytes(spark, f"{root}/d/blob", tail=5000) == data


def test_write_bytes_overwrite_replaces(spark, root):
    write_bytes(spark, f"{root}/f", b"old contents", overwrite=True)
    write_bytes(spark, f"{root}/f", b"new", overwrite=True)
    assert read_bytes(spark, f"{root}/f") == b"new"


def test_exclusive_write_raises_file_exists_and_keeps_content(spark, root):
    write_bytes(spark, f"{root}/f", b"first", overwrite=False)
    with pytest.raises(FileExistsError):
        write_bytes(spark, f"{root}/f", b"second", overwrite=False)
    assert read_bytes(spark, f"{root}/f") == b"first"


def test_publish_single_part_replaces_target_and_drops_stage(spark, root):
    target, stage = f"{root}/out/one.parquet", f"{root}/out/.stage"
    write_bytes(spark, target, b"stale", overwrite=True)
    size = publish_single_part(spark, spark.range(0, 50, 1, 4), stage, target)
    assert spark.read.parquet(target).count() == 50
    assert size == dataset_bytes(spark, target) > len(b"stale")
    assert dataset_bytes(spark, stage) is None
