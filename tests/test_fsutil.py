"""``fsutil.dataset_bytes``: the one driver-side size gate, over every
dataset layout the size-gated operators may be pointed at."""

from __future__ import annotations

import os

from etl_pipeline_example_spark.fsutil import dataset_bytes


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
