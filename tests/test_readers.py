"""``sources/readers.py``: ``read_table`` reads with the schema that
``parquet_schema`` looked up, and must give exactly what plain inference
gives — same schema, column order and rows — while starting no Spark job
once a file set's schema is known."""

from __future__ import annotations

import time
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from etl_pipeline_example_spark.sources.readers import (
    ensure_nanos_conf,
    parquet_schema,
    read_events_stream,
    read_table,
)

_TS = [datetime(2024, 1, 1, 0, 0, 0, 123456), datetime(2024, 3, 5, 12, 30, 1, 7)]


def _plain_read(spark, sf_dir, name):
    """``read_table`` with plain schema inference: the reference."""
    ensure_nanos_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, typ in df.dtypes:
        if typ == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _assert_same_as_plain(spark, sf_dir, name):
    got, want = read_table(spark, sf_dir, name), _plain_read(spark, sf_dir, name)
    assert got.schema == want.schema
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())
    return got


def _events_table(ts_unit):
    epoch_us = [(t - datetime(1970, 1, 1)) // timedelta(microseconds=1) for t in _TS]
    ts = pa.array(epoch_us, pa.int64())
    if ts_unit == "ns":
        ts = pc.multiply(ts, 1000).cast(pa.timestamp("ns"))
    else:
        ts = ts.cast(pa.timestamp("us"))
    return pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts,
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": ["click", "view"],
            "value": [1.5, -2.0],
            "props": ['{"a":1}', None],
        }
    )


def _write_events(tmp_path, ts_unit):
    kwargs = {"version": "2.6", "coerce_timestamps": None} if ts_unit == "ns" else {}
    pq.write_table(_events_table(ts_unit), tmp_path / "events.parquet", **kwargs)
    return str(tmp_path)


def _jobs_started(spark, fn, tag):
    """Spark jobs ``fn`` starts, counted under a job group. A one-job
    probe in a second group runs after it; listener events arrive in
    order, so once the probe shows up the count for ``fn`` is complete,
    and the probe showing up at all proves the groups capture jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, probe = f"{tag}-read", f"{tag}-probe"
    sc.setJobGroup(group, "read_table job count")
    try:
        fn()
        sc.setJobGroup(probe, "positive control")
        sc.parallelize([0], 1).count()
    finally:
        sc._jsc.clearJobGroup()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(probe) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert len(tracker.getJobIdsForGroup(probe)) == 1
    return len(tracker.getJobIdsForGroup(group))


def test_single_file(spark, tmp_path):
    pq.write_table(
        pa.table({"id": [3, 1, 2], "name": ["c", "a", None], "at": pa.array(_TS + [None])}),
        tmp_path / "t.parquet",
    )
    df = _assert_same_as_plain(spark, str(tmp_path), "t")
    assert df.dtypes == [("id", "bigint"), ("name", "string"), ("at", "timestamp")]


def test_directory_of_part_files(spark, tmp_path):
    spark.range(0, 40, 1, 4).selectExpr("id", "id % 7 AS m").write.parquet(
        str(tmp_path / "parts.parquet")
    )
    assert len(list((tmp_path / "parts.parquet").glob("part-*"))) == 4
    _assert_same_as_plain(spark, str(tmp_path), "parts")


def test_partitioned_directory(spark, tmp_path):
    spark.range(12).selectExpr("id", "cast(id % 3 AS int) AS k").write.partitionBy(
        "k"
    ).parquet(str(tmp_path / "kv.parquet"))
    df = _assert_same_as_plain(spark, str(tmp_path), "kv")
    assert df.dtypes == [("id", "bigint"), ("k", "int")]


@pytest.mark.parametrize("ts_unit", ["ns", "us"])
def test_events_ts_encodings(spark, tmp_path, ts_unit):
    sf_dir = _write_events(tmp_path, ts_unit)
    df = _assert_same_as_plain(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert sorted(r["ts"] for r in df.collect()) == _TS


def test_schema_lookup_matches_inference(spark, tmp_path):
    ensure_nanos_conf(spark)
    path = f"{_write_events(tmp_path, 'ns')}/events.parquet"
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def test_second_read_starts_no_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2]}), tmp_path / "t.parquet")
    sf_dir = str(tmp_path)
    ensure_nanos_conf(spark)
    cold = _jobs_started(spark, lambda: read_table(spark, sf_dir, "t"), "cold-" + tmp_path.name)
    warm = _jobs_started(spark, lambda: read_table(spark, sf_dir, "t"), "warm-" + tmp_path.name)
    assert (cold, warm) == (1, 0)


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2]}), tmp_path / "t.parquet")
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), tmp_path / "t.parquet")
    df = _assert_same_as_plain(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]


def test_schema_conf_change_is_inferred_again(spark, tmp_path):
    pq.write_table(pa.table({"raw": pa.array([b"ab", b"cd"], pa.binary())}), tmp_path / "t.parquet")
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert _assert_same_as_plain(spark, str(tmp_path), "t").dtypes == [("raw", "binary")]
        spark.conf.set(conf, "true")
        assert _assert_same_as_plain(spark, str(tmp_path), "t").dtypes == [("raw", "string")]
    finally:
        spark.conf.set(conf, before)


def test_missing_table_keeps_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_table(spark, str(tmp_path), "absent")


def test_read_table_over_viewfs(spark, tmp_path):
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    auth = "rd" + tmp_path.name.replace("_", "").replace("-", "").lower()
    hconf.set(f"fs.viewfs.mounttable.{auth}.link./wh", f"file://{tmp_path}")
    spark.range(0, 10, 1, 2).selectExpr("id", "id * 2 AS twice").write.parquet(
        str(tmp_path / "t.parquet")
    )
    df = _assert_same_as_plain(spark, f"viewfs://{auth}/wh", "t")
    assert sorted(r["twice"] for r in df.collect()) == list(range(0, 20, 2))


@pytest.mark.parametrize("ts_unit", ["ns", "us"])
def test_events_stream_declares_ts_by_encoding(spark, tmp_path, ts_unit):
    sf_dir = _write_events(tmp_path, ts_unit)
    stream = read_events_stream(spark, sf_dir)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    name = f"events_stream_{ts_unit}_{tmp_path.name.replace('-', '_')}"
    query = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    got = spark.table(name)
    assert got.columns == _plain_read(spark, sf_dir, "events").columns
    assert sorted(got.collect()) == sorted(_plain_read(spark, sf_dir, "events").collect())
    assert sorted(r["ts"] for r in got.collect()) == _TS
