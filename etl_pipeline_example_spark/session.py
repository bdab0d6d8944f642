"""SparkSession factory with scale-oriented defaults.

The reference job (reference: glue_jobs/example_job/job.py:27-31) builds its
session through the AWS Glue context; here we own the session and set the
knobs that matter on a real cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic join-strategy switching — the safety net at 100 TB where static
  planning guesses wrong.
- Arrow on: any Pandas-UDF path moves data in columnar batches, not rows.
- ``spark.sql.shuffle.partitions`` sized from the env (defaults suit local
  runs; a 1000-executor cluster would set this to ~2-4× total cores, and AQE
  coalesces the excess).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app_name: str = "etl-pipeline-example-spark") -> SparkSession:
    """Return (or create) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) (e.g. pandas-written event data) is
        # unreadable by Spark's vectorized reader; surface it as nanos-long
        # and let read_table convert to a micros timestamp (DuckDB-equal).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` for the body, then put each key back as it was: unset
    again if it had no explicit value, else set to its old value. Restoring
    an unset key with ``set`` would pin its default as an explicit setting
    that outlives the scope."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
