from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from etl_pipeline_example_spark.session import get_spark

    s = get_spark("etl-pipeline-example-spark-tests")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_caches():
    """Tests call query functions directly, not through the registry, so
    the end of each test is its key boundary: release the caches it
    registered, as the registry does before the next key."""
    yield
    from etl_pipeline_example_spark.operators.simcore import release_similarity_caches

    release_similarity_caches()


@pytest.fixture()
def viewfs_path(spark, tmp_path):
    """A viewfs://<authority>/wh URI mounted onto tmp_path: the stand-in
    for an object-store root (the same URI → FileSystem resolution an
    s3a:// deployment goes through). The mount table is snapshotted per
    AUTHORITY at first FileSystem resolution (Hadoop caches the
    instance), so each test uses a fresh authority — exactly how one
    session would address two different buckets."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    auth = "bkt" + tmp_path.name.replace("_", "").replace("-", "").lower()
    hconf.set(
        f"fs.viewfs.mounttable.{auth}.link./wh", f"file://{tmp_path}"
    )
    return f"viewfs://{auth}/wh"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    from tools.drivercheck import oracle_connection

    con = oracle_connection(SF_SMOKE)
    yield con
    con.close()
