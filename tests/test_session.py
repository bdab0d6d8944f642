"""``session.scoped_confs`` leaves the session's explicit settings as it
found them."""

from __future__ import annotations

from etl_pipeline_example_spark.session import scoped_confs


def test_scoped_confs_leaves_no_trace(spark):
    unset = "spark.sql.autoBroadcastJoinThreshold"
    already = "spark.sql.shuffle.partitions"
    spark.conf.unset(unset)
    assert spark.conf.get(unset, None) is None
    assert spark.conf.get(already, None) is not None
    before = dict(spark.conf.getAll)
    with scoped_confs(spark, {unset: "-1", already: "3"}):
        assert spark.conf.get(unset) == "-1"
        assert spark.conf.get(already) == "3"
    assert dict(spark.conf.getAll) == before
    assert spark.conf.get(unset, None) is None
