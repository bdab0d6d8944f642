"""Connected-components dedup clustering vs a DuckDB recursive-CTE
reachability oracle, plus unit tests for the one CC loop itself
(synthetic chain + clique + isolated pair, the static-narrow rounds,
checkpoint release, the non-convergence raise)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators import cluster
from etl_pipeline_example_spark.operators.cluster import (
    CLUSTER_ORACLES,
    CLUSTER_QUERIES,
    ComponentsNotConverged,
    connected_components,
)
from etl_pipeline_example_spark.operators.simcore import release_similarity_caches

from tests.oracle_util import assert_matches_oracle


def test_connected_components_synthetic(spark):
    # chain 1-2-3-4, clique 10-11-12, pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["src", "dst"],
    )
    got = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


@pytest.mark.parametrize("name", sorted(CLUSTER_QUERIES))
def test_cluster_matches_oracle(spark, duck, sf_dir, name):
    df = CLUSTER_QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, duck, CLUSTER_ORACLES[name])


def _chain(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src bigint, dst bigint"
    )


def test_cc_static_narrow_loop_labels_identical(spark):
    """The gated static-narrow CC loop (r18) must produce labels
    bit-identical to the AQE loop, and restore every scoped conf."""
    # two components incl. a chain that needs pointer doubling
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12)],
        "src bigint, dst bigint",
    )
    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.shuffle.partitions",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    aqe = sorted(
        tuple(r) for r in connected_components(edges).collect()
    )
    narrow = sorted(
        tuple(r)
        for r in connected_components(edges, small=True).collect()
    )
    assert narrow == aqe
    assert narrow == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10), (12, 10),
    ]
    after = {k: spark.conf.get(k) for k in before}
    assert after == before


@pytest.mark.parametrize("small", [False, True])
def test_cc_frees_superseded_checkpoints(spark, small):
    """Neither DataFrame.unpersist nor the registry's release reaches a
    localCheckpoint's RDD: the loop must free each superseded round
    itself, so only the returned labels stay live."""
    edges = _chain(spark)
    release_similarity_caches()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert len(connected_components(edges, small=small).collect()) == 5
    release_similarity_caches()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() - before <= 1


@pytest.mark.parametrize("small", [False, True])
def test_cc_raises_when_not_converged(spark, monkeypatch, small):
    """Hitting ITER_CAP before the fixed point must raise, never return
    unconverged labels: the chain 1-5 needs more than one round."""
    monkeypatch.setattr(cluster, "ITER_CAP", 1)
    with pytest.raises(ComponentsNotConverged):
        connected_components(_chain(spark), small=small)


def test_graph_cc_raises_when_not_converged(spark, tmp_path, monkeypatch):
    """graph_cc runs the one loop, so the one ITER_CAP bounds it too:
    the chain 1-5 with every pair co-ordered twice must raise."""
    from etl_pipeline_example_spark.plans.graphiter import graph_cc

    orders = [[p, p + 1] for p in range(1, 5) for _ in range(2)]
    spark.createDataFrame(
        [(ok, pk) for ok, parts in enumerate(orders, start=1) for pk in parts],
        "l_orderkey bigint, l_partkey bigint",
    ).coalesce(1).write.parquet(f"{tmp_path}/lineitem.parquet")
    monkeypatch.setattr(cluster, "ITER_CAP", 1)
    with pytest.raises(ComponentsNotConverged):
        graph_cc(spark, str(tmp_path))

