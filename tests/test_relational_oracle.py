"""Every relational query shape vs its DuckDB oracle at sf0.001 — exact
match (decimal-sum determinism, same construct as test_queries_oracle)."""

from __future__ import annotations

import pytest

from etl_pipeline_example_spark.plans.relational import (
    RELATIONAL_ORACLES,
    RELATIONAL_QUERIES,
)

from tools.drivercheck import oracle_mismatch


@pytest.mark.parametrize("name", sorted(RELATIONAL_QUERIES))
def test_relational_matches_oracle(spark, duck, sf_dir, name):
    df = RELATIONAL_QUERIES[name](spark, sf_dir)
    assert oracle_mismatch(df, duck, RELATIONAL_ORACLES[name]) is None
