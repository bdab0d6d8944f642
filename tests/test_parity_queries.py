"""Core-primitive parity queries vs DuckDB oracles."""

from __future__ import annotations

import pytest

from etl_pipeline_example_spark.plans.parity import PARITY_ORACLES, PARITY_QUERIES

from tools.drivercheck import oracle_mismatch


@pytest.mark.parametrize("name", sorted(PARITY_QUERIES))
def test_parity_query_matches_oracle(spark, duck, sf_dir, name):
    df = PARITY_QUERIES[name](spark, sf_dir)
    assert oracle_mismatch(df, duck, PARITY_ORACLES[name]) is None
