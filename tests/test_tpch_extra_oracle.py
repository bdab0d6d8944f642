"""Extended TPC-H-shape suite vs its DuckDB oracle at sf0.001 — exact
match (decimal-sum determinism, same construct as test_queries_oracle)."""

from __future__ import annotations

import pytest

from etl_pipeline_example_spark.plans.tpch_extra import (
    TPCH_EXTRA_ORACLES,
    TPCH_EXTRA_QUERIES,
)

from tools.drivercheck import oracle_mismatch


@pytest.mark.parametrize("name", sorted(TPCH_EXTRA_QUERIES))
def test_tpch_extra_matches_oracle(spark, duck, sf_dir, name):
    df = TPCH_EXTRA_QUERIES[name](spark, sf_dir)
    assert oracle_mismatch(df, duck, TPCH_EXTRA_ORACLES[name]) is None
