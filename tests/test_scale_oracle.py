"""Scale-technique queries (salted join, cube, bucketed range join) vs
their DuckDB oracles — the technique must change only the physical plan,
never the result."""

from __future__ import annotations

import pytest

from etl_pipeline_example_spark.plans.scale import SCALE_ORACLES, SCALE_QUERIES

from tools.drivercheck import oracle_mismatch


@pytest.mark.parametrize("name", sorted(SCALE_QUERIES))
def test_scale_matches_oracle(spark, duck, sf_dir, name):
    df = SCALE_QUERIES[name](spark, sf_dir)
    assert oracle_mismatch(df, duck, SCALE_ORACLES[name]) is None
