"""Every analytic query vs its DuckDB oracle at sf0.001 — exact match
(aggregate arithmetic is engineered to be bit-deterministic across engines
via exact decimal sums)."""

from __future__ import annotations

import pytest

from etl_pipeline_example_spark.plans.queries import ANALYTIC_ORACLES, ANALYTIC_QUERIES

from tools.drivercheck import oracle_mismatch


@pytest.mark.parametrize("name", sorted(ANALYTIC_QUERIES))
def test_query_matches_oracle(spark, duck, sf_dir, name):
    df = ANALYTIC_QUERIES[name](spark, sf_dir)
    assert oracle_mismatch(df, duck, ANALYTIC_ORACLES[name]) is None
