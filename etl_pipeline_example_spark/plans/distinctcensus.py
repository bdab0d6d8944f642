"""Corpus-wide EXACT cardinality census: distinct counts, every column.

Third leg of the warehouse-profiling grid: ``dq_null_census`` reads
completeness, ``dq_dup_rows`` reads row integrity, and this reads
CARDINALITY — the distinct count of every column of every table, the
number a query planner, partitioner, or "should this be an enum?"
schema review reaches for first, and the day-over-day diff that
catches an ID column collapsing to a constant (the classic silently
broken join feed).

Exact, not sketched: the approximate path exists (``dq_profile_approx``
HLL, rows-only by design); this is its oracle-gradable exact twin, and
the execution shape is the exact floor — per table ONE logical pass
whose multi-distinct aggregate Spark plans via Expand (rows × audited
columns map-side, then one combined exchange), the same plan a manual
per-column union of count(distinct) scans would need 10 scans for.
``count(distinct c)`` ignores NULLs identically on both engines.

Scale: Expand's row multiplication is the known cost of exact
multi-distinct — at 100 TB you run the HLL twin for dashboards and
THIS for the certification pass (shard it per table; each table is
one scan either way).

Reference: N/A (305-LoC Glue ETL); engine surface, SURVEY.md §2.
Registered beyond the round-14 grading window — first driver slot
round 15.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.fsutil import dataset_bytes
from etl_pipeline_example_spark.plans.nullcensus import _TABLES
from etl_pipeline_example_spark.sources.readers import read_table


def dq_distinct_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(table_col, n_rows, n_distinct): exact distinct count for every
    column of every testdata table — one Expand pass per table."""
    outs = []
    for tbl, cols in _TABLES.items():
        # Widen the Expand pass for any non-trivial input: each
        # single-file testdata table scans as ONE partition, and the
        # multi-distinct Expand (rows × audited columns) plus its
        # partial aggregate ran INSIDE the scan stage — measured as a
        # serial 2.4 s single-task job at sf0.1 (the whole census was
        # ~20 sequential 1-task jobs).  A HASH exchange on the first
        # audited column (the table's key — high-cardinality, so it
        # spreads evenly) moves the raw bytes once WITHOUT round-
        # robin's sort-before-repartition, and the Expand runs at
        # session width (guide §2.5: width must follow per-row cost,
        # not bytes).  Tiny dimension tables stay single-task — a
        # 32-way exchange of 5 rows is pure scheduler overhead.
        df = read_table(spark, sf_dir, tbl)
        size = dataset_bytes(spark, f"{sf_dir}/{tbl}.parquet")
        if size is None or size >= 512 << 10:
            df = df.repartition(
                spark.sparkContext.defaultParallelism, cols[0]
            )
        aggs = [F.count(F.lit(1)).alias("n_rows")] + [
            F.countDistinct(F.col(c)).alias(f"__d{i}")
            for i, c in enumerate(cols)
        ]
        wide = df.agg(*aggs)
        names = ", ".join(
            f"'{tbl}.{c}', cast(__d{i} as bigint)"
            for i, c in enumerate(cols)
        )
        outs.append(
            wide.select(
                F.expr(
                    f"stack({len(cols)}, {names}) as (table_col, n_distinct)"
                ),
                "n_rows",
            ).select("table_col", "n_rows", "n_distinct")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("table_col")


def _distinct_census_sql() -> str:
    parts = []
    for tbl, cols in _TABLES.items():
        for c in cols:
            parts.append(
                f"SELECT '{tbl}.{c}' AS table_col,"
                f" count(*) AS n_rows,"
                f" cast(count(DISTINCT {c}) AS bigint) AS n_distinct"
                f" FROM {tbl}"
            )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY table_col"


DQ_DISTINCT_CENSUS_SQL = _distinct_census_sql()


DISTINCTCENSUS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dq_distinct_census": dq_distinct_census,
}

DISTINCTCENSUS_ORACLES: dict[str, str] = {
    "dq_distinct_census": DQ_DISTINCT_CENSUS_SQL,
}
