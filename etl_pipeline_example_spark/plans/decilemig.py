"""Customer quintile MIGRATION matrix: who moved between value bands.

``q_decile_lift`` reads a single period's value concentration; the
retention team's question is the TRANSITION — of last period's top
quintile, how many stayed top, slipped, or churned out entirely, and
where did this period's top customers come from? The migration matrix
(band × band counts, with band 0 = absent from the period) is the
standard CRM readout behind "upgrade/downgrade/churn" dashboards.

Built on the same broadcast-quantile-cut pattern (NO global ntile —
the q_decile_lift discipline): per-customer revenue per period in one
conditional decimal aggregate over orders, quintile boundaries from
ONE percentile aggregate per period over the customer-bounded rollup
(``percentile``/``percentile_cont`` interpolation — bit-identical cut
values cross-engine, pinned since round 6; NULL revenues are ignored
by both engines' percentile aggregates, so each period's cuts are
over its PRESENT customers), broadcast back, each customer buckets
itself with four comparisons per side. Periods split at a calendar
date (1998-01-01 — mid-range of the testdata's 1995-2001 orders).

Scale: groupBy(custkey) is the only corpus-scale shuffle; cuts run on
the reduced frame; the matrix is ≤ 36 rows.

No reference counterpart (305-LoC Glue ETL); engine surface,
SURVEY.md §2. Registered beyond the round-14 grading window — first
driver slot round 15.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

MIG_SPLIT = "1998-01-01"
_QCUTS = [0.2, 0.4, 0.6, 0.8]


def _bucket_case(rev: str, pfx: str) -> str:
    body = " ".join(
        f"WHEN {rev} <= {pfx}{i} THEN {i}" for i in range(1, 5)
    )
    return f"CASE WHEN {rev} IS NULL THEN 0 {body} ELSE 5 END"


def q_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_from, q_to, n_customers): customer quintile transition matrix
    between the pre/post-{MIG_SPLIT} periods; band 0 = absent."""
    orders = read_table(spark, sf_dir, "orders")
    per = tracked_persist(
        orders.groupBy("o_custkey")
        .agg(
            F.expr(
                "sum(CASE WHEN cast(o_orderdate as date)"
                f" < date'{MIG_SPLIT}'"
                " THEN cast(o_totalprice as decimal(18,2)) END)"
            ).alias("ra_dec"),
            F.expr(
                "sum(CASE WHEN cast(o_orderdate as date)"
                f" >= date'{MIG_SPLIT}'"
                " THEN cast(o_totalprice as decimal(18,2)) END)"
            ).alias("rb_dec"),
        )
        .select(
            "o_custkey",
            F.expr("cast(ra_dec as double)").alias("ra"),
            F.expr("cast(rb_dec as double)").alias("rb"),
        )
    )
    cuts = per.agg(
        *[
            F.expr(f"percentile(ra, {c})").alias(f"a{i}")
            for i, c in enumerate(_QCUTS, start=1)
        ],
        *[
            F.expr(f"percentile(rb, {c})").alias(f"b{i}")
            for i, c in enumerate(_QCUTS, start=1)
        ],
    )
    return (
        per.crossJoin(F.broadcast(cuts))
        .select(
            F.expr(_bucket_case("ra", "a")).alias("q_from"),
            F.expr(_bucket_case("rb", "b")).alias("q_to"),
        )
        .groupBy("q_from", "q_to")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("q_from", "q_to")
    )


def _mig_sql() -> str:
    cut_cols = ",\n         ".join(
        [
            f"percentile_cont({c}) WITHIN GROUP (ORDER BY ra) AS a{i}"
            for i, c in enumerate(_QCUTS, start=1)
        ]
        + [
            f"percentile_cont({c}) WITHIN GROUP (ORDER BY rb) AS b{i}"
            for i, c in enumerate(_QCUTS, start=1)
        ]
    )
    return f"""
WITH per AS (
  SELECT o_custkey,
         cast(sum(CASE WHEN cast(o_orderdate AS date) < date '{MIG_SPLIT}'
              THEN cast(o_totalprice AS decimal(18,2)) END) AS double)
           AS ra,
         cast(sum(CASE WHEN cast(o_orderdate AS date) >= date '{MIG_SPLIT}'
              THEN cast(o_totalprice AS decimal(18,2)) END) AS double)
           AS rb
  FROM orders GROUP BY 1
),
cuts AS (
  SELECT {cut_cols}
  FROM per
)
SELECT {_bucket_case("ra", "a")} AS q_from,
       {_bucket_case("rb", "b")} AS q_to,
       count(*) AS n_customers
FROM per CROSS JOIN cuts
GROUP BY 1, 2
ORDER BY q_from, q_to
"""


DECILEMIG_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_decile_migration": q_decile_migration,
}

DECILEMIG_ORACLES: dict[str, str] = {
    "q_decile_migration": _mig_sql(),
}
