"""Exact mergeable moments sketch over the event value stream.

The moments sketch (Gan et al., VLDB '18) is the quantile/shape
sketch whose state is just the power sums Σx, Σx², Σx³, Σx⁴ — they
MERGE BY ADDITION (the CMS discipline applied to distribution shape),
and mean/variance/skew/kurtosis all derive from them downstream. The
float version loses exactness to summation order; this operator is
the exact-arithmetic house variant:

- values quantize to integer cents ``floor(value · 100)`` — floor,
  never a bare CAST (Spark truncates, DuckDB rounds — the known
  cross-engine trap), applied to the same input double, so both
  engines quantize identically;
- the four power sums accumulate in DECIMAL(38,0) (cents⁴ overflows
  bigint long before 100 TB; decimal is exact to 38 digits) — no
  float ever enters the aggregation (the house no-float-summation
  rule);
- the boundary emits each sum as the exact DECIMAL(38,0) integer
  rendered as a STRING on BOTH engines (``CAST(… AS STRING)`` /
  ``CAST(… AS VARCHAR)``). A double rendering diverged at driver
  scale: Spark renders the exact integer through
  BigDecimal.doubleValue (one correctly rounded conversion) while
  DuckDB casts HUGEINT→DOUBLE through upper/lower double arithmetic
  (two roundings) — past 2^53 the last bit can disagree (round-17
  VERDICT). A DECIMAL(38,0) output is exact but sits outside the
  registry's output-type policy (``tools/drivercheck.ALLOWED``):
  it hashes differently through pandas (DuckDB ``.df()`` gives
  float64, Spark ``toPandas()`` gives ``Decimal`` objects). The
  string is exact, in the policy, and converts the same way on
  every path.

Per event_type plus a ``__merged__`` row summed FROM THE PER-GROUP
STATE (testing the merge-by-addition path the way kmv.py tests the
theta union — never recomputed from raw rows).

Scale shape: one map-side-combined aggregate; G+1 output rows; the
merged row reads G rows, not events.

Reference: N/A (305-LoC Glue ETL); engine surface, SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.sources.readers import read_table

_DEC = "decimal(38,0)"


def _guarded(col: str) -> F.Column:
    """Loud overflow: past decimal(38,0) Spark's non-ANSI sum yields
    NULL while DuckDB HUGEINT errors — a silent cross-engine
    divergence (round-16 ADVICE). A NULL sum with non-null inputs
    (``nn`` > 0) therefore raises instead of flowing through;
    legitimate all-NULL groups still render NULL on both engines."""
    return F.expr(
        f"CASE WHEN {col} IS NULL AND nn > 0 THEN"
        f" CAST(raise_error('sketch_moments: decimal(38,0) power-sum"
        f" overflow — input magnitude exceeds the exactness bound')"
        f" AS {_DEC}) ELSE {col} END"
    )


def sketch_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, n, s1, s2, s3, s4): exact power sums of integer-cent
    event values per event_type, plus the ``__merged__`` row summed
    from the per-group sketches."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("c"),
    )
    per = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("c").alias("nn"),
        F.sum(F.expr(f"CAST(c AS {_DEC})")).alias("d1"),
        F.sum(F.expr(f"CAST(c AS {_DEC}) * c")).alias("d2"),
        F.sum(F.expr(f"CAST(c AS {_DEC}) * c * c")).alias("d3"),
        F.sum(F.expr(f"CAST(c AS {_DEC}) * c * c * c")).alias("d4"),
    )
    merged = per.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("nn").cast("bigint").alias("nn"),
        F.sum("d1").alias("d1"),
        F.sum("d2").alias("d2"),
        F.sum("d3").alias("d3"),
        F.sum("d4").alias("d4"),
    ).select(
        F.lit("__merged__").alias("grp"), "n", "nn", "d1", "d2", "d3", "d4"
    )
    return (
        per.unionByName(merged)
        .select(
            "grp",
            "n",
            _guarded("d1").cast("string").alias("s1"),
            _guarded("d2").cast("string").alias("s2"),
            _guarded("d3").cast("string").alias("s3"),
            _guarded("d4").cast("string").alias("s4"),
        )
        .orderBy("grp")
    )


SKETCH_MOMENTS_SQL = """
WITH cents AS (
  SELECT event_type AS grp,
         CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
),
per AS (
  SELECT grp, count(*) AS n,
         sum(CAST(c AS HUGEINT)) AS d1,
         sum(CAST(c AS HUGEINT) * c) AS d2,
         sum(CAST(c AS HUGEINT) * c * c) AS d3,
         sum(CAST(c AS HUGEINT) * c * c * c) AS d4
  FROM cents GROUP BY 1
),
allrows AS (
  SELECT * FROM per
  UNION ALL
  SELECT '__merged__', CAST(sum(n) AS BIGINT), sum(d1), sum(d2), sum(d3), sum(d4)
  FROM per
)
SELECT grp, n,
       CAST(CAST(d1 AS DECIMAL(38,0)) AS VARCHAR) AS s1,
       CAST(CAST(d2 AS DECIMAL(38,0)) AS VARCHAR) AS s2,
       CAST(CAST(d3 AS DECIMAL(38,0)) AS VARCHAR) AS s3,
       CAST(CAST(d4 AS DECIMAL(38,0)) AS VARCHAR) AS s4
FROM allrows
ORDER BY grp
"""


MOMENTS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sketch_moments": sketch_moments,
}

MOMENTS_ORACLES: dict[str, str] = {
    "sketch_moments": SKETCH_MOMENTS_SQL,
}
