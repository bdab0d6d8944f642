"""Deterministic MODE aggregate: most frequent value per group.

SQL engines disagree on ``mode()`` tie handling (Spark's and DuckDB's
are both implementation-defined under ties), so the portable, 100 %-
deterministic form is spelled out: count per candidate value, then
``row_number()`` over (count DESC, value ASC) — the lexicographically
smallest value among the tied-most-frequent wins, in every engine,
every partitioning, every run. This is the canonical "top-1 per group"
reduction (the WindowGroupLimit shape q_latest_event pins), applied to
the value-frequency lattice.

Output: each order month's modal order priority with its count and
share. ``mode_share`` is one int/int double division — correctly
rounded, bit-exact cross-engine.

Scale: one map-side-combined groupBy over (month, priority) — output
bounded by |months| × |priorities| — then a window over ≤ 5-row month
partitions and a broadcast-sized month-total join. Fact scan
dominates; no global window, no collect.

No reference counterpart (305-LoC Glue ETL); engine surface,
SURVEY.md §2. Registered beyond the round-10 grading window — first
driver slot round 11.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_example_spark.sources.readers import read_table
from etl_pipeline_example_spark.operators.simcore import tracked_persist


def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(order_month, mode_priority, n_mode, n_month, mode_share): the
    deterministic modal o_orderpriority per order month."""
    orders = read_table(spark, sf_dir, "orders")
    # persisted: the rank window AND the month totals both consume
    # counts — one orders scan instead of two
    counts = tracked_persist(
        orders.groupBy(
            F.expr(
                "cast(date_trunc('month', o_orderdate) as date)"
            ).alias("order_month"),
            F.col("o_orderpriority"),
        ).agg(F.count(F.lit(1)).alias("n_mode"))
    )
    w = Window.partitionBy("order_month").orderBy(
        F.desc("n_mode"), "o_orderpriority"
    )
    totals = counts.groupBy("order_month").agg(
        F.sum("n_mode").alias("n_month")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .join(F.broadcast(totals), "order_month")
        .select(
            "order_month",
            F.col("o_orderpriority").alias("mode_priority"),
            "n_mode",
            "n_month",
            F.expr(
                "cast(n_mode as double) / cast(n_month as double)"
            ).alias("mode_share"),
        )
        .orderBy("order_month")
    )


Q_MODE_PER_GROUP_SQL = """
WITH counts AS (
  SELECT cast(date_trunc('month', o_orderdate) AS date) AS order_month,
         o_orderpriority, count(*) AS n_mode
  FROM orders GROUP BY 1, 2
),
ranked AS (
  SELECT order_month, o_orderpriority, n_mode,
         row_number() OVER (PARTITION BY order_month
                            ORDER BY n_mode DESC, o_orderpriority) AS rn
  FROM counts
),
totals AS (
  SELECT order_month, cast(sum(n_mode) AS bigint) AS n_month
  FROM counts GROUP BY 1
)
SELECT r.order_month, r.o_orderpriority AS mode_priority,
       r.n_mode, t.n_month,
       cast(r.n_mode AS double) / cast(t.n_month AS double) AS mode_share
FROM ranked r JOIN totals t ON r.order_month = t.order_month
WHERE r.rn = 1
ORDER BY r.order_month
"""


MODEAGG_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_mode_per_group": q_mode_per_group,
}

MODEAGG_ORACLES: dict[str, str] = {
    "q_mode_per_group": Q_MODE_PER_GROUP_SQL,
}
