"""Reconciliation and customer-value scoring.

  q_full_outer_recon  the audit join the engine didn't cover yet: a
                      FULL OUTER reconciliation of daily order revenue
                      vs daily event activity on the calendar date —
                      rows present on one side only are exactly what a
                      reconciliation hunts (orders with no telemetry,
                      telemetry with no orders), so the join type IS
                      the semantics. Match status + both measures,
                      null-safe.
  q_rfm               the classic RFM customer segmentation: recency
                      (days from last order to the corpus max date),
                      frequency (order count), monetary (exact decimal
                      revenue), each cut into quintiles by VALUE against
                      exact percentile boundaries (the q_decile_lift
                      broadcast-quantile-cut pattern — no global window
                      anywhere), plus the combined RFM code.

No reference counterpart (the reference is a 305-LoC ETL example);
general query-engine surface, SURVEY.md §2 rows 20z6–20z7.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

RFM_TOP = 50

# Quintile boundaries (20th/40th/60th/80th percentile). Banding
# convention, identical in Spark and the oracle:
#   ascending metric (recency — smaller is better):
#     band 1 iff x <= c1, band 2 iff x <= c2, ... else band 5
#   descending metric (frequency, monetary — larger is better):
#     band 1 iff x >  c4, band 2 iff x >  c3, ... else band 5
# Value-based cuts make the banding deterministic with no tiebreak:
# equal values always land in the same band (unlike ntile, which splits
# ties across the boundary by row position).
_Q_CUTS = [0.2, 0.4, 0.6, 0.8]


def _band_asc(col: str, pfx: str) -> str:
    return (
        "CASE "
        + " ".join(f"WHEN {col} <= {pfx}{i} THEN {i}" for i in range(1, 5))
        + " ELSE 5 END"
    )


def _band_desc(col: str, pfx: str) -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {col} > {pfx}{5 - i} THEN {i}" for i in range(1, 5)
        )
        + " ELSE 5 END"
    )


def q_full_outer_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, order_revenue, n_events, status): FULL OUTER join of daily
    order revenue and daily event counts; status ∈ both / orders_only /
    events_only.

    Scale shape: both sides pre-aggregate to one row per day BEFORE
    the join (the recon joins day-grain summaries, never raw facts),
    so the full-outer shuffle carries days, not rows.
    """
    orders = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.expr(
                "cast(sum(cast(o_totalprice as decimal(18,2))) as double)"
            ).alias("order_revenue")
        )
    )
    events = (
        read_table(spark, sf_dir, "events", parallel=True)
        .groupBy(F.expr("cast(ts as date)").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        orders.join(events, "day", "full_outer")
        .select(
            "day",
            "order_revenue",
            "n_events",
            F.expr(
                "CASE WHEN order_revenue IS NOT NULL AND n_events IS NOT NULL"
                " THEN 'both'"
                " WHEN order_revenue IS NOT NULL THEN 'orders_only'"
                " ELSE 'events_only' END"
            ).alias("status"),
        )
    )


Q_FULL_OUTER_RECON_SQL = """
WITH o AS (
  SELECT o_orderdate AS day,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS order_revenue
  FROM orders GROUP BY 1
),
e AS (
  SELECT cast(ts AS date) AS day, count(*) AS n_events FROM events GROUP BY 1
)
SELECT coalesce(o.day, e.day) AS day, o.order_revenue, e.n_events,
       CASE WHEN o.order_revenue IS NOT NULL AND e.n_events IS NOT NULL
            THEN 'both'
            WHEN o.order_revenue IS NOT NULL THEN 'orders_only'
            ELSE 'events_only' END AS status
FROM o FULL OUTER JOIN e ON o.day = e.day
"""


def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, recency_days, frequency, monetary, r, f, m, rfm):
    top-``RFM_TOP`` customers by rfm code (then custkey).

    Scale shape: the ntile form this replaces (round-10 verdict "What's
    wrong #1") sorted the FULL customer dimension through one reducer
    three times. Here the only corpus-scale shuffle is the
    groupBy(custkey) rollup; all twelve quintile boundaries come from
    ONE exact percentile aggregate over the customer-bounded rollup
    (computed partial+merge, no global sort), broadcast back, and each
    customer bands itself with four comparisons per metric — fully
    parallel. The trailing top-50 is a TakeOrderedAndProject, not a
    sort. Cross-engine: Spark percentile(x, p) and DuckDB
    percentile_cont are both linear-interpolation and bit-identical
    (pinned by q_percentiles/q_decile_lift since round 6).
    """
    orders = read_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.expr(
            "cast(sum(cast(o_totalprice as decimal(18,2))) as double)"
        ).alias("monetary"),
    )
    max_day = orders.agg(F.max("o_orderdate").alias("max_day"))
    # persisted: the percentile aggregate AND the banding pass both
    # consume the per-customer frame — one orders scan instead of two
    scored = tracked_persist(
        base.crossJoin(F.broadcast(max_day)).select(
            "c_custkey",
            F.expr("datediff(max_day, last_order)").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    cuts = scored.agg(
        *[
            F.expr(f"percentile({m}, {c})").alias(f"{p}{i}")
            for m, p in (
                ("recency_days", "rc"),
                ("frequency", "fc"),
                ("monetary", "mc"),
            )
            for i, c in enumerate(_Q_CUTS, start=1)
        ]
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(
            "c_custkey",
            "recency_days",
            "frequency",
            "monetary",
            F.expr(_band_asc("recency_days", "rc")).alias("r"),
            F.expr(_band_desc("frequency", "fc")).alias("f"),
            F.expr(_band_desc("monetary", "mc")).alias("m"),
        )
        .withColumn("rfm", F.expr("r * 100 + f * 10 + m"))
        .orderBy(F.col("rfm").asc(), F.col("c_custkey").asc())
        .limit(RFM_TOP)
    )


def _rfm_sql() -> str:
    cut_cols = ",\n         ".join(
        f"percentile_cont({c}) WITHIN GROUP (ORDER BY {m}) AS {p}{i}"
        for m, p in (
            ("recency_days", "rc"),
            ("frequency", "fc"),
            ("monetary", "mc"),
        )
        for i, c in enumerate(_Q_CUTS, start=1)
    )
    return f"""
WITH base AS (
  SELECT o_custkey AS c_custkey, max(o_orderdate) AS last_order,
         count(*) AS frequency,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS monetary
  FROM orders GROUP BY 1
),
mx AS (SELECT max(o_orderdate) AS max_day FROM orders),
scored AS (
  SELECT c_custkey,
         date_diff('day', last_order, max_day) AS recency_days,
         frequency, monetary
  FROM base, mx
),
cuts AS (
  SELECT {cut_cols}
  FROM scored
),
banded AS (
  SELECT c_custkey, recency_days, frequency, monetary,
         {_band_asc("recency_days", "rc")} AS r,
         {_band_desc("frequency", "fc")} AS f,
         {_band_desc("monetary", "mc")} AS m
  FROM scored CROSS JOIN cuts
)
SELECT c_custkey, cast(recency_days AS int) AS recency_days, frequency,
       monetary, r, f, m, r * 100 + f * 10 + m AS rfm
FROM banded
ORDER BY rfm, c_custkey
LIMIT {RFM_TOP}
"""


Q_RFM_SQL = _rfm_sql()


RECON_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_full_outer_recon": q_full_outer_recon,
    "q_rfm": q_rfm,
}

RECON_ORACLES: dict[str, str] = {
    "q_full_outer_recon": Q_FULL_OUTER_RECON_SQL,
    "q_rfm": Q_RFM_SQL,
}
