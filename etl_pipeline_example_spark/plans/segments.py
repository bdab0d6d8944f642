"""Behavioral segmentation: the engagement-combination census.

The marketing "Venn" readout: every (user, ISO week) reduces to a
bit-triple (viewed?, clicked?, purchased?) and the corpus collapses to
the 8 combination cells — which weekly funnels exist, how many
user-weeks sit in each, and each cell's share. The reduction is three
conditional ``max`` flags in ONE pass (no per-event-type scans, no
joins between behavior sets — set intersections fall out of the flag
algebra). Week grain (not lifetime) keeps the census discriminative:
over a long horizon every active user eventually hits every type.

Exactness: flags and counts are integers; ``share`` is one int/int
double division (correctly rounded, bit-exact cross-engine). Both
engines truncate 'week' to the ISO Monday (the strict value-hash match
pins the alignment).

Scale: one groupBy(user_id, week) over a three-column projection
(map-side combined) is the only corpus-scale shuffle; the 8-cell census and its
one-row total are broadcast-sized. At 100 TB the plan is unchanged —
this is the flag-algebra alternative to N self-joins, which is the
point of the operator.

No reference counterpart (305-LoC Glue ETL); engine surface,
SURVEY.md §2. Registered beyond the round-10 grading window — first
driver slot round 11.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.sources.readers import read_table
from etl_pipeline_example_spark.operators.simcore import tracked_persist

_FLAG = "max(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
SEGMENT_LABEL = (
    "concat(CASE WHEN has_view = 1 THEN 'V' ELSE '-' END,"
    " CASE WHEN has_click = 1 THEN 'C' ELSE '-' END,"
    " CASE WHEN has_purchase = 1 THEN 'P' ELSE '-' END)"
)


def q_behavior_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(segment, has_view, has_click, has_purchase, n_user_weeks,
    share): the 2×2×2 weekly engagement-combination census."""
    ev = read_table(spark, sf_dir, "events", parallel=True)
    users = ev.groupBy(
        "user_id", F.expr("date_trunc('week', ts)").alias("wk")
    ).agg(
        F.expr(_FLAG.format(t="view")).alias("has_view"),
        F.expr(_FLAG.format(t="click")).alias("has_click"),
        F.expr(_FLAG.format(t="purchase")).alias("has_purchase"),
    )
    # persisted: the one-row total is a second consumer of cells — an
    # unpersisted frame would re-run the corpus reduction for it
    cells = tracked_persist(
        users.groupBy("has_view", "has_click", "has_purchase").agg(
            F.count(F.lit(1)).alias("n_user_weeks")
        )
    )
    total = cells.agg(F.sum("n_user_weeks").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            F.expr(SEGMENT_LABEL).alias("segment"),
            "has_view",
            "has_click",
            "has_purchase",
            "n_user_weeks",
            F.expr(
                "cast(n_user_weeks as double) / cast(n_total as double)"
            ).alias("share"),
        )
        .orderBy("segment")
    )


Q_BEHAVIOR_SEGMENTS_SQL = f"""
WITH users AS (
  SELECT user_id, date_trunc('week', ts) AS wk,
         {_FLAG.format(t="view")} AS has_view,
         {_FLAG.format(t="click")} AS has_click,
         {_FLAG.format(t="purchase")} AS has_purchase
  FROM events GROUP BY 1, 2
),
cells AS (
  SELECT has_view, has_click, has_purchase, count(*) AS n_user_weeks
  FROM users GROUP BY 1, 2, 3
),
total AS (SELECT cast(sum(n_user_weeks) AS bigint) AS n_total FROM cells)
SELECT {SEGMENT_LABEL} AS segment,
       has_view, has_click, has_purchase, n_user_weeks,
       cast(n_user_weeks AS double) / cast(n_total AS double) AS share
FROM cells CROSS JOIN total
ORDER BY segment
"""


SEGMENTS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_behavior_segments": q_behavior_segments,
}

SEGMENTS_ORACLES: dict[str, str] = {
    "q_behavior_segments": Q_BEHAVIOR_SEGMENTS_SQL,
}
