"""Degree assortativity of the part co-order graph.

Newman's r: the Pearson correlation of endpoint degrees over edges —
positive when hubs link to hubs (social-style), negative when hubs
fan out to leaves (hub-and-spoke catalogs). Completes the graph panel
(degree_hist / triangles / cc / pagerank / common_neighbors) with the
one-number mixing summary.

For an undirected graph the correlation runs over both orientations
of every edge; symmetry then collapses the five Pearson moments to
three (Σx = Σy, Σx² = Σy²), so

    r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²)

with n = 2|E|. All moments are exact integer sums of bounded integer
degrees carried in decimal(38,0) (deg²·|E| wraps int64 near 10⁹
edges — the graphiter headroom rule); r itself is the only float,
computed from the exact moments in correctly-rounded doubles (the
numcorr discipline — no per-row float accumulates).

Scale: reuses graph.py's persisted edge list and degree table; the
moment pass is one map-side-combined aggregate over the directed
view (2|E| rows, three ints wide) after two degree joins that
shuffle on the endpoint key. Output: ONE row.

No reference counterpart (305-LoC Glue ETL); engine surface,
SURVEY.md §2. Registered beyond the round-13 grading window — first
driver slot round 14.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.cluster import both_directions, small_input
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.plans.graph import _EDGES_SQL, _degrees, _edges


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_directed, sum_x, sum_xy, sum_x2, assortativity): exact
    degree-correlation moments over both edge orientations and
    Newman's r."""
    dp = spark.sparkContext.defaultParallelism
    edges = _edges(spark, sf_dir)
    degrees = tracked_persist(_degrees(spark, edges))
    directed = both_directions(edges, "u", "v", "src", "dst")
    dx = degrees.select(F.col("p").alias("src"), F.col("deg").alias("x"))
    dy = degrees.select(F.col("p").alias("dst"), F.col("deg").alias("y"))
    if small_input(spark, sf_dir, "lineitem"):
        # Both endpoint joins probe the |V|-sized degree table, which
        # the lineitem-size gate bounds the same way it bounds |E|
        # (guide §3.1): broadcasting it turns the two repartition +
        # shuffle-join exchanges into map-side hash joins, so the one
        # remaining pass is the cached edge list read twice (the two
        # orientations) folding straight into the map-side-combined
        # moment aggregate.  At 100 TB the gate fails and the shuffled
        # shape below runs unchanged.
        joined = directed.join(F.broadcast(dx), "src").join(
            F.broadcast(dy), "dst"
        )
    else:
        joined = (
            directed.repartition(dp, "src")
            .join(dx, "src")
            .repartition(dp, "dst")
            .join(dy, "dst")
        )
    moments = (
        joined.agg(
            F.count(F.lit(1)).alias("n_directed"),
            F.sum(F.expr("cast(x as decimal(38,0))")).alias("sum_x"),
            F.sum(
                F.expr("cast(x as decimal(38,0)) * cast(y as decimal(38,0))")
            ).alias("sum_xy"),
            F.sum(
                F.expr("cast(x as decimal(38,0)) * cast(x as decimal(38,0))")
            ).alias("sum_x2"),
        )
    )
    return moments.select(
        "n_directed",
        # rendering only: the moments ACCUMULATE in decimal(38,0); both
        # engines cast the identical exact decimal to double, so the
        # comparison stays bit-exact (no-decimal-output policy)
        F.expr("cast(sum_x as double)").alias("sum_x"),
        F.expr("cast(sum_xy as double)").alias("sum_xy"),
        F.expr("cast(sum_x2 as double)").alias("sum_x2"),
        F.expr(
            "(cast(n_directed as double) * cast(sum_xy as double)"
            " - cast(sum_x as double) * cast(sum_x as double))"
            " / (cast(n_directed as double) * cast(sum_x2 as double)"
            " - cast(sum_x as double) * cast(sum_x as double))"
        ).alias("assortativity"),
    )


GRAPH_ASSORTATIVITY_SQL = f"""
WITH {_EDGES_SQL},
degrees AS (
  SELECT p, count(*) AS deg FROM (
    SELECT u AS p FROM edges UNION ALL SELECT v AS p FROM edges
  ) GROUP BY 1
),
directed AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL
  SELECT v AS src, u AS dst FROM edges
),
moments AS (
  SELECT count(*) AS n_directed,
         sum(cast(x.deg AS decimal(38,0))) AS sum_x,
         sum(cast(x.deg AS decimal(38,0))
             * cast(y.deg AS decimal(38,0))) AS sum_xy,
         sum(cast(x.deg AS decimal(38,0))
             * cast(x.deg AS decimal(38,0))) AS sum_x2
  FROM directed
  JOIN degrees x ON directed.src = x.p
  JOIN degrees y ON directed.dst = y.p
)
SELECT n_directed,
       cast(sum_x AS double) AS sum_x,
       cast(sum_xy AS double) AS sum_xy,
       cast(sum_x2 AS double) AS sum_x2,
       (cast(n_directed AS double) * cast(sum_xy AS double)
        - cast(sum_x AS double) * cast(sum_x AS double))
       / (cast(n_directed AS double) * cast(sum_x2 AS double)
          - cast(sum_x AS double) * cast(sum_x AS double))
         AS assortativity
FROM moments
"""


ASSORT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "graph_assortativity": graph_assortativity,
}

ASSORT_ORACLES: dict[str, str] = {
    "graph_assortativity": GRAPH_ASSORTATIVITY_SQL,
}
