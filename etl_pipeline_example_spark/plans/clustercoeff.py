"""Global clustering coefficient: how triangle-dense is the graph?

The one-number transitivity summary completing the graph panel:
C = 3·triangles / wedges, with wedges = Σᵥ deg(v)·(deg(v)−1)/2 — the
probability that two co-purchase neighbors of the same part are
themselves co-purchased. Reads together with `graph_assortativity`
(mixing) and `graph_triangles` (raw census): a high-C disassortative
graph is clustered hub-and-spoke, a low-C assortative one is a
layered lattice.

Triangles come from the certified `graph_triangles` pipeline
(imported, not forked; the oracle nests GRAPH_TRIANGLES_SQL as a CTE
— the composition pattern). Wedges are one map-side-combined fold
over the degree table: deg·(deg−1) accumulates in decimal(38,0)
(deg² · |V| wraps int64 near hub degree 10⁶ — the graphiter headroom
rule) and halves exactly (the product of consecutive integers is
even); outputs render as double under the no-decimal-output policy
(both engines cast the identical exact decimal).

Scale: everything beyond the already-audited triangle pipeline is a
|V|-keyed aggregate folding to ONE row; the two one-row sides meet
in a broadcast cross join.

No reference counterpart (305-LoC Glue ETL); engine surface,
SURVEY.md §2. Registered beyond the round-13 grading window — first
driver slot round 14.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.cluster import small_input
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.plans.graph import (
    GRAPH_TRIANGLES_SQL,
    _EDGES_SQL,
    _degrees,
    _edges,
    _triangles_from,
)


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_vertices, n_edges, n_triangles, n_wedges, global_cc): the
    triangle census plus wedge count and C = 3T/W.

    The edge list and degree table are built ONCE and shared by the
    triangle pipeline and the wedge fold.  The previous shape called
    `graph_triangles()` and then `_edges()` again, building a second
    edge list beside the triangle pipeline's persisted one, so the whole
    |E| self-join ran twice (measured ~10 s at sf0.1; shared: the
    triangle cost plus one |V| aggregate)."""
    edges = _edges(spark, sf_dir)
    degrees = tracked_persist(_degrees(spark, edges))
    tri = _triangles_from(
        spark, edges, degrees, small_input(spark, sf_dir, "lineitem")
    )
    # Σ deg·(deg−1) = 2W accumulates in decimal; the halving happens in
    # the double rendering (exact: both engines halve the identical
    # cast of the identical exact decimal)
    wedges = degrees.agg(
        F.sum(
            F.expr(
                "cast(deg as decimal(38,0))"
                " * cast(deg - 1 as decimal(38,0))"
            )
        ).alias("w2")
    )
    return (
        tri.crossJoin(F.broadcast(wedges))
        .select(
            "n_vertices",
            "n_edges",
            "n_triangles",
            F.expr("cast(w2 as double) / 2.0D").alias("n_wedges"),
            F.expr(
                "6.0D * cast(n_triangles as double) / cast(w2 as double)"
            ).alias("global_cc"),
        )
    )


GRAPH_CLUSTERING_COEFF_SQL = f"""
WITH tri3 AS ({GRAPH_TRIANGLES_SQL}),
deg2 AS (
  WITH {_EDGES_SQL}
  SELECT p, count(*) AS deg FROM (
    SELECT u AS p FROM edges UNION ALL SELECT v AS p FROM edges
  ) GROUP BY 1
),
wed AS (
  SELECT sum(cast(deg AS decimal(38,0))
             * cast(deg - 1 AS decimal(38,0))) AS w2
  FROM deg2
)
SELECT t.n_vertices, t.n_edges, t.n_triangles,
       cast(wed.w2 AS double) / 2.0 AS n_wedges,
       6.0 * cast(t.n_triangles AS double) / cast(wed.w2 AS double)
         AS global_cc
FROM tri3 t CROSS JOIN wed
"""


CLUSTERCOEFF_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "graph_clustering_coeff": graph_clustering_coeff,
}

CLUSTERCOEFF_ORACLES: dict[str, str] = {
    "graph_clustering_coeff": GRAPH_CLUSTERING_COEFF_SQL,
}
