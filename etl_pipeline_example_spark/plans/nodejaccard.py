"""Neighborhood-Jaccard link prediction over the co-purchase graph.

``graph_common_neighbors`` ranks candidate edges by the raw shared-
neighbor COUNT; the standard refinement is the neighborhood JACCARD
|N(u)∩N(v)| / |N(u)∪N(v)| — it stops high-degree hubs from dominating
the ranking (the Liben-Nowell & Kleinberg comparison). Computed here
integer-exactly: cn, deg_u, deg_v are integer counts, the union is
deg_u + deg_v − cn by inclusion-exclusion, and the score is ONE double
division at the output boundary (IEEE, identical expression both
engines); ranking ties break on the integer triple then (u, v).

Plan shape (the linkpred class): the symmetric adjacency is persisted
once and width-bounded; candidate pairs are wedges (two edges sharing
a midpoint) aggregated by endpoints — never an all-pairs product;
EXISTING edges are anti-joined out (predicting known edges is
pointless); degrees join back from a persisted map-side-combined
count. Top-``NJ_TOP`` by TakeOrderedAndProject.

Reference: N/A (305-LoC Glue ETL); engine surface, SURVEY.md §2.
Registered beyond the round-15 grading window — first driver slot
round 16.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.cluster import both_directions, small_input
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.plans.graph import _edges
from etl_pipeline_example_spark.plans.graphiter import MIN_CO_ORDERS, _EDGES2_SQL

NJ_TOP = 20


def graph_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, cn, deg_u, deg_v, jaccard): top non-edges by
    neighborhood Jaccard; jaccard = cn / (deg_u + deg_v − cn) as one
    boundary double division."""
    dp = spark.sparkContext.defaultParallelism
    edges = _edges(spark, sf_dir, MIN_CO_ORDERS)
    bcast = small_input(spark, sf_dir, "lineitem")
    sym_rows = both_directions(edges, "u", "v", "c", "n")
    # under the gate the wedge pass is tiny frames — one partition +
    # AQE-coalesced exchanges beat explicit dp width (the r17 width
    # fix); at scale the keyed dp-wide shape runs unchanged
    sym = tracked_persist(
        sym_rows.coalesce(1) if bcast else sym_rows.repartition(dp, "c")
    )
    deg = tracked_persist(
        sym.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
    )
    # wedges: two edges sharing midpoint m -> candidate (a, b), a < b
    wedge_pairs = (
        sym.select(F.col("c").alias("m"), F.col("n").alias("a"))
        .join(
            sym.select(F.col("c").alias("m"), F.col("n").alias("b")),
            "m",
        )
        .filter(F.col("a") < F.col("b"))
    )
    if not bcast:
        wedge_pairs = wedge_pairs.repartition(dp, "a")
    wedges = wedge_pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("cn")
    )
    non_edges = wedges.join(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    scored = (
        non_edges.join(
            deg.select(F.col("c").alias("a"), F.col("deg").alias("deg_u")),
            "a",
        )
        .join(
            deg.select(F.col("c").alias("b"), F.col("deg").alias("deg_v")),
            "b",
        )
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "cn",
            "deg_u",
            "deg_v",
            F.expr(
                "CAST(cn AS DOUBLE) / (deg_u + deg_v - cn)"
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(),
        F.col("cn").desc(),
        F.col("u").asc(),
        F.col("v").asc(),
    ).limit(NJ_TOP)


GRAPH_NODE_JACCARD_SQL = f"""
WITH {_EDGES2_SQL},
sym AS MATERIALIZED (
  SELECT u AS c, v AS n FROM edges2
  UNION ALL
  SELECT v AS c, u AS n FROM edges2
),
deg AS MATERIALIZED (
  SELECT c, count(*) AS deg FROM sym GROUP BY 1
),
wedges AS (
  SELECT s1.n AS a, s2.n AS b, count(*) AS cn
  FROM sym s1 JOIN sym s2 ON s1.c = s2.c AND s1.n < s2.n
  GROUP BY 1, 2
),
non_edges AS (
  SELECT w.* FROM wedges w
  ANTI JOIN edges2 e ON w.a = e.u AND w.b = e.v
)
SELECT ne.a AS u, ne.b AS v, ne.cn,
       da.deg AS deg_u, db.deg AS deg_v,
       CAST(ne.cn AS DOUBLE) / (da.deg + db.deg - ne.cn) AS jaccard
FROM non_edges ne
JOIN deg da ON ne.a = da.c
JOIN deg db ON ne.b = db.c
ORDER BY jaccard DESC, cn DESC, u ASC, v ASC
LIMIT {NJ_TOP}
"""


NODEJACCARD_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "graph_node_jaccard": graph_node_jaccard,
}

NODEJACCARD_ORACLES: dict[str, str] = {
    "graph_node_jaccard": GRAPH_NODE_JACCARD_SQL,
}
