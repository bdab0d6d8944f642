"""Link prediction: common-neighbor / Jaccard scores over 2-hop pairs.

The classic "who should be connected" primitive (recommenders,
entity-resolution blocking, graph densification): for node pairs
within two hops, score |N(u) ∩ N(v)| and |N(u) ∪ N(v)|. Reported as
the exact integer pair (no division — the ratio is the consumer's one
cheap float; the INTEGER pair is what cross-engine equality wants),
top-scored per node capped for a bounded result.

Built on the same repeat-co-purchase graph as plans/graphiter.py
(min-support ≥ 2 co-orders). The candidate space is exactly the wedge
set — pairs sharing ≥ 1 neighbor — generated at the shared neighbor
and counted by groupBy, so common-neighbor counting IS the candidate
generation (one pass, no all-pairs). Degrees join back to finish the
union via inclusion-exclusion: |N(u) ∪ N(v)| = d(u) + d(v) − common.
Existing edges are anti-joined away — link PREDICTION scores absent
edges only.

Scale shape: wedge fan-out is Σ d(c)² over shared neighbors — the
same quantity the triangle census bounds with degree orientation; the
wedge groupBy is map-side combined on (u, v); everything after is
bounded joins on node keys. Top-K per node is a rank window
(WindowGroupLimit).

No reference counterpart (305-LoC Glue ETL); engine surface, SURVEY.md
§2. Registered beyond the round-12 grading window — first driver slot
round 13.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.cluster import both_directions, small_input
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.plans.graph import _edges
from etl_pipeline_example_spark.plans.graphiter import MIN_CO_ORDERS, _EDGES2_SQL

TOP_LINKS = 3


def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, n_common, n_union, rnk): top-3 predicted links per node u
    by common-neighbor count (ties: union asc, v asc), over absent
    edges within 2 hops."""
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
    # PERSISTED (tracked): deg is read twice, once per join side
    deg = tracked_persist(
        sym.groupBy(F.col("c").alias("p")).agg(
            F.count(F.lit(1)).alias("deg")
        )
    )
    # wedges at the shared neighbor c: every unordered 2-hop pair (u, v)
    # appears once per common neighbor — the groupBy count IS n_common
    wedge_pairs = (
        sym.alias("a")
        .join(sym.alias("b"), "c")
        .filter(F.expr("a.n < b.n"))
        .select(F.expr("a.n").alias("u"), F.expr("b.n").alias("v"))
    )
    if not bcast:
        wedge_pairs = wedge_pairs.repartition(dp, "u")
    wedges = wedge_pairs.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    # prediction = absent edges only
    absent = wedges.join(edges, ["u", "v"], "left_anti")
    du = deg.select(F.col("p").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("p").alias("v"), F.col("deg").alias("dv"))
    scored = (
        absent.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "n_common",
            F.expr("du + dv - n_common").alias("n_union"),
        )
    )
    w = Window.partitionBy("u").orderBy(
        F.col("n_common").desc(), F.col("n_union").asc(), F.col("v").asc()
    )
    return scored.withColumn(
        "rnk", F.row_number().over(w).cast("int")
    ).filter(F.col("rnk") <= TOP_LINKS)


GRAPH_COMMON_NEIGHBORS_SQL = f"""
WITH {_EDGES2_SQL},
sym AS (
  SELECT u AS c, v AS n FROM edges2
  UNION ALL
  SELECT v AS c, u AS n FROM edges2
),
deg AS (SELECT c AS p, count(*) AS deg FROM sym GROUP BY 1),
wedges AS (
  SELECT a.n AS u, b.n AS v, count(*) AS n_common
  FROM sym a JOIN sym b ON a.c = b.c AND a.n < b.n
  GROUP BY 1, 2
),
absent AS (
  SELECT w.u, w.v, w.n_common
  FROM wedges w
  WHERE NOT EXISTS (
    SELECT 1 FROM edges2 e WHERE e.u = w.u AND e.v = w.v
  )
),
scored AS (
  SELECT a.u, a.v, cast(a.n_common AS bigint) AS n_common,
         cast(du.deg + dv.deg - a.n_common AS bigint) AS n_union
  FROM absent a
  JOIN deg du ON du.p = a.u
  JOIN deg dv ON dv.p = a.v
)
SELECT u, v, n_common, n_union, rnk FROM (
  SELECT u, v, n_common, n_union,
         cast(row_number() OVER (PARTITION BY u
              ORDER BY n_common DESC, n_union ASC, v ASC) AS int) AS rnk
  FROM scored
) WHERE rnk <= {TOP_LINKS}
"""


LINKPRED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "graph_common_neighbors": graph_common_neighbors,
}

LINKPRED_ORACLES: dict[str, str] = {
    "graph_common_neighbors": GRAPH_COMMON_NEIGHBORS_SQL,
}
