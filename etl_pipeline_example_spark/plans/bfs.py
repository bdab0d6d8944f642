"""Bounded-depth BFS layer census over the co-order part graph.

The graph family measures global structure (connected components,
pagerank, k-core, triangles/clustering, common-neighbors/jaccard) but
not REACH: "what can K hops touch from these seeds?" — the blast-
radius / neighborhood-expansion question behind recommendation
candidate generation and contamination spread analysis. This operator
answers it exactly: single-source-set BFS from the 3 smallest node
ids, depth capped at K=3, reporting per LAYER the node count and an
id checksum.

Shape: the frontier-relaxation loop every distributed BFS uses —
round r joins the (nodes newly reached at r−1) frontier against the
edge list and min-folds distances — but with the round count FIXED
(K=3), so the plan is a bounded chain of joins/aggregates, never an
unbounded iteration: the graphiter discipline (bounded rounds,
aggregate-only convergence) applied to reachability. The edge set is
the co-order spine the certified cc/pagerank use (`plans/graph._edges`
at graphiter's MIN_CO_ORDERS — persisted, one build serves the
rounds). Seeds are the 3 smallest node ids (TakeOrdered — the house
top-k pattern, never a global sort).

Oracle: DuckDB WITH RECURSIVE bounded by ``d < K`` — the UNION
dedupes (node, d) states and a final min-fold per node yields the
same layers; materialized per the multiply-referenced-CTE rule.

Scale note: each round shuffles only the FRONTIER⋈edges fan-out; at
K=3 the total work is the 3-hop neighborhood, inherently bounded by
the query's own semantics (that is the point of layer-capped BFS at
100 TB — never the transitive closure).

Reference: N/A (305-LoC Glue ETL); engine surface, SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.cluster import both_directions, small_input
from etl_pipeline_example_spark.plans.graph import _edges
from etl_pipeline_example_spark.plans.graphiter import MIN_CO_ORDERS, _EDGES2_SQL

BFS_K = 3
BFS_SEEDS = 3


def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(layer, n_nodes, sum_node): nodes first reached at each BFS
    depth 0..K from the 3 smallest node ids of the co-order graph."""
    edges = _edges(spark, sf_dir, MIN_CO_ORDERS)
    # nodes derive from bidir (src covers both endpoints), cutting the
    # edge-frame references from four to K+1 reads of the filled cache
    bidir = both_directions(edges, "u", "v", "src", "dst")
    if small_input(spark, sf_dir, "lineitem"):
        # tiny-frame BFS rounds: one partition beats 32 tasks of ~100-row
        # partitions per round (the r17 width fix); at scale the
        # gate fails and the cache's dp-wide layout is used unchanged
        bidir = bidir.coalesce(1)
    nodes = bidir.select(F.col("src").alias("node")).distinct()
    seeds = nodes.orderBy("node").limit(BFS_SEEDS)
    # localCheckpoint per round (the graphiter/kcore discipline): round r
    # references dist_{r-1} TWICE (the union and the frontier filter), so
    # the un-checkpointed K=3 plan held 2^K copies of the dist subtree
    # plus 3 references to bidir — AQE materialized them as ~58 separate
    # stage-jobs, most of them concurrently RE-computing the persisted
    # edge build before its cache filled (measured 4.9 s wall / 29 s of
    # stage time at sf0.1).  Checkpointing linearizes the rounds into one
    # short job each; the first round's job fills the edge cache exactly
    # once.  Values are unchanged — a checkpoint is a plan cut, not a
    # computation change (guide §3.3 "materialise an intermediate").
    dist = seeds.withColumn("d", F.lit(0)).localCheckpoint()
    frontier = dist
    for r in range(1, BFS_K + 1):
        reached = (
            frontier.join(bidir, frontier["node"] == bidir["src"])
            .select(F.col("dst").alias("node"), F.lit(r).alias("d"))
        )
        dist = (
            dist.unionByName(reached)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        ).localCheckpoint()
        frontier = dist.filter(F.col("d") == r)
    return (
        dist.groupBy(F.col("d").alias("layer"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("node").cast("bigint").alias("sum_node"),
        )
        .orderBy("layer")
    )


GRAPH_BFS_LAYERS_SQL = f"""
WITH RECURSIVE
{_EDGES2_SQL},
bidir AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM edges2
  UNION ALL
  SELECT v AS src, u AS dst FROM edges2
),
seeds AS (
  SELECT node FROM (
    SELECT u AS node FROM edges2 UNION SELECT v FROM edges2
  ) ORDER BY node LIMIT {BFS_SEEDS}
),
bfs(node, d) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT b.dst, bfs.d + 1
  FROM bfs JOIN bidir b ON b.src = bfs.node
  WHERE bfs.d < {BFS_K}
),
final AS (
  SELECT node, min(d) AS d FROM bfs GROUP BY 1
)
SELECT d AS layer,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(node) AS BIGINT) AS sum_node
FROM final
GROUP BY 1
ORDER BY 1
"""


BFS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "graph_bfs_layers": graph_bfs_layers,
}

BFS_ORACLES: dict[str, str] = {
    "graph_bfs_layers": GRAPH_BFS_LAYERS_SQL,
}
