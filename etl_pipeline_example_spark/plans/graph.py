"""Graph analytics over the part co-order graph: degrees + triangles.

The engine's graph-shaped surface, built on a graph the warehouse
already implies: vertices are parts, an edge joins two parts that were
ever ordered together (the q_basket_pairs construction — plans/
basket.py:40 — without the top-N cut). Two readouts:

  graph_degree_hist  degree distribution (how many parts have k
                     co-order partners) — the shape diagnostic that
                     says whether downstream mining needs skew
                     handling.
  graph_triangles    global triangle count via the DEGREE-ORDERED
                     ORIENTATION algorithm — the distributed-triangle
                     standard (Suri & Vassilvitskii's MapReduce
                     formulation): orient every edge from the
                     lower-(degree, id) endpoint to the higher, so
                     each wedge is generated exactly once at its
                     lowest vertex and high-degree hubs never fan out
                     — the join space is Σ d_out², with d_out bounded
                     by √|E| instead of the raw degree. One wedge
                     self-join + one edge semi-join, all on int pairs.

Exactness: degrees, wedge counts, and the triangle total are exact
integers end-to-end.

Scale: baskets are schema-bounded (≤7 lines/order), so the edge list
is linear in lineitem; the orientation bound keeps the wedge join
quadratic only in √|E| — the reason this exact shape (not the naive
3-way self-join on raw edges) is the one that survives 100 TB.

Reference: N/A (305-LoC Glue ETL); engine surface, SURVEY.md §2.
Registered beyond the round-11 grading window — first driver slots
round 12.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.cluster import small_input
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table


def _edges(spark: SparkSession, sf_dir: str, min_orders: int = 1) -> DataFrame:
    """Undirected part-co-order edges as (u, v), u < v: the pairs
    ordered together in at least ``min_orders`` distinct orders (1:
    every distinct pair). PERSISTED (tracked): the edge list is a
    self-join and every consumer reads it at least twice (degrees,
    orientation, wedge closure, symmetrised adjacency, label loops) —
    without the persist Spark re-runs the join per consumer."""
    dp = spark.sparkContext.defaultParallelism
    # ONE dp-wide exchange on the order key serves the dedup AND the
    # self-join: partitioning by a subset of (l_orderkey, l_partkey)
    # satisfies the distinct's clustering and co-locates the join, so
    # neither re-shuffles; the (u, v) group rides the u-subset exchange
    # (nothing runs at the session's default width)
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(dp, "l_orderkey")
        .distinct()
    )
    return tracked_persist(
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.expr("a.l_partkey < b.l_partkey"))
        .select(
            F.expr("a.l_partkey").alias("u"),
            F.expr("b.l_partkey").alias("v"),
        )
        .repartition(dp, "u")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
        .select("u", "v")
    )


_EDGES_SQL = """
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
)
"""


def _degrees(spark: SparkSession, edges: DataFrame) -> DataFrame:
    dp = spark.sparkContext.defaultParallelism
    # one inline explode, not a two-branch unionAll: the union's two
    # references raced duplicate copies of the persisted edge self-join
    # before its cache filled (r17; same row multiset)
    return (
        edges.select(F.explode(F.array("u", "v")).alias("p"))
        .repartition(dp, "p")
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(degree, n_parts): how many parts have each co-order degree."""
    degrees = _degrees(spark, _edges(spark, sf_dir)).withColumnRenamed(
        "deg", "degree"
    )
    return (
        degrees.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("degree")
    )


GRAPH_DEGREE_HIST_SQL = f"""
WITH {_EDGES_SQL},
degrees AS (
  SELECT p, count(*) AS degree FROM (
    SELECT u AS p FROM edges UNION ALL SELECT v AS p FROM edges
  ) GROUP BY 1
)
SELECT degree, count(*) AS n_parts FROM degrees GROUP BY 1 ORDER BY degree
"""


def _triangles_from(
    spark: SparkSession, edges: DataFrame, degrees: DataFrame, bcast: bool
) -> DataFrame:
    """Triangle census over a PERSISTED+materialized edge list and its
    persisted degree table (shared with graph_clustering_coeff so the
    expensive edge build runs once per query, not once per consumer).

    ``bcast``: lineitem passed the small-input gate, which bounds |E| to
    a few tens of MB, so the edge list's adjacency is broadcast into
    the closure. The wedge side is Σ d_out² (>> |E|), so this removes
    the two big exchanges the shuffled shape pays: the explicit wedge
    repartition and the sort-merge shuffle of the wedge fan-out (guide
    §3.1)."""
    dp = spark.sparkContext.defaultParallelism
    # orient each edge from the lower-(degree, id) endpoint to the higher
    du = degrees.select(
        F.col("p").alias("u"), F.col("deg").alias("du")
    )
    dv = degrees.select(
        F.col("p").alias("v"), F.col("deg").alias("dv")
    )
    # persisted (|E| rows, two ints): the wedge self-join reads it
    # twice; pre-partitioned on src so the self-join shares one exchange
    oriented = tracked_persist(
        edges.join(du, "u")
        .join(dv, "v")
        .selectExpr(
            "CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END"
            " AS src",
            "CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END"
            " AS dst",
        )
        .repartition(dp, "src")
    )
    if bcast:
        # EDGE-ITERATOR under the broadcast gate (guide §1.2 — change
        # the algorithm before the constants): a triangle {x,y,z} has
        # exactly one edge whose BOTH endpoints point at the third
        # vertex (the two in-edges of the triangle's sink), so
        # n_triangles = Σ over oriented edges |N⁺(src) ∩ N⁺(dst)|.
        # The wedge self-join + closure probe materialized Σ d_out²
        # wedge rows (the profiled 5.4 s single stage at sf0.1) only to
        # count the survivors; the adjacency-array intersect does the
        # identical Σ d_out² element-compares INSIDE one map-side
        # operator — no wedge rows, no probe per wedge. adj is |E|
        # longs grouped into ≤ √|E|-long arrays, bounded by the same
        # input gate that already bounds broadcasting the edge list.
        # ONE broadcast adjacency, joined twice under aliases. Spark
        # does not reuse its exchange: explain("formatted") at sf0.001
        # shows two BroadcastExchange nodes, each over its own
        # collect_list aggregation, and no ReusedExchange, so the
        # adjacency is built and shipped once per side
        adj = F.broadcast(
            oriented.groupBy("src").agg(F.collect_list("dst").alias("nb"))
        )
        closed = (
            oriented.alias("e")
            .join(adj.alias("au"), F.col("e.src") == F.col("au.src"))
            .join(adj.alias("av"), F.col("e.dst") == F.col("av.src"), "left")
            .select(
                F.when(F.col("av.nb").isNull(), F.lit(0))
                .otherwise(
                    F.size(F.array_intersect(F.col("au.nb"), F.col("av.nb")))
                )
                .alias("n_common")
            )
        )
        tri = closed.agg(
            F.coalesce(F.sum(F.expr("cast(n_common as bigint)")), F.lit(0).cast("bigint")).alias(
                "n_triangles"
            )
        )
    else:
        # at scale the gate fails: keep the shuffled wedge-closure shape
        # (Suri & Vassilvitskii) — wedge rows are 2 longs and the
        # closure is a keyed join, the proven 100 TB plan
        wedges = (
            oriented.alias("e1")
            .join(oriented.alias("e2"), "src")
            .filter(F.expr("e1.dst < e2.dst"))
            .selectExpr("e1.dst AS u", "e2.dst AS v")
        )
        closed = wedges.repartition(dp, "u").join(edges, ["u", "v"])
        tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    vstats = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    verts = degrees.agg(F.count(F.lit(1)).alias("n_vertices"))
    return (
        verts.crossJoin(F.broadcast(vstats))
        .crossJoin(F.broadcast(tri))
        .select("n_vertices", "n_edges", "n_triangles")
    )


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_vertices, n_edges, n_triangles): global triangle census via
    degree-ordered orientation."""
    edges = _edges(spark, sf_dir)
    # persisted (|V| rows): consumed by both endpoint joins below
    degrees = tracked_persist(_degrees(spark, edges))
    return _triangles_from(
        spark, edges, degrees, small_input(spark, sf_dir, "lineitem")
    )


GRAPH_TRIANGLES_SQL = f"""
WITH {_EDGES_SQL},
degrees AS (
  SELECT p, count(*) AS deg FROM (
    SELECT u AS p FROM edges UNION ALL SELECT v AS p FROM edges
  ) GROUP BY 1
),
oriented AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst
  FROM edges e
  JOIN degrees du ON du.p = e.u
  JOIN degrees dv ON dv.p = e.v
),
wedges AS (
  SELECT e1.dst AS u, e2.dst AS v
  FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
  WHERE e1.dst < e2.dst
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM wedges w JOIN edges e ON w.u = e.u AND w.v = e.v
),
verts AS (SELECT count(*) AS n_vertices FROM degrees),
ecnt AS (SELECT count(*) AS n_edges FROM edges)
SELECT v.n_vertices, e.n_edges, t.n_triangles
FROM verts v CROSS JOIN ecnt e CROSS JOIN tri t
"""


GRAPH_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "graph_degree_hist": graph_degree_hist,
    "graph_triangles": graph_triangles,
}

GRAPH_ORACLES: dict[str, str] = {
    "graph_degree_hist": GRAPH_DEGREE_HIST_SQL,
    "graph_triangles": GRAPH_TRIANGLES_SQL,
}
