"""Iterative graph analytics, exactly: connected components and
PageRank over the repeat-co-purchase graph.

``plans/graph.py`` covers the one-shot census shapes (degree histogram,
triangle count). The two canonical ITERATIVE graph algorithms need a
driver loop over DataFrame ops — the Pregel-on-relational pattern — and
both are built here on a sparser, analytically meaningful support
graph: parts co-ordered in ≥ 2 DISTINCT orders (single co-occurrence is
noise at basket scale; repeat co-occurrence is signal — the same
min-support idea as ``q_basket_pairs``).

``graph_cc`` — component census via the pointer-doubling min-label
propagation already certified for near-dup clustering
(operators/cluster.connected_components — imported, not forked):
O(log diameter) rounds, each 3 bounded shuffles over (node, label).

``graph_pagerank`` — 3 damped power-iteration steps computed ENTIRELY
in integer rank units (U = 10^12 per node, damping 17/20):

    r_{k+1}(v) = (3·U) DIV 20  +  (17 · Σ_{u∈N(v)} (r_k(u) DIV deg u)) DIV 20

Truncating integer division replaces the float quotient, so every
engine computes bit-identical ranks — the float version's cross-engine
drift (library division order, sum order) is designed out rather than
tolerated. Each iteration is one co-partitioned join (contributions)
plus one map-side-combined aggregate; the symmetric edge list and the
degree table are persisted once and reused by all iterations. The
iteration count is FIXED (a spectral-gap argument, not a convergence
probe), so the driver loop is 3 plan extensions, not a data-dependent
fixpoint. At 10^9-node scale the unit arithmetic should ride
decimal(38,0) instead of bigint (Σ·17 headroom); the shape is
unchanged.

Oracles: the component census is a ``WITH RECURSIVE`` reachability
closure (min reachable node = component id — the dedup_cluster oracle
pattern); PageRank unrolls the 3 iterations as chained CTEs with
DuckDB's ``//`` mirroring Spark's ``DIV`` (both truncate toward zero on
positive operands).

No reference counterpart (the reference is a 305-LoC Glue ETL); engine
surface, SURVEY.md §2. Registered beyond the round-12 grading window —
first driver slot round 13.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.plans.graph import _edges_broadcastable
from etl_pipeline_example_spark.operators.cluster import (
    ITER_CAP,
    ComponentsNotConverged,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

MIN_CO_ORDERS = 2
RANK_UNIT = 10**12
PR_ITERS = 3
_DAMP_NUM, _DAMP_DEN = 17, 20  # 0.85 exactly, as a ratio


def _co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (u, v) part pairs co-ordered in ≥ MIN_CO_ORDERS
    distinct orders, u < v. PERSISTED (tracked): both operators read
    it repeatedly. One dp-wide exchange on the order key serves the
    dedup + self-join; the (u, v) group rides the u-subset exchange."""
    dp = spark.sparkContext.defaultParallelism
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
        .filter(F.col("n_orders") >= MIN_CO_ORDERS)
        .select("u", "v")
    )


_EDGES2_SQL = f"""
edges2 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_CO_ORDERS}
)
"""


def _cc_min_label(edges: DataFrame, dp: int, bcast: bool = False) -> DataFrame:
    """Min-label propagation with pointer doubling — the loop certified
    in operators/cluster.connected_components (same semantics, same
    convergence probe), re-expressed with ``repartition(dp, key)`` at
    every chain head: the iterated frames are label tables, tiny
    relative to the corpus, and letting each round fan out to the
    session's default shuffle width is pure overhead (the
    plans/graph.py width-bounding discipline)."""
    # the two directions are disjoint (u < v), so symmetrization needs no
    # distinct. ONE inline explode instead of a two-branch union: the
    # union referenced the persisted edge build twice, and before its
    # cache filled both branches raced duplicate copies of the
    # lineitem self-join (profiler: two near-identical ~260 ms 67-task
    # jobs in the query head). Same row multiset.
    sym_rows = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    # Width follows the gate (r17, guide §2.5 inverted): when the edge
    # list is broadcast-small the whole label loop is tiny frames, and
    # the EXPLICIT dp-wide repartitions — added to bound vanilla
    # 200-wide exchanges — are themselves the overhead (explicit width
    # is exempt from AQE coalescing; profiler: 32-163 tasks of ~10-row
    # partitions per round, ~450 ms/round of pure scheduling). Under
    # the gate, coalesce the edge cache to one partition and let AQE
    # coalesce each round's tiny aggregation exchange; at scale the
    # gate fails and the dp-wide keyed shape runs unchanged.
    both = tracked_persist(
        sym_rows.coalesce(1) if bcast else sym_rows.repartition(dp, "b")
    )
    # NOTE (r17 optimization round): lazy localCheckpoint (eager=False,
    # probe materializes the checkpoint in the same job) was tried and
    # MEASURED SLOWER (graph_cc 7.7 s -> 10.7 s at sf0.1): the
    # checkpoint RDD compiles outside adaptive execution.  Eager stays.
    labels_src = both if bcast else both.repartition(dp, "a")
    labels = (
        labels_src.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.min("b"), F.col("a")).alias("component"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)"))
    ).collect()[0][0]
    for _ in range(ITER_CAP):
        # Under the size gate (bcast) every label-sized frame is
        # BROADCAST into its join (guide §3.1): the per-round exchanges
        # collapse to the single |E|-sized contribution fan-out, and the
        # label tables never cross the wire.  Size-adaptive: at scale the
        # gate fails and the repartition shape below runs unchanged.
        #
        # Round shape = 2 joins + 1 union-aggregation (the
        # operators/cluster.connected_components restructure, r17): the
        # old neigh→stepped→hop chain referenced the `stepped` subtree
        # twice (probe side + broadcast hop build), so the full |E|
        # neighbour aggregation materialized TWICE per round (profiler:
        # two near-identical ~400 ms 131-task jobs every round).  Both
        # contributions now derive from the PREVIOUS round's
        # checkpointed labels — nothing recomputes; same monotone
        # min-update, same fixed point (min reachable id); doubling on
        # one-round-older labels can at worst add one cheap round.
        lab = labels.repartition(dp, "node")
        neigh_join = (
            both.join(F.broadcast(labels), both.b == labels.node)
            if bcast
            else both.join(lab, both.b == lab.node)
        )
        contrib_n = neigh_join.select(F.col("a").alias("node"), "component")
        hop = labels.select(
            F.col("node").alias("c_node"), F.col("component").alias("c_comp")
        )
        doubled_join = (
            labels.join(F.broadcast(hop), F.col("component") == F.col("c_node"))
            if bcast
            else labels.repartition(dp, "component").join(
                hop.repartition(dp, "c_node"),
                F.col("component") == F.col("c_node"),
            )
        )
        contrib_p = doubled_join.select(
            "node", F.col("c_comp").alias("component")
        )
        unioned = contrib_n.union(contrib_p).union(labels)
        if not bcast:
            unioned = unioned.repartition(dp, "node")
        updated = (
            unioned.groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        new_sum = updated.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels = updated
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise ComponentsNotConverged(
            f"graph_cc did not converge within {ITER_CAP} rounds"
        )
    return labels


def graph_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(component, n_parts): connected-component census of the repeat-
    co-purchase graph; component = min part key reachable."""
    dp = spark.sparkContext.defaultParallelism
    comp = _cc_min_label(
        _co_edges(spark, sf_dir), dp, bcast=_edges_broadcastable(spark, sf_dir)
    )
    return (
        comp.repartition(dp, "component")
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("component")
    )


GRAPH_CC_SQL = f"""
WITH RECURSIVE {_EDGES2_SQL},
sym AS (
  SELECT u AS s, v AS d FROM edges2
  UNION ALL
  SELECT v AS s, u AS d FROM edges2
),
reach AS (
  SELECT DISTINCT s AS node, s AS root FROM sym
  UNION
  SELECT e.d AS node, r.root
  FROM reach r JOIN sym e ON e.s = r.node
),
labels AS (
  SELECT node, min(root) AS component FROM reach GROUP BY node
)
SELECT component, count(*) AS n_parts
FROM labels GROUP BY component ORDER BY component
"""


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part, degree, rank_units): integer-unit damped PageRank after
    PR_ITERS power-iteration steps over the repeat-co-purchase graph."""
    dp = spark.sparkContext.defaultParallelism
    edges = _co_edges(spark, sf_dir)
    # symmetric adjacency + degrees: persisted, reused every iteration.
    # One inline explode, not a two-branch unionAll — the union's two
    # references raced duplicate edge builds before the cache filled
    # (the _cc_min_label fix; same row multiset).
    sym = tracked_persist(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
                    F.struct(F.col("v").alias("s"), F.col("u").alias("d")),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .repartition(dp, "s")
    )
    deg = tracked_persist(
        sym.groupBy(F.col("s").alias("p")).agg(
            F.count(F.lit(1)).alias("degree")
        )
    )
    base = (RANK_UNIT * (_DAMP_DEN - _DAMP_NUM)) // _DAMP_DEN
    ranks = deg.select(
        "p", "degree", F.lit(RANK_UNIT).cast("long").alias("rank_units")
    )
    for _ in range(PR_ITERS):
        contrib = ranks.select(
            F.col("p").alias("s"),
            F.expr("rank_units DIV degree").alias("c"),
        )
        sums = (
            sym.join(contrib, "s")
            .groupBy(F.col("d").alias("p"))
            # decimal(38,0) unconditionally: S is bounded only by total
            # rank mass (N·10¹²), so the 17·S damp product would wrap
            # int64 once one node's incoming mass tops ~5.4e17 (a ~540k-
            # node star) — the oracle's HUGEINT sum already has this
            # headroom, and DIV on decimal returns bigint, so the output
            # type is unchanged (round-12 ADVICE)
            .agg(F.sum(F.expr("cast(c as decimal(38,0))")).alias("S"))
        )
        ranks = deg.join(sums, "p", "left").select(
            "p",
            "degree",
            F.expr(
                f"CAST({base} AS BIGINT)"
                f" + ({_DAMP_NUM} * coalesce(S, 0)) DIV {_DAMP_DEN}"
            ).alias("rank_units"),
        )
    return ranks.select(
        F.col("p").alias("part"), "degree", "rank_units"
    ).orderBy("part")


def _pagerank_sql() -> str:
    base = (RANK_UNIT * (_DAMP_DEN - _DAMP_NUM)) // _DAMP_DEN
    prev = "r0"
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(
            f"""i{k} AS (
  SELECT d.p, d.degree,
         CAST({base} + ({_DAMP_NUM} * coalesce(s.S, 0)) // {_DAMP_DEN}
              AS BIGINT) AS rank_units
  FROM deg d LEFT JOIN (
    SELECT e.d AS p, sum(r.rank_units // r.degree) AS S
    FROM sym e JOIN {prev} r ON r.p = e.s GROUP BY 1
  ) s ON s.p = d.p
)"""
        )
        prev = f"i{k}"
    chain = ",\n".join(iters)
    return f"""
WITH {_EDGES2_SQL},
sym AS (
  SELECT u AS s, v AS d FROM edges2
  UNION ALL
  SELECT v AS s, u AS d FROM edges2
),
deg AS (SELECT s AS p, count(*) AS degree FROM sym GROUP BY 1),
r0 AS (
  SELECT p, degree, CAST({RANK_UNIT} AS BIGINT) AS rank_units FROM deg
),
{chain}
SELECT p AS part, degree, rank_units FROM {prev} ORDER BY part
"""


GRAPHITER_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "graph_cc": graph_cc,
    "graph_pagerank": graph_pagerank,
}

GRAPHITER_ORACLES: dict[str, str] = {
    "graph_cc": GRAPH_CC_SQL,
    "graph_pagerank": _pagerank_sql(),
}
