"""Bounded k-core peel over the co-purchase graph.

The k-core (maximal subgraph where every vertex keeps degree ≥ k) is
the standard "dense backbone" extraction — recommendation seeding,
community pre-filtering, spam-ring detection all start by discarding
the tree-like fringe. Exact k-core is an iterative PEEL: remove
sub-k vertices, recompute degrees, repeat to fixpoint. Unbounded
iteration can't be oracle-unrolled, so this registers the BOUNDED
form — K=2, R=6 peel rounds — plus a ``converged`` flag that reports
whether round R removed nobody (i.e. the bounded answer IS the exact
k-core; on the benchmark graph it converges well inside the budget,
which the flag certifies per run instead of assuming). The
graph_pagerank precedent: fixed-round iteration, oracle unrolls the
identical rounds as chained CTEs.

Exactness: degrees and survivor sets are integer/set operations only;
``converged`` compares two survivor COUNTS (peeling is monotone —
alive_R ⊆ alive_{R-1} — so count equality is set equality).

Scale shape: the symmetric adjacency is persisted once (the graphiter
discipline); each round is two semi-joins against the current
survivor set + one map-side-combined degree count — R bounded rounds
of keyed exchanges, no all-pairs anything; survivor counts are the
only driver scalars (the graph_cc convergence-probe precedent).

Reference: N/A (305-LoC Glue ETL); engine surface, SURVEY.md §2.
Registered beyond the round-14 grading window — first driver slot
round 15.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.cluster import (
    _free_checkpoint,
    both_directions,
    small_input,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.plans.graph import _edges
from etl_pipeline_example_spark.plans.graphiter import MIN_CO_ORDERS, _EDGES2_SQL

KCORE_K = 2
KCORE_ROUNDS = 6


def graph_kcore2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, core_deg, converged): survivors of R=6 peel rounds at
    K=2 with their in-core degree; converged=true certifies the
    bounded peel reached the exact 2-core fixpoint (the tree-fringe
    removal: every surviving node lies on a cycle). Measured peel
    depths on the testdata: 3 rounds at sf0.01, 5 at sf0.1 — both
    inside the budget, so the flag reads true at every graded scale
    and the bounded answer IS the exact core."""
    dp = spark.sparkContext.defaultParallelism
    bcast = small_input(spark, sf_dir, "lineitem")
    sym_rows = both_directions(_edges(spark, sf_dir, MIN_CO_ORDERS), "u", "v", "c", "n")
    # Under the gate the whole peel iterates tiny frames, and explicit
    # dp-wide partitioning IS the per-round overhead (the r17 width
    # fix: explicit width is exempt from AQE coalescing) — one
    # partition + AQE-coalesced aggregation exchanges; at scale the
    # keyed dp-wide shape runs unchanged.
    sym = tracked_persist(
        sym_rows.coalesce(1) if bcast else sym_rows.repartition(dp, "c")
    )

    def _core_deg(alive_df: DataFrame, out: str) -> DataFrame:
        """Degrees of sym restricted to alive×alive survivors.

        Under the lineitem-size gate (the graph.py broadcast
        discipline) BOTH survivor semi-joins probe a broadcast of the
        ≤|V|-row alive set, so a round is ONE map-side pass over the
        cached sym: sym stays hash(c, dp)-partitioned, broadcast joins
        preserve that, and the groupBy("c") reuses it — zero exchanges
        per round instead of three (guide §2.4/§3.1).  At 100 TB the
        gate fails and the keyed-exchange shape runs unchanged.
        """
        if bcast:
            joined = sym.join(
                F.broadcast(alive_df.select(F.col("node").alias("c"))), "c"
            ).join(
                F.broadcast(alive_df.select(F.col("node").alias("n"))), "n"
            )
        else:
            # repartition(dp, key) at every chain head (the
            # width-bounding discipline): under a vanilla session each
            # of the two joins + the groupBy would otherwise inherit
            # the 200-partition shuffle default — 6 rounds × ~3
            # exchanges of tiny node-sized frames at 200 tasks each was
            # pure scheduler overhead (56 s → ~14 s at sf0.01 in the
            # driver's harness).  sym is persisted hash(c, dp), so the
            # c-join and the final groupBy add no new exchange once
            # their other head matches.
            joined = (
                sym.join(
                    alive_df.select(F.col("node").alias("c")).repartition(
                        dp, "c"
                    ),
                    "c",
                )
                .repartition(dp, "n")
                .join(
                    alive_df.select(F.col("node").alias("n")).repartition(
                        dp, "n"
                    ),
                    "n",
                )
                .repartition(dp, "c")
            )
        return joined.groupBy("c").agg(F.count(F.lit(1)).alias(out))

    alive = sym.select(F.col("c").alias("node")).distinct()
    counts = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = _core_deg(alive, "deg")
        survivors = deg.filter(F.col("deg") >= KCORE_K).select(
            F.col("c").alias("node")
        )
        # localCheckpoint truncates the lineage each round (the
        # graph_cc discipline): without it the logical plan DOUBLES
        # per round — 2^R copies of the co-edge subtree blew the
        # driver heap at R=6 before this. The last round, read by the
        # returned frame, is a tracked cache instead, so the next key's
        # start releases it (the frame is readable until then, not after).
        if r < KCORE_ROUNDS:
            survivors = survivors.localCheckpoint()
        else:
            survivors = tracked_persist(survivors)
        counts.append(survivors.count())  # bounded driver scalar per round
        if r > 1:
            # the count materialized this round, so the previous round's
            # checkpoint has no reader left
            _free_checkpoint(alive)
        alive = survivors
    converged = counts[-1] == counts[-2]
    final_deg = _core_deg(alive, "core_deg")
    return final_deg.select(
        F.col("c").alias("node"),
        "core_deg",
        F.lit(converged).alias("converged"),
    ).orderBy("node")


def _round_ctes(rounds: int, k: int) -> str:
    # Every CTE is MATERIALIZED: DuckDB inlines plain CTEs at each
    # reference site, and alive{r} references alive{r-1} TWICE, so the
    # non-materialized unroll re-evaluates the whole chain 2^R times
    # (measured 49.5 s at sf0.01 for R=6; materialized: sub-second).
    # Spark's localCheckpoint per round is the same linearization on
    # the engine side — the two oracles stay operation-identical.
    parts = [
        "alive0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM edges2"
        " UNION SELECT DISTINCT v FROM edges2)"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"deg{r} AS MATERIALIZED (SELECT s.c, count(*) AS deg FROM sym s"
            f" JOIN alive{r - 1} x ON s.c = x.node"
            f" JOIN alive{r - 1} y ON s.n = y.node GROUP BY s.c)"
        )
        parts.append(
            f"alive{r} AS MATERIALIZED"
            f" (SELECT c AS node FROM deg{r} WHERE deg >= {k})"
        )
    return ",\n".join(parts)


# local materialized twin of graphiter's edges2 CTE: only this oracle
# needs edges2 materialized (alive0 and sym both scan it), so the shared
# CTE text stays plain for the other graph oracles
_EDGES2_MAT_SQL = _EDGES2_SQL.replace(
    "edges2 AS (", "edges2 AS MATERIALIZED (", 1
)

GRAPH_KCORE2_SQL = f"""
WITH {_EDGES2_MAT_SQL},
sym AS MATERIALIZED (
  SELECT u AS c, v AS n FROM edges2
  UNION ALL
  SELECT v AS c, u AS n FROM edges2
),
{_round_ctes(KCORE_ROUNDS, KCORE_K)},
final_deg AS (
  SELECT s.c AS node, count(*) AS core_deg FROM sym s
  JOIN alive{KCORE_ROUNDS} x ON s.c = x.node
  JOIN alive{KCORE_ROUNDS} y ON s.n = y.node
  GROUP BY s.c
)
SELECT node, core_deg,
       (SELECT count(*) FROM alive{KCORE_ROUNDS - 1})
         = (SELECT count(*) FROM alive{KCORE_ROUNDS}) AS converged
FROM final_deg
ORDER BY node
"""


KCORE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "graph_kcore2": graph_kcore2,
}

KCORE_ORACLES: dict[str, str] = {
    "graph_kcore2": GRAPH_KCORE2_SQL,
}
