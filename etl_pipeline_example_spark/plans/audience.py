"""Audience-overlap matrix: Jaccard between event-type user bases.

"Do the people who purchase also search, or are those different
audiences?" — the cross-feature overlap matrix product analytics
reads before bundling or funnel design. For every ordered pair of
event types (a < b): |users(a) ∩ users(b)|, both bases, and exact
Jaccard — all from ONE deduped (user, type) lattice: the pair
intersection is a self-join of that lattice on user_id (pair space
per user = C(types_of_user, 2), type-domain bounded — the
q_basket_pairs bound with a schema-bounded basket), and the union
comes by inclusion–exclusion from the marginals instead of a second
pass. Jaccard stays a single double division over exact integers
(the HHI discipline).

Scale: ONE map-side-combined (user, type) dedup shuffle builds the
lattice, persisted so its three consumers (both self-join sides and
the marginals) read the cache instead of re-running the corpus scan;
every downstream exchange carries lattice- or type-grain rows, never
raw events. Output is the type-pair matrix: bounded, SF-invariant.

No reference counterpart (305-LoC Glue ETL); engine surface,
SURVEY.md §2. Registered beyond the round-13 grading window — first
driver slot round 14.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(type_a, type_b, n_a, n_b, n_both, jaccard): user-base overlap
    for every ordered event-type pair."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    dp = spark.sparkContext.defaultParallelism
    # PERSISTED (tracked): three consumers below (self-join twice +
    # marginals) — without it each re-runs the dedup shuffle; the
    # cached partitioning (user_id subset) also lets the self-join
    # reuse the exchange instead of re-hashing both branches
    lattice = tracked_persist(
        ev.repartition(dp, "user_id")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("user_id", "event_type")
    )
    marg = lattice.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    pairs = (
        lattice.alias("a")
        .join(lattice.alias("b"), "user_id")
        .filter(F.expr("a.event_type < b.event_type"))
        .groupBy(
            F.expr("a.event_type").alias("type_a"),
            F.expr("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = marg.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    mb = marg.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr(
                "cast(n_both as double)"
                " / cast(n_a + n_b - n_both as double)"
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


Q_AUDIENCE_OVERLAP_SQL = """
WITH lattice AS (
  SELECT DISTINCT user_id, event_type FROM events
),
marg AS (
  SELECT event_type, count(*) AS n_users FROM lattice GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_both
  FROM lattice a JOIN lattice b USING (user_id)
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b,
       ma.n_users AS n_a, mb.n_users AS n_b, n_both,
       cast(n_both AS double)
         / cast(ma.n_users + mb.n_users - n_both AS double) AS jaccard
FROM pairs
JOIN marg ma ON pairs.type_a = ma.event_type
JOIN marg mb ON pairs.type_b = mb.event_type
ORDER BY type_a, type_b
"""


AUDIENCE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_audience_overlap": q_audience_overlap,
}

AUDIENCE_ORACLES: dict[str, str] = {
    "q_audience_overlap": Q_AUDIENCE_OVERLAP_SQL,
}
