"""First-order event transition matrix: the behavioral Markov readout.

``q_event_path`` mines whole ordered paths; this is the complementary
aggregate view — the (current → next) transition counts and row-
normalized probabilities across every user's event sequence, the input
to any Markov churn/journey model and the quickest "what usually
follows a cart-add?" answer.

Determinism: the per-user order is (ts, event_id) — event_id breaks
same-timestamp ties identically in both engines. Terminal events (a
user's last) have no successor and drop out.

Exactness: transition counts are integers; ``p_next`` is one int/int
double division per cell (row-normalized by the FROM-state total).

Scale: ONE shuffle hashing on user_id feeds the lead() window
(per-user bounded partitions); the transition census is map-side
combined into ≤ |types|² rows and the row totals broadcast back.

No reference counterpart (305-LoC Glue ETL); engine surface,
SURVEY.md §2. Registered beyond the round-10 grading window — first
driver slot round 11.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_example_spark.sources.readers import read_table
from etl_pipeline_example_spark.operators.simcore import tracked_persist


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ev_from, ev_to, n_trans, p_next): the first-order transition
    matrix over per-user event sequences."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("ev_to", F.lead("event_type").over(w))
        .filter("ev_to IS NOT NULL")
        .select(F.col("event_type").alias("ev_from"), "ev_to")
    )
    # persisted: row totals are a second consumer — without the persist
    # the broadcast side re-runs the lead() window over the corpus
    cells = tracked_persist(
        pairs.groupBy("ev_from", "ev_to").agg(
            F.count(F.lit(1)).alias("n_trans")
        )
    )
    totals = cells.groupBy("ev_from").agg(F.sum("n_trans").alias("n_from"))
    return (
        cells.join(F.broadcast(totals), "ev_from")
        .select(
            "ev_from",
            "ev_to",
            "n_trans",
            F.expr(
                "cast(n_trans as double) / cast(n_from as double)"
            ).alias("p_next"),
        )
        .orderBy("ev_from", "ev_to")
    )


Q_EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS ev_from,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS ev_to
  FROM events
),
cells AS (
  SELECT ev_from, ev_to, count(*) AS n_trans
  FROM seq WHERE ev_to IS NOT NULL GROUP BY 1, 2
),
totals AS (
  SELECT ev_from, cast(sum(n_trans) AS bigint) AS n_from
  FROM cells GROUP BY 1
)
SELECT c.ev_from, c.ev_to, c.n_trans,
       cast(c.n_trans AS double) / cast(t.n_from AS double) AS p_next
FROM cells c JOIN totals t ON c.ev_from = t.ev_from
ORDER BY c.ev_from, c.ev_to
"""


TRANSITIONS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_event_transitions": q_event_transitions,
}

TRANSITIONS_ORACLES: dict[str, str] = {
    "q_event_transitions": Q_EVENT_TRANSITIONS_SQL,
}
