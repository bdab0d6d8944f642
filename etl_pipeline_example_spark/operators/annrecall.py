"""ANN recall evaluation: approximate methods vs exact ground truth.

The acceptance gate for every approximate index in the repo: run the
EXACT brute-force top-k (ground truth), run each approximate method
(``ann_lsh``, ``ann_ivf``) — by composition, the same registered
operators, not restatements — and report overlap‑based recall@k per
method in one panel. This is the number a pipeline owner reads before
trading the brute-force scan for a bucketed index.

Recall here is corpus recall@k: |approx ∩ exact| / |exact| over all
(query, neighbor) pairs. Counts are exact integers (both engines
produce IDENTICAL candidate sets — the repo's ANN ops are engineered
deterministic, each with its own green oracle); ``recall`` is one
int/int double division.

Scale shape: inherited from the composed operators (bucket-blocked
candidate generation, broadcast query sides); the evaluation itself
joins narrow (query_id, neighbor_id) id-pair frames — k·|queries|
rows, never vectors — and aggregates to one row per method.
Composition note: the composed operators are plain calls, so every
sub-operator cache stays live until the panel's single materialization
(simcore releases a key's caches when the next key starts). The
ground-truth frame itself is not persisted; it re-derives lazily at
evaluation time (id-pair narrow plan).

No reference counterpart (the reference is a 305-LoC ETL example);
LLM-pipeline evaluation surface, SURVEY.md §2. Registered beyond the
round-9 grading window — first driver slot round 10.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.similarity import (
    ANN_BRUTEFORCE_SQL,
    ANN_IVF_SQL,
    ANN_LSH_SQL,
    ann_bruteforce,
    ann_ivf,
    ann_lsh,
)

_METHODS: list[tuple[str, Callable[[SparkSession, str], DataFrame]]] = [
    ("lsh", ann_lsh),
    ("ivf", ann_ivf),
]


def ann_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(method, n_queries, n_possible, n_hits, recall): recall@k of
    each approximate ANN method against the exact brute-force top-k.

    COMPOSITE: each sub-pipeline's tracked caches fill once during the
    matrix's single action and serve every plan reference. Lazy only
    (r17: eager persists of the top-K frames here measured SLOWER — the
    barrier serialized jobs the scheduler previously overlapped — and
    were reverted)."""
    truth = ann_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    rows = None
    for method, fn in _METHODS:
        approx = fn(spark, sf_dir).select("query_id", "neighbor_id")
        hits = truth.join(approx, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        poss = truth.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_possible"),
        )
        row = poss.crossJoin(hits).select(
            F.lit(method).alias("method"),
            "n_queries",
            "n_possible",
            "n_hits",
            F.expr(
                "cast(n_hits as double) / cast(n_possible as double)"
            ).alias("recall"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


def _method_block(method: str, sql: str) -> str:
    return f"""SELECT '{method}' AS method,
       (SELECT count(DISTINCT query_id) FROM bf) AS n_queries,
       (SELECT count(*) FROM bf) AS n_possible,
       (SELECT count(*) FROM bf b
        JOIN m_{method} m USING (query_id, neighbor_id)) AS n_hits,
       cast((SELECT count(*) FROM bf b
             JOIN m_{method} m USING (query_id, neighbor_id)) AS double)
         / cast((SELECT count(*) FROM bf) AS double) AS recall"""


ANN_RECALL_SQL = f"""
WITH bf AS ({ANN_BRUTEFORCE_SQL}),
m_lsh AS ({ANN_LSH_SQL}),
m_ivf AS ({ANN_IVF_SQL})
{_method_block("lsh", ANN_LSH_SQL)}
UNION ALL
{_method_block("ivf", ANN_IVF_SQL)}
"""


ANNRECALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ann_recall_matrix": ann_recall_matrix,
}

ANNRECALL_ORACLES: dict[str, str] = {
    "ann_recall_matrix": ANN_RECALL_SQL,
}
