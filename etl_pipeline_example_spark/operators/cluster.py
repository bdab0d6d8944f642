"""Duplicate-cluster assignment: connected components over the MinHash
near-duplicate pair graph.

Pairwise dedup (operators/dedup.py) stops at edges; a real corpus prune
needs *clusters* — if A≈B and B≈C, all three are one duplicate group
even when A/C never collide in LSH. Components give each document a
canonical representative (the minimum doc_id in its component), which is
the standard keep-one policy in large-scale corpus dedup (e.g. the
near-dedup stage described in Lee et al., "Deduplicating Training Data
Makes Language Models Better", and the MapReduce connected-components
literature: Kiveris et al., SoCC'14).

Algorithm: min-label propagation with pointer doubling —
``comp(v) ← min(comp(v), min over neighbours comp(u), comp(comp(v)))``
each round, all as DataFrame joins/aggregations (no driver-side graph, no
collect). Neighbour propagation alone needs diameter rounds; folding in
the label-of-label step (the shortcutting half of Kiveris et al.'s
large-star/small-star, SoCC'14) makes label trees halve in height each
round, so convergence is O(log diameter) — 2-3 rounds on the clique-ish
blobs near-dup graphs produce, and a long chain of chained near-dups
can't push it past the cap. Labels are ``localCheckpoint``-ed per round:
the plan each round is 2 bounded joins + 1 aggregation over
(node, component), never a lineage that grows with round count (Catalyst re-planning over an
iterated lineage is the classic silent O(rounds²) driver cost); each
superseded round's checkpoint is freed once the next one is built, so
only the returned labels stay live.
Initialization folds the first propagation in (labels start at
min(self, neighbours)); convergence is detected by the monotone label
sum (labels only decrease, so an unchanged decimal sum IS the fixed
point — an aggregate-only probe, no diff join). If the cap is hit before
the fixed point the op RAISES rather than return wrong labels.

The oracle is a DuckDB ``WITH RECURSIVE`` reachability closure over the
same (cross-engine-deterministic) MinHash pair set: min reachable node =
component id. Exponential-frontier oracles are fine at test scale;
label propagation is the form that runs at 100 TB.

Reference parity note: the reference has no graph stage — this extends
its dedup story the way its validation extends row counts (reference:
python_scripts/test_data.py) — data-driven, declaratively expressed.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.fsutil import dataset_bytes
from etl_pipeline_example_spark.operators.dedup import MINHASH_PAIR_CTES, dedup_minhash
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.session import scoped_confs

ITER_CAP = 20

# The one small-input gate of the graph and dedup keys: the RAW INPUT
# SIZE of the table the key scans (``fsutil.dataset_bytes``: one
# driver-side call — no job, no barrier; recursive over part files and
# ``k=v`` partitions, None when missing). 256 MB of lineitem bounds the
# co-order edge list to a few tens of MB (baskets are schema-bounded,
# ≤ 7 lines/order → ≤ 21 pairs/order), and 256 MB of documents or
# embeddings bounds a dedup pair graph the same way — comfortable to
# broadcast against the session's 8 g driver, and tiny enough that the
# label loops below run their rounds statically narrow. Size-adaptive,
# not a local[32] constant: at scale (or when the input is missing) the
# gate fails and every caller keeps its shuffled, AQE-sized shape.
_SMALL_INPUT_BYTES = 256 * 1024 * 1024


def small_input(spark: SparkSession, sf_dir: str, table: str) -> bool:
    """True when ``<sf_dir>/<table>.parquet`` exists and is at most
    ``_SMALL_INPUT_BYTES``."""
    size = dataset_bytes(spark, f"{sf_dir}/{table}.parquet")
    return size is not None and size <= _SMALL_INPUT_BYTES


def both_directions(edges: DataFrame, u: str, v: str, a: str, b: str) -> DataFrame:
    """(a, b) rows: every (u, v) edge once as (u, v) and once as (v, u).

    One inline explode, not a two-branch union (r17): the union
    referenced the edge subtree twice, and before a persisted edge
    build's cache filled both branches raced duplicate copies of it
    (profiler: two near-identical lineitem self-join jobs in the query
    head). Same row multiset."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(u).alias(a), F.col(v).alias(b)),
                F.struct(F.col(v).alias(a), F.col(u).alias(b)),
            )
        ).alias("e")
    ).select(f"e.{a}", f"e.{b}")


@contextmanager
def _static_narrow_planning(spark: SparkSession, small: bool):
    """Scoped {AQE off, fixed narrow shuffle width, no broadcast joins}
    for the label loop's tiny per-round jobs when the input is
    ``small``; a no-op otherwise.

    Profiled (r18): each pointer-doubling round over the tiny label and
    edge frames ran as ~5 separate AQE stage-jobs (one per exchange
    materialization plus re-planning between them), so ~half the
    operator's wall was driver scheduling gap, not compute. Statically
    narrow, a round is one checkpoint job + one probe job. Broadcast
    stays off because the r17 A/B measured the broadcast-build job
    latency exceeding these tiny shuffles. Plain AQE in its place was
    within noise at local[4] and slower at local[32] (``graph_cc`` at
    sf0.1: 7.55 s against 6.60 s median).

    The confs are session-global for the scope's duration, so the loop
    assumes one query at a time per session: a query run concurrently
    on another thread of the same session would plan under them too."""
    if not small:
        yield
        return
    with scoped_confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            # a fixed narrow width: the label frames are tiny
            "spark.sql.shuffle.partitions": "4",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        yield


def _free_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint``-ed frame: neither
    ``DataFrame.unpersist`` nor the registry's cache release reaches
    the checkpointed RDD, so superseded rounds would stay live for the
    rest of the session."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


class ComponentsNotConverged(RuntimeError):
    """Raised when label propagation hits ITER_CAP before the fixed point —
    returning the unconverged labels would silently mis-cluster."""


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    small: bool = False,
) -> DataFrame:
    """Components of an undirected graph given one-direction edge rows.

    Returns (node, component) with component = min node id reachable.
    Pure DataFrame iteration: per round every node takes the min of its
    own label, its neighbours' labels, and its label's label (pointer
    doubling — O(log diameter) rounds). ``small``: the caller proved the
    input small (``small_input``), so the per-round jobs run under
    ``_static_narrow_planning``; False keeps AQE.
    """
    both = both_directions(edges, src, dst, "a", "b").distinct()
    # under the gate, one partition: a cached frame keeps the width it
    # was built at (AQE does not coalesce it), so every round re-read
    # the session's shuffle width as tiny tasks (graph_cc at sf0.1 on a
    # default 200-partition session: 12.6 s -> 5.3 s)
    both = tracked_persist(both.coalesce(1) if small else both)
    # initialization folds the first propagation round in: every node
    # starts at min(self, min neighbour) — one groupBy instead of a full
    # join+double round
    labels = (
        both.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.min("b"), F.col("a")).alias("component"))
        .localCheckpoint()
    )
    # labels only ever decrease, so sum(component) strictly decreases
    # until the fixed point — an aggregate-only convergence probe, no join
    prev_sum = labels.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]
    # the pair graph and init labels above materialized WITH AQE (the
    # heavy part); only the tiny per-round jobs run statically narrow
    with _static_narrow_planning(edges.sparkSession, small):
        for _ in range(ITER_CAP):
            # Two-join round (opt round r17): the old shape materialized
            # a `stepped` frame (labels ⋈ neigh) and then pointer-
            # doubled on it — 3 joins per round, with the stepped
            # subtree planned twice. Folding the self-label into the
            # neighbour aggregation via union and doubling on the
            # PREVIOUS round's labels yields min(self, neigh labels,
            # label(label)) in 2 joins + 1 groupBy. Same monotone
            # update, same fixed point (min reachable id), verified
            # label-identical; doubling on one-round-older labels can at
            # worst add one (cheap) round, still O(log diameter).
            # 1) neighbour labels (sym graph ⇒ every node appears as `a`)
            contrib_n = both.join(labels, both.b == labels.node).select(
                F.col("a").alias("node"), "component"
            )
            # 2) pointer doubling: follow the label one hop (components
            # are always node ids, so the self-join always hits)
            hop = labels.select(
                F.col("node").alias("c_node"), F.col("component").alias("c_comp")
            )
            contrib_p = labels.join(hop, labels.component == hop.c_node).select(
                "node", F.col("c_comp").alias("component")
            )
            # under the gate the checkpoint is LAZY so the convergence
            # probe's collect materializes the round in ONE job (the
            # r17 lazy-checkpoint rejection was about compiling outside
            # adaptive execution — moot here, the loop is static);
            # past the gate the eager checkpoint keeps AQE's per-stage
            # sizing for the big-label rounds
            updated = (
                contrib_n.union(contrib_p)
                .union(labels)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
                .localCheckpoint(eager=not small)
            )
            new_sum = updated.agg(
                F.sum(F.col("component").cast("decimal(38,0)"))
            ).collect()[0][0]
            # the probe materialized `updated`, so the previous round's
            # checkpoint has no reader left
            _free_checkpoint(labels)
            labels = updated
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        else:
            both.unpersist()
            _free_checkpoint(labels)
            raise ComponentsNotConverged(
                f"connected_components did not converge within {ITER_CAP} rounds"
            )
    both.unpersist()
    return labels


def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component, is_kept) for every doc in a near-dup cluster.

    Edges are the verified MinHash pairs; component is the min doc_id
    reachable; the representative (is_kept) is the component id itself.
    """
    pairs = dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(
        pairs, "doc_a", "doc_b", small=small_input(spark, sf_dir, "documents")
    )
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("node") == F.col("component")).alias("is_kept"),
    )


DEDUP_CLUSTER_SQL = f"""
WITH RECURSIVE {MINHASH_PAIR_CTES},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM mh_pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM mh_pairs
),
reach AS (
  SELECT DISTINCT s AS node, s AS root FROM edges
  UNION
  SELECT e.d AS node, r.root
  FROM reach r JOIN edges e ON e.s = r.node
)
SELECT node AS doc_id, min(root) AS component,
       node = min(root) AS is_kept
FROM reach GROUP BY node
"""


CLUSTER_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_cluster": dedup_cluster,
}

CLUSTER_ORACLES: dict[str, str] = {
    "dedup_cluster": DEDUP_CLUSTER_SQL,
}
