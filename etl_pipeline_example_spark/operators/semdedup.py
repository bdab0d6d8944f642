"""SemDedup-style embedding dedup (Abbas et al. 2023): cluster the
embedding space, then prune near-duplicate members within each cluster,
keeping one canonical representative.

Three variants, by scale story:

- ``semdedup_prune`` — fixed K = ``KMEANS_K`` (oracle-parity baseline;
  pair space N²/K, scale-weak BY DESIGN — kept for its exact, compact
  DuckDB oracle and superseded in production by the 2l form).
- ``semdedup_prune_2l`` — K = N/OCC target occupancy (grows with the
  corpus), k-means trained on a deterministic hash-gated sample, full
  corpus labeled in one broadcast pass; pair space ~N·OCC, linear in N.
  At extreme K (> ``SEMDEDUP_HIER_THRESHOLD`` cells) assignment goes
  hierarchical: cluster the centroids into ~√K super-cells and assign in
  two hops (``_hier_assign``) — the per-hop plan shape is unchanged and
  the centroid broadcast drops from O(K) to O(√K).
- ``semdedup_canonical`` — resolves within-cell τ-components to a
  SURVIVING representative via pointer-doubling connected components
  (fixes the ``dup_of`` mid-chain caveat of the prune variants).

No reference counterpart; LLM-pipeline surface (SURVEY.md §2 rows
27d/27d1/27d2).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import duck_hexint, spark_hexint
from etl_pipeline_example_spark.operators.kmeans import (
    KMEANS_ASSIGN_SQL,
    _spark_assign,
    _spark_means,
    kmeans_assign,
)
from etl_pipeline_example_spark.operators.simcore import (
    _DUCK_DOT,
    _DUCK_SELF_NORM,
    _DUCK_SQDIST,
    _SPARK_DOT,
    _with_norm,
    EMB_TAU,
    KMEANS_DECIMAL,
    tracked_persist,
)
from etl_pipeline_example_spark.sources.readers import read_table


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, dup_of, cosine): vectors to DROP, each pointing at its
    highest-cosine lower-id cluster-mate. Note ``dup_of`` is that mate,
    NOT necessarily a surviving canonical representative — in a
    transitive chain (a≈b≈c) ``c.dup_of`` may be ``b``, which is itself
    dropped; consumers wanting the group representative should use
    ``semdedup_canonical``.

    Scale path: one k-means labeling (two broadcast passes + a narrow
    mean aggregation), then a self-join keyed on cluster_id — both sides
    shuffle once on the cluster key, exactly the co-location a
    production store would bucket-write — with the argmax-per-dropped-
    vector a WindowGroupLimit, not a global sort. K here is the constant
    ``KMEANS_K`` for oracle parity; ``semdedup_prune_2l`` is the
    production-shaped variant that sizes K to cell occupancy."""
    emb = _with_norm(
        read_table(spark, sf_dir, "embeddings", parallel=True), "embedding", "nrm"
    )
    labels = kmeans_assign(spark, sf_dir).select("vec_id", "cluster_id")
    # persisted: both sides of the within-cluster self-join consume this —
    # without it each side re-executes the entire k-means subtree
    labeled = tracked_persist(emb.join(labels, "vec_id"))
    return _semdedup_drops(labeled)


def _semdedup_pairs(labeled: DataFrame) -> DataFrame:
    """Within-cluster τ-pairs over a (vec_id, embedding, nrm, cluster_id)
    corpus: (vec_a, vec_b, cosine) with vec_a < vec_b and cosine ≥ τ.
    Shared by the SemDedup variants; the caller persists ``labeled`` so
    the self-join sides read the cached labeling instead of re-running
    it."""
    a = labeled.select(
        F.col("cluster_id").alias("blk"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = labeled.select(
        F.col("cluster_id").alias("blk_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    dot = _SPARK_DOT.format(a="ea", b="eb")
    return (
        a.join(b, (F.col("blk") == F.col("blk_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select(
            "vec_a",
            "vec_b",
            F.expr(f"round(({dot}) / (na * nb), 6)").alias("cosine"),
        )
        .filter(F.col("cosine") >= EMB_TAU)
    )


def _semdedup_drops(labeled: DataFrame) -> DataFrame:
    """(vec_id, dup_of, cosine) for every vector with a lower-id
    cluster-mate at cosine ≥ τ (dup_of = highest-cosine such mate, which
    may itself be dropped — see the variant docstrings)."""
    pairs = _semdedup_pairs(labeled)
    w = Window.partitionBy("vec_b").orderBy(F.col("cosine").desc(), F.col("vec_a").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("dup_of"),
            "cosine",
        )
    )


_KMEANS_INLINE = KMEANS_ASSIGN_SQL.strip().rstrip()

SEMDEDUP_PRUNE_SQL = f"""
WITH assign AS ({_KMEANS_INLINE}),
normed AS (
  SELECT vec_id, embedding, {_DUCK_SELF_NORM} AS nrm FROM embeddings
),
labeled AS (
  SELECT n.vec_id, n.embedding, n.nrm, a.cluster_id
  FROM normed n JOIN assign a USING (vec_id)
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(({_DUCK_DOT.format(a="a.embedding", b="b.embedding")})
               / (a.nrm * b.nrm), 6) AS cosine
  FROM labeled a JOIN labeled b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
)
SELECT vec_id, dup_of, cosine FROM (
  SELECT vec_b AS vec_id, vec_a AS dup_of, cosine,
         row_number() OVER (PARTITION BY vec_b
                            ORDER BY cosine DESC, vec_a) AS rn
  FROM pairs WHERE cosine >= {EMB_TAU}
) WHERE rn = 1
"""


# ------------------------------------------------- SemDedup, scale-shaped

# Production-shaped SemDedup: K scales WITH the corpus. OCC is the target
# cell occupancy, K = max(1, N // OCC), so the within-cell pair space is
# Σ|cell|² ≈ N·OCC — linear in N at fixed occupancy — instead of the
# fixed-K oracle variant's N²/K. Two-level training: k-means runs on a
# deterministic hash-gated 1/SAMPLE_MOD sample (the ``sample_hash``
# gate), so the mean aggregation is bounded by the sample; the full
# corpus is touched only by broadcast assignment passes. At extreme K
# the O(K) centroid broadcast outgrows memory — past
# ``SEMDEDUP_HIER_THRESHOLD`` cells, assignment switches to the two-hop
# ``_hier_assign`` (centroid-of-centroids; O(√K) broadcast per hop).
SEMDEDUP_OCC = 64
SEMDEDUP_SAMPLE_MOD = 4
# Above this K the flat K-row centroid broadcast (K × dims × 8 B) is no
# longer comfortably a broadcast plane; 2^16 cells ≈ 32 MB at 64 dims.
# The benchmark corpora sit far below it, so the ORACLE path is always
# the flat assignment; the hierarchical path is exercised by pytest.
SEMDEDUP_HIER_THRESHOLD = 65536


def semdedup_k(n: int) -> int:
    """Cell count for a corpus of ``n`` vectors: N / target occupancy."""
    return max(1, n // SEMDEDUP_OCC)


def semdedup_prune_2l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-shaped SemDedup: (vec_id, dup_of, cosine) of vectors to
    DROP, with the cell count sized to the corpus (K = N/OCC) instead of
    a constant. Same ``dup_of`` caveat as ``semdedup_prune``: it is the
    highest-cosine lower-id cluster-mate, which may itself be dropped in
    a transitive chain.

    Scale path: one scalar count() sizes K; init centroids are the K
    hash-smallest SAMPLE members (TakeOrderedAndProject — per-partition
    top-K, no global sort of the corpus); one Lloyd round trains on the
    sample only (assignment against broadcast centroids + a narrow
    (cluster, dim) mean aggregate bounded by the sample); the full
    corpus is then labeled in a single broadcast pass and pruned within
    cells. Cell occupancy stays ~OCC as N grows — the audit pins it —
    so the self-join cost scales linearly, not quadratically. Past
    ``SEMDEDUP_HIER_THRESHOLD`` cells the labeling passes go two-hop
    (``_hier_assign``), keeping every broadcast O(√K)."""
    return _semdedup_drops(_semdedup_2l_labeled(spark, sf_dir))


def _semdedup_2l_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level labeling stage: (vec_id, embedding, nrm, cluster_id)
    with K = N/OCC cells, persisted for the downstream self-join (and for
    the occupancy audit, which grades this stage directly)."""
    emb = _with_norm(
        read_table(spark, sf_dir, "embeddings", parallel=True), "embedding", "nrm"
    ).persist()
    k = semdedup_k(emb.count())
    labels = _two_level_labels(emb, k)
    # persisted AND materialized here: both sides of the within-cell
    # self-join read the cached labeling instead of re-running the
    # two-level training, and the eager fill gives a point to release
    # the corpus-scan cache (the round-5 ADVICE leak) right away.
    labeled = tracked_persist(emb.join(labels, "vec_id"))
    labeled.count()
    emb.unpersist()
    return labeled


def _two_level_labels(emb: DataFrame, k: int) -> DataFrame:
    """(vec_id, cluster_id) for the full corpus: hash-gated sample →
    one Lloyd training round → full-corpus assignment (flat broadcast
    below ``SEMDEDUP_HIER_THRESHOLD`` cells, two-hop above)."""
    hexid = spark_hexint("cast(vec_id as string)")
    samp = emb.filter(F.expr(f"({hexid}) % {SEMDEDUP_SAMPLE_MOD} = 0")).select(
        "vec_id", "embedding"
    )
    init = samp.orderBy(F.expr(hexid).asc(), F.col("vec_id").asc()).limit(k)
    w_init = Window.orderBy(F.expr(hexid).asc(), F.col("vec_id").asc())
    cents = init.select(
        (F.row_number().over(w_init) - 1).alias("cluster_id"),
        F.expr("transform(embedding, x -> round(cast(x as double), 6))").alias("cent"),
    )
    assign1 = _spark_assign(samp, cents)
    cents2 = _spark_means(samp, assign1)
    if k > SEMDEDUP_HIER_THRESHOLD:
        return _hier_assign(emb, cents2).select("vec_id", "cluster_id")
    return _spark_assign(emb, cents2).select("vec_id", "cluster_id")


# ------------------------------------------------ hierarchical assignment


def _hier_assign(emb: DataFrame, cents: DataFrame, super_k: int | None = None) -> DataFrame:
    """Two-hop nearest-centroid assignment for extreme K: cluster the K
    centroids into ~√K super-cells, then assign each vector via its
    nearest SUPER-centroid (hop 1: O(√K)-row broadcast) and the nearest
    centroid WITHIN that super-cell (hop 2: equi-join on super_id —
    AQE-decided build side, a √K-row shard per super-cell at scale).
    Output (vec_id, cluster_id, dist).

    The per-hop plan shape is exactly the flat assignment's (corpus ×
    broadcast centroid table → 6-dp-rounded argmin with id tie-break);
    what changes is that no single broadcast ever carries all K
    centroids, and the fold cost drops from O(N·K) to O(N·√K + N·OCC′).
    Two-hop is the standard hierarchical-quantizer approximation: a
    vector whose true nearest centroid lives in a different super-cell
    gets its best WITHIN-hop match instead — quality is pinned by the
    agreement pytest on clustered data.
    """
    if super_k is None:
        super_k = max(1, int(math.isqrt(cents.limit(2 * SEMDEDUP_HIER_THRESHOLD).count())))
    # hop 0 (tiny): one Lloyd round over the K centroids themselves,
    # init = first super_k centroids by cluster_id (deterministic)
    cent_pts = cents.select(
        F.col("cluster_id").alias("vec_id"), F.col("cent").alias("embedding")
    )
    w_sup = Window.orderBy(F.col("vec_id").asc())
    sup_init = (
        cent_pts.orderBy(F.col("vec_id").asc())
        .limit(super_k)
        .select(
            (F.row_number().over(w_sup) - 1).alias("cluster_id"),
            F.expr("transform(embedding, x -> round(cast(x as double), 6))").alias("cent"),
        )
    )
    sup_assign1 = _spark_assign(cent_pts, sup_init)
    sup_cents = _spark_means(cent_pts, sup_assign1)
    # final centroid -> super-cell map (K narrow rows)
    cent_sup = _spark_assign(cent_pts, sup_cents).select(
        F.col("vec_id").alias("cluster_id"), F.col("cluster_id").alias("super_id")
    )
    # hop 1: vector -> super-cell, against the broadcast √K-row table
    vec_sup = _spark_assign(emb, sup_cents).select(
        "vec_id", F.col("cluster_id").alias("super_id")
    )
    # hop 2: vector -> centroid WITHIN its super-cell. Equi-join on
    # super_id (no forced broadcast: at test scale AQE broadcasts the
    # K-row side from runtime stats; at extreme K both sides hash-
    # partition on super_id and each task sees one √K-row shard).
    sqd = F.expr(
        "round(aggregate(zip_with(embedding, cent, (x, y) ->"
        " (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))),"
        " cast(0 as double), (acc, v) -> acc + v), 6)"
    )
    cents_tagged = cents.join(cent_sup, "cluster_id")
    scored = (
        emb.select("vec_id", "embedding")
        .join(vec_sup, "vec_id")
        .join(cents_tagged, "super_id")
        .select("vec_id", "cluster_id", sqd.alias("dist"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cluster_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster_id", "dist")
    )


# CTE chain shared by the scale-shaped variants: two-level training →
# full-corpus labeling → within-cell τ-pairs
_SEMDEDUP_2L_CTES = f"""normed AS (
  SELECT vec_id, embedding, {_DUCK_SELF_NORM} AS nrm FROM embeddings
),
kk AS (SELECT greatest(1, count(*) // {SEMDEDUP_OCC}) AS k FROM embeddings),
samp AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE ({duck_hexint("cast(vec_id as varchar)")}) % {SEMDEDUP_SAMPLE_MOD} = 0
),
ranked_init AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY {duck_hexint("cast(vec_id as varchar)")}, vec_id) - 1 AS cluster_id
  FROM samp
),
cents AS (
  SELECT cluster_id, [ round(cast(x as double), 6) for x in embedding ] AS cent
  FROM ranked_init WHERE cluster_id < (SELECT k FROM kk)
),
scored1 AS (
  SELECT s.vec_id, c.cluster_id,
         round({_DUCK_SQDIST.format(a="s.embedding", b="c.cent")}, 6) AS dist
  FROM samp s, cents c
),
assign1 AS (
  SELECT vec_id, cluster_id FROM (
    SELECT vec_id, cluster_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
    FROM scored1
  ) WHERE rn = 1
),
exploded AS (
  SELECT vec_id, i - 1 AS dim, embedding[i] AS val
  FROM samp, (SELECT unnest(range(1, (SELECT max(len(embedding)) FROM samp) + 1)) AS i)
  WHERE i <= len(embedding)
),
dim_means AS (
  SELECT a.cluster_id, x.dim,
         round(cast(sum(cast(x.val as {KMEANS_DECIMAL})) as double)
               / count(x.val), 6) AS m
  FROM exploded x JOIN assign1 a USING (vec_id)
  GROUP BY 1, 2
),
cents2 AS (
  SELECT cluster_id, list(m ORDER BY dim) AS cent FROM dim_means GROUP BY 1
),
scored2 AS (
  SELECT e.vec_id, c.cluster_id,
         round({_DUCK_SQDIST.format(a="e.embedding", b="c.cent")}, 6) AS dist
  FROM embeddings e, cents2 c
),
assign2 AS (
  SELECT vec_id, cluster_id FROM (
    SELECT vec_id, cluster_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
    FROM scored2
  ) WHERE rn = 1
),
labeled AS (
  SELECT n.vec_id, n.embedding, n.nrm, a.cluster_id
  FROM normed n JOIN assign2 a USING (vec_id)
),
pairs AS (
  SELECT vec_a, vec_b, cosine FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(({_DUCK_DOT.format(a="a.embedding", b="b.embedding")})
                 / (a.nrm * b.nrm), 6) AS cosine
    FROM labeled a JOIN labeled b
      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  ) WHERE cosine >= {EMB_TAU}
)"""

SEMDEDUP_PRUNE_2L_SQL = f"""
WITH {_SEMDEDUP_2L_CTES}
SELECT vec_id, dup_of, cosine FROM (
  SELECT vec_b AS vec_id, vec_a AS dup_of, cosine,
         row_number() OVER (PARTITION BY vec_b
                            ORDER BY cosine DESC, vec_a) AS rn
  FROM pairs
) WHERE rn = 1
"""


def semdedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup with CANONICAL representatives: (vec_id, canonical_id,
    is_kept) for every vector in a within-cell τ-group. Unlike the
    ``dup_of`` pointer of the prune variants (which may itself be
    dropped mid-chain), ``canonical_id`` is the min-id member of the
    vector's connected τ-component — the one row a SemDedup-style
    consumer keeps; everything else in the component drops.

    Scale path: the two-level labeling and within-cell pair scoring are
    ``semdedup_prune_2l``'s (linear-ish pair space at K = N/OCC);
    component resolution is the pointer-doubling
    ``connected_components`` (O(log diameter) rounds over narrow id
    pairs, aggregate-only convergence probes)."""
    from etl_pipeline_example_spark.operators.cluster import (
        connected_components,
        small_input,
    )

    labeled = _semdedup_2l_labeled(spark, sf_dir)
    pairs = _semdedup_pairs(labeled).select("vec_a", "vec_b")
    comp = connected_components(
        pairs, "vec_a", "vec_b",
        small=small_input(spark, sf_dir, "embeddings"),
    )
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("canonical_id"),
        (F.col("node") == F.col("component")).alias("is_kept"),
    )


SEMDEDUP_CANONICAL_SQL = f"""
WITH RECURSIVE {_SEMDEDUP_2L_CTES},
edges AS (
  SELECT vec_a AS s, vec_b AS d FROM pairs
  UNION ALL
  SELECT vec_b AS s, vec_a AS d FROM pairs
),
reach AS (
  SELECT DISTINCT s AS node, s AS root FROM edges
  UNION
  SELECT e.d AS node, r.root
  FROM reach r JOIN edges e ON e.s = r.node
)
SELECT node AS vec_id, min(root) AS canonical_id,
       node = min(root) AS is_kept
FROM reach GROUP BY node
"""
