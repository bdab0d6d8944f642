"""Deterministic Lloyd k-means over the ``embeddings`` table.

``kmeans_assign`` is the fixed-2-iteration oracle-parity form (the
coarse-quantizer training step SemDedup/IVF pipelines assume exists at
scale); ``kmeans_fit`` is the convergence-probed production form.
Everything is cross-engine exact: init centroids are the hash-ordered
sample, per-cluster means go through EXACT decimal sums (order-
independent, so Spark's partial aggregation and DuckDB's single-threaded
sum agree bit-for-bit) rounded to 6 dp, and distances round to 6 dp
before the argmin with a cluster-id tie-break.

No reference counterpart (the reference repo is boto3/Airflow ETL
scripts); this is LLM-pipeline surface. See SURVEY.md §2 row 27c.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import duck_hexint, spark_hexint
from etl_pipeline_example_spark.operators.simcore import (
    _DUCK_SQDIST,
    _SPARK_SQDIST,
    KMEANS_DECIMAL,
    tracked_persist,
)
from etl_pipeline_example_spark.sources.readers import read_table

KMEANS_K = 8


def _spark_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cluster_id, dist): nearest centroid per vector — one pass
    over the corpus against the broadcast K-row centroid table, argmin by
    WindowGroupLimit (per-partition top-1, then merge)."""
    sqd = _SPARK_SQDIST.format(a="embedding", b="cent")
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cluster_id",
        F.expr(f"round({sqd}, 6)").alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cluster_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster_id", "dist")
    )


def _spark_means(emb: DataFrame, assign: DataFrame) -> DataFrame:
    """(cluster_id, cent): element-wise member mean per cluster. The
    explode is NARROW (vec_id, dim, val); the mean is an exact decimal
    sum over each (cluster, dim) — map-side combined, order-independent —
    cast to double and rounded, then the K×64 result (tiny at any corpus
    size) reassembles into centroid arrays."""
    exploded = emb.select("vec_id", F.posexplode("embedding").alias("dim", "val"))
    dim_means = (
        exploded.join(assign.select("vec_id", "cluster_id"), "vec_id")
        .groupBy("cluster_id", "dim")
        .agg(
            F.expr(
                f"round(cast(sum(cast(val as {KMEANS_DECIMAL})) as double)"
                " / count(val), 6)"
            ).alias("m")
        )
    )
    return dim_means.groupBy("cluster_id").agg(
        F.expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)").alias("cent")
    )


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration Lloyd k-means over embeddings: hash-sampled init →
    assign → recompute means → reassign. Output (vec_id, cluster_id,
    dist) — the cluster labels SemDedup-style pruning and IVF index
    builds consume.

    Scale path: each iteration is one broadcast assignment pass over the
    corpus (O(N·K) folds, whole-stage codegen) plus one narrow
    explode-aggregate for the means (N×dims rows shuffled once on
    (cluster, dim) — K×dims output, trivially broadcastable back). No
    driver-side loops; iteration count is a fixed constant here, and the
    production form ``kmeans_fit`` wraps the same two stages in a
    convergence probe."""
    emb = tracked_persist(
        read_table(spark, sf_dir, "embeddings", parallel=True).select(
            "vec_id", "embedding"
        )
    )
    init = (
        emb.orderBy(
            F.expr(spark_hexint("cast(vec_id as string)")).asc(), F.col("vec_id").asc()
        )
        .limit(KMEANS_K)
        .select("vec_id", "embedding")
    )
    w_init = Window.orderBy(
        F.expr(spark_hexint("cast(vec_id as string)")).asc(), F.col("vec_id").asc()
    )
    cents = init.select(
        (F.row_number().over(w_init) - 1).alias("cluster_id"),
        F.expr("transform(embedding, x -> round(cast(x as double), 6))").alias("cent"),
    )
    assign1 = _spark_assign(emb, cents)
    cents2 = _spark_means(emb, assign1)
    return _spark_assign(emb, cents2)


class KMeansNotConverged(RuntimeError):
    """Lloyd iteration hit the round cap without the inertia plateauing."""


def kmeans_fit(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    max_rounds: int = 8,
    tol: float = 1e-6,
) -> tuple[DataFrame, list[float]]:
    """Convergence-probed Lloyd k-means: iterate assign→means until the
    inertia (Σ per-vector squared distance) plateaus, instead of the
    fixed 2 rounds the oracle entry ``kmeans_assign`` uses for
    cross-engine parity. Returns (assignment, per-round inertias).

    The probe mirrors ``connected_components``: one aggregate-only
    scalar per round (exact decimal sum of the rounded distances — no
    float-order hazard), with ``localCheckpoint`` truncating the lineage
    so round R doesn't re-execute rounds 1..R-1. Lloyd guarantees the
    true inertia is non-increasing, but the 6-dp distance/mean rounding
    can nudge the measured probe UP by a hair — on such a non-positive
    delta the PRIOR round's checkpointed assignment is returned, so the
    reported labeling is always the best observed, never the
    rounding-degraded successor. Raises ``KMeansNotConverged`` at the
    cap — convergence is data-dependent and a silent cap would report a
    mid-descent labeling as final."""
    # eager loop -> natural release point: unpersist at every exit instead
    # of waiting for the next key's release
    emb = (
        read_table(spark, sf_dir, "embeddings", parallel=True)
        .select("vec_id", "embedding")
        .persist()
    )
    hexid = spark_hexint("cast(vec_id as string)")
    init = emb.orderBy(F.expr(hexid).asc(), F.col("vec_id").asc()).limit(k)
    w_init = Window.orderBy(F.expr(hexid).asc(), F.col("vec_id").asc())
    cents = init.select(
        (F.row_number().over(w_init) - 1).alias("cluster_id"),
        F.expr("transform(embedding, x -> round(cast(x as double), 6))").alias("cent"),
    )
    inertias: list[float] = []
    prev_assign: DataFrame | None = None
    for _ in range(max_rounds):
        assign = _spark_assign(emb, cents).localCheckpoint()
        inertia = float(
            assign.agg(F.sum(F.col("dist").cast("decimal(38,12)"))).collect()[0][0]
        )
        inertias.append(inertia)
        if len(inertias) >= 2 and inertias[-2] - inertia <= tol * max(1.0, abs(inertias[-2])):
            emb.unpersist()
            # plateau: if the delta was an INCREASE (rounding noise), the
            # previous round's labeling is the best observed — return it
            if inertia > inertias[-2] and prev_assign is not None:
                return prev_assign, inertias
            return assign, inertias
        prev_assign = assign
        cents = _spark_means(emb, assign)
    emb.unpersist()
    raise KMeansNotConverged(
        f"k-means did not converge within {max_rounds} rounds (inertias: {inertias})"
    )


_KM_SQD = _DUCK_SQDIST.format(a="e.embedding", b="c.cent")

KMEANS_ASSIGN_SQL = f"""
WITH emb AS (SELECT vec_id, embedding FROM embeddings),
ranked_init AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY {duck_hexint("cast(vec_id as varchar)")}, vec_id) - 1 AS cluster_id
  FROM emb
),
cents AS (
  SELECT cluster_id,
         [ round(cast(x as double), 6) for x in embedding ] AS cent
  FROM ranked_init WHERE cluster_id < {KMEANS_K}
),
scored1 AS (
  SELECT e.vec_id, c.cluster_id, round({_KM_SQD}, 6) AS dist
  FROM emb e, cents c
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
  FROM emb, (SELECT unnest(range(1, (SELECT max(len(embedding)) FROM emb) + 1)) AS i)
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
  SELECT e.vec_id, c.cluster_id, round({_KM_SQD}, 6) AS dist
  FROM emb e, cents2 c
)
SELECT vec_id, cluster_id, dist FROM (
  SELECT vec_id, cluster_id, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
  FROM scored2
) WHERE rn = 1
"""
