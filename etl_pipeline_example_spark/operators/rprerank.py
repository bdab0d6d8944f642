"""Two-stage ANN: random-projection coarse scoring → exact rerank.

What ``embed_rp`` is FOR: a JL projection (``RPR_K`` = 32 dims here)
approximates the 64-dim cosine at half the multiply-adds, so the
full-width fold runs only for the ``RPR_CAND`` coarse survivors —
the same two-stage shape as ``ann_int8_rerank`` (which compresses
VALUES to 8 bits; this compresses DIMENSIONS 2×, and the two stack in
a real index — int8 over the projected dims is an 8× cheaper scan). Every coarse score is exact-deterministic — the RP
projection is bit-identical across engines (see operators/rp.py) and
the coarse cosine is one sequential fold over it — so candidate
selection, and therefore the final top-K, matches the oracle exactly.

No reference counterpart (the reference is a 305-LoC ETL example);
LLM-pipeline surface, SURVEY.md §2 row 27k.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.rp import (
    RP_MAX_DIM,
    _sign_expr,
    _sign_pattern,
)
from etl_pipeline_example_spark.operators.simcore import (
    ANN_K,
    ANN_NUM_QUERIES,
    _DUCK_DOT,
    _DUCK_SELF_NORM,
    _SPARK_DOT,
    _with_norm,
    tracked_persist,
)
from etl_pipeline_example_spark.sources.readers import read_table

# This op uses a WIDER projection than embed_rp's k=16 and its own
# candidate budget: measured recall@10 vs bruteforce at sf0.01 on the
# near-uniform benchmark vectors (JL's worst case — true neighbor gaps
# are tiny, the same hazard class as PQ's disclosed uniform-data floor):
#   k=16/C=50 → 0.16,  k=32/C=50 → 0.42,  k=32/C=100 → 0.72
# (above ann_ivf's 0.66; clustered real-world embeddings do far better).
RPR_K = 32
RPR_CAND = 100
_RPR_SCALE = repr(1.0 / (RPR_K ** 0.5))  # same double literal both engines


def _rpr_pattern() -> str:
    return "".join(_sign_pattern(j) for j in range(RPR_K))


def _rpr_planes_df(spark: SparkSession):
    """The RPR_K × RP_MAX_DIM ±1 sign matrix as ONE scalar row with an
    array<array<double>> column, broadcast-cross-joined to the corpus.
    The previous form decoded each sign with a substring into a
    2048-char string LITERAL inside the fold lambda — ~4M interpreted
    substring+compare evals per corpus pass at sf0.1 (the same hazard
    class as the array-literal pitfall; guide §4.2).  Sign values are
    the identical ±1.0 doubles, the fold order is unchanged, so every
    projected component is bit-identical."""
    pvs = [
        [1.0 if c == "1" else -1.0 for c in _sign_pattern(j)]
        for j in range(RPR_K)
    ]
    return spark.createDataFrame([(pvs,)], "pvs array<array<double>>")


_SPARK_PROJ_PVS = (
    f"transform(sequence(0, {RPR_K - 1}), j -> {_RPR_SCALE} * "
    "aggregate(zip_with(embedding,"
    " slice(element_at(pvs, j + 1), 1, size(embedding)),"
    " (x, p) -> cast(x as double) * p),"
    " cast(0 as double), (acc, v) -> acc + v))"
)


def _duck_proj(col: str) -> str:
    big = _rpr_pattern()
    return (
        f"[ {_RPR_SCALE} * list_sum([ cast(" + col + "[i] as double)"
        f" * ({_sign_expr(big)})"
        f" for i in range(1, len({col}) + 1) ])"
        f" for j in range(0, {RPR_K}) ]"
    )


def ann_rp_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): exact-reranked top-K from
    RP-space coarse candidates.

    Scale shape: the 32-dim projected index is what scans — half the
    multiply-adds per coarse score and half the byte footprint of the
    raw vectors — and the 64-dim originals are touched for only
    ~``RPR_CAND`` rows per query. Queries broadcast; the coarse
    top-C and final top-K are per-query window ranks over broadcast
    joins (no corpus shuffle at any stage).
    """
    emb = _with_norm(
        read_table(spark, sf_dir, "embeddings", parallel=True), "embedding", "nrm"
    ).filter(F.col("nrm") > 0)
    proj = tracked_persist(
        emb.crossJoin(F.broadcast(_rpr_planes_df(spark))).select(
            "vec_id", "embedding", "nrm",
            F.expr(_SPARK_PROJ_PVS).alias("proj"),
        )
    )
    queries = proj.filter(F.col("vec_id") < ANN_NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("proj").alias("q_proj"),
    )
    rp_dot = _SPARK_DOT.format(a="q_proj", b="proj")
    coarse = (
        proj.join(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            F.col("vec_id").alias("neighbor_id"),
            "embedding",
            F.col("nrm").alias("c_nrm"),
            F.expr(f"({rp_dot}) / (q_nrm * nrm)").alias("approx"),
        )
    )
    w_c = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id")
    )
    survivors = coarse.withColumn("crn", F.row_number().over(w_c)).filter(
        F.col("crn") <= RPR_CAND
    )
    dot = _SPARK_DOT.format(a="q_emb", b="embedding")
    scored = survivors.select(
        "query_id",
        "neighbor_id",
        F.expr(f"round(({dot}) / (q_nrm * c_nrm), 6)").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= ANN_K
    )


ANN_RP_RERANK_SQL = f"""
WITH normed AS (
  SELECT vec_id, embedding, {_DUCK_SELF_NORM} AS nrm FROM embeddings
),
proj AS (
  SELECT vec_id, embedding, nrm, {_duck_proj("embedding")} AS proj
  FROM normed WHERE nrm > 0
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, proj AS q_proj
  FROM proj WHERE vec_id < {ANN_NUM_QUERIES}
),
coarse AS (
  SELECT q.query_id, q.q_emb, q.q_nrm, c.vec_id AS neighbor_id,
         c.embedding, c.nrm AS c_nrm,
         ({_DUCK_DOT.format(a="q.q_proj", b="c.proj")}) / (q.q_nrm * c.nrm) AS approx
  FROM proj c, queries q
  WHERE c.vec_id != q.query_id
),
survivors AS (
  SELECT query_id, q_emb, q_nrm, neighbor_id, embedding, c_nrm FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY approx DESC, neighbor_id) AS crn
    FROM coarse
  ) WHERE crn <= {RPR_CAND}
),
scored AS (
  SELECT query_id, neighbor_id,
         round(({_DUCK_DOT.format(a="q_emb", b="embedding")})
               / (q_nrm * c_nrm), 6) AS cosine
  FROM survivors
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {ANN_K}
"""


RPRERANK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ann_rp_rerank": ann_rp_rerank,
}

RPRERANK_ORACLES: dict[str, str] = {
    "ann_rp_rerank": ANN_RP_RERANK_SQL,
}
