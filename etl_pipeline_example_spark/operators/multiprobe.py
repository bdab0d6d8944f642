"""Multi-probe LSH ANN: fewer hash tables, neighboring buckets probed.

The memory-side refinement of ``ann_lsh`` (Lv et al., VLDB 2007): a
query's true neighbors that miss its exact bucket usually land in a
bucket differing by ONE hyperplane sign, so probing the ``bits``
Hamming-1 perturbations of the query bucket buys the recall extra
tables would — with 4 tables × (1+8) probes instead of 12 tables,
the corpus is hashed and STORED 3× cheaper (table count is the index
storage bill at 100 TB; probes are query-time and touch only bucket
headers). Same deterministic md5 plane family as every LSH entry, so
the oracle replays the probe fan bit-for-bit.

Scale: corpus hashing is one shuffle-free projection against the
broadcast 4-row plane table (vs 12 rows for ann_lsh — the stored
index is (vec, tbl, bucket) × 4); the probe fan expands only the
broadcast QUERY side (queries × tables × 9 rows); candidates
dedupe on (query, neighbor) id-pairs before exact scoring; top-k by
per-query rank window (WindowGroupLimit, no global sort).

Reference: N/A (305-LoC Glue ETL); LLM-pipeline surface, SURVEY.md
§2. Registered beyond the round-13 grading window — first driver
slot round 14.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.simcore import (
    ANN_K,
    ANN_NUM_QUERIES,
    _DUCK_SELF_NORM,
    _SPARK_DOT,
    _with_norm,
)
from etl_pipeline_example_spark.operators.similarity import (
    _DUCK_SIGN_DOT,
    _PLANES,
    _bucket_expr,
    _planes_df,
)
from etl_pipeline_example_spark.sources.readers import read_table

MP_TABLES = 4
MP_BITS = 8


def ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): top-k via 4-table LSH
    with Hamming-1 multi-probe (9 probes per table per query)."""
    emb = _with_norm(
        read_table(spark, sf_dir, "embeddings", parallel=True),
        "embedding",
        "nrm",
    )
    planes = F.broadcast(_planes_df(spark, MP_TABLES, MP_BITS))
    bucketed = emb.crossJoin(planes).select(
        "vec_id",
        "embedding",
        "nrm",
        "tbl",
        F.expr(_bucket_expr(MP_BITS)).alias("bucket"),
    )
    probe_list = ", ".join(
        ["bucket"] + [f"bucket ^ {1 << j}" for j in range(MP_BITS)]
    )
    queries = (
        bucketed.filter(F.col("vec_id") < ANN_NUM_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.col("tbl").alias("q_tbl"),
            F.explode(F.expr(f"array({probe_list})")).alias("q_bucket"),
        )
    )
    cand = (
        bucketed.join(
            F.broadcast(queries),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            F.col("vec_id").alias("neighbor_id"),
            "embedding",
            F.col("nrm").alias("c_nrm"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    dot = _SPARK_DOT.format(a="q_emb", b="embedding")
    scored = cand.select(
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


_MP_PLANES_TBL = "(VALUES " + ", ".join(
    f"({tp}, '{s}')" for tp, s in enumerate(_PLANES[: MP_TABLES * MP_BITS])
) + ") AS planes(tp, plane)"

_MP_PROBES = ", ".join(
    ["q_bucket"] + [f"xor(q_bucket, {1 << j})" for j in range(MP_BITS)]
)

ANN_MULTIPROBE_SQL = f"""
WITH bits AS (
  SELECT vec_id, tp // {MP_BITS} AS tbl,
         CASE WHEN ({_DUCK_SIGN_DOT}) >= 0
              THEN (1::BIGINT << (tp % {MP_BITS})) ELSE 0::BIGINT END
           AS bitval
  FROM embeddings, {_MP_PLANES_TBL}
),
bucketed AS (
  SELECT b.vec_id, e.embedding, b.tbl, b.bucket
  FROM (SELECT vec_id, tbl, sum(bitval)::BIGINT AS bucket
        FROM bits GROUP BY vec_id, tbl) b
  JOIN embeddings e ON e.vec_id = b.vec_id
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, tbl AS q_tbl,
         bucket AS q_bucket
  FROM bucketed WHERE vec_id < {ANN_NUM_QUERIES}
),
probes AS (
  SELECT query_id, q_emb, q_tbl,
         unnest([{_MP_PROBES}]) AS probe_bucket
  FROM queries
),
cand AS (
  SELECT DISTINCT p.query_id, p.q_emb, c.vec_id AS neighbor_id,
         c.embedding AS c_emb
  FROM bucketed c JOIN probes p
    ON c.tbl = p.q_tbl AND c.bucket = p.probe_bucket
  WHERE c.vec_id != p.query_id
),
normed AS (
  SELECT vec_id, {_DUCK_SELF_NORM} AS nrm FROM embeddings
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round((list_sum([ cast(cand.q_emb[i] as double)
                           * cast(cand.c_emb[i] as double)
                           for i in range(1, len(cand.q_emb) + 1) ]))
               / (qn.nrm * cn.nrm), 6) AS cosine
  FROM cand
  JOIN normed qn ON qn.vec_id = cand.query_id
  JOIN normed cn ON cn.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {ANN_K}
"""


MULTIPROBE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ann_multiprobe": ann_multiprobe,
}

MULTIPROBE_ORACLES: dict[str, str] = {
    "ann_multiprobe": ANN_MULTIPROBE_SQL,
}
