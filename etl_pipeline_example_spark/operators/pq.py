"""Product-quantization ANN (Jégou et al. 2011, the FAISS IVFADC design
point): split the 64-dim vector into ``PQ_M``=8 subspaces of 8 dims, code
each subvector as its nearest of ``PQ_KC``=16 per-subspace codewords. The
stored index is 8 small ints per vector — 32× denser than float32 — and
query scoring is ADC: precompute the query's distance to all M×KC
codewords (a 128-row lookup table, broadcast), then a vector's
approximate distance is the SUM of 8 table lookups — no float vector
ever read until the exact rerank of the top survivors.

Codebooks are TRAINED per-subspace k-means (the real FAISS recipe, not a
raw sample): init is the deterministic hash-sample (the bounded-K scheme
``ann_ivf`` uses, disjoint from the query ids), refined by
``PQ_TRAIN_ROUNDS`` Lloyd rounds over the PQ_TRAIN_N hash-smallest
vectors — a fixed-size training set at any corpus scale.
Round count is a fixed constant and every step is 6-dp-rounded exact
arithmetic, so both engines derive bit-identical codewords — the same
determinism trick ``semdedup_prune_2l`` uses for its trained quantizer.

No reference counterpart; LLM-pipeline surface (SURVEY.md §2 rows
27f/27g).
"""

from __future__ import annotations

import decimal
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import duck_hexint, spark_hexint
from etl_pipeline_example_spark.operators.simcore import (
    ANN_K,
    ANN_NUM_QUERIES,
    IVF_K,
    IVF_NPROBE,
    KMEANS_DECIMAL,
    _DUCK_DOT,
    _DUCK_SELF_NORM,
    _DUCK_SQDIST,
    _SPARK_DOT,
    _SPARK_SQDIST,
    _with_norm,
    tracked_persist,
)
from etl_pipeline_example_spark.sources.readers import read_table

PQ_M = 8
PQ_SUB = 64 // PQ_M  # embedding dim / subspace count
PQ_KC = 16
PQ_RERANK = 50
# exact decimal sum of 6-dp-rounded per-subspace distances: ADC totals
# are order-independent, so cross-engine candidate selection is exact
PQ_ADC_DECIMAL = "decimal(20,6)"
# codebook training: BOUNDED hash-ordered training set and fixed Lloyd
# rounds (fixed so the oracle can inline the same refinement;
# convergence-probed training would use the kmeans_fit pattern at the
# cost of the oracle). A fixed-size sample is the FAISS practice — PQ
# codebooks train on ~10⁵ vectors however large the index — and the
# fixed bound is what keeps training O(1) in the corpus: the sample is
# the TakeOrderedAndProject of the id hash (per-partition top-N merge),
# so at 100 TB training still touches PQ_TRAIN_N vectors, where a
# keep-1-in-k gate would drag half the corpus through Lloyd rounds.
# 512 samples ÷ 16 codewords = 32 per centroid per subspace — ample.
PQ_TRAIN_N = 512
PQ_TRAIN_ROUNDS = 2


# ------------------------------------------------------ codebook training


def _round6(x: float) -> float:
    """Spark's round(double, 6): BigDecimal.valueOf(x).setScale(6,
    HALF_UP).toDouble — BigDecimal.valueOf parses Double.toString's
    shortest round-trip decimal, which is exactly what Python's repr
    produces, so the two are bit-identical on finite doubles.
    Non-finite doubles pass through unchanged, as Spark's round()
    does (round-17 ADVICE: Decimal('nan').quantize would raise)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    x = float(x)
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _dec12(x: float):
    """Spark's cast(double as decimal(30,12)): shortest-repr decimal of
    the double, HALF_UP-rounded to 12 fractional digits. prec=50
    locally (round-17 ADVICE): the default context (prec=28) raises
    InvalidOperation quantizing magnitudes past ~1e16, where Spark's
    decimal(30,12) carries 18 integer digits exactly."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    with localcontext(prec=50):
        return Decimal(repr(float(x))).quantize(Decimal("1E-12"), ROUND_HALF_UP)


def _sqd_fold(a: list[float], b: list[float]) -> float:
    """The _SPARK_SQDIST left fold: acc + (x-y)*(x-y) per element in
    order, IEEE doubles throughout — Python floats ARE binary64 and the
    op sequence is identical, so the result is bit-identical."""
    acc = 0.0
    for x, y in zip(a, b):
        d = x - y
        acc = acc + d * d
    return acc


def _pq_codewords(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Trained per-subspace codebook: (m, c_id, cw) with ``cw`` the
    ``PQ_SUB``-dim centroid of subspace ``m``'s cluster ``c_id``.

    Init = the round-5 hash-sample codebook (PQ_KC hash-smallest
    non-query vectors, subsliced per m) serving as the Lloyd INIT;
    ``PQ_TRAIN_ROUNDS`` refinement rounds run over the bounded
    hash-ordered training set. ONE distributed job touches the corpus:
    the TakeOrdered collect of the PQ_TRAIN_N sample vectors (bounded
    at any corpus size — the same driver-side quantizer-state pattern
    the previous shape already used for the codebook between rounds).
    The Lloyd rounds themselves run on the DRIVER over that 512×64
    array (r17: the distributed form spent ~1 s per query in serial
    single-task collect round-trips — sample scan, init scan, and one
    job per round — for microseconds of arithmetic; guide §1.2).
    Arithmetic is a literal replication of the previous Spark
    expressions — the _SPARK_SQDIST left fold in IEEE doubles,
    assignment argmin on (dist, c_id), per-(m, code, dim) means as
    exact decimal(30,12) sums cast to double, everything 6-dp
    HALF_UP-rounded — so the codebook is bit-identical (pinned by
    tests/test_similarity_quality.py::test_pq_codewords_match_spark_
    expression_training against the old in-cluster expression chain).
    Empty cells keep their previous codeword, so the codebook never
    shrinks. The full corpus only ever meets the final 128-row
    broadcast codebook."""
    hexid = spark_hexint("cast(vec_id as string)")
    samp_rows = (
        emb.filter(F.col("vec_id") >= ANN_NUM_QUERIES)
        .orderBy(F.expr(hexid).asc(), F.col("vec_id").asc())
        .limit(PQ_TRAIN_N)
        .select("embedding")
        .collect()
    )
    embs = [list(r["embedding"]) for r in samp_rows]
    # loud guard (round-17 ADVICE): the driver-side Lloyd replication is
    # bit-identical to the old Spark expression chain only on finite
    # values — a NaN/Inf embedding would diverge silently, so raise
    if any(not math.isfinite(x) for v in embs for x in v):
        raise ValueError(
            "_pq_codewords: non-finite embedding value in the training"
            " sample — codebook training requires finite vectors"
        )
    # init: codeword c's subspace-m entry is sample vector c's m-th
    # subvector (PQ_KC ≤ PQ_TRAIN_N shares the ordering), rounded like
    # every other centroid
    cw_local: dict[tuple[int, int], list[float]] = {
        (m, c): [_round6(x) for x in embs[c][m * PQ_SUB : (m + 1) * PQ_SUB]]
        for m in range(PQ_M)
        for c in range(min(PQ_KC, len(embs)))
    }
    subs = [
        [v[m * PQ_SUB : (m + 1) * PQ_SUB] for m in range(PQ_M)] for v in embs
    ]
    for _ in range(PQ_TRAIN_ROUNDS):
        cells: dict[tuple[int, int], list[list[float]]] = {}
        for sv_m in subs:
            for m in range(PQ_M):
                sv = sv_m[m]
                code = min(
                    (
                        (_round6(_sqd_fold(sv, cw)), c)
                        for (mm, c), cw in cw_local.items()
                        if mm == m
                    )
                )[1]
                cells.setdefault((m, code), []).append(sv)
        for (m, code), members in cells.items():
            n = len(members)
            # prec=50 (round-17 ADVICE): the default context (prec=28)
            # would silently round a sum whose coefficient exceeds 28
            # digits, where Spark's decimal(30,12) accumulates exactly
            # to 18 integer digits
            with decimal.localcontext(prec=50):
                cw_local[(m, code)] = [
                    _round6(float(sum(_dec12(sv[i]) for sv in members)) / n)
                    for i in range(PQ_SUB)
                ]
    return spark.createDataFrame(
        [(m, c, v) for (m, c), v in sorted(cw_local.items())],
        "m int, c_id int, cw array<double>",
    )


def _duck_train_cte(r: int) -> str:
    """One DuckDB Lloyd refinement round: cw{r} -> cw{r+1} (assign the
    sample subvectors, exact-decimal per-(m, code, dim) means, coalesce
    empty cells back to the previous codeword)."""
    sqd = _DUCK_SQDIST.format(a="s.sv", b="c.cw")
    return f"""tr{r}_d AS (
  SELECT s.vec_id, s.m, c.c_id, round({sqd}, 6) AS dist
  FROM tsub s JOIN cw{r} c ON c.m = s.m
),
tr{r}_a AS (
  SELECT vec_id, m, c_id AS code FROM (
    SELECT vec_id, m, c_id,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY dist, c_id) AS rn
    FROM tr{r}_d
  ) WHERE rn = 1
),
tr{r}_v AS (
  SELECT a.m, a.code, i - 1 AS dim, s.sv[i] AS val
  FROM tsub s
  JOIN tr{r}_a a ON a.vec_id = s.vec_id AND a.m = s.m,
       (SELECT unnest(range(1, {PQ_SUB} + 1)) AS i)
  WHERE i <= len(s.sv)
),
tr{r}_m AS (
  SELECT m, code, dim,
         round(cast(sum(cast(val as {KMEANS_DECIMAL})) as double)
               / count(val), 6) AS mv
  FROM tr{r}_v GROUP BY 1, 2, 3
),
tr{r}_c AS (
  SELECT m, code AS c_id, list(mv ORDER BY dim) AS cw_t
  FROM tr{r}_m GROUP BY 1, 2
),
cw{r + 1} AS (
  SELECT c.m, c.c_id, coalesce(t.cw_t, c.cw) AS cw
  FROM cw{r} c LEFT JOIN tr{r}_c t ON t.m = c.m AND t.c_id = c.c_id
)"""


# shared CTE chain: init codebook + training sample + PQ_TRAIN_ROUNDS
# Lloyd rounds ending in the final `codewords`
_DUCK_CODEBOOK_CTES = (
    f"""cw_src AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY {duck_hexint("cast(vec_id as varchar)")}, vec_id) - 1 AS c_id
  FROM embeddings WHERE vec_id >= {ANN_NUM_QUERIES}
),
ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
cw0 AS (
  SELECT ms.m, s.c_id,
         [ round(cast(x as double), 6)
           for x in s.embedding[(ms.m * {PQ_SUB} + 1):(ms.m * {PQ_SUB} + {PQ_SUB})] ] AS cw
  FROM cw_src s, ms WHERE s.c_id < {PQ_KC}
),
tsamp AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id >= {ANN_NUM_QUERIES}
  ORDER BY {duck_hexint("cast(vec_id as varchar)")}, vec_id
  LIMIT {PQ_TRAIN_N}
),
tsub AS (
  SELECT t.vec_id, ms.m,
         t.embedding[(ms.m * {PQ_SUB} + 1):(ms.m * {PQ_SUB} + {PQ_SUB})] AS sv
  FROM tsamp t, ms
),
"""
    + ",\n".join(_duck_train_cte(r) for r in range(PQ_TRAIN_ROUNDS))
    + f",\ncodewords AS (SELECT m, c_id, cw FROM cw{PQ_TRAIN_ROUNDS})"
)


# --------------------------------------------------------------- PQ / ADC


def _pq_code_table(emb: DataFrame, codewords: DataFrame) -> DataFrame:
    """(vec_id, m, code): each corpus vector's 8 PQ codes — the ONLY
    per-corpus state the coarse pass reads. One map-side-combined
    min-of-struct aggregate over narrow rows; deterministic tie-break
    identical to the oracle's (ORDER BY dist, c_id LIMIT 1)."""
    sub = f"slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB})"
    sqd_code = _SPARK_SQDIST.format(a=sub, b="cw")
    return (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(codewords))
        .select(
            "vec_id",
            "m",
            "c_id",
            F.expr(f"round({sqd_code}, 6)").alias("dist"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("dist", "c_id")).alias("s"))
        .select("vec_id", "m", F.col("s.c_id").alias("code"))
    )


def _pq_query_lut(queries: DataFrame, codewords: DataFrame) -> DataFrame:
    """(query_id, m, c_id, qd): the per-query ADC lookup table — M×KC =
    128 rows per query, broadcast into the coarse join."""
    q_sub = f"slice(q_emb, m * {PQ_SUB} + 1, {PQ_SUB})"
    return queries.crossJoin(F.broadcast(codewords)).select(
        "query_id",
        "m",
        "c_id",
        F.expr(f"round({_SPARK_SQDIST.format(a=q_sub, b='cw')}, 6)").alias("qd"),
    )


def _pq_rerank(survivors: DataFrame, emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact cosine rerank of the ADC shortlist to the final top-K."""
    dot = _SPARK_DOT.format(a="q_emb", b="embedding")
    scored = (
        survivors.join(emb, survivors.neighbor_id == emb.vec_id)
        .join(
            F.broadcast(queries.withColumnRenamed("query_id", "q_id")),
            survivors.query_id == F.col("q_id"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.expr(f"round(({dot}) / (q_nrm * nrm), 6)").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= ANN_K)


def _pq_topk(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """PQ/ADC top-k over a normed corpus DataFrame (vec_id, embedding,
    nrm) — the parameterized core of ``ann_pq_adc``, reused by the
    clustered-data quality tests."""
    codewords = _pq_codewords(spark, emb)
    codes = _pq_code_table(emb, codewords)
    queries = emb.filter(F.col("vec_id") < ANN_NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    lut = _pq_query_lut(queries, codewords)
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes.m == lut.m) & (codes.code == lut.c_id),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.expr(f"cast(sum(cast(qd as {PQ_ADC_DECIMAL})) as double)").alias("adc")
        )
    )
    w_c = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    survivors = (
        adc.withColumn("crn", F.row_number().over(w_c))
        .filter(F.col("crn") <= PQ_RERANK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return _pq_rerank(survivors, emb, queries)


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC ANN: (query_id, neighbor_id, cosine, rank) — approximate
    top-``PQ_RERANK`` by asymmetric-distance lookup over the 8-byte PQ
    codes (TRAINED per-subspace k-means codebook), exact cosine rerank
    to top-``ANN_K``.

    Scale path: the code table (vec_id, m, code) is the ONLY per-corpus
    state the coarse pass reads (32× smaller scan than the float
    vectors); codebook training touches a fixed PQ_TRAIN_N-vector set;
    codewords and the per-query lookup table are tiny broadcasts; the
    ADC aggregation is map-side combined on (query_id, vec_id); float
    vectors re-join for just the survivors. Composes with the IVF cell
    gating for sub-linear probes — kept flat here (like
    ``ann_int8_rerank``) so the oracle stays exact."""
    emb = _with_norm(
        read_table(spark, sf_dir, "embeddings", parallel=True), "embedding", "nrm"
    )
    return _pq_topk(spark, emb)


ANN_PQ_ADC_SQL = f"""
WITH normed AS (
  SELECT vec_id, embedding, {_DUCK_SELF_NORM} AS nrm FROM embeddings
),
{_DUCK_CODEBOOK_CTES},
code_dists AS (
  SELECT e.vec_id, c.m, c.c_id,
         round({_DUCK_SQDIST.format(a="e.embedding[(c.m * " + str(PQ_SUB) + " + 1):(c.m * " + str(PQ_SUB) + " + " + str(PQ_SUB) + ")]", b="c.cw")}, 6) AS dist
  FROM (SELECT vec_id, embedding FROM embeddings) e, codewords c
),
codes AS (
  SELECT vec_id, m, c_id AS code FROM (
    SELECT vec_id, m, c_id,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY dist, c_id) AS rn
    FROM code_dists
  ) WHERE rn = 1
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
  FROM normed WHERE vec_id < {ANN_NUM_QUERIES}
),
lut AS (
  SELECT q.query_id, c.m, c.c_id,
         round({_DUCK_SQDIST.format(a="q.q_emb[(c.m * " + str(PQ_SUB) + " + 1):(c.m * " + str(PQ_SUB) + " + " + str(PQ_SUB) + ")]", b="c.cw")}, 6) AS qd
  FROM queries q, codewords c
),
adc AS (
  SELECT l.query_id, cd.vec_id,
         cast(sum(cast(l.qd as {PQ_ADC_DECIMAL})) as double) AS adc
  FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.c_id
  WHERE cd.vec_id != l.query_id
  GROUP BY 1, 2
),
survivors AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, vec_id) AS crn
    FROM adc
  ) WHERE crn <= {PQ_RERANK}
),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         round(({_DUCK_DOT.format(a="q.q_emb", b="n.embedding")})
               / (q.q_nrm * n.nrm), 6) AS cosine
  FROM survivors s
  JOIN queries q ON q.query_id = s.query_id
  JOIN normed n ON n.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {ANN_K}
"""


# -------------------------------------------------------------- IVF + PQ


def _ivf_cells(spark: SparkSession, emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """IVF gating state over a normed corpus: (assign, probes) —
    ``assign`` is every vector's cell (crn == 1), ``probes`` the query
    vectors' ``IVF_NPROBE`` nearest cells. The shared persisted cell
    ranking is registered with the cache tracker (released when the next
    key starts — the round-5 ADVICE leak)."""
    hexid = spark_hexint("cast(vec_id as string)")
    cents = (
        emb.filter(F.col("vec_id") >= ANN_NUM_QUERIES)
        .orderBy(F.expr(hexid).asc(), F.col("vec_id").asc())
        .limit(IVF_K)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_emb"),
            F.col("nrm").alias("cent_nrm"),
        )
    )
    dot_c = _SPARK_DOT.format(a="embedding", b="cent_emb")
    cell_scores = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        F.expr(f"round(({dot_c}) / (nrm * cent_nrm), 6)").alias("ccos"),
    )
    w_cell = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    ranked = tracked_persist(cell_scores.withColumn("crn", F.row_number().over(w_cell)))
    assign = ranked.filter(F.col("crn") == 1).select("vec_id", F.col("cent_id").alias("cell"))
    probes = (
        ranked.filter((F.col("vec_id") < ANN_NUM_QUERIES) & (F.col("crn") <= IVF_NPROBE))
        .select(F.col("vec_id").alias("query_id"), F.col("cent_id").alias("cell"))
    )
    return assign, probes


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (the full FAISS composition): IVF cell gating bounds WHICH
    vectors are scored (nprobe/K of the corpus), PQ codes bound WHAT the
    coarse pass reads per scored vector (8 bytes), and the top-50
    survivors get an exact cosine rerank. Codebook is the TRAINED
    per-subspace k-means (``_pq_codewords``). Output matches the other
    ANN ops: (query_id, neighbor_id, cosine, rank).

    Scale path: at 100 TB the index is (cell, vec_id, 8 PQ codes) —
    ``build_ivfpq_index`` bucket-writes it by cell so a probe is a
    partition-pruned scan of nprobe cells reading 8 bytes/vector (the
    plan audit on ``ann_ivfpq_indexed`` proves the pruning); centroids,
    codewords, probes and per-query LUTs are all broadcasts; the ADC sum
    partial-aggregates map-side; float vectors are fetched for ~50 rows
    per query. Every stage is the audited shape of its standalone parent
    (``ann_ivf`` gating, ``ann_pq_adc`` scoring)."""
    emb = _with_norm(
        read_table(spark, sf_dir, "embeddings", parallel=True), "embedding", "nrm"
    )
    assign, probes = _ivf_cells(spark, emb)
    codewords = _pq_codewords(spark, emb)
    codes = _pq_code_table(emb, codewords)
    queries = emb.filter(F.col("vec_id") < ANN_NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    lut = _pq_query_lut(queries, codewords)
    # compose: only vectors in probed cells reach the ADC sum
    cand = (
        assign.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    lut_r = lut.select(
        F.col("query_id").alias("l_qid"),
        F.col("m").alias("l_m"),
        "c_id",
        "qd",
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(lut_r),
            (F.col("query_id") == F.col("l_qid"))
            & (F.col("m") == F.col("l_m"))
            & (F.col("code") == F.col("c_id")),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.expr(f"cast(sum(cast(qd as {PQ_ADC_DECIMAL})) as double)").alias("adc"))
    )
    w_c = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    survivors = (
        adc.withColumn("srn", F.row_number().over(w_c))
        .filter(F.col("srn") <= PQ_RERANK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return _pq_rerank(survivors, emb, queries)


ANN_IVFPQ_SQL = f"""
WITH normed AS (
  SELECT vec_id, embedding, {_DUCK_SELF_NORM} AS nrm FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, embedding AS cent_emb, nrm AS cent_nrm
  FROM normed WHERE vec_id >= {ANN_NUM_QUERIES}
  ORDER BY {duck_hexint("cast(vec_id as varchar)")}, vec_id
  LIMIT {IVF_K}
),
cell_scores AS (
  SELECT n.vec_id, c.cent_id,
         round(({_DUCK_DOT.format(a="n.embedding", b="c.cent_emb")})
               / (n.nrm * c.cent_nrm), 6) AS ccos
  FROM normed n, cents c
),
ranked AS (
  SELECT vec_id, cent_id, ccos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY ccos DESC, cent_id) AS crn
  FROM cell_scores
),
assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE crn = 1),
probes AS (
  SELECT vec_id AS query_id, cent_id AS cell FROM ranked
  WHERE vec_id < {ANN_NUM_QUERIES} AND crn <= {IVF_NPROBE}
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM assign a JOIN probes p USING (cell)
  WHERE a.vec_id != p.query_id
),
{_DUCK_CODEBOOK_CTES},
code_dists AS (
  SELECT e.vec_id, c.m, c.c_id,
         round({_DUCK_SQDIST.format(a="e.embedding[(c.m * " + str(PQ_SUB) + " + 1):(c.m * " + str(PQ_SUB) + " + " + str(PQ_SUB) + ")]", b="c.cw")}, 6) AS dist
  FROM (SELECT vec_id, embedding FROM embeddings) e, codewords c
),
codes AS (
  SELECT vec_id, m, c_id AS code FROM (
    SELECT vec_id, m, c_id,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY dist, c_id) AS rn
    FROM code_dists
  ) WHERE rn = 1
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
  FROM normed WHERE vec_id < {ANN_NUM_QUERIES}
),
lut AS (
  SELECT q.query_id, c.m, c.c_id,
         round({_DUCK_SQDIST.format(a="q.q_emb[(c.m * " + str(PQ_SUB) + " + 1):(c.m * " + str(PQ_SUB) + " + " + str(PQ_SUB) + ")]", b="c.cw")}, 6) AS qd
  FROM queries q, codewords c
),
adc AS (
  SELECT cd.query_id, cd.vec_id,
         cast(sum(cast(l.qd as {PQ_ADC_DECIMAL})) as double) AS adc
  FROM cand cd
  JOIN codes co ON co.vec_id = cd.vec_id
  JOIN lut l ON l.query_id = cd.query_id AND l.m = co.m AND l.c_id = co.code
  GROUP BY 1, 2
),
survivors AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, vec_id) AS srn
    FROM adc
  ) WHERE srn <= {PQ_RERANK}
),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         round(({_DUCK_DOT.format(a="q.q_emb", b="n.embedding")})
               / (q.q_nrm * n.nrm), 6) AS cosine
  FROM survivors s
  JOIN queries q ON q.query_id = s.query_id
  JOIN normed n ON n.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {ANN_K}
"""


# ------------------------------------------------- persisted IVFADC index

# The docstring story made checkable: at scale the IVFADC index is not
# recomputed per query — it is BUILT once (cell-partitioned codes +
# centroid/codebook sidecars) and PROBED with a partition-pruned scan.
# ``tests/test_plan_audits.py`` asserts the probe's plan shows
# PartitionFilters on ``cell`` and that the probe result is row-identical
# to the flat ``ann_ivfpq``.


def build_ivfpq_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the IVFADC index under ``path``:

    - ``codes/``     — (vec_id, m, code) parquet, PARTITIONED BY cell
      (8 B of PQ payload per vector; a probe reads only its cells)
    - ``centroids/`` — the IVF_K coarse centroids (cent_id, cent_emb,
      cent_nrm)
    - ``codebook/``  — the trained M×KC PQ codewords (m, c_id, cw)

    Build cost is one corpus pass for assignment + one for coding (both
    broadcast joins, no wide shuffle); the partitioned write shuffles
    narrow (cell, vec_id, m, code) rows only."""
    emb = _with_norm(
        read_table(spark, sf_dir, "embeddings", parallel=True), "embedding", "nrm"
    )
    hexid = spark_hexint("cast(vec_id as string)")
    cents = (
        emb.filter(F.col("vec_id") >= ANN_NUM_QUERIES)
        .orderBy(F.expr(hexid).asc(), F.col("vec_id").asc())
        .limit(IVF_K)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_emb"),
            F.col("nrm").alias("cent_nrm"),
        )
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    codewords = _pq_codewords(spark, emb)
    codewords.write.mode("overwrite").parquet(f"{path}/codebook")
    assign, _ = _ivf_cells(spark, emb)
    codes = _pq_code_table(emb, codewords)
    (
        codes.join(assign, "vec_id")
        .select("cell", "vec_id", "m", "code")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )


def ann_ivfpq_indexed(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """Probe a ``build_ivfpq_index`` index: identical semantics (and
    row-identical output) to ``ann_ivfpq``, but the coarse pass reads
    the PERSISTED cell-partitioned code table, scanning only the probed
    cells — the probe-cell list is collected to the driver (bounded:
    |queries| × nprobe ids) and pushed into the scan as a partition
    filter, so the plan prunes to nprobe cells instead of reading the
    full index."""
    emb = _with_norm(
        read_table(spark, sf_dir, "embeddings", parallel=True), "embedding", "nrm"
    )
    cents = spark.read.parquet(f"{path}/centroids")
    codewords = spark.read.parquet(f"{path}/codebook")
    queries = emb.filter(F.col("vec_id") < ANN_NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    dot_c = _SPARK_DOT.format(a="q_emb", b="cent_emb")
    w_cell = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "cent_id",
            F.expr(f"round(({dot_c}) / (q_nrm * cent_nrm), 6)").alias("ccos"),
        )
        .withColumn("crn", F.row_number().over(w_cell))
        .filter(F.col("crn") <= IVF_NPROBE)
        .select("query_id", F.col("cent_id").alias("cell"))
    )
    # bounded driver-side collect (|queries| × nprobe ids) — this is
    # query-plan construction, the same way a vector store resolves which
    # shards a request touches before dispatching the scan
    probe_rows = probes.collect()
    probe_cells = sorted({r["cell"] for r in probe_rows})
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("cell").isin(probe_cells)
    )
    cand = (
        codes.select("cell", "vec_id")
        .dropDuplicates(["cell", "vec_id"])
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    lut = _pq_query_lut(queries, codewords).select(
        F.col("query_id").alias("l_qid"),
        F.col("m").alias("l_m"),
        "c_id",
        "qd",
    )
    adc = (
        cand.join(codes.select("vec_id", "m", "code"), "vec_id")
        .join(
            F.broadcast(lut),
            (F.col("query_id") == F.col("l_qid"))
            & (F.col("m") == F.col("l_m"))
            & (F.col("code") == F.col("c_id")),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.expr(f"cast(sum(cast(qd as {PQ_ADC_DECIMAL})) as double)").alias("adc"))
    )
    w_c = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    survivors = (
        adc.withColumn("srn", F.row_number().over(w_c))
        .filter(F.col("srn") <= PQ_RERANK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return _pq_rerank(survivors, emb, queries)
