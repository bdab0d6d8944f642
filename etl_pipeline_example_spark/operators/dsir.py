"""DSIR-style importance weighting for data selection.

Xie et al. 2023 ("Data Selection for Language Models via Importance
Resampling") select raw-pool documents whose hashed-n-gram bag looks
like a trusted target corpus: fit bag-of-hashed-ngram models on target
and raw, weight every raw doc by its likelihood ratio, and resample by
weight. This module implements the same structure as a pure DataFrame
pipeline with a DuckDB oracle computing the identical result:

  - features: token bigrams hashed into ``DSIR_BUCKETS`` buckets
    (the paper's hashed n-gram featurization),
  - model: Laplace-smoothed bucket probabilities on the target slice
    (``source = 'src0'``) and the raw pool (everything else),
  - weight: per-doc sum of (p_target/p_raw − 1) over its bigrams, and
    a deterministic top-``DSIR_TOP`` selection in place of stochastic
    resampling.

Log-free surrogate, same discipline as the charlm module: the paper's
weight is Σ ln λ(b) over the doc's buckets; ``log()`` library ulps
differ between engines, so the score here is Σ (λ(b) − 1) — the
first-order expansion of ln λ around λ = 1, zero-centered exactly like
the log form (neutral buckets contribute 0, target-like buckets
positive, raw-typical buckets negative) — while every arithmetic step
stays bit-identical across engines: each λ is a 12-dp round of IEEE
divisions of exact integers, the subtraction and per-doc sum are exact
decimal ops, and the only float conversion is the final exact-decimal →
double cast (single correctly-rounded conversion in both engines for
|score| < 2^53 / 10^12, far beyond any real doc). The earlier
mean-score form died on exactly this: round(Σ/n, 6) of a double
quotient straddled a 6-dp half boundary differently per engine.

No reference counterpart (the reference is a 305-LoC ETL example);
LLM-pipeline surface, SURVEY.md §2 row 35f.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.operators.hashing import (
    duck_hexint,
    duck_tokens,
    spark_hexint,
    spark_tokens,
)
from etl_pipeline_example_spark.sources.readers import read_table

DSIR_BUCKETS = 1024  # hashed-ngram feature space (paper uses 10k; corpus-scaled)
DSIR_TARGET = "src0"  # the trusted target slice; raw pool = every other source
DSIR_TOP = 100  # deterministic top-K in place of stochastic resampling


def _bigram_buckets(df: DataFrame) -> DataFrame:
    """(doc_id, source, bucket) — one row per token-bigram occurrence,
    hashed into the DSIR feature space. Pure shuffle-free projection
    (scan → explode → hash); consumers aggregate it."""
    bucket = spark_hexint("concat('dsir:', tk[j], ' ', tk[j + 1])")
    return (
        df.select("doc_id", "source", F.expr(spark_tokens("text")).alias("tk"))
        .filter(F.expr("size(tk) >= 2"))
        .select(
            "doc_id",
            "source",
            F.explode(F.expr("sequence(0, size(tk) - 2)")).alias("j"),
            "tk",
        )
        .select("doc_id", "source", F.expr(f"pmod({bucket}, {DSIR_BUCKETS})").alias("bucket"))
    )


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``DSIR_TOP`` most target-like raw docs by hashed-bigram
    importance ratio: (doc_id, source, n_bigrams, dsir_score).

    Scale shape: two linear scans and nothing wide ever shuffles. Scan 1
    builds the bucket model — the groupBy carries at most
    ``DSIR_BUCKETS`` rows after map-side combine, and the fitted model
    (≤ 1024 rows) plus its one-row totals BROADCAST at any corpus size,
    exactly like the charlm trigram model. Scan 2 re-explodes only the
    raw pool, broadcast-joins the model, and the per-doc aggregate
    shuffles map-side-combined (doc_id, Σλ, n) partials; the final
    top-K is a TakeOrderedAndProject (no global sort materializes).
    At 100 TB this is the paper's pipeline shape: model fit is one
    bounded-output pass, scoring is embarrassingly parallel.
    """
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    # persisted: the md5-derived bucket hash is the dominant per-row cost
    # and BOTH consumers (model fit, raw-pool scoring) need it — without
    # the cache the explode+hash runs twice (measured 2× at sf0.1). The
    # cached rows are three narrow columns; at corpus scale this spills
    # to disk rather than re-hashing. Tracked, so it is released when
    # the next key starts (simcore cache discipline).
    grams = tracked_persist(_bigram_buckets(docs))
    model = grams.groupBy("bucket").agg(
        F.sum(
            F.expr(f"CASE WHEN source = '{DSIR_TARGET}' THEN 1 ELSE 0 END")
        ).alias("cnt_t"),
        F.sum(
            F.expr(f"CASE WHEN source != '{DSIR_TARGET}' THEN 1 ELSE 0 END")
        ).alias("cnt_r"),
    )
    totals = model.agg(
        F.sum("cnt_t").alias("t_t"), F.sum("cnt_r").alias("t_r")
    )
    # explicit double casts: a bare `1.0` literal is DECIMAL in Spark SQL,
    # and decimal division truncates its scale to 6 under the precision cap
    lam = (
        f"round(round(cast(coalesce(cnt_t, 0) + 1 as double)"
        f" / cast(t_t + {DSIR_BUCKETS} as double), 12)"
        f" / round(cast(coalesce(cnt_r, 0) + 1 as double)"
        f" / cast(t_r + {DSIR_BUCKETS} as double), 12), 12)"
    )
    scored = (
        grams.filter(F.col("source") != DSIR_TARGET)
        .join(F.broadcast(model), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", "source", F.expr(lam).alias("lam"))
    )
    return (
        scored.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr(
                "cast(sum(cast(lam as decimal(26,12)) - 1) as double)"
            ).alias("dsir_score"),
        )
        .orderBy(F.col("dsir_score").desc(), F.col("doc_id").asc())
        .limit(DSIR_TOP)
    )


DSIR_SQL = f"""
WITH tk_tbl AS (
  SELECT doc_id, source, {duck_tokens("text")} AS tk FROM documents
),
grams AS (
  SELECT doc_id, source,
         {duck_hexint("concat('dsir:', tk[j + 1], ' ', tk[j + 2])")} % {DSIR_BUCKETS} AS bucket
  FROM tk_tbl,
       (SELECT unnest(range(0, (SELECT coalesce(max(len(tk)), 0) FROM tk_tbl))) AS j)
  WHERE len(tk) >= 2 AND j <= len(tk) - 2
),
model AS (
  SELECT bucket,
         sum(CASE WHEN source = '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS cnt_t,
         sum(CASE WHEN source != '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS cnt_r
  FROM grams GROUP BY 1
),
totals AS (SELECT sum(cnt_t) AS t_t, sum(cnt_r) AS t_r FROM model),
scored AS (
  SELECT g.doc_id, g.source,
         round(round(cast(coalesce(m.cnt_t, 0) + 1 AS double)
                   / cast(t.t_t + {DSIR_BUCKETS} AS double), 12)
             / round(cast(coalesce(m.cnt_r, 0) + 1 AS double)
                   / cast(t.t_r + {DSIR_BUCKETS} AS double), 12), 12) AS lam
  FROM grams g LEFT JOIN model m USING (bucket), totals t
  WHERE g.source != '{DSIR_TARGET}'
)
SELECT doc_id, source, count(*) AS n_bigrams,
       cast(sum(cast(lam AS decimal(26,12)) - 1) AS double) AS dsir_score
FROM scored GROUP BY 1, 2
ORDER BY dsir_score DESC, doc_id
LIMIT {DSIR_TOP}
"""


DSIR_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dsir_weights": dsir_weights,
}

DSIR_ORACLES: dict[str, str] = {
    "dsir_weights": DSIR_SQL,
}
