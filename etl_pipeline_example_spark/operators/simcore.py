"""Shared cross-engine primitives for the similarity operator family.

The ANN / k-means / SemDedup / PQ modules (``similarity``, ``kmeans``,
``semdedup``, ``pq``) all lean on the same deterministic arithmetic:
dot products and squared distances as sequential left-to-right folds
(Spark ``aggregate``, DuckDB list comprehension + ``list_sum``), results
rounded to 6 dp before any rank/filter so cross-engine float agreement
is exact, and exact-decimal sums wherever order-independence is needed.
Those fragments live here ONCE so the modules can't drift apart.

This file is part of the freeze manifest's shared core: a change here
shifts scoring for every similarity-family oracle, so every entry in the
family must be regraded when it changes (the transitive-import closure
in ``tools/freeze.py`` enforces that mechanically).

Reference parity note: the reference repo (moj-analytical-services/
etl-pipeline-example) has no vector operators at all — this family is
part of the LLM-data-pipeline surface built on top of the reference's
ETL semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ANN_K = 10
ANN_NUM_QUERIES = 5  # vec_id < 5 are the query vectors
# The benchmark embeddings are near-uniform (max pairwise cosine ≈ 0.47);
# τ is set where the data actually has pairs so the operator's output is
# non-vacuous. A production near-dup pass would use τ ≈ 0.9.
EMB_TAU = 0.4

# decimal type for order-independent exact sums (centroid means etc.)
KMEANS_DECIMAL = "decimal(30,12)"

# IVF coarse-quantizer shape, shared by ann_ivf and the IVFADC composition
IVF_K = 64
IVF_NPROBE = 16

# cosine(a, b) with deterministic summation order, doubles throughout
_SPARK_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " cast(0 as double), (acc, v) -> acc + v)"
)
_DUCK_DOT = "list_sum([ cast({a}[i] as double) * cast({b}[i] as double) for i in range(1, len({a}) + 1) ])"

_SPARK_SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (cast(x as double) - cast(y as double))"
    " * (cast(x as double) - cast(y as double))), cast(0 as double), (acc, v) -> acc + v)"
)
_DUCK_SQDIST = (
    "list_sum([ (cast({a}[i] as double) - cast({b}[i] as double))"
    " * (cast({a}[i] as double) - cast({b}[i] as double))"
    " for i in range(1, len({a}) + 1) ])"
)

_DUCK_SELF_NORM = "sqrt(" + _DUCK_DOT.format(a="embedding", b="embedding") + ")"


def _spark_cosine(a: str, b: str) -> str:
    dot = _SPARK_DOT.format(a=a, b=b)
    na = _SPARK_DOT.format(a=a, b=a)
    nb = _SPARK_DOT.format(a=b, b=b)
    return f"round(({dot}) / (sqrt({na}) * sqrt({nb})), 6)"


def _duck_cosine(a: str, b: str) -> str:
    dot = _DUCK_DOT.format(a=a, b=b)
    na = _DUCK_DOT.format(a=a, b=a)
    nb = _DUCK_DOT.format(a=b, b=b)
    return f"round(({dot}) / (sqrt({na}) * sqrt({nb})), 6)"


def _with_norm(df: DataFrame, vec: str, out: str) -> DataFrame:
    """Attach the L2 norm once per vector — pairwise scoring then needs one
    dot product instead of three (3× fewer folds in the hot loop). The
    norm is the same deterministic left-fold + sqrt the inline formula
    used, so rounded cosines are unchanged."""
    self_dot = _SPARK_DOT.format(a=vec, b=vec)
    return df.withColumn(out, F.expr(f"sqrt({self_dot})"))


# ------------------------------------------------------- cache discipline
#
# Several operators persist a reused intermediate (the cached labeling
# both sides of a self-join read, the IVF cell ranking both the
# assignment and the probe list consume). The operators return LAZY
# DataFrames — the caller materializes them — so the function itself has
# no "after the downstream joins ran" point to unpersist at.
#
# The discipline: caches register here at persist time and live for the
# rest of the key that created them. A composite key calls its
# sub-operators as plain functions, so every sub-cache survives to the
# key's single materialization. The registry (``__spark_entry__.queries``)
# releases them when the NEXT key starts: by then the previous key's
# result has been collected (the driver, bench, and oracle harnesses all
# materialize one query before starting the next). Unpersisting is never
# a correctness hazard — a still-referenced plan over a released cache
# silently recomputes.

_LIVE_CACHES: list[DataFrame] = []


def release_similarity_caches() -> None:
    """Unpersist every cache registered through ``tracked_persist``."""
    while _LIVE_CACHES:
        df = _LIVE_CACHES.pop()
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to release
            pass


def tracked_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for release when the next key
    starts (see module note)."""
    df.persist()
    _LIVE_CACHES.append(df)
    return df
