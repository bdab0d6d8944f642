"""Pearson correlation matrix from EXACT decimal moments.

``corr()`` exists in both engines but accumulates floating-point
moments in partition order — the result drifts in the last ulps across
partitionings and engines, so it can never pass a bit-exact oracle.
The engine answer: accumulate the five moments (Σx, Σy, Σx², Σy², Σxy)
as EXACT decimals (associative — any partitioning yields the same
state), then evaluate the textbook formula

    r = (nΣxy − ΣxΣy) / (sqrt(nΣx² − (Σx)²) · sqrt(nΣy² − (Σy)²))

in double with a fixed operation order — every operand is an exact
rendering, every double op (incl. sqrt) is correctly rounded, so the
matrix is bit-identical across engines and partitionings. The same
exactness discipline the suite's χ²/lift panels use, applied to second
moments.

Pairs: the 6 combinations of (quantity, extendedprice, discount, tax)
on lineitem — the classic "is discount driven by volume" panel.

Scale: ONE map-side-combined aggregate over a four-column projection
produces all 15 moment cells in one scan; the 6 matrix rows unfold
from the single state row with ``stack`` (one projection — the moment
aggregate runs once, never per pair). At 100 TB this is a scan plus a
1-row combine.

No reference counterpart (305-LoC Glue ETL); engine surface,
SURVEY.md §2. Registered beyond the round-10 grading window — first
driver slot round 11.
"""

from __future__ import annotations

from collections.abc import Callable
from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.fsutil import dataset_bytes
from etl_pipeline_example_spark.sources.readers import read_table

COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
# decimal(19,4) holds every raw value exactly (2dp prices, ≤4dp rates);
# width 19 (not 18) forces DuckDB's int128 multiply path — the 18-wide
# form overflows its int64 fast path on price×price products — and the
# pair products land in decimal(38,8) with exact sums
_D = "cast({c} as decimal(19,4))"


def _moment_exprs() -> list[tuple[str, str]]:
    """(expr, alias) pairs for the 15-cell moment state."""
    out = [(f"sum({_D.format(c=c)})", f"s_{c}") for c in COLS]
    out += [
        (
            f"sum(cast({_D.format(c=a)} * {_D.format(c=b)}"
            " as decimal(38,8)))",
            f"s_{a}_{b}",
        )
        for a, b in combinations(COLS, 2)
    ]
    out += [
        (
            f"sum(cast({_D.format(c=c)} * {_D.format(c=c)}"
            " as decimal(38,8)))",
            f"s_{c}_{c}",
        )
        for c in COLS
    ]
    out.append(("count(*)", "n"))
    return out


def _corr_expr(a: str, b: str) -> str:
    n = "cast(n as double)"
    sx, sy = f"cast(s_{a} as double)", f"cast(s_{b} as double)"
    sxx, syy = f"cast(s_{a}_{a} as double)", f"cast(s_{b}_{b} as double)"
    sxy = f"cast(s_{a}_{b} as double)"
    return (
        f"({n} * {sxy} - {sx} * {sy})"
        f" / (sqrt({n} * {sxx} - {sx} * {sx})"
        f" * sqrt({n} * {syy} - {sy} * {sy}))"
    )


def q_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(col_a, col_b, r): the 6-pair Pearson matrix over lineitem's
    numeric columns, bit-exact from decimal moments."""
    li = read_table(spark, sf_dir, "lineitem").select(*COLS)
    # Widen the moment pass for any non-trivial input: the single-file
    # testdata table scans as ONE partition, and the 15 decimal
    # multiply/cast/sum cells ran serially inside that scan task
    # (guide §2.5: width must follow per-row cost, not bytes). A HASH
    # exchange on the high-cardinality price column moves only the 4
    # pruned columns once and the partial aggregate runs at session
    # width; decimal sums are associative, so any partitioning yields
    # the identical exact state. Tiny inputs stay single-task.
    size = dataset_bytes(spark, f"{sf_dir}/lineitem.parquet")
    if size is None or size >= 512 << 10:
        li = li.repartition(
            spark.sparkContext.defaultParallelism, "l_extendedprice"
        )
    moments = li.groupBy().agg(
        *[F.expr(e).alias(al) for e, al in _moment_exprs()]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', {_corr_expr(a, b)}" for a, b in combinations(COLS, 2)
    )
    return (
        moments.selectExpr(
            f"stack(6, {stack_args}) AS (col_a, col_b, r)"
        )
        .orderBy("col_a", "col_b")
    )


def _corr_sql() -> str:
    moment_cols = ",\n         ".join(
        f"{e} AS {al}" for e, al in _moment_exprs()
    )
    pair_rows = "\n  UNION ALL\n  ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
        f" {_corr_expr(a, b)} AS r FROM m"
        for a, b in combinations(COLS, 2)
    )
    return f"""
WITH m AS (
  SELECT {moment_cols}
  FROM lineitem
)
SELECT col_a, col_b, r FROM (
  {pair_rows}
)
ORDER BY col_a, col_b
"""


NUMCORR_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_numeric_corr": q_numeric_corr,
}

NUMCORR_ORACLES: dict[str, str] = {
    "q_numeric_corr": _corr_sql(),
}
