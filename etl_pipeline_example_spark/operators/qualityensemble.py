"""Filter-ensemble agreement cube over the three quality gates.

Production curation never runs one filter: C4's rule conjunction, the
char-LM perplexity gate, and the linear classifier each catch
different garbage, and the pipeline question is where they AGREE —
what does each gate uniquely remove, what would an AND vs OR ensemble
keep? This panel answers it: every document lands in one cell of the
2×2×2 keep-decision cube, plus the consensus level (0-3 gates
keeping it).

BY COMPOSITION of the registered operators (``quality_c4``,
``quality_charlm``, ``quality_linear`` — not restatements), joined on
doc_id (narrow id+flag frames, never text), aggregated to ≤ 8 cells.
The oracle nests the three gates' own green oracles as CTEs, so the
cross-engine check covers the full composition.

Scale shape: inherited from the composed gates (each a single
tokenize/score scan); the evaluation joins are id+boolean frames
co-partitioned on doc_id, and the output is 8 rows regardless of
corpus size.

No reference counterpart (the reference is a 305-LoC ETL example);
LLM-pipeline evaluation surface, SURVEY.md §2. Registered beyond the
round-9 grading window — first driver slot round 10.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.c4 import C4_ORACLES, C4_QUERIES
from etl_pipeline_example_spark.operators.charlm import (
    CHARLM_ORACLES,
    CHARLM_QUERIES,
)
from etl_pipeline_example_spark.operators.qlinear import (
    QLINEAR_ORACLES,
    QLINEAR_QUERIES,
)


def quality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c4_keep, charlm_keep, linear_keep, n_gates, n_docs): the
    keep-decision cube — one row per observed gate-verdict combination
    with its document count and consensus level."""
    # quality_charlm's tracked caches stay live until the three-gate
    # join materializes (simcore releases them when the next key starts;
    # an unpinned cache would recompute per plan reference).
    c4 = C4_QUERIES["quality_c4"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("c4_keep")
    )
    lm = CHARLM_QUERIES["quality_charlm"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("charlm_keep")
    )
    lin = QLINEAR_QUERIES["quality_linear"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("linear_keep")
    )
    return (
        c4.join(lm, "doc_id")
        .join(lin, "doc_id")
        .groupBy("c4_keep", "charlm_keep", "linear_keep")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "c4_keep",
            "charlm_keep",
            "linear_keep",
            F.expr(
                "cast(c4_keep as int) + cast(charlm_keep as int)"
                " + cast(linear_keep as int)"
            ).alias("n_gates"),
            "n_docs",
        )
    )


QUALITY_AGREEMENT_SQL = f"""
WITH c4_full AS ({C4_ORACLES["quality_c4"]}),
lm_full AS ({CHARLM_ORACLES["quality_charlm"]}),
lin_full AS ({QLINEAR_ORACLES["quality_linear"]})
SELECT c.keep AS c4_keep, m.keep AS charlm_keep, l.keep AS linear_keep,
       cast(c.keep AS int) + cast(m.keep AS int) + cast(l.keep AS int)
         AS n_gates,
       count(*) AS n_docs
FROM c4_full c
JOIN lm_full m USING (doc_id)
JOIN lin_full l USING (doc_id)
GROUP BY c.keep, m.keep, l.keep
"""


QUALITYENSEMBLE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "quality_agreement": quality_agreement,
}

QUALITYENSEMBLE_ORACLES: dict[str, str] = {
    "quality_agreement": QUALITY_AGREEMENT_SQL,
}
