"""Decontamination operator vs its DuckDB oracle at sf0.001."""

from __future__ import annotations

import pytest

from etl_pipeline_example_spark.operators.decontam import (
    DECONTAM_ORACLES,
    DECONTAM_QUERIES,
)
from etl_pipeline_example_spark.operators.decontam_fuzzy import (
    DECONTAM_FUZZY_ORACLES,
    DECONTAM_FUZZY_QUERIES,
)

from tools.drivercheck import oracle_mismatch

_ALL_Q = {**DECONTAM_QUERIES, **DECONTAM_FUZZY_QUERIES}
_ALL_O = {**DECONTAM_ORACLES, **DECONTAM_FUZZY_ORACLES}


@pytest.mark.parametrize("name", sorted(_ALL_Q))
def test_decontam_matches_oracle(spark, duck, sf_dir, name):
    df = _ALL_Q[name](spark, sf_dir)
    assert oracle_mismatch(df, duck, _ALL_O[name]) is None


def test_contamination_minhash_flags_are_cross_slice_and_ranked(spark, sf_dir):
    """Every flagged doc is a train doc, every match an eval doc, one
    row per flagged doc (the argmax), jaccard within [τ, 1]."""
    from etl_pipeline_example_spark.operators.decontam import EVAL_SOURCE
    from etl_pipeline_example_spark.operators.decontam_fuzzy import (
        CONTAM_MH_TAU,
        contamination_minhash,
    )
    from etl_pipeline_example_spark.sources.readers import read_table

    rows = contamination_minhash(spark, sf_dir).collect()
    assert rows, "vacuous: no fuzzy contamination found in testdata"
    src = {
        r["doc_id"]: r["source"]
        for r in read_table(spark, sf_dir, "documents").select("doc_id", "source").collect()
    }
    seen = set()
    for r in rows:
        assert src[r["doc_id"]] != EVAL_SOURCE
        assert src[r["eval_doc_id"]] == EVAL_SOURCE
        assert CONTAM_MH_TAU <= r["jaccard"] <= 1.0
        assert r["doc_id"] not in seen
        seen.add(r["doc_id"])


def test_contamination_flags_known_overlap(spark):
    """A train doc sharing an exact 5-gram with an eval doc must be
    flagged; one with no shared 5-gram must not."""
    import duckdb

    from etl_pipeline_example_spark.operators.decontam import (
        CONTAMINATION_SQL,
        contamination_ngram,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "src0"),   # eval
        (2, "XX alpha beta gamma delta epsilon YY", "src1"),  # overlaps
        (3, "one two three four five six seven", "src1"),     # clean
    ]
    import tempfile, os
    import pandas as pd

    tmp = tempfile.mkdtemp(prefix="decon_")
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["lang"] = "en"
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(os.path.join(tmp, "documents.parquet"))
    out = {r["doc_id"]: r["n_overlap"] for r in contamination_ngram(spark, tmp).collect()}
    assert 2 in out and out[2] >= 1
    assert 3 not in out

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp}/documents.parquet'")
    assert oracle_mismatch(contamination_ngram(spark, tmp), con, CONTAMINATION_SQL) is None
    con.close()
