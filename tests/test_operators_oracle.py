"""Every LLM-pipeline operator vs its DuckDB oracle at sf0.001: each
``operators`` key the registry binds to an oracle, except the modules
whose keys another test file already compares. The registry's demoted
keys stay in."""

from __future__ import annotations

import pytest

from __spark_entry__ import discover
from tools.drivercheck import oracle_mismatch

_OPERATORS = "etl_pipeline_example_spark.operators"
# modules whose keys another file already compares with their oracles
_OWN_SWEEP = (
    "cluster", "corpus", "decontam", "decontam_fuzzy",
    # test_round16_units.py
    "burst", "jpegprog", "kmv", "shuffleaudit", "tfcos",
)

_FOUND = discover([_OPERATORS])
_SKIP = discover([f"{_OPERATORS}.{m}" for m in _OWN_SWEEP])["_QUERIES"]
ALL_O = _FOUND["_ORACLES"]
ALL_Q = {k: q for k, q in _FOUND["_QUERIES"].items() if k in ALL_O and k not in _SKIP}


def test_bpe_merges_are_well_formed(spark, sf_dir):
    """BPE invariants: rounds in order, merged symbol is the pair's
    concatenation, and the winning pair count never increases across
    rounds (a merge can only create pairs at most as frequent as the
    symbol it merged)."""
    from etl_pipeline_example_spark.operators.bpe import BPE_ROUNDS, bpe_train

    rows = sorted(bpe_train(spark, sf_dir).collect(), key=lambda r: r["round"])
    assert [r["round"] for r in rows] == list(range(BPE_ROUNDS))
    for r in rows:
        a, b = r["merge_pair"].split(" ")
        assert a.startswith("_") and a.endswith("_") and b.startswith("_") and b.endswith("_")
        assert r["merged"] == a[:-1] + b[1:]
        assert r["pair_cnt"] > 0
    cnts = [r["pair_cnt"] for r in rows]
    assert all(cnts[i] >= cnts[i + 1] for i in range(len(cnts) - 1)), cnts


@pytest.mark.parametrize("name", sorted(ALL_Q))
def test_operator_matches_oracle(spark, duck, sf_dir, name):
    df = ALL_Q[name](spark, sf_dir)
    assert oracle_mismatch(df, duck, ALL_O[name]) is None


def _retired_baselines():
    """Demoted oracle baselines retired from the driver registry (round
    6) but still part of the engine surface — their oracle parity is
    pinned HERE instead of costing driver grading-window slots."""
    from etl_pipeline_example_spark.operators.semdedup import (
        SEMDEDUP_PRUNE_SQL,
        semdedup_prune,
    )
    from etl_pipeline_example_spark.operators.similarity import (
        DEDUP_EMBEDDING_SQL,
        dedup_embedding,
    )

    return {
        "dedup_embedding": (dedup_embedding, DEDUP_EMBEDDING_SQL),
        "semdedup_prune": (semdedup_prune, SEMDEDUP_PRUNE_SQL),
    }


@pytest.mark.parametrize("name", sorted(_retired_baselines()))
def test_retired_baseline_matches_oracle(spark, duck, sf_dir, name):
    fn, sql = _retired_baselines()[name]
    assert oracle_mismatch(fn(spark, sf_dir), duck, sql) is None