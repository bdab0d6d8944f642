"""Every LLM-pipeline operator vs its DuckDB oracle at sf0.001."""

from __future__ import annotations

import pytest

from etl_pipeline_example_spark.operators.allocation import (
    ALLOCATION_ORACLES,
    ALLOCATION_QUERIES,
)
from etl_pipeline_example_spark.operators.annfiltered import (
    ANNFILTERED_ORACLES,
    ANNFILTERED_QUERIES,
)
from etl_pipeline_example_spark.operators.annrecall import (
    ANNRECALL_ORACLES,
    ANNRECALL_QUERIES,
)
from etl_pipeline_example_spark.operators.audiofeat import (
    AUDIOFEAT_ORACLES,
    AUDIOFEAT_QUERIES,
)
from etl_pipeline_example_spark.operators.audiozcr import (
    AUDIOZCR_ORACLES,
    AUDIOZCR_QUERIES,
)
from etl_pipeline_example_spark.operators.bandstats import (
    BANDSTATS_ORACLES,
    BANDSTATS_QUERIES,
)
from etl_pipeline_example_spark.operators.bigramcov import (
    BIGRAMCOV_ORACLES,
    BIGRAMCOV_QUERIES,
)
from etl_pipeline_example_spark.operators.bloomgate import (
    BLOOMGATE_ORACLES,
    BLOOMGATE_QUERIES,
)
from etl_pipeline_example_spark.operators.boilerstrip import (
    BOILERSTRIP_ORACLES,
    BOILERSTRIP_QUERIES,
)
from etl_pipeline_example_spark.operators.bpe import BPE_ORACLES, BPE_QUERIES
from etl_pipeline_example_spark.operators.bpeindex import (
    BPEINDEX_ORACLES,
    BPEINDEX_QUERIES,
)
from etl_pipeline_example_spark.operators.budgetcurve import (
    BUDGETCURVE_ORACLES,
    BUDGETCURVE_QUERIES,
)
from etl_pipeline_example_spark.operators.c4 import C4_ORACLES, C4_QUERIES
from etl_pipeline_example_spark.operators.calibration import (
    CALIBRATION_ORACLES,
    CALIBRATION_QUERIES,
)
from etl_pipeline_example_spark.operators.carddiff import (
    CARDDIFF_ORACLES,
    CARDDIFF_QUERIES,
)
from etl_pipeline_example_spark.operators.cdchunk import (
    CDCHUNK_ORACLES,
    CDCHUNK_QUERIES,
)
from etl_pipeline_example_spark.operators.charlm import CHARLM_ORACLES, CHARLM_QUERIES
from etl_pipeline_example_spark.operators.charsimpson import (
    CHARSIMPSON_ORACLES,
    CHARSIMPSON_QUERIES,
)
from etl_pipeline_example_spark.operators.charstats import (
    CHARSTATS_ORACLES,
    CHARSTATS_QUERIES,
)
from etl_pipeline_example_spark.operators.chartrigram import (
    CHARTRIGRAM_ORACLES,
    CHARTRIGRAM_QUERIES,
)
from etl_pipeline_example_spark.operators.clustersizes import (
    CLUSTERSIZES_ORACLES,
    CLUSTERSIZES_QUERIES,
)
from etl_pipeline_example_spark.operators.clustertopics import (
    CLUSTERTOPICS_ORACLES,
    CLUSTERTOPICS_QUERIES,
)
from etl_pipeline_example_spark.operators.containment import (
    CONTAINMENT_ORACLES,
    CONTAINMENT_QUERIES,
)
from etl_pipeline_example_spark.operators.corpusstats import (
    CORPUSSTATS_ORACLES,
    CORPUSSTATS_QUERIES,
)
from etl_pipeline_example_spark.operators.datacard import (
    DATACARD_ORACLES,
    DATACARD_QUERIES,
)
from etl_pipeline_example_spark.operators.dedup import DEDUP_ORACLES, DEDUP_QUERIES
from etl_pipeline_example_spark.operators.diagnostics import (
    DIAGNOSTICS_ORACLES,
    DIAGNOSTICS_QUERIES,
)
from etl_pipeline_example_spark.operators.domain import DOMAIN_ORACLES, DOMAIN_QUERIES
from etl_pipeline_example_spark.operators.domainshift import (
    DOMAINSHIFT_ORACLES,
    DOMAINSHIFT_QUERIES,
)
from etl_pipeline_example_spark.operators.dqrules import (
    DQRULES_ORACLES,
    DQRULES_QUERIES,
)
from etl_pipeline_example_spark.operators.dsir import DSIR_ORACLES, DSIR_QUERIES
from etl_pipeline_example_spark.operators.embednorm import (
    EMBEDNORM_ORACLES,
    EMBEDNORM_QUERIES,
)
from etl_pipeline_example_spark.operators.epochs import EPOCHS_ORACLES, EPOCHS_QUERIES
from etl_pipeline_example_spark.operators.evaluation import (
    EVALUATION_ORACLES,
    EVALUATION_QUERIES,
)
from etl_pipeline_example_spark.operators.fertility import (
    FERTILITY_ORACLES,
    FERTILITY_QUERIES,
)
from etl_pipeline_example_spark.operators.funnel import FUNNEL_ORACLES, FUNNEL_QUERIES
from etl_pipeline_example_spark.operators.hamminghist import (
    HAMMINGHIST_ORACLES,
    HAMMINGHIST_QUERIES,
)
from etl_pipeline_example_spark.operators.hashfeat import (
    HASHFEAT_ORACLES,
    HASHFEAT_QUERIES,
)
from etl_pipeline_example_spark.operators.incremental import (
    INCREMENTAL_ORACLES,
    INCREMENTAL_QUERIES,
)
from etl_pipeline_example_spark.operators.knnjoin import (
    KNNJOIN_ORACLES,
    KNNJOIN_QUERIES,
)
from etl_pipeline_example_spark.operators.langeval import (
    LANGEVAL_ORACLES,
    LANGEVAL_QUERIES,
)
from etl_pipeline_example_spark.operators.lengini import (
    LENGINI_ORACLES,
    LENGINI_QUERIES,
)
from etl_pipeline_example_spark.operators.lengthks import (
    LENGTHKS_ORACLES,
    LENGTHKS_QUERIES,
)
from etl_pipeline_example_spark.operators.lexicon import (
    LEXICON_ORACLES,
    LEXICON_QUERIES,
)
from etl_pipeline_example_spark.operators.mediahdr import (
    MEDIAHDR_ORACLES,
    MEDIAHDR_QUERIES,
)
from etl_pipeline_example_spark.operators.mediapixels import (
    MEDIAPIXELS_ORACLES,
    MEDIAPIXELS_QUERIES,
)
from etl_pipeline_example_spark.operators.mediaresize import (
    MEDIARESIZE_ORACLES,
    MEDIARESIZE_QUERIES,
)
from etl_pipeline_example_spark.operators.mixtemp import (
    MIXTEMP_ORACLES,
    MIXTEMP_QUERIES,
)
from etl_pipeline_example_spark.operators.multimodal import MM_ORACLES, MM_QUERIES
from etl_pipeline_example_spark.operators.nearincremental import (
    NEARINCREMENTAL_ORACLES,
    NEARINCREMENTAL_QUERIES,
)
from etl_pipeline_example_spark.operators.normalize import (
    NORMALIZE_ORACLES,
    NORMALIZE_QUERIES,
)
from etl_pipeline_example_spark.operators.novelty import (
    NOVELTY_ORACLES,
    NOVELTY_QUERIES,
)
from etl_pipeline_example_spark.operators.oov import OOV_ORACLES, OOV_QUERIES
from etl_pipeline_example_spark.operators.packstats import (
    PACKSTATS_ORACLES,
    PACKSTATS_QUERIES,
)
from etl_pipeline_example_spark.operators.phash import PHASH_ORACLES, PHASH_QUERIES
from etl_pipeline_example_spark.operators.phashdup import (
    PHASHDUP_ORACLES,
    PHASHDUP_QUERIES,
)
from etl_pipeline_example_spark.operators.piireport import (
    PIIREPORT_ORACLES,
    PIIREPORT_QUERIES,
)
from etl_pipeline_example_spark.operators.pixeldiversity import (
    PIXELDIVERSITY_ORACLES,
    PIXELDIVERSITY_QUERIES,
)
from etl_pipeline_example_spark.operators.pmi import PMI_ORACLES, PMI_QUERIES
from etl_pipeline_example_spark.operators.prefixdup import (
    PREFIXDUP_ORACLES,
    PREFIXDUP_QUERIES,
)
from etl_pipeline_example_spark.operators.qlinear import (
    QLINEAR_ORACLES,
    QLINEAR_QUERIES,
)
from etl_pipeline_example_spark.operators.qualityensemble import (
    QUALITYENSEMBLE_ORACLES,
    QUALITYENSEMBLE_QUERIES,
)
from etl_pipeline_example_spark.operators.readability import (
    READABILITY_ORACLES,
    READABILITY_QUERIES,
)
from etl_pipeline_example_spark.operators.retrieval import (
    RETRIEVAL_ORACLES,
    RETRIEVAL_QUERIES,
)
from etl_pipeline_example_spark.operators.rp import RP_ORACLES, RP_QUERIES
from etl_pipeline_example_spark.operators.rprerank import (
    RPRERANK_ORACLES,
    RPRERANK_QUERIES,
)
from etl_pipeline_example_spark.operators.savings import (
    SAVINGS_ORACLES,
    SAVINGS_QUERIES,
)
from etl_pipeline_example_spark.operators.shard import SHARD_ORACLES, SHARD_QUERIES
from etl_pipeline_example_spark.operators.shardmanifest import (
    SHARDMANIFEST_ORACLES,
    SHARDMANIFEST_QUERIES,
)
from etl_pipeline_example_spark.operators.similarity import SIM_ORACLES, SIM_QUERIES
from etl_pipeline_example_spark.operators.skewprofile import (
    SKEWPROFILE_ORACLES,
    SKEWPROFILE_QUERIES,
)
from etl_pipeline_example_spark.operators.sliding import (
    SLIDING_ORACLES,
    SLIDING_QUERIES,
)
from etl_pipeline_example_spark.operators.sourceoverlap import (
    SOURCEOVERLAP_ORACLES,
    SOURCEOVERLAP_QUERIES,
)
from etl_pipeline_example_spark.operators.sourcequality import (
    SOURCEQUALITY_ORACLES,
    SOURCEQUALITY_QUERIES,
)
from etl_pipeline_example_spark.operators.spancorrupt import (
    SPANCORRUPT_ORACLES,
    SPANCORRUPT_QUERIES,
)
from etl_pipeline_example_spark.operators.spandup import (
    SPANDUP_ORACLES,
    SPANDUP_QUERIES,
)
from etl_pipeline_example_spark.operators.survivor import (
    SURVIVOR_ORACLES,
    SURVIVOR_QUERIES,
)
from etl_pipeline_example_spark.operators.text import TEXT_ORACLES, TEXT_QUERIES
from etl_pipeline_example_spark.operators.trunctune import (
    TRUNCTUNE_ORACLES,
    TRUNCTUNE_QUERIES,
)
from etl_pipeline_example_spark.operators.tuning import TUNING_ORACLES, TUNING_QUERIES
from etl_pipeline_example_spark.operators.vocabgrowth import (
    VOCABGROWTH_ORACLES,
    VOCABGROWTH_QUERIES,
)
from etl_pipeline_example_spark.operators.wsample import (
    WSAMPLE_ORACLES,
    WSAMPLE_QUERIES,
)
from etl_pipeline_example_spark.operators.zipf import ZIPF_ORACLES, ZIPF_QUERIES

from tests.oracle_util import assert_matches_oracle

ALL_Q = {
    **TEXT_QUERIES, **BPE_QUERIES, **CHARLM_QUERIES, **DOMAIN_QUERIES, **DSIR_QUERIES, **C4_QUERIES, **PMI_QUERIES,
    **BOILERSTRIP_QUERIES, **RP_QUERIES, **FUNNEL_QUERIES, **NORMALIZE_QUERIES, **SHARD_QUERIES, **MEDIAHDR_QUERIES, **MEDIAPIXELS_QUERIES, **CLUSTERSIZES_QUERIES, **BIGRAMCOV_QUERIES, **HAMMINGHIST_QUERIES, **LENGINI_QUERIES, **SOURCEOVERLAP_QUERIES, **READABILITY_QUERIES, **BANDSTATS_QUERIES, **BUDGETCURVE_QUERIES,
    **DOMAINSHIFT_QUERIES, **CONTAINMENT_QUERIES, **EMBEDNORM_QUERIES,
    **CLUSTERTOPICS_QUERIES, **CORPUSSTATS_QUERIES, **INCREMENTAL_QUERIES, **NOVELTY_QUERIES,
    **DIAGNOSTICS_QUERIES, **CALIBRATION_QUERIES, **ZIPF_QUERIES,
    **SAVINGS_QUERIES, **EVALUATION_QUERIES, **TUNING_QUERIES,
    **SOURCEQUALITY_QUERIES,
    **SPANDUP_QUERIES, **QLINEAR_QUERIES, **ALLOCATION_QUERIES,
    **CHARSTATS_QUERIES, **RETRIEVAL_QUERIES,
    **PIIREPORT_QUERIES, **NEARINCREMENTAL_QUERIES,
    **TRUNCTUNE_QUERIES, **SLIDING_QUERIES, **SHARDMANIFEST_QUERIES, **PACKSTATS_QUERIES, **MIXTEMP_QUERIES, **DQRULES_QUERIES, **SKEWPROFILE_QUERIES, **LENGTHKS_QUERIES, **ANNRECALL_QUERIES, **QUALITYENSEMBLE_QUERIES, **PREFIXDUP_QUERIES, **LEXICON_QUERIES, **BLOOMGATE_QUERIES, **WSAMPLE_QUERIES, **SURVIVOR_QUERIES, **LANGEVAL_QUERIES, **CHARTRIGRAM_QUERIES, **FERTILITY_QUERIES, **BPEINDEX_QUERIES, **EPOCHS_QUERIES, **SPANCORRUPT_QUERIES, **ANNFILTERED_QUERIES, **DATACARD_QUERIES, **CARDDIFF_QUERIES, **CDCHUNK_QUERIES, **OOV_QUERIES, **PIXELDIVERSITY_QUERIES, **PHASH_QUERIES, **PHASHDUP_QUERIES, **VOCABGROWTH_QUERIES, **MEDIARESIZE_QUERIES, **AUDIOFEAT_QUERIES, **CHARSIMPSON_QUERIES, **HASHFEAT_QUERIES, **KNNJOIN_QUERIES, **AUDIOZCR_QUERIES,
    **RPRERANK_QUERIES,
    **DEDUP_QUERIES, **SIM_QUERIES, **MM_QUERIES,
}
ALL_O = {
    **TEXT_ORACLES, **BPE_ORACLES, **CHARLM_ORACLES, **DOMAIN_ORACLES, **DSIR_ORACLES, **C4_ORACLES, **PMI_ORACLES,
    **BOILERSTRIP_ORACLES, **RP_ORACLES, **FUNNEL_ORACLES, **NORMALIZE_ORACLES, **SHARD_ORACLES, **MEDIAHDR_ORACLES, **MEDIAPIXELS_ORACLES, **CLUSTERSIZES_ORACLES, **BIGRAMCOV_ORACLES, **HAMMINGHIST_ORACLES, **LENGINI_ORACLES, **SOURCEOVERLAP_ORACLES, **READABILITY_ORACLES, **BANDSTATS_ORACLES, **BUDGETCURVE_ORACLES,
    **DOMAINSHIFT_ORACLES, **CONTAINMENT_ORACLES, **EMBEDNORM_ORACLES,
    **CLUSTERTOPICS_ORACLES, **CORPUSSTATS_ORACLES, **INCREMENTAL_ORACLES, **NOVELTY_ORACLES,
    **DIAGNOSTICS_ORACLES, **CALIBRATION_ORACLES, **ZIPF_ORACLES,
    **SAVINGS_ORACLES, **EVALUATION_ORACLES, **TUNING_ORACLES,
    **SOURCEQUALITY_ORACLES,
    **SPANDUP_ORACLES, **QLINEAR_ORACLES, **ALLOCATION_ORACLES,
    **CHARSTATS_ORACLES, **RETRIEVAL_ORACLES,
    **PIIREPORT_ORACLES, **NEARINCREMENTAL_ORACLES,
    **TRUNCTUNE_ORACLES, **SLIDING_ORACLES, **SHARDMANIFEST_ORACLES, **PACKSTATS_ORACLES, **MIXTEMP_ORACLES, **DQRULES_ORACLES, **SKEWPROFILE_ORACLES, **LENGTHKS_ORACLES, **ANNRECALL_ORACLES, **QUALITYENSEMBLE_ORACLES, **PREFIXDUP_ORACLES, **LEXICON_ORACLES, **BLOOMGATE_ORACLES, **WSAMPLE_ORACLES, **SURVIVOR_ORACLES, **LANGEVAL_ORACLES, **CHARTRIGRAM_ORACLES, **FERTILITY_ORACLES, **BPEINDEX_ORACLES, **EPOCHS_ORACLES, **SPANCORRUPT_ORACLES, **ANNFILTERED_ORACLES, **DATACARD_ORACLES, **CARDDIFF_ORACLES, **CDCHUNK_ORACLES, **OOV_ORACLES, **PIXELDIVERSITY_ORACLES, **PHASH_ORACLES, **PHASHDUP_ORACLES, **VOCABGROWTH_ORACLES, **MEDIARESIZE_ORACLES, **AUDIOFEAT_ORACLES, **CHARSIMPSON_ORACLES, **HASHFEAT_ORACLES, **KNNJOIN_ORACLES, **AUDIOZCR_ORACLES,
    **RPRERANK_ORACLES,
    **DEDUP_ORACLES, **SIM_ORACLES, **MM_ORACLES,
}


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
    assert_matches_oracle(df, duck, ALL_O[name])


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
    assert_matches_oracle(fn(spark, sf_dir), duck, sql)
