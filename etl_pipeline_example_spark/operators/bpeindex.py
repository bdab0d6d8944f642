"""Persisted BPE artifact: train once, apply from parquet.

``bpe_encode`` (operators/bpe.py:106) and ``bpe_fertility``
(operators/fertility.py:36) are oracle-shaped: each retrains the
``BPE_ROUNDS`` merges in-op on every run — the documented price of a
self-contained oracle row, and the round-10 verdict's third occurrence
of the rebuild-in-op pattern. A production tokenizer pipeline never
does that: merges are learned ONCE when the vocabulary changes and
every encode run reads the persisted artifact. This module is that
production shape, mirroring the ``build_neardup_index`` /
``stream_neardup_gate_indexed`` split (streaming/neargate_index.py:65):
a side-effecting builder plus apply entries row-identical to the
in-op-training forms.

  build_bpe_merges     one training run: writes
                         merges/  (round, merge_pair, merged, pair_cnt)
                         vocab/   (word, n_sym) — each vocabulary word's
                                  finished BPE symbol count
                       Both tables are vocabulary-bounded (Heaps' law:
                       sublinear in corpus size) and narrow — at 100 TB
                       the artifact is MBs and the rebuild is the one
                       training pass the corpus version pays once.
  bpe_encode_indexed   (doc_id, n_words, n_bpe_tokens): the exact
                       bpe_encode output, but the vocabulary side is a
                       plain parquet READ — per-run cost is the doc
                       explode + one vocab join, independent of how
                       expensive training was.
  bpe_fertility_indexed
                       (source, ...): the exact bpe_fertility output
                       over the same persisted vocab.

The registry entries build the artifact on first use per (sf_dir,
documents.parquet mtime) under the system temp dir, then apply — the
driver row exercises build+apply once and the bench's best-of-2 second
pass measures the PRODUCTION cost (apply only), which is what the
round-10 verdict asked the artifact to show. Because apply is
row-identical to the in-op forms (pytest-pinned equality), the entries
carry the SAME full SQL oracles.

No reference counterpart (reference: glue_jobs/example_job/job.py);
LLM-pipeline surface, SURVEY.md §2.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.bpe import (
    BPE_ENCODE_SQL,
    BPE_ROUNDS,
    _train,
)
from etl_pipeline_example_spark.operators.fertility import BPE_FERTILITY_SQL
from etl_pipeline_example_spark.operators.hashing import spark_tokens
from etl_pipeline_example_spark.sources.readers import read_table


def build_bpe_merges(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the trained tokenizer under ``path``:

    - ``merges/`` — (round, merge_pair, merged, pair_cnt): the learned
      merge table in merge order (the tokenizer definition an encode
      service ships);
    - ``vocab/``  — (word, n_sym): every vocabulary word's symbol count
      with all merges applied (the apply-side lookup).

    One training loop total; both outputs are vocabulary-bounded."""
    merges, words, final = _train(spark, sf_dir)
    spark.createDataFrame(
        merges, "round int, merge_pair string, merged string, pair_cnt bigint"
    ).write.mode("overwrite").parquet(f"{path}/merges")
    (
        final.select("word", F.expr("size(split(sym, ' '))").alias("n_sym"))
        .write.mode("overwrite")
        .parquet(f"{path}/vocab")
    )
    words.unpersist()


def bpe_encode_indexed(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """(doc_id, n_words, n_bpe_tokens): row-identical to ``bpe_encode``,
    joining the persisted vocab instead of retraining in-op."""
    vocab = spark.read.parquet(f"{path}/vocab")
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    return (
        docs.select(
            "doc_id", F.explode(F.expr(spark_tokens("text"))).alias("word")
        )
        .join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


def bpe_fertility_indexed(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """(source, n_docs, n_words, n_bpe_tokens, tokens_per_word,
    chars_per_token): row-identical to ``bpe_fertility`` over the
    persisted vocab."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    enc = bpe_encode_indexed(spark, sf_dir, path)
    return (
        docs.join(enc, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
            F.expr(
                "cast(sum(n_bpe_tokens) as double)"
                " / cast(sum(n_words) as double)"
            ).alias("tokens_per_word"),
            F.expr(
                "cast(sum(n_chars) as double)"
                " / cast(sum(n_bpe_tokens) as double)"
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


def _default_index_path(sf_dir: str) -> str:
    """Per-(corpus, version) scratch location: keyed by the resolved
    sf_dir and the documents.parquet mtime, so a regenerated corpus
    forces a retrain while repeat runs reuse the artifact."""
    doc = os.path.join(sf_dir, "documents.parquet")
    mtime = int(os.stat(doc).st_mtime_ns) if os.path.exists(doc) else 0
    tag = hashlib.sha1(
        f"{os.path.realpath(sf_dir)}|{mtime}|{BPE_ROUNDS}".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_bpe_{tag}")


def _ensure_index(spark: SparkSession, sf_dir: str) -> str:
    path = _default_index_path(sf_dir)
    if not (
        os.path.exists(f"{path}/merges/_SUCCESS")
        and os.path.exists(f"{path}/vocab/_SUCCESS")
    ):
        build_bpe_merges(spark, sf_dir, path)
    return path


def bpe_encode_indexed_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry shape (spark, sf_dir): build-if-missing, then apply."""
    return bpe_encode_indexed(spark, sf_dir, _ensure_index(spark, sf_dir))


def bpe_fertility_indexed_entry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry shape (spark, sf_dir): build-if-missing, then apply."""
    return bpe_fertility_indexed(spark, sf_dir, _ensure_index(spark, sf_dir))


BPEINDEX_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "bpe_encode_indexed": bpe_encode_indexed_entry,
    "bpe_fertility_indexed": bpe_fertility_indexed_entry,
}

BPEINDEX_ORACLES: dict[str, str] = {
    # row-identical to the in-op-training forms by construction
    # (pytest-pinned equality) → same oracles
    "bpe_encode_indexed": BPE_ENCODE_SQL,
    "bpe_fertility_indexed": BPE_FERTILITY_SQL,
}
