"""Corpus-preparation operators for LLM training-data pipelines: document
chunking, deterministic sampling, TF-IDF term extraction, PII scrubbing.

Each is a pure column-expression pipeline (JVM-side, whole-stage codegen;
zero Python in the hot path) with a DuckDB oracle computing the identical
result via the shared deterministic hash/tokenizer (operators/hashing.py).

Scale notes (100 TB / 1000 executors):
- ``doc_chunk`` is a per-row explode — embarrassingly parallel, output
  rows ≈ token count / chunk size, no shuffle at all.
- ``sample_hash`` replaces ``df.sample()`` for pipeline use: hash-gated
  sampling is deterministic, re-runnable, and join-stable (the same doc is
  in or out on every run and every replica) — seeded ``sample()`` is only
  stable for a fixed partitioning, which repartitions silently break.
- ``tfidf_top`` shuffles (term, df) then (doc, term, tf) — both bounded
  by vocabulary/corpus size; the final top-k is a per-doc window
  (WindowGroupLimit, no global sort). IDF uses the exact rational
  (N+1)/(df+1) rather than its logarithm so ranking arithmetic is a
  single IEEE division, bit-identical across engines; swap in
  ``ln()`` when absolute scores (not ranks) matter.
- ``pii_scrub`` is a regex pass per row; patterns are kept RE2-safe so
  the same expressions run on Spark (Java regex) and DuckDB (RE2).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import (
    duck_hexint,
    duck_tokens,
    spark_hexint,
    spark_tokens,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

# ------------------------------------------------------------------ chunking

CHUNK_TOKENS = 32


def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into fixed-size token windows (stride = size).

    Output: (doc_id, chunk_id, chunk_text, n_tokens). The last chunk may
    be short; empty docs drop out. This is the standard pre-tokenization
    windowing step before embedding/packing.
    """
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    toks = spark_tokens("text")
    return (
        docs.select("doc_id", F.expr(toks).alias("tk"))
        .filter(F.expr("size(tk) > 0"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, (size(tk) - 1) div {CHUNK_TOKENS}),"
                    f" c -> concat_ws(' ', slice(tk, c * {CHUNK_TOKENS} + 1, {CHUNK_TOKENS})))"
                )
            ).alias("chunk_id", "chunk_text"),
        )
        .withColumn("n_tokens", F.expr("size(split(chunk_text, ' '))"))
    )


DOC_CHUNK_SQL = f"""
WITH tk_tbl AS (
  SELECT doc_id, {duck_tokens("text")} AS tk FROM documents
)
SELECT doc_id, c AS chunk_id,
       array_to_string(tk[c * {CHUNK_TOKENS} + 1 : (c + 1) * {CHUNK_TOKENS}], ' ') AS chunk_text,
       len(tk[c * {CHUNK_TOKENS} + 1 : (c + 1) * {CHUNK_TOKENS}]) AS n_tokens
FROM tk_tbl, (SELECT unnest(range(0, (
    SELECT coalesce(max((len(tk) - 1) // {CHUNK_TOKENS}), 0) + 1 FROM tk_tbl
  ))) AS c)
WHERE len(tk) > 0 AND c <= (len(tk) - 1) // {CHUNK_TOKENS}
"""

# ------------------------------------------------------------------ sampling

SAMPLE_MOD = 8  # keep 1-in-8


def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gated sample: keep a doc iff
    ``hash('sample:' || doc_id) % 8 == 0``.

    Unlike seeded ``df.sample()`` this is stable across runs, partitionings
    and engines — the property a reproducible training-data pipeline needs
    (the sample is a *function of the row*, not of the scan order).
    """
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    gate = spark_hexint("concat('sample:', cast(doc_id as string))")
    return docs.filter(F.expr(f"pmod({gate}, {SAMPLE_MOD}) = 0")).select(
        "doc_id", "lang", "source", "n_chars"
    )


SAMPLE_HASH_SQL = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {duck_hexint("concat('sample:', cast(doc_id as varchar))")} % {SAMPLE_MOD} = 0
"""

# -------------------------------------------------------------------- tf-idf

TFIDF_TOP_K = 3


def tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF.

    score = tf/n_tok * (N+1)/(df+1), computed as one integer product per
    side of a single double division — deterministic across engines. Rank
    ties break on term (ascending) so the top-k set is unique.
    """
    # parallel=False: the tokenize here is one cheap regex per row — the
    # repartition shuffle costs more than the 32× compute fan-out buys
    # (unlike the md5-heavy shingle operators); at scale the scan itself
    # carries the parallelism
    docs = read_table(spark, sf_dir, "documents")
    toks = spark_tokens("text")
    # persisted: tf, n_tok, df and N are four scans of the same explode
    terms = tracked_persist(
        docs.select("doc_id", F.explode(F.expr(toks)).alias("term"))
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_tok = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    df_tbl = terms.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = terms.select("doc_id").distinct().agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(n_tok, "doc_id")
        .join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.expr(
                "cast(tf * (n_docs + 1) as double) / (n_tok * (df + 1))"
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tf", "df", F.expr("round(score, 9)").alias("score"))
    )


TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest({duck_tokens("text")}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
n_tok AS (SELECT doc_id, count(*) AS n_tok FROM terms GROUP BY doc_id),
df_tbl AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
n_docs AS (SELECT count(DISTINCT doc_id) AS n_docs FROM terms),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df_tbl.df,
         cast(tf.tf * (n_docs.n_docs + 1) as double) / (n_tok.n_tok * (df_tbl.df + 1)) AS score
  FROM tf JOIN n_tok USING (doc_id) JOIN df_tbl USING (term) CROSS JOIN n_docs
),
ranked AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, rank, term, tf, df, round(score, 9) AS score
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""

# ----------------------------------------------------------------- PII scrub

# Backslash-free on purpose: these are interpolated into SQL string
# literals on BOTH engines, and Spark SQL literal parsing eats lone
# backslashes ('\d' becomes 'd', '\.' becomes '.'), silently changing the
# pattern. Character classes ([0-9], [.]) survive literal parsing intact
# and mean the same thing in Java regex and RE2.
EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}"
PHONE_RE = "[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact email/phone patterns; emit match counts + scrubbed-text hash.

    The hash (not the text) is the output so the operator verifies the
    *replacement* semantics cross-engine without shipping full text
    through the compare. Patterns are RE2-compatible (no backrefs or
    lookaround) so Java regex and RE2 agree.
    """
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    return docs.select(
        "doc_id",
        F.expr(f"regexp_count(text, '{EMAIL_RE}')").alias("n_emails"),
        F.expr(f"regexp_count(text, '{PHONE_RE}')").alias("n_phones"),
        F.expr(
            f"md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>'),"
            f" '{PHONE_RE}', '<PHONE>'))"
        ).alias("scrubbed_hash"),
    )


PII_SCRUB_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_hash
FROM documents
"""


# ----------------------------------------------------------------- packing

PACK_BUDGET = 256  # tokens per training sequence bin
PACK_SHARDS = 8  # independent packing streams per lang


def doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: assign each document a bin and
    offset in a stream of ``PACK_BUDGET``-token training sequences.

    Documents are ordered deterministically (doc_id) within a
    (lang, shard) stream; each doc's bin is its starting token offset
    div the budget — the standard "concatenate everything, then cut
    fixed windows" packing used to build LLM pretraining batches (docs
    may straddle a boundary; the tokenizer's EOD handling deals with it).

    Scale: the window partitions by (lang, shard = doc_id % 8), never by
    lang alone — lang cardinality is tiny, so per-lang windows would put
    an entire language's corpus in ONE task; sharding keeps window state
    bounded while each shard remains a deterministic, independently
    packable stream (packing streams are embarrassingly parallel by
    construction — a cluster would use thousands of shards).
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = spark_tokens("text")
    with_len = docs.select(
        "doc_id",
        "lang",
        F.expr(f"doc_id % {PACK_SHARDS}").alias("shard"),
        F.expr(f"size({toks})").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return with_len.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("start_offset"),
    ).select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        F.expr(f"cast(start_offset div {PACK_BUDGET} as bigint)").alias("bin_id"),
        F.expr(f"start_offset % {PACK_BUDGET}").alias("bin_offset"),
    )


DOC_PACK_SQL = f"""
WITH with_len AS (
  SELECT doc_id, lang, doc_id % {PACK_SHARDS} AS shard,
         len({duck_tokens("text")}) AS n_tokens
  FROM documents
),
offs AS (
  SELECT doc_id, lang, shard, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY lang, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
  FROM with_len WHERE n_tokens > 0
)
SELECT doc_id, lang, shard, n_tokens,
       cast(start_offset // {PACK_BUDGET} as bigint) AS bin_id,
       cast(start_offset % {PACK_BUDGET} as bigint) AS bin_offset
FROM offs
"""


# ------------------------------------------------------- stratified sampling

# per-language keep rates: keep 1-in-N. The high-resource lang is
# downsampled harder — the standard corpus-rebalancing move.
STRAT_RATES = {"en": 4, "de": 2, "fr": 2, "es": 2, "zh": 1}
STRAT_DEFAULT = 2


def _rate_case() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {n}" for lang, n in sorted(STRAT_RATES.items())
    )
    return f"CASE lang {whens} ELSE {STRAT_DEFAULT} END"


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic sampling: keep 1-in-rate(lang)
    docs, hash-gated per row.

    Same properties as ``sample_hash`` (stable across runs, partitionings
    and engines) but with a per-group rate — how a multilingual corpus is
    rebalanced (e.g. en downsampled 4×, zh kept whole) without a shuffle:
    the gate is a pure column predicate evaluated in the scan.
    """
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    gate = spark_hexint("concat('strat:', cast(doc_id as string))")
    return docs.filter(
        F.expr(f"pmod({gate}, {_rate_case()}) = 0")
    ).select("doc_id", "lang", "source", "n_chars")


SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {duck_hexint("concat('strat:', cast(doc_id as varchar))")} % ({_rate_case()}) = 0
"""


# -------------------------------------------------------- repeated passages

BOILER_MIN_DOCS = 2


def boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated passages: fixed-width token chunks whose
    exact text occurs in ≥ 2 distinct documents — the chunk-granular
    form of exact-substring dedup (boilerplate headers, license blobs,
    templated passages).

    Reuses the doc_chunk windowing; the only shuffle carries
    (chunk_hash, doc_id) pairs, and the output is the removal list a
    cleaning pass would anti-join against. At 100 TB the chunk-hash key
    space is what you'd bucket by.
    """
    chunks = doc_chunk(spark, sf_dir).select(
        "doc_id", F.expr("md5(chunk_text)").alias("chunk_hash")
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
    )


BOILERPLATE_SQL = f"""
WITH tk_tbl AS (
  SELECT doc_id, {duck_tokens("text")} AS tk FROM documents
),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(tk[c * {CHUNK_TOKENS} + 1 : (c + 1) * {CHUNK_TOKENS}], ' ')) AS chunk_hash
  FROM tk_tbl, (SELECT unnest(range(0, (
      SELECT coalesce(max((len(tk) - 1) // {CHUNK_TOKENS}), 0) + 1 FROM tk_tbl
    ))) AS c)
  WHERE len(tk) > 0 AND c <= (len(tk) - 1) // {CHUNK_TOKENS}
)
SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
FROM chunks GROUP BY 1 HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
"""


# --------------------------------------------------------------- mix weights


def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights to rebalance the corpus toward a
    uniform domain mix: weight = target_share / actual_token_share.

    The static-reweighting computation behind domain-mixture tuning
    (uniform target here; a tuned target vector drops in the same way).
    One grouped pass for per-source token counts, a one-row broadcast for
    the totals — the weights table is then a broadcast-joinable side
    input to the sampling pass.
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = spark_tokens("text")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(f"sum(size({toks}))").alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("round(cast(n_tokens as double) / total_tokens, 9)").alias("token_share"),
        F.expr(
            "round((1.0 / n_sources) / (cast(n_tokens as double) / total_tokens), 9)"
        ).alias("sample_weight"),
    )


MIX_WEIGHTS_SQL = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         cast(sum(len({duck_tokens("text")})) AS bigint) AS n_tokens
  FROM documents GROUP BY source
),
totals AS (
  SELECT sum(n_tokens) AS total_tokens, count(*) AS n_sources FROM per_src
)
SELECT source, n_docs, n_tokens,
       round(cast(n_tokens as double) / total_tokens, 9) AS token_share,
       round((1.0 / n_sources) / (cast(n_tokens as double) / total_tokens), 9)
         AS sample_weight
FROM per_src, totals
"""


CORPUS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "doc_chunk": doc_chunk,
    "sample_hash": sample_hash,
    "tfidf_top": tfidf_top,
    "pii_scrub": pii_scrub,
    "doc_pack": doc_pack,
    "sample_stratified": sample_stratified,
    "mix_weights": mix_weights,
    "boilerplate_chunks": boilerplate_chunks,
}

CORPUS_ORACLES: dict[str, str] = {
    "doc_chunk": DOC_CHUNK_SQL,
    "sample_hash": SAMPLE_HASH_SQL,
    "tfidf_top": TFIDF_SQL,
    "pii_scrub": PII_SCRUB_SQL,
    "doc_pack": DOC_PACK_SQL,
    "sample_stratified": SAMPLE_STRATIFIED_SQL,
    "mix_weights": MIX_WEIGHTS_SQL,
    "boilerplate_chunks": BOILERPLATE_SQL,
}
