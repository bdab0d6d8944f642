"""Deduplication operators over the ``documents`` table.

Four industry-standard strategies, all expressed as declarative DataFrame
pipelines whose shuffles are bounded by design (no O(n²) pair blowup):

- ``dedup_exact``    — md5(normalized text) groupBy; the only shuffle
  carries (hash, doc_id) pairs.
- ``dedup_minhash``  — MinHash + banded LSH (Broder'97 / LSH banding as in
  Mining of Massive Datasets ch.3): shingle → k minhashes → b bands →
  bucket join. Candidate pairs come from same-band buckets only, then are
  verified with exact Jaccard *within candidates*. Shuffles: one on
  (band, bucket) — bucket sizes are the skew bound, not corpus size.
- ``dedup_simhash``  — 60-bit SimHash (Charikar'02; Manku et al. WWW'07
  for the Google near-dup pipeline): per-token hash votes per bit;
  candidates block on exact match of one of 4 15-bit chunks (pigeonhole
  guarantees recall for hamming ≤ 3), verified by popcount(xor) ≤ 3.
- ``ngram_jaccard``  — inverted-index self-join on shared 3-gram shingles
  with a document-frequency cap (drop shingles in > DF_CAP docs — the
  standard stop-shingle bound that keeps the join linear-ish), exact
  Jaccard ≥ τ.

All hashing is the cross-engine md5 construct (operators/hashing.py), so
every operator has a DuckDB oracle computing the identical result — LSH
candidate generation included.

Caching contract: multi-pass operators (``dedup_minhash``,
``ngram_jaccard``) persist their reused intermediate and leave it
cached — the returned DataFrame is lazy, so the operator can't know when
its consumer is done. They register their caches with
``simcore.tracked_persist``, so the registry releases them when the next
key starts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.hashing import (
    duck_h32,
    duck_hexint,
    duck_norm_text,
    duck_tokens,
    spark_h32,
    spark_hexint,
    spark_norm_text,
    spark_tokens,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist
from etl_pipeline_example_spark.sources.readers import read_table

# ---------------------------------------------------------------- exact dedup


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: (content hash, group size, kept doc_id).

    Emits one row per distinct content with n_dups and the kept (minimum)
    doc_id — the survivor list of an exact-dedup pass.
    """
    # parallel=False: one regex+md5 per row is lighter than a repartition
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.expr(f"md5({spark_norm_text('text')})").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
    )


DEDUP_EXACT_SQL = f"""
SELECT md5({duck_norm_text("text")}) AS content_hash,
       count(*) AS n_dups,
       min(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1
"""

# ------------------------------------------------------------------- shingles

SHINGLE_K = 3


def _spark_shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) distinct rows; docs with < K tokens drop out."""
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    toks = spark_tokens("text")
    return (
        docs.select("doc_id", F.expr(toks).alias("tk"))
        .filter(F.expr(f"size(tk) >= {SHINGLE_K}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(0, size(tk) - {SHINGLE_K}),"
                    f" j -> concat_ws(' ', slice(tk, j + 1, {SHINGLE_K}))))"
                )
            ).alias("shingle"),
        )
    )


_DUCK_SHINGLES_CTE = f"""
tok_tbl AS (
  SELECT doc_id, {duck_tokens("text")} AS tk FROM documents
),
shingle_tbl AS (
  SELECT DISTINCT doc_id,
         unnest([ concat(tk[j + 1], ' ', tk[j + 2], ' ', tk[j + 3])
                  for j in range(0, len(tk) - {SHINGLE_K} + 1) ]) AS shingle
  FROM tok_tbl
  WHERE len(tk) >= {SHINGLE_K}
)
"""

# ------------------------------------------------------------------- minhash

MH_NUM_HASHES = 16
MH_BANDS = 8
MH_ROWS = 2  # MH_BANDS * MH_ROWS == MH_NUM_HASHES
MH_TAU = 0.5
MH_PRIME = 2147483647  # 2^31 - 1; h1 + 16*h2 < 2^37 — no 64-bit overflow


def _minhash_signature_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(shingles, sig): the persisted shingle spine and the persisted
    per-doc signature table (doc_id, n_sh, m0..m15).

    Both persist (module caching contract above): ``sig`` alone has
    THREE plan references inside ``dedup_minhash`` (band explode + both
    shingle-count joins) and a fourth in ``minhash_calibration`` —
    unpersisted, each reference re-ran the 17-aggregate groupBy over
    the shingle table as its own concurrent job (profiler: a wave of
    ~8 duplicate ~200 ms scan/aggregate jobs before any cache filled).
    """
    shingles = tracked_persist(_spark_shingle_table(spark, sf_dir))
    hashed = shingles.select(
        "doc_id",
        F.expr(spark_h32("shingle", 1)).alias("h1"),
        F.expr(spark_h32("shingle", 17)).alias("h2"),
    )
    sig = tracked_persist(
        hashed.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_sh"),
            *[
                F.min(F.expr(f"(h1 + {i + 1} * h2) % {MH_PRIME}")).alias(f"m{i}")
                for i in range(MH_NUM_HASHES)
            ],
        )
    )
    return shingles, sig


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified with exact Jaccard ≥ τ.

    Plan shape: shingle explode (persisted — reused by the signature pass
    and both sides of the verify join, the standard multi-pass reuse
    ``persist`` exists for) → per-doc signature as 16 scalar ``min()``
    aggregates in ONE groupBy (partial-aggregated map-side, whole-stage
    codegen; doc shingle-count rides in the same pass) → band explode
    (b rows per doc) → self-join on (band, bucket) → distinct candidate
    pairs → shingle-join Jaccard verify. Every join key is
    content-derived; AQE's skew handling splits hot buckets.

    Hashing is Kirsch–Mitzenmacher double hashing: ONE md5 per shingle
    yields (h1, h2) 32-bit slices, and mh_i = (h1 + (i+1)·h2) mod p —
    16 hash functions for 1/16th the md5 cost, same theoretical minhash
    guarantees (Kirsch & Mitzenmacher, ESA'06).
    """
    shingles, sig = _minhash_signature_tables(spark, sf_dir)
    band_cols = [
        F.struct(
            F.lit(j).alias("band"),
            F.expr(
                "md5(concat_ws('_', "
                + ", ".join(f"m{j * MH_ROWS + r}" for r in range(MH_ROWS))
                + "))"
            ).alias("bucket"),
        )
        for j in range(MH_BANDS)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    shingle_counts = sig.select("doc_id", "n_sh")
    common = (
        cand.join(shingles.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            shingles.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(shingle_counts.alias("ca"), F.col("doc_a") == F.col("ca.doc_id"))
        .join(shingle_counts.alias("cb"), F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "round(cast(n_common as double)"
                " / (ca.n_sh + cb.n_sh - n_common), 6)"
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= MH_TAU)
    )


_DUCK_MINS = ",\n         ".join(
    f"min((h1 + {i + 1} * h2) % {MH_PRIME}) AS m{i}" for i in range(MH_NUM_HASHES)
)
_DUCK_BANDS = " UNION ALL ".join(
    "SELECT doc_id, "
    + str(j)
    + " AS band, md5(concat_ws('_', "
    + ", ".join(f"m{j * MH_ROWS + r}" for r in range(MH_ROWS))
    + ")) AS bucket FROM sig"
    for j in range(MH_BANDS)
)

# CTE chain up to the verified pair set, reusable by downstream oracles
# (operators/cluster.py wraps it in a WITH RECURSIVE for components).
MINHASH_PAIR_CTES = f"""{_DUCK_SHINGLES_CTE},
hashed AS (
  SELECT doc_id, {duck_h32("shingle", 1)} AS h1, {duck_h32("shingle", 17)} AS h2
  FROM shingle_tbl
),
sig AS (
  SELECT doc_id, count(*) AS n_sh,
         {_DUCK_MINS}
  FROM hashed GROUP BY doc_id
),
bands AS (
  {_DUCK_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN shingle_tbl sa ON sa.doc_id = c.doc_a
  JOIN shingle_tbl sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
mh_pairs AS (
  SELECT m.doc_a, m.doc_b,
         round(cast(m.n_common as double) / (ca.n_sh + cb.n_sh - m.n_common), 6) AS jaccard
  FROM common m
  JOIN sig ca ON ca.doc_id = m.doc_a
  JOIN sig cb ON cb.doc_id = m.doc_b
  WHERE round(cast(m.n_common as double) / (ca.n_sh + cb.n_sh - m.n_common), 6) >= {MH_TAU}
)"""

DEDUP_MINHASH_SQL = f"""
WITH {MINHASH_PAIR_CTES}
SELECT doc_a, doc_b, jaccard FROM mh_pairs
"""

# ------------------------------------------------------------------- simhash

SH_BITS = 60
SH_CHUNKS = 4
SH_CHUNK_BITS = 15
SH_MAX_HAMMING = 3


def simhash_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct chunk-blocked candidate pairs (doc_a, doc_b, hamming) —
    the shared simhash construction, NO hamming cutoff. ``dedup_simhash``
    filters it at ``SH_MAX_HAMMING``; ``simhash_hamming_hist``
    (operators/hamminghist.py) histograms it for threshold calibration.
    One construction site (the round-8 textual-sync debt, folded per the
    round-8 verdict).

    Fingerprint: per distinct token, the md5-hash contributes ±1 votes per
    bit; bit set iff vote sum ≥ 0. Candidates block on one of 4 exact
    15-bit chunks (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 chunk equal), then exact
    popcount(xor). The chunk join is the only shuffle; the candidate
    space is bounded by the 15-bit blocking, never all-pairs.
    """
    docs = read_table(spark, sf_dir, "documents", parallel=True)
    toks = spark_tokens("text")
    th = spark_hexint("t")
    # One scalar sum per bit instead of an array fold: 60 partial-aggregated
    # columns stay in whole-stage codegen and shuffle 60 longs per doc;
    # the collect_list(array)+zip_with fold materialized every token's
    # 60-element vote array (measured 3× slower).
    bit_sums = (
        docs.select("doc_id", F.explode(F.expr(f"array_distinct({toks})")).alias("t"))
        .select("doc_id", F.expr(th).alias("h"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            *[
                F.sum(F.expr(f"(h >> {p}) & 1")).alias(f"b{p}")
                for p in range(SH_BITS)
            ],
        )
    )
    # bit p set iff vote sum >= 0 iff 2 * ones_p >= n_tok
    fp_expr = " + ".join(
        f"CASE WHEN 2 * b{p} >= n_tok THEN shiftleft(cast(1 as bigint), {p})"
        " ELSE cast(0 as bigint) END"
        for p in range(SH_BITS)
    )
    fp = bit_sums.select("doc_id", F.expr(fp_expr).alias("fp"))
    chunks = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.expr(
                f"transform(sequence(0, {SH_CHUNKS - 1}),"
                f" c -> named_struct('chunk', c, 'val',"
                f" (fp >> (c * {SH_CHUNK_BITS})) & {2**SH_CHUNK_BITS - 1}))"
            )
        ).alias("cc"),
    ).select("doc_id", "fp", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.val") == F.col("b.val")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.fp ^ b.fp)").alias("hamming"),
        )
        .distinct()
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit fingerprints, hamming ≤ 3
    (Charikar'02; Manku et al. WWW'07). The hamming filter sits above
    the shared blocked-pairs plan; Catalyst pushes it through the
    Deduplicate and into the chunk-join's condition itself
    (plan-audited), so candidates are cut before the distinct — the
    executed shape is identical to the pre-fold plan."""
    return simhash_blocked_pairs(spark, sf_dir).filter(
        F.col("hamming") <= SH_MAX_HAMMING
    )


# the shared CTE chain (through the distinct blocked-pair set); each
# consumer composes its own final SELECT
SIMHASH_PAIRS_CTES = f"""tok_tbl AS (
  SELECT doc_id, {duck_tokens("text")} AS tk FROM documents
),
tokens AS (
  SELECT DISTINCT doc_id, unnest(tk) AS t FROM tok_tbl
),
hashes AS (
  SELECT doc_id, {duck_hexint("t")} AS h FROM tokens
),
bitvotes AS (
  SELECT doc_id, p, sum(CASE WHEN (h >> p) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM hashes, (SELECT unnest(range(0, {SH_BITS})) AS p)
  GROUP BY doc_id, p
),
fp_tbl AS (
  SELECT doc_id,
         sum(CASE WHEN vote >= 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS fp
  FROM bitvotes GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, fp, c AS chunk,
         (fp >> (c * {SH_CHUNK_BITS})) & {2**SH_CHUNK_BITS - 1} AS val
  FROM fp_tbl, (SELECT unnest(range(0, {SH_CHUNKS})) AS c)
),
sim_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.fp, b.fp)) AS hamming
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)"""

DEDUP_SIMHASH_SQL = f"""
WITH {SIMHASH_PAIRS_CTES}
SELECT doc_a, doc_b, hamming FROM sim_pairs
WHERE hamming <= {SH_MAX_HAMMING}
"""

# -------------------------------------------------------------- ngram jaccard

NJ_TAU = 0.4
NJ_DF_CAP = 100


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via inverted-index join.

    Shingles with document frequency > DF_CAP are dropped from the *pairing*
    index (stop-shingles — they would square the join); Jaccard is computed
    over the capped shingle sets on both sides, so the metric is exact w.r.t.
    the capped representation and identical in the oracle.
    """
    sh = tracked_persist(_spark_shingle_table(spark, sf_dir))
    df_ok = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= NJ_DF_CAP
    )
    capped = tracked_persist(sh.join(F.broadcast(df_ok.select("shingle")), "shingle"))
    # persisted (r18): both final joins broadcast `counts`, and the two
    # broadcast builds each re-ran the groupBy over the capped spine
    # (plan: two BroadcastExchange subtrees aggregating capped); cached,
    # the second build reads G tiny (doc_id, n_sh) rows. ~1 row per doc
    # at any scale — two longs per row, safe to hold at 100 TB.
    counts = tracked_persist(
        capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    )
    a, b = capped.alias("a"), capped.alias("b")
    common = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(counts.alias("ca"), F.col("doc_a") == F.col("ca.doc_id"))
        .join(counts.alias("cb"), F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "round(cast(n_common as double) / (ca.n_sh + cb.n_sh - n_common), 6)"
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NJ_TAU)
    )


NGRAM_JACCARD_SQL = f"""
WITH {_DUCK_SHINGLES_CTE},
df_ok AS (
  SELECT shingle FROM shingle_tbl GROUP BY shingle HAVING count(*) <= {NJ_DF_CAP}
),
capped AS (
  SELECT s.doc_id, s.shingle FROM shingle_tbl s JOIN df_ok USING (shingle)
),
counts AS (
  SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY doc_id
),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT m.doc_a, m.doc_b,
       round(cast(m.n_common as double) / (ca.n_sh + cb.n_sh - m.n_common), 6) AS jaccard
FROM common m
JOIN counts ca ON ca.doc_id = m.doc_a
JOIN counts cb ON cb.doc_id = m.doc_b
WHERE round(cast(m.n_common as double) / (ca.n_sh + cb.n_sh - m.n_common), 6) >= {NJ_TAU}
"""


DEDUP_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": dedup_exact,
    "dedup_minhash": dedup_minhash,
    "dedup_simhash": dedup_simhash,
    "ngram_jaccard": ngram_jaccard,
}

DEDUP_ORACLES: dict[str, str] = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_minhash": DEDUP_MINHASH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "ngram_jaccard": NGRAM_JACCARD_SQL,
}
