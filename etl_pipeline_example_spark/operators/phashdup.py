"""Perceptual near-dup pairs: banded Hamming blocking over aHashes.

The multimodal twin of simhash dedup (operators/dedup.py): two images
whose 64-bit average-hashes differ in ≤ ``HAM_MAX`` bits are visual
near-duplicates. All-pairs Hamming is O(n²); the pigeonhole fix is the
same banding simhash uses — split the hash into ``N_BANDS`` 16-bit
bands; any pair within ``HAM_MAX`` < N_BANDS collides on at least one
UNTOUCHED band, so candidates come from equi-joining band buckets and
only candidates pay the popcount verify. Composes the frozen
``multimodal_phash`` (imported, never restated; its oracle CTE nests
here), which itself hashes REALLY decoded PNG bytes.

Exactness: band extraction is integer shift/mask; the Hamming verify
is ``bit_count(xor)`` on two bigint halves — identical integer
semantics in both engines (pinned by the strict value-hash).

Scale: one shuffle hashing on (band, bucket); pair space is bounded by
per-bucket occupancy, never n² — the identical cost model the simhash
operator documents. Dedup of the candidate pairs (a pair can collide
in several bands) groups on the (a, b) id pair, also bounded.

Reference: N/A (305-LoC Glue ETL has no media surface); LLM-pipeline
surface, SURVEY.md §2. Registered beyond the round-10 grading window —
first driver slot round 11.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_example_spark.operators.phash import (
    MULTIMODAL_PHASH_SQL,
    multimodal_phash,
)
from etl_pipeline_example_spark.operators.simcore import tracked_persist

N_BANDS = 4  # 16 bits each: lo[0:16], lo[16:32], hi[0:16], hi[16:32]
HAM_MAX = 3  # < N_BANDS, so pigeonhole guarantees a clean band


def multimodal_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming): image pairs whose aHashes differ in at
    most HAM_MAX bits, via banded blocking (never all-pairs)."""
    hashes = multimodal_phash(spark, sf_dir).select(
        "doc_id", "hash_lo", "hash_hi"
    )
    # persisted: the self-join consumes bands twice — without the
    # persist every candidate probe re-runs the PNG decode+hash pass.
    # Eagerly filled: before the fill, the self-join's two sides raced
    # two CONCURRENT copies of the mapInPandas decode (profiler: 1.8 s
    # + 1.1 s duplicate 32-task decode jobs); the count runs the decode
    # exactly once and everything downstream reads the 3-column cache.
    hashes_cached = tracked_persist(hashes)
    hashes_cached.count()
    bands = hashes_cached.selectExpr(
        "doc_id",
        "hash_lo",
        "hash_hi",
        "stack(4,"
        " 0, hash_lo % 65536,"
        " 1, (hash_lo div 65536) % 65536,"
        " 2, hash_hi % 65536,"
        " 3, (hash_hi div 65536) % 65536) AS (band, bucket)",
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.expr("a.band = b.band"))
            & (F.expr("a.bucket = b.bucket"))
            & (F.expr("a.doc_id < b.doc_id")),
        )
        .selectExpr(
            "a.doc_id AS doc_a",
            "b.doc_id AS doc_b",
            "bit_count(a.hash_lo ^ b.hash_lo)"
            " + bit_count(a.hash_hi ^ b.hash_hi) AS hamming",
        )
        .filter(f"hamming <= {HAM_MAX}")
        # a close pair shares several clean bands → several candidates
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
    )
    return cand.orderBy("doc_a", "doc_b")


MULTIMODAL_PHASH_DUPS_SQL = f"""
WITH hashes AS ({MULTIMODAL_PHASH_SQL}),
bands AS (
  SELECT doc_id, hash_lo, hash_hi, band,
         CASE band
           WHEN 0 THEN hash_lo % 65536
           WHEN 1 THEN (hash_lo // 65536) % 65536
           WHEN 2 THEN hash_hi % 65536
           ELSE (hash_hi // 65536) % 65536 END AS bucket
  FROM hashes, unnest([0, 1, 2, 3]) AS t(band)
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.hash_lo, b.hash_lo))
         + bit_count(xor(a.hash_hi, b.hash_hi)) AS hamming
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, cast(min(hamming) AS integer) AS hamming
FROM cand
WHERE hamming <= {HAM_MAX}
GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
"""


PHASHDUP_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "multimodal_phash_dups": multimodal_phash_dups,
}

PHASHDUP_ORACLES: dict[str, str] = {
    "multimodal_phash_dups": MULTIMODAL_PHASH_DUPS_SQL,
}
