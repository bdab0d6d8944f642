"""Hand-verifiable unit tests for the round-8 additions.

The oracle tests prove Spark and DuckDB agree; these prove the shared
semantics are the INTENDED ones — and, for the persisted-index gate,
that the production probe path is row-identical to the oracle-shaped
in-op-build gate.
"""

from __future__ import annotations


def _write_docs(spark, tmp_path, rows):
    """rows: list of (doc_id, text, lang, source). Writes the documents
    table layout the operators read."""
    df = spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_neardup_index_probe_matches_in_op_build(spark, tmp_path):
    """build_neardup_index + stream_neardup_gate_indexed must emit
    exactly the rows stream_neardup_gate computes with its in-op
    history build — the round-7 perf-weak flag's production shape —
    and the artifact must contain the two narrow tables (no text, no
    shingles: the index is schema-bounded regardless of doc size)."""
    from etl_pipeline_example_spark.streaming.neargate import stream_neardup_gate
    from etl_pipeline_example_spark.streaming.neargate_index import (
        build_neardup_index,
        stream_neardup_gate_indexed,
    )

    sf = "/root/testdata/sf0.001"
    path = str(tmp_path / "neardup_index")
    build_neardup_index(spark, sf, path)

    sig = spark.read.parquet(f"{path}/signatures")
    bands = spark.read.parquet(f"{path}/bands")
    assert sig.columns[0] == "other" and len(sig.columns) == 17
    assert sorted(bands.columns) == ["band", "bucket", "other"]
    assert bands.count() == sig.count() * 8  # MH_BANDS cells per doc

    indexed = sorted(
        (r["doc_id"], r["near_hist"])
        for r in stream_neardup_gate_indexed(spark, sf, path).collect()
    )
    inop = sorted(
        (r["doc_id"], r["near_hist"])
        for r in stream_neardup_gate(spark, sf).collect()
    )
    assert indexed == inop
    assert len(indexed) > 0
    assert any(flag for _, flag in indexed)  # the gate actually fires


def test_pipeline_retries_transient_failure_and_skips_done_tasks():
    """Reference-parity retry/idempotency (dags/example_etl_dag.py
    task_args): a task failing twice with retries=2 succeeds on the
    third attempt; a re-run of the completed pipeline skips tasks whose
    done-probe holds and re-invokes (overwrite-atomic) the rest; a task
    exhausting retries fails the run and blocks downstream tasks."""
    import pytest

    from etl_pipeline_example_spark.pipeline.dag import Pipeline

    calls = {"flaky": 0, "always": 0}
    produced = []

    def flaky():
        calls["flaky"] += 1
        if calls["flaky"] < 3:
            raise OSError("transient")
        produced.append("out")
        return "ok"

    def always():
        calls["always"] += 1
        return "rewritten"

    p = Pipeline("etl", schedule="30 13 * * 0")
    p.task("extract", flaky, retries=2, done=lambda: "out" in produced)
    p.task("curate", always, after=["extract"])
    r1 = p.run()
    assert r1 == {"extract": "ok", "curate": "rewritten"}
    assert calls["flaky"] == 3
    assert p.last_state["extract"] == {"status": "success", "attempts": 3}

    # full re-run of a completed DAG: probed task is a no-op, the
    # overwrite-atomic task re-runs cleanly
    r2 = p.run()
    assert calls["flaky"] == 3  # not re-invoked
    assert p.last_state["extract"]["status"] == "skipped"
    assert r2["curate"] == "rewritten" and calls["always"] == 2

    # retries exhausted -> run fails, downstream blocked
    p2 = Pipeline("etl2")
    p2.task("boom", lambda: (_ for _ in ()).throw(OSError("down")), retries=1)
    p2.task("after", lambda: "never", after=["boom"])
    with pytest.raises(RuntimeError, match="task 'boom' failed"):
        p2.run()
    assert p2.last_state["boom"] == {"status": "failed", "attempts": 2}
    assert p2.last_state["after"]["status"] == "blocked"


def test_spark_job_submits_polls_and_propagates(tmp_path):
    """run_glue_job.py parity (reference python_scripts/run_glue_job.py:
    submit → wait_for_completion): a real engine stage runs in its OWN
    interpreter via SparkJob, its job_arguments arrive as argv, success
    is observable in the artifact it writes, and a crashing job raises
    JobFailedError carrying the exit code and the log tail."""
    import pytest

    from etl_pipeline_example_spark.pipeline.jobrun import JobFailedError, SparkJob

    job_dir = tmp_path / "count_job"
    job_dir.mkdir()
    (job_dir / "job.py").write_text(
        """
import argparse
ap = argparse.ArgumentParser()
ap.add_argument("--snapshot_date", required=True)
ap.add_argument("--out", required=True)
args = ap.parse_args()

from etl_pipeline_example_spark import get_spark
from etl_pipeline_example_spark.functions.transforms import version_stamp
from etl_pipeline_example_spark.sources.readers import read_table

spark = get_spark()
docs = read_table(spark, "/root/testdata/sf0.001", "documents")
out = version_stamp(docs.groupBy("source").count(), args.snapshot_date)
out.write.mode("overwrite").parquet(args.out)
spark.stop()
"""
    )
    out = str(tmp_path / "out.parquet")
    job = SparkJob(
        str(job_dir),
        job_arguments={"--snapshot_date": "2026-08-14", "--out": out},
    )
    assert job.state == "READY"
    job.run_job()
    assert job.wait_for_completion(poll_seconds=0.2) == "SUCCEEDED"

    import duckdb

    rows = duckdb.sql(f"SELECT count(*) n, min(dea_version) v FROM '{out}/*.parquet'").fetchone()
    assert rows[0] > 0 and rows[1] == "2026-08-14"

    bad_dir = tmp_path / "bad_job"
    bad_dir.mkdir()
    (bad_dir / "job.py").write_text("import sys; print('igniting'); sys.exit(3)\n")
    bad = SparkJob(str(bad_dir))
    bad.run_job()
    with pytest.raises(JobFailedError) as ei:
        bad.wait_for_completion(poll_seconds=0.1)
    assert ei.value.exit_code == 3
    assert "igniting" in ei.value.log_tail


def test_shard_feed_drain_source_is_a_single_micro_batch(spark, tmp_path):
    """Round-7 ADVICE guard: stream_shard_feed's stream/batch parity
    holds only if the AvailableNow drain runs as ONE micro-batch (the
    per-source fold is arrival-ordered; a split drain would fold
    cross-batch and diverge from the global prefix-sum oracle). Pin the
    premise the op relies on: its own source, ``read_documents_stream``
    (single parquet file, pathGlobFilter, NO maxFilesPerTrigger), drains
    sf0.01 in exactly one batch. Any future edit that batches the source (e.g.
    maxFilesPerTrigger) must revisit shardfeed.py's fold."""
    import uuid

    from etl_pipeline_example_spark.sources.readers import read_documents_stream

    sf = "/root/testdata/sf0.01"
    src = read_documents_stream(spark, sf)
    sink = f"shardfeed_drain_probe_{uuid.uuid4().hex[:8]}"
    q = (
        src.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    total = sum(p["numInputRows"] for p in progress)
    expected = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert total == expected
    assert len(data_batches) == 1, [
        (p["batchId"], p["numInputRows"]) for p in progress
    ]


def test_png_and_wav_codecs_roundtrip_exactly():
    """The real-decoder contract independent of Spark: a PNG encoded
    with ALL FIVE scanline filters (y % 5) decodes back to the exact
    pixel array; a corrupted chunk fails CRC; WAV PCM round-trips
    bit-exactly with the declared rate."""
    import numpy as np
    import pytest

    from etl_pipeline_example_spark.operators.mediapixels import (
        decode_png,
        decode_wav,
        encode_png,
        encode_wav,
    )

    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)  # >=5 rows: all filters
    payload = encode_png(img)
    assert np.array_equal(decode_png(payload), img)

    corrupt = bytearray(payload)
    corrupt[40] ^= 0xFF  # inside IDAT body
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(corrupt))

    smp = rng.integers(-2048, 2048, size=(333, 2)).astype(np.int16)
    back, rate = decode_wav(encode_wav(smp, 16000))
    assert rate == 16000 and np.array_equal(back, smp)


def test_multimodal_decode_stats_match_planted_pattern(spark, tmp_path):
    """One image doc + one audio doc with hand-computable stats: the
    operator's n/sum/max columns equal the planted-pattern arithmetic
    computed here in plain Python."""
    from etl_pipeline_example_spark.operators.mediapixels import (
        multimodal_decode,
        planted_pixels,
        planted_samples,
    )

    sf = _write_docs(spark, tmp_path, [(0, "img doc", "en", "s"), (1, "wav doc", "en", "s")])
    rows = {r["doc_id"]: r for r in multimodal_decode(spark, sf).collect()}
    px = planted_pixels(0)
    assert rows[0]["media_type"] == "image"
    assert (rows[0]["n_px"], rows[0]["sum_px"], rows[0]["max_px"]) == (
        px.size, int(px.sum()), int(px.max()),
    )
    smp = planted_samples(1)
    assert rows[1]["media_type"] == "audio"
    assert (rows[1]["n_samples"], rows[1]["sum_amp"], rows[1]["max_amp"]) == (
        smp.size, int(smp.sum()), int(smp.max()),
    )


def test_dup_cluster_sizes_histograms_planted_clusters(spark, tmp_path):
    """3 copies of A + 2 copies of B + 1 unique: histogram rows must be
    exactly (1,1,1), (2,1,2), (3,1,3) and Σ n_docs re-derives 6."""
    from etl_pipeline_example_spark.operators.clustersizes import dup_cluster_sizes

    a, b = "alpha beta gamma", "delta epsilon"
    sf = _write_docs(
        spark, tmp_path,
        [(0, a, "en", "s"), (1, a, "en", "s"), (2, a, "en", "s"),
         (3, b, "en", "s"), (4, b, "en", "s"), (5, "zeta eta", "en", "s")],
    )
    rows = [
        (r["cluster_size"], r["n_clusters"], r["n_docs"])
        for r in dup_cluster_sizes(spark, sf).collect()
    ]
    assert rows == [(1, 1, 1), (2, 1, 2), (3, 1, 3)]
    assert sum(n for _, _, n in rows) == 6


def test_bigram_coverage_counts_top_list_positions(spark, tmp_path):
    """Corpus with >BG_TOP distinct bigrams: doc B ('x1 x2' repeated)
    owns the two head bigrams, so its coverage is 1.0; doc A's 149
    singleton bigrams admit only the 98 lexicographically smallest
    after the two head slots — coverage exactly 98/149."""
    from etl_pipeline_example_spark.operators.bigramcov import (
        BG_TOP,
        bigram_coverage,
    )

    assert BG_TOP == 100  # the hand computation below assumes it
    a_tokens = [f"a{i:03d}" for i in range(150)]  # 149 singleton bigrams
    doc_a = " ".join(a_tokens)
    doc_b = "x1 x2 " * 30  # bigrams: 'x1 x2'×30, 'x2 x1'×29
    sf = _write_docs(spark, tmp_path, [(0, doc_a, "en", "s"), (1, doc_b, "en", "s")])
    rows = {r["doc_id"]: r for r in bigram_coverage(spark, sf).collect()}
    assert (rows[1]["n_bigrams"], rows[1]["n_top"], rows[1]["cover"]) == (59, 59, 1.0)
    assert (rows[0]["n_bigrams"], rows[0]["n_top"]) == (149, 98)
    assert rows[0]["cover"] == 98 / 149


def test_simhash_hamming_hist_pins_the_identical_pair(spark, tmp_path):
    """Two identical docs must contribute exactly one hamming=0 pair,
    and no other blocked pair may sit inside the near-dup band
    (hamming ≤ 3) for the disjoint third doc."""
    from etl_pipeline_example_spark.operators.hamminghist import simhash_hamming_hist

    t = "the quick brown fox jumps over the lazy dog again and again"
    sf = _write_docs(
        spark, tmp_path,
        [(0, t, "en", "s"), (1, t, "en", "s"),
         (2, "completely different words about spark query planning", "en", "s")],
    )
    rows = {r["hamming"]: r["n_pairs"] for r in simhash_hamming_hist(spark, sf).collect()}
    assert rows.get(0) == 1
    assert sum(n for h, n in rows.items() if h <= 3) == 1


def test_doc_len_gini_matches_hand_formula(spark, tmp_path):
    """Uniform lengths → gini 0; lengths (0, 0, 10) → gini 2/3 by the
    sorted-index identity."""
    from etl_pipeline_example_spark.operators.lengini import doc_len_gini

    sf = _write_docs(
        spark, tmp_path,
        [(0, "aaa", "en", "u"), (1, "bbb", "en", "u"), (2, "ccc", "en", "u"),
         (3, "", "en", "v"), (4, "", "en", "v"), (5, "x" * 10, "en", "v")],
    )
    rows = {r["source"]: r for r in doc_len_gini(spark, sf).collect()}
    assert rows["u"]["gini"] == 0.0 and rows["u"]["total_chars"] == 9
    assert rows["v"]["gini"] == 2 / 3 and rows["v"]["n_docs"] == 3


def test_q_rank_family_relative_ranks_are_exact(spark, tmp_path):
    """Two segments, hand-sized spends: percent_rank = (rank-1)/(n-1),
    cume_dist = i/n, quartiles split the two-customer segment 1/2."""
    from etl_pipeline_example_spark.plans.rankfamily import q_rank_family

    cust = spark.createDataFrame(
        [(1, "c1", 0, 0.0, "AUTO"), (2, "c2", 0, 0.0, "AUTO"),
         (3, "c3", 0, 0.0, "STEEL")],
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(10, 1, "O", 100.0), (11, 2, "O", 50.0), (12, 2, "O", 25.0),
         (13, 3, "O", 10.0)],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double",
    ).withColumn("o_orderdate", __import__("pyspark").sql.functions.expr(
        "cast('2024-01-01' as timestamp)"
    )).withColumn("o_orderpriority", __import__("pyspark").sql.functions.lit("1-URGENT"))
    cust.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    orders.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    rows = {r["c_custkey"]: r for r in q_rank_family(spark, str(tmp_path)).collect()}
    assert rows[1]["spend"] == 100.0 and rows[1]["seg_rank"] == 1
    assert rows[1]["seg_pct_rank"] == 0.0 and rows[1]["seg_cume_dist"] == 0.5
    assert rows[2]["spend"] == 75.0 and rows[2]["seg_rank"] == 2
    assert rows[2]["seg_pct_rank"] == 1.0 and rows[2]["seg_cume_dist"] == 1.0
    assert rows[1]["seg_quartile"] == 1 and rows[2]["seg_quartile"] == 2
    assert rows[3]["seg_pct_rank"] == 0.0 and rows[3]["seg_cume_dist"] == 1.0


def test_q_latest_event_keeps_highest_event_id_on_ts_tie(spark, tmp_path):
    """user 1: later ts wins; user 2: tied ts resolved by event_id."""
    from datetime import datetime

    from etl_pipeline_example_spark.plans.latest import q_latest_event

    t1, t2 = datetime(2024, 1, 1, 10), datetime(2024, 1, 1, 11)
    ev = spark.createDataFrame(
        [(1, t1, 1, "view", 1.0, "{}"), (2, t2, 1, "click", 2.0, "{}"),
         (3, t2, 2, "view", 3.0, "{}"), (4, t2, 2, "buy", 4.0, "{}")],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    ev.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    rows = {r["user_id"]: r for r in q_latest_event(spark, str(tmp_path)).collect()}
    assert rows[1]["event_id"] == 2 and rows[1]["event_type"] == "click"
    assert rows[2]["event_id"] == 4 and rows[2]["event_type"] == "buy"
