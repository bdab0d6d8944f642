"""Stream/batch parity: the streaming tumbling agg equals the batch query
and the DuckDB oracle."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest

from etl_pipeline_example_spark.streaming.dqgate import DQGATE_ORACLES, DQGATE_QUERIES
from etl_pipeline_example_spark.streaming.events import (
    STREAM_ORACLES,
    STREAM_QUERIES,
    drain,
)
from etl_pipeline_example_spark.streaming.firstseen import (
    FIRSTSEEN_STREAM_ORACLES,
    FIRSTSEEN_STREAM_QUERIES,
)
from etl_pipeline_example_spark.streaming.neargate import NEARGATE_ORACLES
from etl_pipeline_example_spark.streaming.neargate_index import NEARGATE_INDEX_ORACLES
from etl_pipeline_example_spark.streaming.ohlc import OHLC_STREAM_ORACLES, OHLC_STREAM_QUERIES
from etl_pipeline_example_spark.streaming.shardfeed import SHARDFEED_ORACLES
from etl_pipeline_example_spark.streaming.slidingwin import (
    SLIDINGWIN_ORACLES,
    SLIDINGWIN_QUERIES,
)
from etl_pipeline_example_spark.streaming.stateful import STATEFUL_ORACLES, STATEFUL_QUERIES
from etl_pipeline_example_spark.streaming.topk import TOPK_ORACLES, TOPK_QUERIES

from tools.drivercheck import oracle_mismatch


def test_stream_events_matches_batch_oracle(spark, duck, sf_dir):
    df = STREAM_QUERIES["stream_events"](spark, sf_dir)
    assert oracle_mismatch(df, duck, STREAM_ORACLES["stream_events"]) is None


def test_stream_dedup_matches_batch_oracle(spark, duck, sf_dir):
    df = STREAM_QUERIES["stream_dedup"](spark, sf_dir)
    assert oracle_mismatch(df, duck, STREAM_ORACLES["stream_dedup"]) is None


def test_stream_sessions_matches_batch_oracle(spark, duck, sf_dir):
    df = STREAM_QUERIES["stream_sessions"](spark, sf_dir)
    assert oracle_mismatch(df, duck, STREAM_ORACLES["stream_sessions"]) is None


def test_stream_user_stats_matches_batch_oracle(spark, duck, sf_dir):
    df = STATEFUL_QUERIES["stream_user_stats"](spark, sf_dir)
    assert oracle_mismatch(df, duck, STATEFUL_ORACLES["stream_user_stats"]) is None


def test_stream_c4_gate_matches_batch_keep_set(spark, duck, sf_dir):
    """Stream/batch parity for the ingest-time C4 gate: the drained
    stream's kept set equals the batch conjunction (stateless filter —
    parity holds by construction, the oracle proves it)."""
    from etl_pipeline_example_spark.streaming.curation import (
        STREAM_C4_GATE_SQL,
        stream_c4_gate,
    )

    assert oracle_mismatch(stream_c4_gate(spark, sf_dir), duck, STREAM_C4_GATE_SQL) is None


def test_stream_shard_feed_matches_batch_prefix_sum(spark, duck, sf_dir):
    """Stream/batch parity for the stateful shard writer: the drained
    per-source assignment equals the per-source exclusive prefix-sum
    window over the same hash order."""
    from etl_pipeline_example_spark.streaming.shardfeed import stream_shard_feed

    df = stream_shard_feed(spark, sf_dir)
    assert oracle_mismatch(df, duck, SHARDFEED_ORACLES["stream_shard_feed"]) is None


def test_stream_neardup_gate_matches_batch_history_half(spark, duck, sf_dir):
    """The ingest-time near-dup gate's flag set equals the batch
    operator's neardup_of_history half — per-row scalar signatures are
    bit-identical to the groupBy/min construction."""
    from etl_pipeline_example_spark.streaming.neargate import stream_neardup_gate

    df = stream_neardup_gate(spark, sf_dir)
    assert oracle_mismatch(df, duck, NEARGATE_ORACLES["stream_neardup_gate"]) is None


def test_stream_neardup_gate_indexed_entry_matches_oracle(spark, duck, sf_dir):
    """The registry entry for the persisted-index gate (build-if-missing
    under the mtime-keyed scratch path, then probe) carries the SAME
    full oracle as the in-op-build gate — both call the shared
    ``_gate_flags`` plan, so the flag set is identical by construction;
    this pins it end-to-end through the registry wrapper."""
    from etl_pipeline_example_spark.streaming.neargate_index import (
        stream_neardup_gate_indexed_entry,
    )

    df = stream_neardup_gate_indexed_entry(spark, sf_dir)
    assert oracle_mismatch(df, duck, NEARGATE_INDEX_ORACLES["stream_neardup_gate_indexed"]) is None


def test_stream_dq_quarantine_matches_batch(spark, duck, sf_dir):
    df = DQGATE_QUERIES["stream_dq_quarantine"](spark, sf_dir)
    assert oracle_mismatch(df, duck, DQGATE_ORACLES["stream_dq_quarantine"]) is None


def test_stream_dq_quarantine_flags_every_violated_rule(spark, tmp_path):
    """A doc violating two rules yields two quarantine rows; a clean
    doc yields none."""
    import glob as _glob
    import shutil

    staging = tmp_path / "staging"
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    spark.createDataFrame(
        [(1, "", "zh", "sA", 0),        # empty_text + lang_not_allowed
         (2, "fine text", "en", "sA", 9),
         (3, "drift", "en", "sA", 42)], # nchars_drift
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(f"{staging}/documents.parquet")
    # the stream source globs the single-FILE testdata layout
    part = _glob.glob(f"{staging}/documents.parquet/part-*.parquet")[0]
    shutil.copy(part, corpus / "documents.parquet")
    from etl_pipeline_example_spark.streaming.dqgate import stream_dq_quarantine

    got = sorted(
        (r["doc_id"], r["rule_id"])
        for r in stream_dq_quarantine(spark, str(corpus)).collect()
    )
    assert got == [
        (1, "documents_empty_text"),
        (1, "documents_lang_not_allowed"),
        (3, "documents_nchars_drift"),
    ], got


def test_stream_upsert_merges_and_replays_idempotently(spark, tmp_path):
    """Seed (1,v1,'old') (2,v1,'keep'); stream an update for key 1
    (v2) plus a new key 3. After the drain: latest-wins, no dupes.
    Replaying the same stream input converges to the same table —
    the foreachBatch idempotence contract."""
    from etl_pipeline_example_spark.streaming.upsertsink import stream_upsert

    target = f"{tmp_path}/table"
    spark.createDataFrame(
        [(1, 1, "old"), (2, 1, "keep")], "k bigint, ver bigint, val string"
    ).write.parquet(target)

    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    spark.createDataFrame(
        [(1, 2, "new"), (3, 1, "fresh")], "k bigint, ver bigint, val string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/stage")
    import glob as _glob
    import shutil as _shutil

    part = _glob.glob(f"{tmp_path}/stage/part-*.parquet")[0]
    _shutil.copy(part, src_dir / "batch1.parquet")

    def drain():
        src = spark.readStream.schema("k bigint, ver bigint, val string").parquet(
            str(src_dir)
        )
        stream_upsert(spark, src, target, key="k", version_col="ver")

    drain()
    got = {r["k"]: (r["ver"], r["val"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: (2, "new"), 2: (1, "keep"), 3: (1, "fresh")}, got

    drain()  # replay: fresh checkpoint, same input — must converge
    again = {r["k"]: (r["ver"], r["val"])
             for r in spark.read.parquet(target).collect()}
    assert again == got, again


def test_stream_versioned_sink_commits_versions_exactly_once(
    spark, tmp_path
):
    """Two staged micro-batch files drain into a versioned table; each
    non-empty batch commits ONE version (ledger-recorded), latest
    reads the merged state, version 1 time-travels to the first
    batch's state, and a re-drain (durable checkpoint: no new input)
    commits ZERO new versions (the exactly-once contract)."""
    from etl_pipeline_example_spark.pipeline.versioned import (
        _versions,
        read_versioned,
    )
    from etl_pipeline_example_spark.streaming.versionedsink import (
        committed_batches,
        stream_versioned_upsert,
    )

    target = f"{tmp_path}/vtable"
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    import glob as _glob
    import shutil as _shutil

    def stage(name, rows):
        spark.createDataFrame(
            rows, "k bigint, ver bigint, val string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/stage")
        part = _glob.glob(f"{tmp_path}/stage/part-*.parquet")[0]
        _shutil.copy(part, src_dir / name)

    def drain():
        src = spark.readStream.schema(
            "k bigint, ver bigint, val string"
        ).parquet(str(src_dir))
        stream_versioned_upsert(spark, src, target, "k", "ver")

    stage("b1.parquet", [(1, 1, "a"), (2, 1, "b")])
    drain()
    assert _versions(spark, target) == [1]
    stage("b2.parquet", [(1, 2, "A"), (3, 1, "c")])
    drain()
    assert _versions(spark, target) == [1, 2]
    latest = {r["k"]: r["val"] for r in read_versioned(spark, target).collect()}
    assert latest == {1: "A", 2: "b", 3: "c"}, latest
    v1 = {r["k"]: r["val"]
          for r in read_versioned(spark, target, version=1).collect()}
    assert v1 == {1: "a", 2: "b"}, v1
    n_batches = len(committed_batches(target))
    # full replay, fresh checkpoint: every batch id is in the ledger
    drain()
    assert _versions(spark, target) == [1, 2]
    assert len(committed_batches(target)) == n_batches


def test_stream_sliding_matches_batch_oracle(spark, duck, sf_dir):
    df = SLIDINGWIN_QUERIES["stream_sliding"](spark, sf_dir)
    assert oracle_mismatch(df, duck, SLIDINGWIN_ORACLES["stream_sliding"]) is None


def test_stream_topk_matches_batch_oracle(spark, duck, sf_dir):
    df = TOPK_QUERIES["stream_topk"](spark, sf_dir)
    assert oracle_mismatch(df, duck, TOPK_ORACLES["stream_topk"]) is None


def test_stream_sliding_double_counts_each_event(spark, tmp_path):
    """An event at 10:15 must appear in the 09:30 and 10:00 windows
    and nowhere else (each event covers exactly two sliding windows)."""
    import datetime as dt
    import glob as _glob
    import shutil

    from etl_pipeline_example_spark.streaming.slidingwin import stream_sliding

    staging = tmp_path / "staging"
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    rows = [(0, dt.datetime(2024, 1, 1, 10, 15), 1, "click", 2.0, "{}")]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{staging}/events.parquet")
    # the stream source globs the single-FILE testdata layout
    part = _glob.glob(f"{staging}/events.parquet/part-*.parquet")[0]
    shutil.copy(part, corpus / "events.parquet")

    got = {
        r["win_start"]: (r["n_events"], r["sum_value"])
        for r in stream_sliding(spark, str(corpus)).collect()
    }
    assert got == {
        dt.datetime(2024, 1, 1, 9, 30): (1, 2.0),
        dt.datetime(2024, 1, 1, 10, 0): (1, 2.0),
    }, got


def test_stream_ohlc_matches_batch_oracle(spark, duck, sf_dir):
    df = OHLC_STREAM_QUERIES["stream_ohlc"](spark, sf_dir)
    assert oracle_mismatch(df, duck, OHLC_STREAM_ORACLES["stream_ohlc"]) is None


def test_stream_first_seen_matches_batch_oracle(spark, duck, sf_dir):
    df = FIRSTSEEN_STREAM_QUERIES["stream_first_seen"](spark, sf_dir)
    assert oracle_mismatch(df, duck, FIRSTSEEN_STREAM_ORACLES["stream_first_seen"]) is None


def test_stream_first_seen_hand_computed(spark, tmp_path):
    """u1 first on d1 (despite a later d2 event), u2 and u3 first on
    d2 → counts 1, 2 and cumulative 1, 3 — min() is order-free, so
    the drain is deterministic."""
    from datetime import datetime

    from etl_pipeline_example_spark.streaming.firstseen import (
        stream_first_seen,
    )

    rows = [
        (1, datetime(2024, 1, 1, 8), 1, "view", 1.0, "{}"),
        (2, datetime(2024, 1, 2, 8), 1, "view", 1.0, "{}"),
        (3, datetime(2024, 1, 2, 9), 2, "view", 1.0, "{}"),
        (4, datetime(2024, 1, 2, 10), 3, "view", 1.0, "{}"),
    ]
    import glob as _glob
    import shutil

    staging = tmp_path / "staging"
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{staging}/events.parquet"
    )
    part = _glob.glob(f"{staging}/events.parquet/part-*.parquet")[0]
    shutil.copy(part, corpus / "events.parquet")
    got = [
        (str(r["d"]), r["n_new"], r["cum_users"])
        for r in stream_first_seen(spark, str(corpus)).collect()
    ]
    assert got == [("2024-01-01", 1, 1), ("2024-01-02", 2, 3)], got


@pytest.mark.parametrize(
    "key",
    [
        "stream_cusum_shift",
        "stream_hll_registers",
        "stream_kmv_registers",
        "stream_cms_topk",
        "stream_moments",
    ],
)
def test_event_feeds_read_nanos_and_micros_alike(spark, tmp_path, key):
    """The event feeds read ``ts`` through ``read_events_stream``, so an
    events file stored as TIMESTAMP(NANOS) gives the same rows as the
    same events stored as TIMESTAMP(MICROS)."""
    import __spark_entry__ as entry

    from tests.test_readers import _write_events

    fn = entry.queries()[key]
    got = {}
    for unit in ("ns", "us"):
        (tmp_path / unit).mkdir()
        got[unit] = sorted(fn(spark, _write_events(tmp_path / unit, unit)).collect(), key=repr)
    assert got["ns"] == got["us"]
    assert got["ns"]


def _drain_residue(spark):
    """Temp views, ``ckpt_*`` directories and explicit confs: what a
    drain must leave as it found them."""
    views = sorted(t.name for t in spark.catalog.listTables())
    ckpts = sorted(p.name for p in Path(tempfile.gettempdir()).glob("ckpt_*"))
    return views, ckpts, dict(spark.conf.getAll)


@pytest.fixture
def own_tempdir(tmp_path, monkeypatch):
    """Point ``tempfile`` at a private directory, so the ``ckpt_*`` census
    sees only this test's checkpoints."""
    d = tmp_path / "tmp"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return d


def _write_parts(spark, path, *chunks):
    """One parquet file per chunk of ``k`` values under ``path``."""
    for i, chunk in enumerate(chunks):
        spark.createDataFrame([(k,) for k in chunk], "k bigint").coalesce(1).write.parquet(
            f"{path}/p{i}"
        )
        for part in Path(f"{path}/p{i}").glob("part-*.parquet"):
            shutil.move(str(part), f"{path}/f{i}.parquet")
        shutil.rmtree(f"{path}/p{i}")


def test_drain_leaves_no_view_checkpoint_or_conf(spark, tmp_path, own_tempdir):
    src = tmp_path / "src"
    _write_parts(spark, src, [1, 2, 3])
    before = _drain_residue(spark)
    frame = drain(spark.readStream.schema("k bigint").parquet(str(src)), "append")
    assert _drain_residue(spark) == before
    first = sorted(r["k"] for r in frame.collect())
    assert first == [1, 2, 3]
    assert sorted(r["k"] for r in frame.collect()) == first


def test_drain_rejects_a_split_drain(spark, tmp_path, own_tempdir):
    src = tmp_path / "src"
    _write_parts(spark, src, [1, 2], [3])
    before = _drain_residue(spark)
    stream = spark.readStream.schema("k bigint").option("maxFilesPerTrigger", 1).parquet(str(src))
    with pytest.raises(RuntimeError, match="2 micro-batches"):
        drain(stream, "append")
    assert _drain_residue(spark) == before


@pytest.mark.parametrize("key", ["stream_events", "stream_cms_topk", "stream_dq_quarantine"])
def test_stream_keys_leave_no_view_or_checkpoint(spark, sf_dir, own_tempdir, key):
    import __spark_entry__ as entry

    before = _drain_residue(spark)
    df = entry.queries()[key](spark, sf_dir)
    assert _drain_residue(spark)[:2] == before[:2]
    assert df.count() > 0
