"""Round-16 hand-computed unit tests (new/changed operators this round)."""

from __future__ import annotations

import struct

import numpy as np


def _write(spark, tmp_path, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{tmp_path}/{name}.parquet"
    )


def test_jpegprog_roundtrip_matches_planted_and_baseline():
    """The 10-scan progressive file must decode to EXACTLY the planted
    quantized coefficients — and to exactly what the baseline (SOF0)
    codec produces for the same doc_id, pixel planes included. Two
    independently-written decoders agreeing on the same coefficient
    tensor is the strongest in-repo check the entropy layers are
    right."""
    from etl_pipeline_example_spark.operators.jpegdecode import (
        _grid,
        decode_jpeg,
        encode_jpeg,
    )
    from etl_pipeline_example_spark.operators.jpegprog import (
        _planted_zz,
        decode_progressive,
        encode_progressive,
    )

    for doc_id in (0, 3, 17, 41, 254):
        planes, quant, st = decode_progressive(encode_progressive(doc_id))
        bplanes, bquant = decode_jpeg(encode_jpeg(doc_id))
        nbx, nby = _grid(doc_id)
        assert quant.shape == (nby, nbx, 3, 64)
        for by in range(nby):
            for bx in range(nbx):
                for c in range(3):
                    assert (
                        quant[by, bx, c]
                        == np.array(_planted_zz(doc_id, bx, by, c))
                    ).all(), (doc_id, bx, by, c)
        assert (quant == bquant).all()
        for c in range(3):
            assert (planes[c] == bplanes[c]).all()
        assert st.n_scans == 10


def test_jpegprog_refinement_diagnostics_hand_computed():
    """doc_id=2 (grid 4x2): AC-bearing blocks have (bx+by) odd parity.
    Per such block the planted values are v1 = 1+(2+bx+by)%9 and
    v2 = -(1+(14+bx)%9); the successive-approximation diagnostics are
    pure arithmetic over them — hand-folded here, then asserted
    against what the DECODER measured while reading the bitstream."""
    from etl_pipeline_example_spark.operators.jpegdecode import planted_acs
    from etl_pipeline_example_spark.operators.jpegprog import (
        decode_progressive,
        encode_progressive,
    )

    doc_id = 2
    nbx, nby = 4, 2  # _grid(2) = (2 + 2 % 6, 2 + 6 % 6)
    exp_first = exp_new = exp_corr = 0
    for by in range(nby):
        for bx in range(nbx):
            for _pos, v in planted_acs(doc_id, bx, by):
                a = abs(v)
                exp_first += (1 if v > 0 else -1) * (a // 2) * 2
                exp_new += a == 1
                exp_corr += a > 1 and a % 2 == 1
    # same AC plant in all 3 components
    exp_first, exp_new, exp_corr = 3 * exp_first, 3 * exp_new, 3 * exp_corr
    _planes, _quant, st = decode_progressive(encode_progressive(doc_id))
    assert st.sum_ac_first == exp_first
    assert st.n_new_nonzero == exp_new
    assert st.n_corr_one == exp_corr


def test_jpegprog_scan_structure_and_rare_codes_exercised():
    """Parse the emitted markers: SOF2 (not SOF0), exactly 10 SOS
    segments whose (Ss, Se, Ah, Al) match the declared plan, every
    first scan before every refinement scan per coefficient. And the
    hard arms really fire: EOBn with n >= 1 (multi-block EOB runs with
    appended length bits) and ZRL (16-zero runs) are both decoded a
    nonzero number of times across a doc_id spread."""
    from etl_pipeline_example_spark.operators.jpegprog import (
        _SCAN_PLAN,
        decode_progressive,
        encode_progressive,
    )

    payload = encode_progressive(7)
    markers = []
    sos_params = []
    pos = 2
    while pos < len(payload) - 1:
        if payload[pos] != 0xFF or payload[pos + 1] == 0x00:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker == 0xD9:
            markers.append(marker)
            break
        (length,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + length]
        markers.append(marker)
        if marker == 0xDA:
            ns = body[0]
            ss, se, aa = body[1 + 2 * ns : 4 + 2 * ns]
            sos_params.append((ss, se, aa >> 4, aa & 0xF))
            # skip entropy data to the next marker
            end = pos + 2 + length
            while True:
                end = payload.index(b"\xff", end)
                if payload[end + 1] != 0x00:
                    break
                end += 2
            pos = end
            continue
        pos += 2 + length
    assert 0xC2 in markers and 0xC0 not in markers
    assert markers.count(0xDA) == 10
    assert sos_params == [(ss, se, ah, al) for _c, ss, se, ah, al in _SCAN_PLAN]

    eobn_hi = zrl = 0
    for doc_id in range(12):
        _p, _q, st = decode_progressive(encode_progressive(doc_id))
        eobn_hi += st.n_eobn_hi
        zrl += st.n_zrl
    assert eobn_hi > 0 and zrl > 0


def test_jpegprog_and_baseline_reject_each_other():
    """Loud-failure contract both ways: the progressive decoder refuses
    a baseline (SOF0) file and the baseline decoder refuses a
    progressive (SOF2) file — no silent wrong-path decode."""
    import pytest

    from etl_pipeline_example_spark.operators.jpegdecode import (
        decode_jpeg,
        encode_jpeg,
    )
    from etl_pipeline_example_spark.operators.jpegprog import (
        decode_progressive,
        encode_progressive,
    )

    with pytest.raises(ValueError, match="not progressive"):
        decode_progressive(encode_jpeg(5))
    with pytest.raises(ValueError, match="not baseline"):
        decode_jpeg(encode_progressive(5))


def test_jpegprog_operator_matches_oracle(spark, duck, sf_dir):
    from etl_pipeline_example_spark.operators.jpegprog import (
        JPEGPROG_ORACLES,
        multimodal_decode_jpeg2,
    )
    from tests.oracle_util import assert_matches_oracle

    df = multimodal_decode_jpeg2(spark, sf_dir)
    assert_matches_oracle(df, duck, JPEGPROG_ORACLES["multimodal_decode_jpeg2"])


def _md5h(s: str) -> int:
    """Independent replay of the shared 60-bit md5-slice hash."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_sketch_kmv_distinct_matches_hashlib_replay(spark, tmp_path):
    """Planted events: 40 distinct users in 'click', 20 in 'view'
    (10 shared). Per group the kept set must be the K=32 smallest
    md5-slice hashes (hashlib replay); the __union__ row must merge
    the KEPT sets (theta union), not the raw keys; groups under K
    report their exact count as the estimate."""
    from datetime import datetime

    from etl_pipeline_example_spark.operators.kmv import (
        KMV_K,
        sketch_kmv_distinct,
    )

    rows = []
    eid = 0
    for u in range(40):  # click: users 0..39 (> K)
        rows.append((eid, datetime(2024, 1, 1), u, "click", 1.0, "{}"))
        eid += 1
    for u in range(30, 50):  # view: users 30..49 (< K), 10 shared
        for _ in range(2):  # duplicates must not matter (distinct)
            rows.append((eid, datetime(2024, 1, 1), u, "view", 1.0, "{}"))
            eid += 1
    _write(
        spark, tmp_path, "events", rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    got = {
        r["grp"]: r for r in sketch_kmv_distinct(spark, str(tmp_path)).collect()
    }
    click_h = sorted(_md5h(f"kmv:{u}") for u in range(40))
    view_h = sorted(_md5h(f"kmv:{u}") for u in range(30, 50))
    assert got["click"]["n_kept"] == KMV_K
    assert got["click"]["kth_hash"] == click_h[KMV_K - 1]
    assert got["click"]["exact_distinct"] == 40
    exp_est = (
        float(KMV_K - 1) * float(1 << 60) / float(click_h[KMV_K - 1])
    )
    assert got["click"]["est_distinct"] == exp_est
    assert got["view"]["n_kept"] == 20
    assert got["view"]["kth_hash"] == view_h[-1]
    assert got["view"]["est_distinct"] == 20.0  # exact branch under K
    # union: K smallest of the MERGED kept sets (shared users dedup)
    merged = sorted(set(click_h[:KMV_K]) | set(view_h))
    assert got["__union__"]["kth_hash"] == merged[KMV_K - 1]
    assert got["__union__"]["exact_distinct"] == 50


def test_stream_kmv_registers_equals_batch_sql(spark, tmp_path, duck):
    """Stream/batch parity for the min-merge register sketch."""
    import glob
    import shutil
    from datetime import datetime

    from etl_pipeline_example_spark.streaming.kmvfeed import (
        stream_kmv_registers,
    )

    rows = []
    for u in range(60):
        rows.append((u, datetime(2024, 1, 1), u, "click" if u % 3 else "view", 1.0, "{}"))
    stage = f"{tmp_path}/_stage"
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.copy(part, f"{tmp_path}/events.parquet")
    shutil.rmtree(stage)
    got = [
        tuple(r) for r in stream_kmv_registers(spark, str(tmp_path)).collect()
    ]
    # independent replay: min md5-slice and count per (grp, register)
    from collections import defaultdict

    mins: dict = defaultdict(lambda: [1 << 62, 0])
    for u in range(60):
        g = "click" if u % 3 else "view"
        h = _md5h(f"kmv:{u}")
        cell = mins[(g, h % 32)]
        cell[0] = min(cell[0], h)
        cell[1] += 1
    want = sorted(
        (g, r, mh, n) for (g, r), (mh, n) in mins.items()
    )
    assert got == want


def test_events_burst_topk_hand_computed(spark, tmp_path):
    """Planted timeline for one user: events at t = 0, 10, 3599,
    3600, 9000 seconds. Window [t-3599, t]: at 3599 it holds
    {0, 10, 3599} (burst 3); at 3600 it holds {10, 3599, 3600} — the
    t-3600 event has just EXPIRED (boundary exactness); at 9000 only
    itself. A second user with 2 events in one second ranks below."""
    from datetime import datetime, timedelta

    from etl_pipeline_example_spark.operators.burst import events_burst_topk

    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for secs in (0, 10, 3599, 3600, 9000):
        rows.append(
            (eid, base + timedelta(seconds=secs), 1, "click", 1.0, "{}")
        )
        eid += 1
    for _ in range(2):
        rows.append((eid, base, 2, "click", 1.0, "{}"))
        eid += 1
    _write(
        spark, tmp_path, "events", rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    got = [tuple(r) for r in events_burst_topk(spark, str(tmp_path)).collect()]
    base_epoch = int(
        spark.sql("select unix_timestamp(timestamp'2024-01-01')").first()[0]
    )
    assert got == [
        (1, 3, base_epoch + 3599),
        (2, 2, base_epoch),
    ]


def test_dedup_tfidf_cosine_hand_computed(spark, tmp_path):
    """Three docs: d1 and d2 are identical ('alpha beta gamma'),
    d3 shares one bigram with them plus its own. Every bigram has
    df <= 2 (rare), N = 3, so m = 3 // df.

    d1/d2 vectors identical -> cos = 2/(sqrt(2)*sqrt(2)) (the IEEE
    value, 1 - 1ulp: sqrt(2)^2 != 2 in doubles — both engines agree
    bit-for-bit) with dot = na2 = nb2 = 2 (two bigrams of
    (1 * (3//2))^2 = 1 each).
    d1/d3 share 'alpha beta' (df 2 -> m 1): dot = 1,
    na2 = 2, nb2 = 1^2 + (1*3)^2 = 10 (its own 'delta alpha' bigram
    has df 1 -> m 3); cos = 1/(sqrt(2)*sqrt(10)) ~= 0.2236 < 0.5 ->
    filtered out."""
    import math

    from etl_pipeline_example_spark.operators.tfcos import (
        dedup_tfidf_cosine,
    )

    _write(
        spark, tmp_path, "documents",
        [
            (1, "alpha beta gamma", "en", "web", 16),
            (2, "alpha beta gamma", "en", "web", 16),
            (3, "delta alpha beta", "en", "web", 16),
        ],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    got = [
        tuple(r) for r in dedup_tfidf_cosine(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 2, 2, 2, 2 / (math.sqrt(2.0) * math.sqrt(2.0)))]
    # and the filtered pair's cosine really is below threshold
    assert 1 / (math.sqrt(2) * math.sqrt(10)) < 0.5


def test_shuffle_run_audit_matches_python_replay(spark, tmp_path):
    """Planted docs over 3 sources: replay the shard assignment and
    within-shard hash order in pure Python (hashlib) and recompute
    every column."""
    from collections import defaultdict

    from etl_pipeline_example_spark.operators.shuffleaudit import (
        SHUF_SHARDS,
        shuffle_run_audit,
    )

    docs = [(i, f"text {i}", "en", ["web", "wiki", "books"][i % 3], 7)
            for i in range(120)]
    _write(
        spark, tmp_path, "documents", docs,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    shards = defaultdict(list)
    for i, _t, _l, src, _n in docs:
        h = _md5h(f"shuf:{i}")
        shards[h % SHUF_SHARDS].append((h, i, src))
    want = []
    for shard in sorted(shards):
        items = sorted(shards[shard])
        srcs = [s for _h, _i, s in items]
        n = len(items)
        same = sum(1 for a, b in zip(srcs, srcs[1:]) if a == b)
        cnt = defaultdict(int)
        for s in srcs:
            cnt[s] += 1
        exp_num = sum(c * (c - 1) for c in cnt.values())
        want.append(
            (shard, n, len(cnt), same, exp_num, n * (n - 1))
        )
    got = [tuple(r) for r in shuffle_run_audit(spark, str(tmp_path)).collect()]
    assert got == want


def test_round16_batch_ops_match_oracle(spark, duck, sf_dir):
    """Every round-16 batch operator vs its DuckDB oracle at sf0.001
    (the driver compare, in-tree)."""
    from etl_pipeline_example_spark.operators.burst import BURST_ORACLES, BURST_QUERIES
    from etl_pipeline_example_spark.operators.kmv import KMV_ORACLES, KMV_QUERIES
    from etl_pipeline_example_spark.operators.shuffleaudit import (
        SHUFFLEAUDIT_ORACLES,
        SHUFFLEAUDIT_QUERIES,
    )
    from etl_pipeline_example_spark.operators.tfcos import TFCOS_ORACLES, TFCOS_QUERIES
    from tests.oracle_util import assert_matches_oracle

    q = {**KMV_QUERIES, **BURST_QUERIES, **TFCOS_QUERIES, **SHUFFLEAUDIT_QUERIES}
    o = {**KMV_ORACLES, **BURST_ORACLES, **TFCOS_ORACLES, **SHUFFLEAUDIT_ORACLES}
    for name in sorted(q):
        assert_matches_oracle(q[name](spark, sf_dir), duck, o[name])


def test_bm25_prf_hand_computed_expansion(spark, tmp_path):
    """Planted corpus where expansion provably retrieves a NEW doc:
    q10 'red fox' matches d1/d2 in pass 1; their non-query rare
    bigrams ('fox jumps', 'fox runs', 'jumps high') become weight-1
    expansion terms; d3 contains only 'jumps high', so it appears in
    the PRF ranking with n_terms=1, n_exp=1 while being invisible to
    pass 1. Every score is replayed with the exact integer formula."""
    from etl_pipeline_example_spark.operators.bm25prf import (
        PRF_W_ORIG,
        bm25_prf,
    )

    _write(
        spark, tmp_path, "documents",
        [
            (1, "red fox jumps high", "en", "srcA", 18),
            (2, "red fox runs", "en", "srcA", 12),
            (3, "jumps high again", "en", "srcA", 16),
            (4, "blue whale swims", "en", "srcA", 16),
            (10, "red fox", "en", "src0", 7),
        ],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    n_docs, len_total = 4, 4 + 3 + 3 + 3  # candidate docs / tokens

    def contrib(tf, dl, df):
        num = 1_000_000 * 44 * len_total * tf * (2 * n_docs - 2 * df + 1)
        den = (20 * len_total * tf + 6 * len_total + 18 * dl * n_docs) * (
            2 * df + 1
        )
        return num // den

    # weighted pass-2 sums: original 'red fox' (df 2) carries w=4,
    # each expansion bigram (df 1 except 'jumps high' df 2) w=1
    s1 = (
        PRF_W_ORIG * contrib(1, 4, 2)  # red fox @ d1
        + contrib(1, 4, 1)  # fox jumps
        + contrib(1, 4, 2)  # jumps high (also in d3 -> df 2)
    )
    s2 = PRF_W_ORIG * contrib(1, 3, 2) + contrib(1, 3, 1)  # d2
    s3 = contrib(1, 3, 2)  # d3 via 'jumps high' only
    exp_rows = sorted(
        [
            (1, 3, 2, s1),
            (2, 2, 1, s2),
            (3, 1, 1, s3),
        ],
        key=lambda r: (-r[3], r[0]),
    )
    want = [
        (10, d, nt, ne, s / float(PRF_W_ORIG * 1_000_000), i + 1)
        for i, (d, nt, ne, s) in enumerate(exp_rows)
    ]
    got = [tuple(r) for r in bm25_prf(spark, str(tmp_path)).collect()]
    assert got == want, (got, want)


def test_sketch_moments_hand_computed_and_merge(spark, tmp_path):
    """Planted values incl. negatives and a fractional cent edge:
    floor(.100) quantization (NOT truncation: floor(-1.505*100) =
    -151), exact power sums, and a __merged__ row equal to the sum of
    the per-group state."""
    import math
    from datetime import datetime

    from etl_pipeline_example_spark.operators.moments import sketch_moments

    vals = {"click": [1.25, -1.505, 0.004], "view": [2.0, 3.999]}
    rows = []
    eid = 0
    for et, vs in vals.items():
        for v in vs:
            rows.append((eid, datetime(2024, 1, 1), eid, et, v, "{}"))
            eid += 1
    _write(
        spark, tmp_path, "events", rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    got = {
        r["grp"]: tuple(r)[1:]
        for r in sketch_moments(spark, str(tmp_path)).collect()
    }
    want = {}
    tot = [0, 0, 0, 0, 0]
    for et, vs in vals.items():
        cs = [math.floor(v * 100) for v in vs]
        # power sums leave as exact decimal(38,0) integers rendered as
        # strings (round-17 VERDICT: no float rendering) — compare the
        # exact ints as strings
        row = (
            len(cs),
            str(sum(cs)),
            str(sum(c * c for c in cs)),
            str(sum(c ** 3 for c in cs)),
            str(sum(c ** 4 for c in cs)),
        )
        want[et] = row
        tot[0] += len(cs)
        for i, p in enumerate((1, 2, 3, 4), start=1):
            tot[i] += sum(c ** p for c in cs)
    want["__merged__"] = (tot[0], *map(str, tot[1:]))
    assert got == want
    # the floor-not-truncate pin: -1.505 quantizes to -151, not -150
    assert math.floor(-1.505 * 100) == -151


def test_privacy_k_anonymity_hand_computed(spark, tmp_path):
    """Planted classes of sizes 1, 3, 12: per k in (2,5,10,20) the
    violating class/row counts are hand-folded."""
    from etl_pipeline_example_spark.operators.kanon import (
        privacy_k_anonymity,
    )

    rows = []
    ck = 0
    for sz, (nat, seg, bal) in [
        (1, (1, "AUTO", 500.0)),
        (3, (1, "AUTO", 1500.0)),
        (12, (2, "RETAIL", 500.0)),
    ]:
        for _ in range(sz):
            rows.append((ck, f"c{ck}", nat, bal, seg))
            ck += 1
    _write(
        spark, tmp_path, "customer", rows,
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    got = [
        tuple(r) for r in privacy_k_anonymity(spark, str(tmp_path)).collect()
    ]
    # classes: sizes {1, 3, 12}; below-k counts fold by hand
    assert got == [
        (2, 1, 1, 3, 16),
        (5, 2, 4, 3, 16),
        (10, 2, 4, 3, 16),
        (20, 3, 16, 3, 16),
    ]


def test_privacy_l_diversity_hand_computed(spark, tmp_path):
    """Two classes: (nation 1, band 0) holds 6 rows ALL 'AUTO'
    (k-anonymous but homogeneous — div 1); (nation 2, band 0) holds 4
    rows over 3 segments (div 3). Folded per l in (2,3,5)."""
    from etl_pipeline_example_spark.operators.kanon import (
        privacy_l_diversity,
    )

    rows = []
    ck = 0
    for _ in range(6):
        rows.append((ck, f"c{ck}", 1, 100.0, "AUTO")); ck += 1
    for seg in ("AUTO", "AUTO", "RETAIL", "HOUSE"):
        rows.append((ck, f"c{ck}", 2, 100.0, seg)); ck += 1
    _write(
        spark, tmp_path, "customer", rows,
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    got = [
        tuple(r) for r in privacy_l_diversity(spark, str(tmp_path)).collect()
    ]
    assert got == [
        (2, 1, 6, 2, 10),
        (3, 1, 6, 2, 10),
        (5, 2, 10, 2, 10),
    ]


def test_stream_moments_equals_batch(spark, tmp_path):
    """Stream/batch parity for the power-sum sketch."""
    import glob
    import shutil
    from datetime import datetime

    from etl_pipeline_example_spark.operators.moments import sketch_moments
    from etl_pipeline_example_spark.streaming.momentsfeed import (
        stream_moments,
    )

    rows = []
    for u in range(40):
        rows.append(
            (u, datetime(2024, 1, 1), u, "click" if u % 2 else "view",
             (u - 20) / 7.0, "{}")
        )
    stage = f"{tmp_path}/_stage"
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.copy(part, f"{tmp_path}/events.parquet")
    shutil.rmtree(stage)
    batch = {
        r["grp"]: tuple(r)[1:]
        for r in sketch_moments(spark, str(tmp_path)).collect()
        if r["grp"] != "__merged__"
    }
    stream = {
        r["grp"]: tuple(r)[1:]
        for r in stream_moments(spark, str(tmp_path)).collect()
    }
    assert stream == batch and len(batch) == 2


def test_dedup_winnow_pairs_local_guarantee_and_replay(spark, tmp_path):
    """The winnowing LOCAL guarantee, planted: d1 and d2 share a
    verbatim run of exactly W + K - 1 = 9 tokens inside otherwise
    disjoint text, so they MUST share >= 1 fingerprint; d3 shares
    nothing long enough. The full selection is replayed in Python
    (hashlib k-gram hashes, window minima)."""
    import hashlib

    from etl_pipeline_example_spark.operators.winnow import (
        WIN_K,
        WIN_W,
        dedup_winnow_pairs,
    )

    shared = "one two three four five six seven eight nine"
    d1 = f"alpha beta {shared} gamma delta"
    d2 = f"epsilon zeta {shared} eta theta"
    d3 = "iota kappa lam mu nu xi omicron pi rho sigma"
    _write(
        spark, tmp_path, "documents",
        [
            (1, d1, "en", "web", len(d1)),
            (2, d2, "en", "web", len(d2)),
            (3, d3, "en", "web", len(d3)),
        ],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )

    def fingerprints(text):
        tk = text.split()
        hs = [
            int(
                hashlib.md5(
                    ("win:" + " ".join(tk[i : i + WIN_K])).encode()
                ).hexdigest()[:15],
                16,
            )
            for i in range(len(tk) - WIN_K + 1)
        ]
        return {
            min(hs[j : j + WIN_W]) for j in range(len(hs) - WIN_W + 1)
        }

    f1, f2, f3 = fingerprints(d1), fingerprints(d2), fingerprints(d3)
    assert f1 & f2, "local guarantee: the 9-token run must fingerprint"
    got = [
        tuple(r) for r in dedup_winnow_pairs(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 2, len(f1 & f2), len(f1), len(f2))]
    assert not (f1 & f3) and not (f2 & f3)


def test_privacy_t_closeness_hand_computed_with_absent_segment(
    spark, tmp_path
):
    """Global: 10 AUTO + 10 RETAIL. Class A mirrors it exactly (TVD
    0); class B is 4 AUTO only — the RETAIL mass is ABSENT from the
    class and must still count: TVD = 1/2(|1-1/2| + |0-1/2|) = 1/2.
    B violates t=0.20 and 0.35 but NOT 0.50 (strictly-greater
    boundary)."""
    from etl_pipeline_example_spark.operators.kanon import (
        privacy_t_closeness,
    )

    rows = []
    ck = 0
    for seg in ["AUTO"] * 5 + ["RETAIL"] * 5:  # class A: nation 1
        rows.append((ck, f"c{ck}", 1, 100.0, seg)); ck += 1
    for seg in ["AUTO"] * 4:  # class B: nation 2
        rows.append((ck, f"c{ck}", 2, 100.0, seg)); ck += 1
    for seg in ["AUTO"] * 1 + ["RETAIL"] * 5:  # class C: nation 3
        rows.append((ck, f"c{ck}", 3, 100.0, seg)); ck += 1
    _write(
        spark, tmp_path, "customer", rows,
        "c_custkey bigint, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    )
    # class C: n_c 6, cs = {AUTO:1, RETAIL:5}, global {10, 10}, N 20
    # TVD = 1/2(|1/6-1/2| + |5/6-1/2|) = 1/3 -> violates 0.20 only
    got = [
        tuple(r) for r in privacy_t_closeness(spark, str(tmp_path)).collect()
    ]
    assert got == [
        (0.2, 2, 10, 3, 20),
        (0.35, 1, 4, 3, 20),
        (0.5, 0, 0, 3, 20),
    ]


def test_events_cusum_shift_hand_computed(spark, tmp_path):
    """Planted series with a known level shift: user volume 2/day for
    4 days then 6/day for 4 days (n_days 8, total 32, mean 4). The
    scaled series y = x*8 - 32 is -16 x4 then +16 x4: the downward
    excursion peaks at day 4 (64), the upward at day 8 (64) — the
    changepoint day and the recovery, hand-folded via the
    cumsum-minus-runmin identity."""
    from datetime import datetime, timedelta

    from etl_pipeline_example_spark.operators.cusum import (
        events_cusum_shift,
    )

    base = datetime(2024, 3, 1)
    rows = []
    eid = 0
    for d in range(8):
        n = 2 if d < 4 else 6
        for _ in range(n):
            rows.append(
                (eid, base + timedelta(days=d), eid, "click", 1.0, "{}")
            )
            eid += 1
    _write(
        spark, tmp_path, "events", rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    got = [tuple(r) for r in events_cusum_shift(spark, str(tmp_path)).collect()]
    assert len(got) == 1
    grp, n_days, total, up, up_day, dn, dn_day = got[0]
    assert (grp, n_days, total) == ("click", 8, 32)
    # cum: -16,-32,-48,-64, -48,-32,-16,0; runmin reaches -64 at day 4
    assert (dn, str(dn_day)) == (64, "2024-03-04")
    assert (up, str(up_day)) == (64, "2024-03-08")
