"""Round-17 hand-computed unit pins: moments overflow guard (plus the
round-17 operators added later this round)."""

from __future__ import annotations

import pytest


def _write_events(spark, tmp_path, rows):
    import os
    import shutil

    stage = str(tmp_path / "_ev_stage")
    spark.createDataFrame(
        rows, "event_id bigint, event_type string, value double"
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(
        f for f in os.listdir(stage)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.replace(f"{stage}/{part}", str(tmp_path / "events.parquet"))
    shutil.rmtree(stage)
    return str(tmp_path)


def test_moments_overflow_raises_loudly(spark, tmp_path):
    """cents⁴ past decimal(38,0) must RAISE (round-16 ADVICE), not
    silently yield the NULL DuckDB would error on."""
    from etl_pipeline_example_spark.operators.moments import sketch_moments

    sf = _write_events(
        spark, tmp_path, [(1, "a", 1e8), (2, "a", 1e8)]
    )  # c = 1e10, c^4 = 1e40 > 10^38
    # under ANSI (Spark 4 default) the decimal multiply itself raises;
    # under non-ANSI the sums NULL out and the _guarded CASE raises —
    # either way the overflow is LOUD, never a silent NULL divergence
    with pytest.raises(
        Exception, match="power-sum overflow|cannot be represented"
    ):
        sketch_moments(spark, sf).collect()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="power-sum overflow"):
            sketch_moments(spark, sf).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_moments_all_null_group_stays_null(spark, tmp_path):
    """A group whose inputs are all NULL keeps NULL sums on both
    engines — the guard must NOT fire for it."""
    from etl_pipeline_example_spark.operators.moments import sketch_moments

    sf = _write_events(
        spark, tmp_path,
        [(1, "a", None), (2, "a", None), (3, "b", 2.5)],
    )
    rows = {r["grp"]: r for r in sketch_moments(spark, sf).collect()}
    assert rows["a"]["n"] == 2 and rows["a"]["s1"] is None
    assert rows["b"]["s1"] == "250" and rows["b"]["s2"] == "62500"
    assert rows["__merged__"]["s1"] == "250"


# ----------------------------------------------------------- MP3 decode
def test_mp3_decode_hand_pinned_doc0():
    """doc_id=0, hand-walked: 1 frame, 2 granules, every integer
    statistic computed by hand from the planted pattern."""
    from etl_pipeline_example_spark.operators.mp3 import (
        decode_mp3,
        synth_mp3,
    )

    st = decode_mp3(synth_mp3(0))
    pcm = st.pop("pcm")
    # granule 0 (d=0,g=0): nbig=9 pairs -> 18 lines; ncq=2 -> 8 c1 lines
    #   big lines: i<8: v=i%2 -> 1s at i=1,3,5,7 (4 nonzero)
    #   8<=i<16: i==10 and (0+0)%2==0 -> 64; else 8*(i%2): 8 at 9,11,13,15
    #     -> 64@10 + four 8s (5 nonzero)
    #   16<=i<18: v=i%2 -> 1 at 17 (1 nonzero)      => 10 nonzero
    # granule 1 (g=1): nbig=10 -> 20 lines; i<8: v=(1+i)%2 -> 1s at
    #   0,2,4,6 (4); 8..15: (1+i)%2*8 -> 8s at 8,10,12,14 BUT i==10 needs
    #   (d+g)%2==0 -> g=1 odd -> no escape, so 8@8,10,12,14 (4);
    #   16..19: (1+i)%2 -> 1s at 16,18 (2)           => 10 nonzero
    assert st["n_frames"] == 1 and st["n_granules"] == 2
    assert st["sample_rate"] == 32000 and st["bitrate_kbps"] == 320
    assert st["sum_mdb"] == 0  # single frame: no reservoir backpointer
    # gg: g=0 -> 210+4*0=210; g=1 -> 210+4*3=222
    assert st["sum_gg"] == 432
    assert st["n_big_nonzero"] == 20
    assert st["n_esc"] == 1  # the single planted 64 at (g=0, i=10)
    assert st["n_pcm"] == 1152 and pcm.size == 1152
    # count1 ones: g0 lines 18..25 v=(0+0+i)%2 -> 4 ones; g1 lines
    # 20..31 v=(1+i)%2 -> 6 ones
    assert st["n_count1_ones"] == 10


def test_mp3_reservoir_really_back_references():
    """Multi-frame docs plant main_data_begin > 0; zeroing the carried
    bytes at the END of frame 0's slot corrupts frame 1's decode —
    proof the decoder actually reads through the reservoir."""
    from etl_pipeline_example_spark.operators.mp3 import (
        _mdb,
        decode_mp3,
        synth_mp3,
    )

    d = 1  # n_frames = 2
    blob = bytearray(synth_mp3(d))
    st = decode_mp3(bytes(blob))
    assert st["n_frames"] == 2
    assert st["sum_mdb"] == _mdb(d, 1) > 0
    # frame 0 occupies bytes [0, 1440); its slot tail carries frame 1's
    # first main_data_begin bytes — zero them. A decoder that ignored
    # the reservoir would be unaffected; the real one must either fail
    # or decode DIFFERENT spectra for frame 1.
    for i in range(1440 - _mdb(d, 1), 1440):
        blob[i] = 0
    try:
        tampered = decode_mp3(bytes(blob))
        tampered.pop("pcm")
        clean = dict(st)
        clean.pop("pcm")
        assert tampered != clean, "reservoir bytes were not load-bearing"
    except ValueError:
        pass  # desync raising loudly is equally acceptable


def test_mp3_loud_boundaries():
    """Unsupported shapes raise naming the field, never misread."""
    from etl_pipeline_example_spark.operators.mp3 import (
        decode_mp3,
        synth_mp3,
    )

    blob = bytearray(synth_mp3(0))
    with pytest.raises(ValueError, match="truncated"):
        decode_mp3(bytes(blob[:100]))
    bad = bytearray(blob)
    bad[0] = 0x00  # break sync
    with pytest.raises(ValueError, match="sync"):
        decode_mp3(bytes(bad))
    bad = bytearray(blob)
    bad[3] &= 0b00111111  # mode -> stereo
    with pytest.raises(ValueError, match="mono"):
        decode_mp3(bytes(bad))


def test_mp3_imdct_synthesis_matches_independent_formula():
    """Everything after Huffman re-implemented independently from the
    published formulas (36-point IMDCT, sine window, overlap-add,
    frequency inversion, 64x32 matrixing, V-FIFO, 512-tap window) must
    agree with the module's PCM to float precision."""
    import numpy as np

    from etl_pipeline_example_spark.operators import mp3 as M

    d = 2
    st = M.decode_mp3(M.synth_mp3(d))
    got = st["pcm"]

    # independent xr from the planted pattern
    def xr_of(g):
        xr = np.zeros(576)
        k = (d + 3 * g) % 5
        for i in range(40):
            v = M._line_val(d, g, i)
            if not v:
                continue
            b = M._band_of(i)
            e = k - M._sf_val(d, g, b) - M._preflag(d, g) * M._pretab(b)
            q = {1: 1.0, 8: 16.0, 64: 256.0}[abs(v)]
            xr[i] = (1 if v > 0 else -1) * q * (2.0 ** e)
        return xr

    n_gr = 2 * M._n_frames(d)
    imdct = np.array(
        [
            [
                np.cos(np.pi / 72 * (2 * n + 1 + 18) * (2 * kk + 1))
                for kk in range(18)
            ]
            for n in range(36)
        ]
    )
    win = np.array([np.sin(np.pi / 36 * (n + 0.5)) for n in range(36)])
    dwin = np.array(
        [np.sin(np.pi * (i + 0.5) / 512) / 32 for i in range(512)]
    )
    nmat = np.array(
        [
            [np.cos((16 + i) * (2 * kk + 1) * np.pi / 64) for kk in range(32)]
            for i in range(64)
        ]
    )
    overlap = np.zeros((32, 18))
    v = np.zeros(1024)
    out = []
    for g in range(n_gr):
        xr = xr_of(g)
        grid = np.zeros((18, 32))
        for sb in range(32):
            xw = imdct @ xr[sb * 18:(sb + 1) * 18] * win
            grid[:, sb] = xw[:18] + overlap[sb]
            overlap[sb] = xw[18:]
        for sb in range(1, 32, 2):
            grid[1::2, sb] = -grid[1::2, sb]
        for t in range(18):
            v = np.roll(v, 64)
            v[:64] = nmat @ grid[t]
            pcm = np.zeros(32)
            for i in range(8):
                seg = v[i * 128: i * 128 + 96]
                pcm += (
                    seg[:32] * dwin[i * 64: i * 64 + 32]
                    + seg[64:96] * dwin[i * 64 + 32: i * 64 + 64]
                )
            out.append(pcm)
    exp = np.concatenate(out)
    assert got.shape == exp.shape
    assert np.allclose(got, exp, atol=1e-12), np.abs(got - exp).max()
    assert np.abs(exp).max() > 0  # the pipeline produces real signal


def test_mp3_subband_hand_pinned_doc0(spark, tmp_path):
    """doc 0, hand-walked per subband (18-line groups): sb0 holds the
    whole big-values region of both granules (19 nonzero, the 64
    escape included), sb1 the count1 tails (11 nonzero, all ±1), sb2
    is empty (both granules' count1 ends before line 36)."""
    import os
    import shutil

    from etl_pipeline_example_spark.operators.mp3 import (
        multimodal_mp3_subband,
    )

    stage = str(tmp_path / "_doc_stage")
    spark.createDataFrame(
        [(0, "t")], "doc_id bigint, text string"
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(
        f for f in os.listdir(stage)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.replace(f"{stage}/{part}", str(tmp_path / "documents.parquet"))
    shutil.rmtree(stage)
    rows = {
        r["subband"]: r
        for r in multimodal_mp3_subband(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {0, 1, 2}
    # g0: big lines 1,3,5,7 (|1|) + 9,11,13,15 (|8|) + 10 (|64|) +
    # 17 (|1|) = 10; g1: 0,2,4,6 (|1|) + 8,10,12,14 (|8|) + 16 (|1|) = 9
    assert rows[0]["n_nonzero"] == 19
    assert rows[0]["max_abs_ix"] == 64
    # g0 count1 19,21,23,25 + g1 big 18 + count1 20..30 evens = 11
    assert rows[1]["n_nonzero"] == 11
    assert rows[1]["max_abs_ix"] == 1
    assert rows[2]["n_nonzero"] == 0 and rows[2]["max_abs_ix"] == 0
    assert rows[2]["sum_abs_xr_x2e18"] == 0


def test_stream_cusum_parity_and_hand_shift(spark, tmp_path):
    """The streaming twin must land on the batch op's exact panel, and
    a hand-planted level shift peaks on the shift day."""
    import datetime
    import os
    import shutil

    from etl_pipeline_example_spark.operators.cusum import (
        events_cusum_shift,
    )
    from etl_pipeline_example_spark.streaming.cusumfeed import (
        stream_cusum_shift,
    )

    # 6 days of type 'a': 1,1,1,3,3,3 events/day -> mean 2/day; up
    # excursion (scaled by n_days=6) peaks on the last day:
    # y = 6x-12 -> -6,-6,-6,+6,+6,+6; cum -6,-12,-18,-12,-6,0;
    # runmin -18 -> s_up peaks at 0-(-18)=18 on day 6
    rows = []
    eid = 0
    for dd, n in enumerate([1, 1, 1, 3, 3, 3]):
        for _ in range(n):
            eid += 1
            rows.append(
                (
                    eid,
                    datetime.datetime(2026, 8, 1 + dd, 12, 0, 0),
                    1,
                    "a",
                    1.0,
                    "{}",
                )
            )
    stage = str(tmp_path / "_ev_stage")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(
        f for f in os.listdir(stage)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    os.replace(f"{stage}/{part}", str(tmp_path / "events.parquet"))
    shutil.rmtree(stage)

    got = stream_cusum_shift(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_days"] == 6 and r["total"] == 12
    assert r["up_scaled"] == 18
    assert str(r["up_day"]) == "2026-08-06"
    # stream == batch, column for column
    batch = events_cusum_shift(spark, str(tmp_path)).collect()
    assert [x.asDict() for x in got] == [x.asDict() for x in batch]


def test_dpclip_hand_pinned(spark, tmp_path):
    """Users with counts 1,3,5,20 at cap 4: clipped 1+3+4+4=12,
    loss 17, 2 users clipped, max 20 — folded by hand."""
    import datetime
    import os
    import shutil

    from etl_pipeline_example_spark.operators.dpclip import (
        privacy_contribution_bound,
    )

    rows = []
    eid = 0
    for uid, n in [(1, 1), (2, 3), (3, 5), (4, 20)]:
        for _ in range(n):
            eid += 1
            rows.append(
                (eid, datetime.datetime(2026, 8, 1), uid, "a", 1.0, "{}")
            )
    stage = str(tmp_path / "_s")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(
        f for f in os.listdir(stage) if f.endswith(".parquet")
    )
    os.replace(f"{stage}/{part}", str(tmp_path / "events.parquet"))
    shutil.rmtree(stage)
    rows = {
        r["cap"]: r
        for r in privacy_contribution_bound(
            spark, str(tmp_path)
        ).collect()
    }
    assert rows[4]["raw_sum"] == 29 and rows[4]["clipped_sum"] == 12
    assert rows[4]["clip_loss"] == 17
    assert rows[4]["n_users"] == 4 and rows[4]["n_users_clipped"] == 2
    assert rows[4]["max_contrib"] == 20
    assert rows[1]["clipped_sum"] == 4  # cap 1: one per user
    assert rows[64]["clipped_sum"] == 29 and rows[64]["clip_loss"] == 0


def test_bfs_layers_hand_chain(spark, tmp_path):
    """Path graph 1-2-3-4-5-6 (each edge co-ordered in 2 orders to
    clear MIN_CO_ORDERS), seeds {1,2,3}: layers 0:{1,2,3} 1:{4} 2:{5}
    3:{6} — the depth cap excludes nothing here but the layer split is
    fully hand-derived."""
    import os
    import shutil

    from etl_pipeline_example_spark.plans.bfs import graph_bfs_layers

    rows = []
    okey = 0
    for u, v in [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]:
        for _ in range(2):  # MIN_CO_ORDERS
            okey += 1
            rows.append((okey, u))
            rows.append((okey, v))
    stage = str(tmp_path / "_s")
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint"
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.replace(f"{stage}/{part}", str(tmp_path / "lineitem.parquet"))
    shutil.rmtree(stage)
    got = {
        r["layer"]: (r["n_nodes"], r["sum_node"])
        for r in graph_bfs_layers(spark, str(tmp_path)).collect()
    }
    assert got == {0: (3, 6), 1: (1, 4), 2: (1, 5), 3: (1, 6)}, got


def test_asof_nearest_hand_cases(spark, tmp_path):
    """Same-ts view counts as prior (gap 0); 24h tolerance exclusive
    beyond; no prior view -> NULL — each case planted by hand."""
    import datetime
    import os
    import shutil

    from etl_pipeline_example_spark.plans.asofjoin import q_asof_nearest

    t0 = datetime.datetime(2026, 8, 1, 12, 0, 0)

    def at(**kw):
        return t0 + datetime.timedelta(**kw)

    rows = [
        # user 1: view then purchase 10s later -> match, gap 10s
        (1, t0, 1, "view", 1.0, "{}"),
        (2, at(seconds=10), 1, "purchase", 1.0, "{}"),
        # user 1: another purchase 25h after the view -> out of tolerance
        (3, at(hours=25), 1, "purchase", 1.0, "{}"),
        # user 2: view and purchase at the SAME ts -> match, gap 0
        (4, at(hours=1), 2, "view", 1.0, "{}"),
        (5, at(hours=1), 2, "purchase", 1.0, "{}"),
        # user 3: purchase with no prior view -> NULL
        (6, t0, 3, "purchase", 1.0, "{}"),
        # noise the operator must ignore
        (7, t0, 1, "click", 1.0, "{}"),
    ]
    stage = str(tmp_path / "_s")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.replace(f"{stage}/{part}", str(tmp_path / "events.parquet"))
    shutil.rmtree(stage)
    got = {
        r["p_event_id"]: (r["v_event_id"], r["gap_us"])
        for r in q_asof_nearest(spark, str(tmp_path)).collect()
    }
    assert got == {
        2: (1, 10_000_000),
        3: (None, None),
        5: (4, 0),
        6: (None, None),
    }, got


def test_url_canonical_hand_cases(spark, tmp_path):
    """Canonical bucket (0,0) over docs [0,70): doc_ids ≡ 0 (mod 35)
    are 0 and 35. Hand-walk: doc 0 spells
    HTTP://WWW.Example0.COM:80/Path0/?b=2&a=1&utm_source=x; doc 35
    (odd, 35//2 odd, 35//4 even, 35//8 even, 35//16 even, 35//32 odd)
    spells http://www.example0.COM:80/Path0/?b=2&a=1 — two DISTINCT
    raw spellings, one canonical
    http://www.example0.com/path0?a=1&b=2."""
    import os
    import shutil

    from etl_pipeline_example_spark.operators.urlcanon import (
        dedup_url_canonical,
    )

    stage = str(tmp_path / "_s")
    spark.createDataFrame(
        [(d, "t") for d in range(70)], "doc_id bigint, text string"
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.replace(f"{stage}/{part}", str(tmp_path / "documents.parquet"))
    shutil.rmtree(stage)
    rows = {
        r["canon_url"]: r
        for r in dedup_url_canonical(spark, str(tmp_path)).collect()
    }
    key = "http://www.example0.com/path0?a=1&b=2"
    assert key in rows
    # docs with d%7==0 and d%5==0 in [0,70): 0 and 35
    assert rows[key]["n_docs"] == 2
    # doc 0 bits: 0b000000 -> all-messy spelling; doc 35 = 0b100011 ->
    # different spelling: two DISTINCT raw variants
    assert rows[key]["n_raw_variants"] == 2
    # every canonical bucket is lowercase, portless, slashless, sorted
    for u in rows:
        assert u == u.lower() and ":80" not in u and "utm" not in u
        assert "?a=1&b=2" in u
