"""Hand-verifiable unit tests for the round-6 curation operators.

The oracle tests prove Spark and DuckDB agree; these prove the shared
semantics are the INTENDED ones, on corpora small enough to compute the
expected output by hand.
"""

from __future__ import annotations

import pytest


def _write_docs(spark, tmp_path, rows):
    """rows: list of (doc_id, text, lang, source). Writes the documents
    table layout the operators read."""
    df = spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_bpe_learns_hand_computed_merges(spark, tmp_path):
    """Corpus: 'aaab' ×2, 'abab' ×1 (as one doc each — word freq comes
    from occurrence count).

    Round 0 weighted pairs: (a,a)=4, (a,b)=4, (b,a)=1 → tie broken by
    pair ASC: merge (a,a) at count 4.
    Round 1: (aa,a)=2, (a,b)=4, (b,a)=1 → merge (a,b) at 4.
    Round 2: (aa,ab)=2, (ab,ab)=1 → merge (aa,ab) at 2.
    """
    from etl_pipeline_example_spark.operators.bpe import bpe_train

    sf = _write_docs(
        spark,
        tmp_path,
        [(0, "aaab aaab abab", "en", "src1")],
    )
    rows = sorted(bpe_train(spark, sf).collect(), key=lambda r: r["round"])
    got = [(r["round"], r["merge_pair"], r["merged"], r["pair_cnt"]) for r in rows]
    assert got == [
        (0, "_a_ _a_", "_aa_", 4),
        (1, "_a_ _b_", "_ab_", 4),
        (2, "_aa_ _ab_", "_aaab_", 2),
    ], got


def test_domain_cap_caps_the_skewed_source_only(spark, tmp_path):
    """One source with 3×cap docs, one under the cap: the skewed source
    ends at exactly DOMAIN_CAP, the small one survives whole."""
    from etl_pipeline_example_spark.operators.domain import DOMAIN_CAP, domain_cap

    rows = [(i, f"doc {i}", "en", "big") for i in range(3 * DOMAIN_CAP)]
    rows += [(1000 + i, f"doc {1000 + i}", "en", "small") for i in range(5)]
    sf = _write_docs(spark, tmp_path, rows)
    out = domain_cap(spark, sf).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(per["big"]) == DOMAIN_CAP
    assert len(per["small"]) == 5


def test_charlm_scores_typical_text_above_anomalous(spark, tmp_path):
    """A corpus of near-identical 'the cat sat' docs plus one
    rare-character outlier: the outlier must score strictly lowest —
    the LM filter's entire job."""
    from etl_pipeline_example_spark.operators.charlm import quality_charlm

    rows = [(i, "the cat sat on the mat", "en", "src1") for i in range(12)]
    rows.append((99, "zqxjkwvzzqxjkwvzzqxjkw", "en", "src1"))
    sf = _write_docs(spark, tmp_path, rows)
    scores = {r["doc_id"]: r["lm_score"] for r in quality_charlm(spark, sf).collect()}
    outlier = scores.pop(99)
    assert outlier < min(scores.values())


def test_contamination_minhash_flags_the_paraphrase_not_the_stranger(spark, tmp_path):
    """A train doc that is a near-copy of an eval doc (one token
    changed; shingle Jaccard 7/9, hand-computed below) is flagged
    against THAT eval doc with exactly that score; an unrelated train
    doc is not flagged at all."""
    from etl_pipeline_example_spark.operators.decontam import EVAL_SOURCE
    from etl_pipeline_example_spark.operators.decontam_fuzzy import (
        contamination_minhash,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    other = "one two three four five six seven eight nine ten"
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, base, "en", EVAL_SOURCE),
            (1, near, "en", "train"),
            (2, other, "en", "train"),
        ],
    )
    rows = contamination_minhash(spark, sf).collect()
    flagged = {r["doc_id"]: (r["eval_doc_id"], r["jaccard"]) for r in rows}
    assert 1 in flagged and flagged[1][0] == 0, rows
    # 8 shingles per doc, the 7 not touching the changed last token are
    # shared → jaccard = 7 / (8 + 8 - 7) = 7/9
    assert flagged[1][1] == pytest.approx(7 / 9, abs=1e-4)
    assert 2 not in flagged


def test_dsir_scores_target_like_docs_above_raw_typical(spark, tmp_path):
    """Target (src0): 'a b a b' — bigram counts ab:2, ba:1 (T_t=3).
    Raw: doc 1 'a b x' (bigrams ab, bx), doc 2 'x y z' (xy, yz; T_r=4).

    λ(ab) = ((2+1)/(3+B)) / ((1+1)/(4+B)) ≈ 1.50 → the shared target
    bigram contributes +0.5; every raw-only bigram has λ ≈ 0.5 → −0.5.
    So doc 1 ≈ +0.002 outranks doc 2 ≈ −1.0 (< 0), and the target doc
    itself never appears in the output.
    """
    from etl_pipeline_example_spark.operators.dsir import dsir_weights

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, "a b a b", "en", "src0"),
            (1, "a b x", "en", "src1"),
            (2, "x y z", "en", "src2"),
        ],
    )
    rows = {r["doc_id"]: r for r in dsir_weights(spark, sf).collect()}
    assert set(rows) == {1, 2}, rows
    assert rows[1]["n_bigrams"] == 2 and rows[2]["n_bigrams"] == 2
    assert rows[1]["dsir_score"] > rows[2]["dsir_score"]
    assert rows[2]["dsir_score"] < 0


def test_quality_c4_each_rule_fires_on_its_planted_violation(spark, tmp_path):
    """Five planted docs, one per rule: a clean prose doc keeps; a
    5-word doc fails len_ok; a '{'-bearing doc fails clean_markup; a
    doc of 25 twelve-char words fails mean_len_ok; a 25-word doc with
    no function words fails has_stopword."""
    from etl_pipeline_example_spark.operators.c4 import quality_c4

    prose = "the quick brown fox jumps over a lazy dog near the river bank " * 2
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, prose, "en", "src1"),
            (1, "too few words here now", "en", "src1"),
            (2, prose + " { code }", "en", "src1"),
            (3, " ".join(["zzzzzzzzzzzz"] * 25), "en", "src1"),
            (4, " ".join([f"word{i}" for i in range(25)]), "en", "src1"),
        ],
    )
    rows = {r["doc_id"]: r for r in quality_c4(spark, sf).collect()}
    assert rows[0]["keep"] is True
    assert rows[1]["len_ok"] is False and rows[1]["keep"] is False
    assert rows[2]["clean_markup"] is False and rows[2]["keep"] is False
    assert rows[3]["mean_len_ok"] is False and rows[3]["keep"] is False
    assert rows[4]["has_stopword"] is False and rows[4]["keep"] is False


def test_pmi_lift_matches_hand_computation(spark, tmp_path):
    """Corpus 'x y x y x y x y x y x y': 12 tokens, 11 bigrams —
    (x,y)×6 and (y,x)×5. Marginals: l(x)=6, l(y)=5, r(y)=6, r(x)=5.
    lift(x,y) = 6·11/(6·6) = 11/6; lift(y,x) = 5·11/(5·5) = 11/5 —
    the rarer-marginal pair outranks the more frequent one, which is
    exactly what separates PMI from raw counts."""
    from etl_pipeline_example_spark.operators.pmi import pmi_bigrams

    sf = _write_docs(spark, tmp_path, [(0, "x y " * 6, "en", "src1")])
    rows = [
        (r["w1"], r["w2"], r["pair_cnt"], r["lift"])
        for r in pmi_bigrams(spark, sf).collect()
    ]
    assert rows == [("y", "x", 5, 55 / 25), ("x", "y", 6, 66 / 36)], rows


def test_boilerplate_strip_removes_shared_chunk_and_keeps_unique_tail(spark, tmp_path):
    """Docs 0 and 1 share a 32-token boilerplate prefix chunk followed by
    a unique 32-token tail; doc 2 is all-unique; doc 3 is ONLY the
    boilerplate. The shared chunk is dropped from 0/1, doc 2 is
    untouched, doc 3 vanishes (nothing left), and doc 0's clean hash is
    exactly md5 of its unique tail."""
    import hashlib

    from etl_pipeline_example_spark.operators.boilerstrip import boilerplate_strip

    boiler = " ".join(f"b{i}" for i in range(32))
    u0 = " ".join(f"u{i}" for i in range(32))
    u1 = " ".join(f"v{i}" for i in range(32))
    u2 = " ".join(f"w{i}" for i in range(32))
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, f"{boiler} {u0}", "en", "src1"),
            (1, f"{boiler} {u1}", "en", "src1"),
            (2, u2, "en", "src1"),
            (3, boiler, "en", "src1"),
        ],
    )
    rows = {r["doc_id"]: r for r in boilerplate_strip(spark, sf).collect()}
    assert set(rows) == {0, 1, 2}, rows
    assert (rows[0]["n_chunks"], rows[0]["n_kept"], rows[0]["n_dropped"]) == (2, 1, 1)
    assert (rows[1]["n_chunks"], rows[1]["n_kept"], rows[1]["n_dropped"]) == (2, 1, 1)
    assert (rows[2]["n_chunks"], rows[2]["n_kept"], rows[2]["n_dropped"]) == (1, 1, 0)
    assert rows[0]["clean_hash"] == hashlib.md5(u0.encode()).hexdigest()


def test_bpe_encode_applies_learned_merges_at_vocabulary_level(spark, tmp_path):
    """Same corpus as the bpe_train test ('aaab aaab abab'): the learned
    merges collapse 'aaab' to ONE symbol and 'abab' to TWO ('_ab_ _ab_'),
    so the doc's 3 words encode to 1+1+2 = 4 BPE tokens."""
    from etl_pipeline_example_spark.operators.bpe import bpe_encode

    sf = _write_docs(spark, tmp_path, [(0, "aaab aaab abab", "en", "src1")])
    rows = bpe_encode(spark, sf).collect()
    assert len(rows) == 1
    assert (rows[0]["n_words"], rows[0]["n_bpe_tokens"]) == (3, 4), rows


def test_dq_profile_approx_lands_inside_sketch_error_bounds(spark):
    """Sketch estimates vs exact answers on the real sf0.001 orders
    table: HLL++ distinct counts within 3×rsd of exact, GK percentiles
    within the rank-error window of the exact sorted values."""
    from etl_pipeline_example_spark.plans.profiling import HLL_RSD, dq_profile_approx
    from etl_pipeline_example_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = {r["col_name"]: r for r in dq_profile_approx(spark, sf).collect()}
    orders = read_table(spark, sf, "orders")
    exact = orders.agg(
        F.countDistinct("o_orderstatus").alias("d_status"),
        F.countDistinct("o_custkey").alias("d_cust"),
        F.countDistinct("o_totalprice").alias("d_price"),
        F.expr("percentile(o_custkey, 0.5)").alias("p50_cust"),
        F.expr("percentile(o_custkey, 0.9)").alias("p90_cust"),
    ).collect()[0]
    for col, d in (
        ("o_orderstatus", exact["d_status"]),
        ("o_custkey", exact["d_cust"]),
        ("o_totalprice", exact["d_price"]),
    ):
        got = rows[col]["approx_distinct"]
        assert abs(got - d) <= max(1, 3 * HLL_RSD * d), (col, got, d)
    # GK percentile: allow a generous ±2% of the value range for rank error
    lo, hi = orders.agg(F.min("o_custkey"), F.max("o_custkey")).collect()[0]
    span = (hi - lo) * 0.02
    assert abs(rows["o_custkey"]["p50"] - exact["p50_cust"]) <= span + 1
    assert abs(rows["o_custkey"]["p90"] - exact["p90_cust"]) <= span + 1
    # nulls/row counts are exact by construction
    assert all(r["n_nulls"] == 0 for r in rows.values())


def test_embed_rp_projects_basis_vector_to_hashed_sign_row(spark, tmp_path):
    """A one-hot embedding e_d isolates matrix column d: proj_j must be
    exactly 0.25·sign(j, d), with the sign recomputed here via hashlib —
    pinning that the engine's matrix IS the md5 derivation."""
    import hashlib

    from etl_pipeline_example_spark.operators.rp import RP_K, embed_rp

    d = 3  # 1-indexed dim carrying the 1.0
    vec = [0.0] * 8
    vec[d - 1] = 1.0
    df = spark.createDataFrame(
        [(0, vec, 1)], "vec_id bigint, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    rows = embed_rp(spark, str(tmp_path)).collect()
    assert sorted(r["dim"] for r in rows) == list(range(RP_K))
    proj = [r["value"] for r in sorted(rows, key=lambda r: r["dim"])]
    expected = [
        0.25 * (1.0 if hashlib.md5(f"rp:{j}:{d}".encode()).hexdigest()[0] < "8" else -1.0)
        for j in range(RP_K)
    ]
    assert proj == expected, (proj, expected)


def test_embed_rp_roughly_preserves_pairwise_distances(spark):
    """JL sanity on real sf0.001 embeddings: for sampled pairs, the
    projected squared distance is within a loose [0.2, 5] factor of the
    original (k=16 gives weak concentration; this guards sign/scale
    bugs, not the lemma's tight bound)."""
    from etl_pipeline_example_spark.operators.rp import rp_vectors
    from etl_pipeline_example_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    orig = {
        r["vec_id"]: r["embedding"]
        for r in read_table(spark, sf, "embeddings").limit(6).collect()
    }
    proj = {
        r["vec_id"]: r["proj"]
        for r in rp_vectors(spark, sf).collect()
        if r["vec_id"] in orig
    }

    def sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ids = sorted(orig)
    checked = 0
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d0 = sq(orig[ids[i]], orig[ids[j]])
            if d0 < 1e-12:
                continue
            ratio = sq(proj[ids[i]], proj[ids[j]]) / d0
            assert 0.2 <= ratio <= 5.0, (ids[i], ids[j], ratio)
            checked += 1
    assert checked >= 10


def test_embed_pca_satisfies_the_spectral_contract(spark):
    """PCA algebra on real sf0.001 embeddings: components orthonormal,
    eigenvalues descending and summing to (at most) the total variance,
    per-component projected sample variance equal to its eigenvalue,
    and a planted dominant direction is recovered as PC1."""
    import numpy as np

    from etl_pipeline_example_spark.operators.pca import (
        PCA_COMPONENTS,
        _fit_pca,
        embed_pca,
        pca_vectors,
    )

    sf = "/root/testdata/sf0.001"
    mu, V, w = _fit_pca(spark, sf)
    assert np.allclose(V.T @ V, np.eye(PCA_COMPONENTS), atol=1e-8)
    assert all(w[i] >= w[i + 1] - 1e-12 for i in range(len(w) - 1))
    rows = pca_vectors(spark, sf).collect()
    Y = np.array([r["pc"] for r in rows])
    assert Y.shape == (len(rows), PCA_COMPONENTS)
    assert np.allclose(Y.var(axis=0, ddof=1), w, rtol=1e-6)
    assert abs(Y.mean(axis=0)).max() < 1e-9  # centered projection
    # registered (exploded) shape: scalar rows, dims 0..P-1 per vector,
    # values matching the packed form exactly
    flat = embed_pca(spark, sf).collect()
    assert len(flat) == len(rows) * PCA_COMPONENTS
    packed = {r["vec_id"]: r["pc"] for r in rows}
    for fr in flat[:64]:
        assert fr["value"] == packed[fr["vec_id"]][fr["dim"]]


def test_embed_pca_recovers_a_planted_dominant_direction(spark, tmp_path):
    """Vectors = t·e1 + small noise in e2: PC1 must align with e1
    (|V[0,0]| ≈ 1) and eigval1 must dwarf eigval2."""
    import numpy as np

    from etl_pipeline_example_spark.operators.pca import _fit_pca

    rng = [(-2.0, 0.01), (-1.0, -0.02), (0.0, 0.015), (1.0, -0.01), (2.0, 0.005),
           (1.5, 0.02), (-1.5, -0.015), (0.5, 0.0)]
    rows = [
        (i, [t, e] + [0.0] * 6, 0) for i, (t, e) in enumerate(rng)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    _, V, w = _fit_pca(spark, str(tmp_path))
    assert abs(V[0, 0]) > 0.999, V[:, 0]
    assert w[0] > 100 * w[1], w[:2]


def test_curation_funnel_attributes_each_drop_to_its_stage(spark, tmp_path):
    """One planted casualty per stage: a short doc dies at the C4 gate,
    an exact copy dies at dedup, an eval-overlapping doc dies at
    decontam, and an oversized domain is trimmed to DOMAIN_CAP."""
    from etl_pipeline_example_spark.operators.domain import DOMAIN_CAP
    from etl_pipeline_example_spark.operators.funnel import curation_funnel

    eval_text = "the quick brown fox jumps over a lazy dog near the river bank today"
    prose = "we all think data systems should scale to the moon and back " * 2
    rows = [
        (0, eval_text, "en", "src0"),  # eval slice — not corpus material
        (1, prose, "en", "src1"),  # survives everything
        (2, prose, "en", "src1"),  # exact dup of 1 → dies at dedup
        (3, "too short for the gate", "en", "src1"),  # dies at c4
        (4, eval_text + " and then some extra words to pass the gate easily onward",
         "en", "src1"),  # shares eval 5-grams → dies at decontam
    ]
    big = DOMAIN_CAP + 3
    rows += [
        (10 + i,
         f"big domain doc number {i} with plenty of ordinary words in the body "
         "so that the gate is passed and the text stays perfectly unique here "
         f"variant {i}",
         "en", "big")
        for i in range(big)
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r["stage"]: (r["n_in"], r["n_kept"]) for r in curation_funnel(spark, sf).collect()}
    n_train = 4 + big
    assert got["1_c4_gate"] == (n_train, n_train - 1)  # doc 3 out
    assert got["2_exact_dedup"] == (n_train - 1, n_train - 2)  # doc 2 out
    assert got["3_decontam"] == (n_train - 2, n_train - 3)  # doc 4 out
    assert got["4_domain_cap"] == (n_train - 3, n_train - 6)  # big capped


def test_text_normalize_composes_strips_and_collapses(spark, tmp_path, duck):
    """Planted unicode, matched cross-engine (DuckDB's utf8proc vs
    Python's unicodedata — two NFC implementations): decomposed é
    composes (one char shorter), control chars strip, whitespace runs
    collapse, the ﬁ ligature survives NFC, and the composed/decomposed
    café docs hash APART only because their tail words differ."""
    import duckdb

    from etl_pipeline_example_spark.operators.normalize import (
        TEXT_NORMALIZE_SQL,
        text_normalize,
    )
    from tools.drivercheck import oracle_mismatch

    rows = [
        (0, "café composed", "en", "s"),
        (1, "café decomposed", "en", "s"),
        (2, "tab\tand\x00control\x07chars", "en", "s"),
        (3, "many     spaces\n\nand newlines", "en", "s"),
        (4, "ﬁ ligature stays under NFC", "en", "s"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    assert oracle_mismatch(text_normalize(spark, sf), con, TEXT_NORMALIZE_SQL) is None
    out = {r["doc_id"]: r for r in text_normalize(spark, sf).collect()}
    assert out[0]["changed"] is False
    assert out[1]["n_chars_norm"] == out[1]["n_chars_raw"] - 1  # NFC composed
    assert out[2]["n_chars_norm"] == out[2]["n_chars_raw"] - 2  # 2 ctrls gone
    assert out[3]["n_chars_norm"] < out[3]["n_chars_raw"]  # runs collapsed
    assert out[4]["changed"] is False  # ligature untouched by NFC


def test_shard_by_tokens_respects_budget_and_never_splits_docs(spark, sf_dir):
    """Shard totals: a doc belongs to the shard its running total
    STARTS in, so each non-final shard's total differs from the budget
    by LESS THAN ONE DOC (the straddling doc tips either way); shard
    ids are contiguous from 0; every doc appears exactly once."""
    from pyspark.sql import functions as F

    from etl_pipeline_example_spark.operators.shard import (
        SHARD_TOKENS,
        shard_by_tokens,
    )
    from etl_pipeline_example_spark.sources.readers import read_table

    df = shard_by_tokens(spark, sf_dir)
    n_docs = read_table(spark, sf_dir, "documents").count()
    assert df.count() == n_docs
    assert df.select("doc_id").distinct().count() == n_docs
    per = {
        r["shard_id"]: r["tok"]
        for r in df.groupBy("shard_id").agg(F.sum("n_tokens").alias("tok")).collect()
    }
    ids = sorted(per)
    assert ids == list(range(len(ids)))
    max_doc = df.agg(F.max("n_tokens")).collect()[0][0]
    for sid in ids[:-1]:
        assert abs(per[sid] - SHARD_TOKENS) < max_doc, (sid, per[sid], max_doc)


def test_media_header_parser_reads_real_png_and_wav_bytes():
    """The container parser is REAL: hand-built PNG/WAV byte strings
    round-trip through struct parsing, and corrupt magics are refused."""
    import pytest as _pytest

    from etl_pipeline_example_spark.operators.mediahdr import (
        parse_media_header,
        synth_png,
        synth_wav,
    )

    png = parse_media_header(synth_png(1920, 1080))
    assert (png["width"], png["height"]) == (1920, 1080)
    wav = parse_media_header(synth_wav(44100, 2, 44100))
    assert (wav["sample_rate"], wav["channels"], wav["duration_ms"]) == (44100, 2, 1000)
    with _pytest.raises(ValueError):
        parse_media_header(b"GIF89a not supported")


def test_containment_catches_the_subset_dup_jaccard_misses(spark, tmp_path):
    """Doc 1 is exactly the first half of doc 0: containment(1→0) = 1.0
    while Jaccard ≈ 0.5 (under every minhash threshold) — the
    asymmetric detector's whole point. Doc 2 is unrelated and appears
    in no pair."""
    from etl_pipeline_example_spark.operators.containment import dedup_containment

    half = " ".join(f"w{i} x{i} y{i}" for i in range(8))
    full = half + " " + " ".join(f"a{i} b{i} c{i}" for i in range(8))
    other = " ".join(f"z{i} q{i} r{i}" for i in range(12))
    sf = _write_docs(
        spark,
        tmp_path,
        [(0, full, "en", "s"), (1, half, "en", "s"), (2, other, "en", "s")],
    )
    rows = dedup_containment(spark, sf).collect()
    assert len(rows) == 1, rows
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (0, 1)
    assert r["cont_ba"] == 1.0  # B (the half) fully inside A
    assert r["cont_ab"] < 0.8  # the full doc is NOT inside the half


def test_cluster_topics_members_and_terms_are_consistent(spark):
    """Structural contract on real sf0.001 data: exactly KMEANS_K
    clusters appear, each with TOPIC_TOP_TERMS ranked terms in
    non-increasing count order, and every (cluster, term) count is
    positive."""
    from etl_pipeline_example_spark.operators.clustertopics import (
        TOPIC_TOP_TERMS,
        cluster_topics,
    )
    from etl_pipeline_example_spark.operators.kmeans import KMEANS_K

    rows = cluster_topics(spark, "/root/testdata/sf0.001").collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert len(by_cluster) == KMEANS_K
    for cid, rs in by_cluster.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, TOPIC_TOP_TERMS + 1))
        ns = [r["n"] for r in rs]
        assert all(ns[i] >= ns[i + 1] for i in range(len(ns) - 1)), (cid, ns)
        assert all(n > 0 for n in ns)


def test_corpus_stats_and_dup_rate_count_planted_duplicates(spark, tmp_path):
    """Three docs where two are exact duplicates (one in each of two
    sources): n_exact_dups = 1 corpus-wide, and only the duplicating
    source shows a nonzero rate."""
    from etl_pipeline_example_spark.operators.corpusstats import (
        corpus_stats,
        dup_rate_by_source,
    )

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, "alpha beta gamma", "en", "clean"),
            (1, "same text here", "en", "dupy"),
            (2, "same text here", "en", "dupy"),
        ],
    )
    row = corpus_stats(spark, sf).collect()[0]
    assert (row["n_docs"], row["n_exact_dups"]) == (3, 1)
    assert row["n_tokens"] == 9 and row["vocab"] == 6
    rates = {r["source"]: r for r in dup_rate_by_source(spark, sf).collect()}
    assert rates["dupy"]["n_dups"] == 1 and rates["clean"]["n_dups"] == 0
    assert rates["dupy"]["dup_rate"] == 0.5


def test_dedup_incremental_separates_history_and_batch_dups(spark, tmp_path):
    """History: doc 0 'known text'. Batch (ids ≥ 250): 250 repeats the
    history text (dup_of_history), 251 and 252 share fresh text (251
    first → new, 252 → dup_in_batch), 253 is unique (new)."""
    from etl_pipeline_example_spark.operators.incremental import dedup_incremental

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, "known text already kept", "en", "s"),
            (250, "known text already kept", "en", "s"),
            (251, "fresh shared text", "en", "s"),
            (252, "fresh shared text", "en", "s"),
            (253, "wholly unique text", "en", "s"),
        ],
    )
    got = {r["doc_id"]: r["status"] for r in dedup_incremental(spark, sf).collect()}
    assert got == {
        250: "dup_of_history",
        251: "new",
        252: "dup_in_batch",
        253: "new",
    }, got


def test_lang_mismatch_flags_the_mislabeled_doc(spark, tmp_path):
    """Two docs declared 'en': one genuinely English (agrees), one
    French text (langid says fr → disagrees). The per-source rate
    reflects exactly the one bad label."""
    from etl_pipeline_example_spark.plans.seasonal import lang_mismatch

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, "the cat and the dog are in the house with a bird", "en", "s"),
            (1, "le chat et le chien sont dans la maison avec les oiseaux", "en", "s"),
        ],
    )
    rows = lang_mismatch(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_docs"], r["n_predicted"], r["n_agree"]) == (2, 2, 1), r
    assert r["agree_rate"] == 0.5


def test_ngram_novelty_zero_for_clones_one_for_fresh_text(spark, tmp_path):
    """Two identical docs share every 5-gram (novelty 0 for both); a
    third all-fresh doc scores 1.0."""
    from etl_pipeline_example_spark.operators.novelty import ngram_novelty

    clone = " ".join(f"c{i}" for i in range(10))
    fresh = " ".join(f"f{i}" for i in range(10))
    sf = _write_docs(
        spark,
        tmp_path,
        [(0, clone, "en", "s"), (1, clone, "en", "s"), (2, fresh, "en", "s")],
    )
    got = {r["doc_id"]: r["novelty"] for r in ngram_novelty(spark, sf).collect()}
    assert got == {0: 0.0, 1: 0.0, 2: 1.0}, got


def test_embed_dim_stats_by_hand(spark, tmp_path):
    """Vectors [1,0] and [3,0]: dim 1 mean 2, variance 1 (population);
    dim 2 both zero."""
    from etl_pipeline_example_spark.operators.diagnostics import embed_dim_stats

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [3.0, 0.0], 0)],
        "vec_id bigint, embedding array<float>, label int",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = {r["dim"]: (r["mean"], r["variance"]) for r in embed_dim_stats(spark, str(tmp_path)).collect()}
    assert got == {1: (2.0, 1.0), 2: (0.0, 0.0)}, got


def test_minhash_calibration_error_sits_inside_one_sigma(spark):
    """On the real sf0.001 verified pairs: mean |estimate − jaccard|
    must sit inside one binomial σ = √(J(1−J)/16) at the observed mean
    J — the statistical contract that justifies the 16-hash signature."""
    import math

    from etl_pipeline_example_spark.operators.calibration import minhash_calibration

    r = minhash_calibration(spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_pairs"] > 0
    j = r["mean_jaccard"]
    sigma = math.sqrt(max(j * (1 - j), 1e-9) / 16)
    assert r["mean_abs_err"] <= sigma, (r["mean_abs_err"], sigma)


def test_dedup_savings_attributes_tokens_to_each_method(spark, tmp_path):
    """Three docs of 10 tokens: doc 1 is an exact clone of doc 0 (exact
    dedup reclaims its 10 tokens); doc 2 is distinct. Savings: exact
    10/30, exact+minhash at least that."""
    from etl_pipeline_example_spark.operators.savings import dedup_savings

    a = " ".join(f"a{i}" for i in range(10))
    c = " ".join(f"c{i}" for i in range(10))
    sf = _write_docs(
        spark, tmp_path,
        [(0, a, "en", "s"), (1, a, "en", "s"), (2, c, "en", "s")],
    )
    got = {r["method"]: r for r in dedup_savings(spark, sf).collect()}
    e = got["1_exact"]
    assert (e["tokens_before"], e["tokens_after"]) == (30, 20)
    assert e["savings_rate"] == 0.333333
    b = got["2_exact_plus_minhash"]
    assert b["tokens_after"] <= e["tokens_after"]


def test_sample_split_is_stable_and_covers_every_doc(spark, sf_dir):
    """The split is a pure function of doc_id: two invocations agree
    row-for-row; every doc gets exactly one split; train dominates."""
    from etl_pipeline_example_spark.operators.evaluation import sample_split
    from etl_pipeline_example_spark.sources.readers import read_table

    a = {r["doc_id"]: r["split"] for r in sample_split(spark, sf_dir).collect()}
    b = {r["doc_id"]: r["split"] for r in sample_split(spark, sf_dir).collect()}
    assert a == b
    assert len(a) == read_table(spark, sf_dir, "documents").count()
    from collections import Counter

    c = Counter(a.values())
    assert c["train"] > c["val"] + c["test"]


def test_cluster_purity_is_perfect_on_separable_labels(spark, tmp_path):
    """Two tight blobs on opposite axes with distinct labels: every
    populated cell must be pure (purity 1.0) — the sanity anchor for
    the metric."""
    from etl_pipeline_example_spark.operators.evaluation import cluster_purity

    rows = []
    for i in range(8):
        rows.append((i, [10.0 + i * 0.01] + [0.0] * 7, 1))
        rows.append((100 + i, [0.0] * 7 + [10.0 + i * 0.01], 2))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    for r in cluster_purity(spark, str(tmp_path)).collect():
        assert r["purity"] == 1.0, r


def test_minhash_tune_curve_is_monotone_and_calibrated(spark, sf_dir):
    """The S-curve must be strictly increasing, ≈0 at s=0.05, ≈1 at
    s=0.95, and agree with an independent Python evaluation of
    1 − (1 − s^r)^b at every grid point."""
    from etl_pipeline_example_spark.operators.dedup import MH_BANDS, MH_ROWS
    from etl_pipeline_example_spark.operators.tuning import minhash_tune

    rows = sorted(minhash_tune(spark, sf_dir).collect(), key=lambda r: r["s"])
    ps = [r["p_candidate"] for r in rows]
    assert all(ps[i] < ps[i + 1] for i in range(len(ps) - 1))
    assert ps[0] < 0.1 and ps[-1] > 0.99
    for r in rows:
        s = r["s"]
        sr = 1.0
        for _ in range(MH_ROWS):
            sr = sr * s
        q = 1.0 - sr
        acc = 1.0
        for _ in range(MH_BANDS):
            acc = acc * q
        assert r["p_candidate"] == 1.0 - acc, (s, r["p_candidate"])


def test_embed_outliers_respects_the_per_cell_p95_budget(spark):
    """Structural contract on real sf0.001 data: every flagged member
    exceeds its own cell's p95 (dist > p95 by construction) and each
    cell flags at most ~5% of its members (the percentile budget).
    Note: a lone far point that SEEDS its own cell is dist-0 by
    definition — within-cell outliers are the metric's semantics."""
    from etl_pipeline_example_spark.operators.kmeans import kmeans_assign
    from etl_pipeline_example_spark.operators.novelty import embed_outliers

    sf = "/root/testdata/sf0.001"
    sizes = {}
    for r in kmeans_assign(spark, sf).collect():
        sizes[r["cluster_id"]] = sizes.get(r["cluster_id"], 0) + 1
    flagged = {}
    for r in embed_outliers(spark, sf).collect():
        assert r["dist"] > r["p95"]
        flagged[r["cluster_id"]] = flagged.get(r["cluster_id"], 0) + 1
    assert flagged, "no cell flagged anything"
    for cid, k in flagged.items():
        assert k <= max(1, int(0.05 * sizes[cid]) + 1), (cid, k, sizes[cid])
