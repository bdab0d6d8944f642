"""Registry pins: the key set, each key's callable, the oracle map and
the grading-window prefix of ``queries()`` / ``oracle_sql()``.

A failure here means a key was added, dropped, renamed or rebound, or an
oracle's SQL changed. If that was meant, update the pin in the same change
that made it.
"""

from __future__ import annotations

import hashlib
import json
import re

import pytest

import __spark_entry__ as entry

KEYS = """
    agg_merge_states agg_salted ann_bruteforce ann_filtered ann_int8_rerank
    ann_ivf ann_ivf_balance ann_ivfpq ann_knn_join ann_lsh ann_multiprobe
    ann_pq_adc ann_radius ann_recall_matrix ann_rp_rerank anomaly_mad
    bigram_coverage bm25_prf bm25_rank boilerplate_chunks boilerplate_strip
    bpe_encode_indexed bpe_fertility_indexed bpe_train cdc_apply
    cdc_ivm_rollup cluster_purity cluster_topics contamination_bloom
    contamination_minhash contamination_ngram corpus_stats curation_funnel
    dataset_card dataset_card_diff dedup_cluster dedup_containment
    dedup_editdist dedup_embedding_lsh dedup_exact dedup_incremental
    dedup_minhash dedup_prefix dedup_savings dedup_simhash dedup_substring
    dedup_survivor_policy dedup_tfidf_cosine dedup_url_canonical
    dedup_winnow_pairs doc_cdc_chunks doc_chunk doc_chunk_sliding
    doc_fingerprint doc_len_gini doc_pack domain_cap domain_chi2 dq_benford
    dq_distinct_census dq_drift_tvd dq_dup_rows dq_freshness
    dq_functional_dep dq_key_collision dq_null_census dq_pk_uniqueness
    dq_profile dq_profile_approx dq_referential dq_rules dq_sequence_gaps
    dq_volume_zscore dsir_weights dup_cluster_sizes dup_rate_by_source
    embed_cosine_hist embed_dim_stats embed_normalize embed_outliers
    embed_pca embed_quantize embed_rp embed_sign_sketch embed_trunc_tune
    events_anomaly_iqr events_burst_topk events_cusum_shift events_fano
    events_lag_spearman events_rollup_multi graph_assortativity
    graph_bfs_layers graph_cc graph_clustering_coeff graph_common_neighbors
    graph_degree_hist graph_kcore2 graph_node_jaccard graph_pagerank
    graph_triangles join_skew_profile kmeans_assign lang_confusion
    lang_margin lang_mismatch length_drift_ks lexicon_stats li_shipping_lag
    meta_align minhash_band_occupancy minhash_calibration minhash_tune
    mix_curriculum mix_epochs mix_temperature mix_weights
    multimodal_audio_clip multimodal_audio_energy multimodal_audio_zcr
    multimodal_decode multimodal_decode_jpeg multimodal_decode_jpeg2
    multimodal_decode_mp3 multimodal_framesample multimodal_header
    multimodal_jpeg_dchash multimodal_meta multimodal_mp3_subband
    multimodal_phash multimodal_phash_dups multimodal_pixel_diversity
    multimodal_resize neardup_incremental ngram_jaccard ngram_lang_profile
    ngram_novelty pack_efficiency pii_by_source pii_scrub pmi_bigrams
    privacy_contribution_bound privacy_k_anonymity privacy_l_diversity
    privacy_t_closeness props_schema_drift q10_returns q11_part_value
    q12_priority q13_custdist q14_promo q15_top_supplier q16_supplier_cnt
    q17_small_quantity q18_large_orders q19_disjunctive q1_pricing
    q20_excess_suppliers q21_sole_fault q22_idle_rich q2_argmin q3_shipping
    q4_late_orders q5_local_supplier q6_forecast q7_volume q8_mktshare
    q9_profit q_ab_chi2 q_ab_wilson q_active_streak q_active_users
    q_activity_bitmap q_asof_join q_asof_nearest q_attribution
    q_audience_overlap q_band_join q_basket_lift q_basket_pairs
    q_basket_triples q_behavior_segments q_bollinger_breach q_bounce_rate
    q_calculated q_cohort_ltv q_concurrency_peak q_cube
    q_cumulative_distinct q_cust_no_orders q_decayed_engagement
    q_decile_lift q_decile_migration q_dim_lift q_distinct_agg
    q_distinct_cube q_event_path q_event_runs q_event_transitions
    q_events_heatmap q_events_ohlc q_events_tumbling q_fifo_cover
    q_full_outer_recon q_funnel_lag q_gapfill q_gapfill_interp
    q_group_percentiles q_group_regression q_grouping_sets
    q_growth_accounting q_histogram q_histogram_equi_depth
    q_interval_event_overlap q_interval_merge q_json_extract q_latest_event
    q_lead_lag q_market_hhi q_max_drawdown q_mode_per_group
    q_month_spine_recursive q_moving_avg q_mutual_top_pairs
    q_new_vs_returning q_null_safe_join q_numeric_corr q_order_backlog
    q_order_gap_dist q_percentiles q_period_balance q_pivot_events
    q_props_schema q_proration q_quantile_counting q_range_frame
    q_range_join q_rank_family q_retention q_revenue_concentration q_rfm
    q_rolling_actives q_rolling_median q_rollup q_running_sum q_scd2_asof
    q_seasonality q_sequence_match q_session_depth_hist q_session_window
    q_sessionize q_set_ops q_skew_join q_skyline_2d q_sql_shared_dialect
    q_sql_shared_except q_sql_shared_grouping q_sql_shared_intersect
    q_sql_shared_semijoin q_sql_shared_window q_stats q_stickiness
    q_top_movers q_topn_window q_unpivot_measures q_user_diversity
    q_value_window q_weighted_median q_window_funnel q_wordcount
    q_yoy_growth quality_agreement quality_blocklist quality_buckets
    quality_c4 quality_charlm quality_compress quality_gopher quality_linear
    quality_repetition quality_trained retrieval_agreement retrieval_rrf
    retrieve_overlap sample_allocation sample_hash sample_split
    sample_stratified sample_weighted scd2_merge semdedup_canonical
    semdedup_prune_2l shard_balance_audit shard_by_tokens shard_manifest
    shuffle_run_audit simhash_hamming_hist sketch_cms_topk
    sketch_hll_registers sketch_kmv_distinct sketch_moments
    source_overlap_matrix source_quality_matrix span_corruption_plan
    split_leakage stream_blocklist_quarantine stream_c4_gate stream_cms_topk
    stream_cusum_shift stream_dedup stream_dq_quarantine stream_enrich
    stream_events stream_first_seen stream_hll_registers stream_join
    stream_kmv_registers stream_moments stream_neardup_gate
    stream_neardup_gate_indexed stream_ohlc stream_sessions
    stream_shard_feed stream_sliding stream_topk stream_user_stats
    substring_dup_rate supplier_scorecard table_checksum
    table_checksum_parts text_char_simpson text_charstats text_langid
    text_normalize text_quality text_readability tfidf_top tok_hash_features
    token_budget_curve token_count token_len_hist unpack_nested
    version_stamp vocab_growth vocab_oov_split vocab_rank_shift vocab_zipf
""".split()

# sha256 over json.dumps(sorted((key, fn.__module__, fn.__qualname__)))
CALLABLES_SHA256 = "bb4e416980310705a392f3c863745bcc4a17f2507bca8aa78bab728a3b127dda"
# sha256 over json.dumps(sorted(oracle_sql().items()))
ORACLES_SHA256 = "ce23c112ede01fc22eb92c30cd5a8b842d9f34035fd1c8d1a317e7bc10ff3732"


def _sha256(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def test_key_set_is_pinned():
    assert len(KEYS) == 347
    assert sorted(entry.queries()) == KEYS


def test_each_key_binds_the_pinned_callable():
    bound = sorted((k, f.__module__, f.__qualname__) for k, f in entry.queries().items())
    assert _sha256(bound) == CALLABLES_SHA256


def test_oracle_map_is_pinned():
    oracles = entry.oracle_sql()
    assert len(oracles) == 344
    assert set(oracles) <= set(KEYS)
    assert _sha256(sorted(oracles.items())) == ORACLES_SHA256


def test_window_leads_the_registry():
    assert list(entry.queries())[: len(entry._REGISTER_FIRST)] == entry._REGISTER_FIRST


def test_demoted_keys_are_hidden():
    for key in ("bpe_encode", "bpe_fertility"):
        assert key not in entry.queries()
        assert key not in entry.oracle_sql()


def _package(tmp_path, monkeypatch, modules: dict[str, str]) -> str:
    """A throwaway package on sys.path holding ``modules``; returns its name."""
    name = f"reg_{tmp_path.name}"
    (tmp_path / name).mkdir()
    (tmp_path / name / "__init__.py").write_text("")
    for mod, src in modules.items():
        (tmp_path / name / f"{mod}.py").write_text(src.replace("PKG", name))
    monkeypatch.syspath_prepend(str(tmp_path))
    return name


def test_discover_merges_in_sorted_module_order(tmp_path, monkeypatch):
    pkg = _package(
        tmp_path,
        monkeypatch,
        {
            # a re-export hands over the same objects and is not a conflict
            "b": "from PKG.a import A_QUERIES as REEXPORT_QUERIES\n"
            "def fb(spark, sf_dir): pass\n"
            "B_QUERIES = {'y': fb}\n",
            "a": "def fa(spark, sf_dir): pass\n"
            "A_QUERIES = {'x': fa}\n"
            "A_ORACLES = {'x': 'SELECT 1'}\n"
            "SAMPLE_QUERIES = 3\n",
        },
    )
    found = entry.discover([pkg])
    assert list(found["_QUERIES"]) == ["x", "y"]
    assert found["_ORACLES"] == {"x": "SELECT 1"}


def test_discover_rejects_a_key_bound_twice(tmp_path, monkeypatch):
    pkg = _package(
        tmp_path,
        monkeypatch,
        {
            "one": "def f(spark, sf_dir): pass\nONE_QUERIES = {'k': f}\n",
            "two": "def g(spark, sf_dir): pass\nTWO_QUERIES = {'k': g}\n",
        },
    )
    with pytest.raises(ValueError, match=r"'k'.*\.one\.ONE_QUERIES.*\.two\.TWO_QUERIES"):
        entry.discover([pkg])


def test_next_registry_key_releases_the_previous_keys_caches(spark, sf_dir):
    from etl_pipeline_example_spark.operators import simcore

    def persistent_rdds() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    qs = entry.queries()
    before = persistent_rdds()
    # q_window_funnel tracks two step frames and fills them with its own counts
    qs["q_window_funnel"](spark, sf_dir).collect()
    assert len(simcore._LIVE_CACHES) == 2
    assert persistent_rdds() == before + 2
    qs["q1_pricing"](spark, sf_dir)
    assert simcore._LIVE_CACHES == []
    assert persistent_rdds() == before


def test_composite_key_reads_its_sub_operator_caches(spark, sf_dir):
    """retrieval_agreement composes bm25_rank and retrieve_overlap: the
    cache each one tracks must survive to the composite's action and be
    read by it."""
    from etl_pipeline_example_spark.operators import simcore

    df = entry.queries()["retrieval_agreement"](spark, sf_dir)
    df.collect()
    assert len(simcore._LIVE_CACHES) == 2
    assert all(c.storageLevel.useMemory for c in simcore._LIVE_CACHES)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"InMemoryTableScan \[([^\]]*)\]", plan)
    # bm25_rank's posting cache carries term, retrieve_overlap's shingles g
    assert any("term#" in s for s in scans), plan
    assert any("g#" in s for s in scans), plan
