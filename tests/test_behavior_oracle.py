"""Behavioral event analytics vs DuckDB oracles at sf0.001, plus the
hand-checkable funnel/retention contracts. The sweep takes each ``plans``
key the registry binds to an oracle, except the modules that have their
own oracle sweep."""

from __future__ import annotations

import pytest

from __spark_entry__ import discover
from tools.drivercheck import oracle_mismatch

_PLANS = "etl_pipeline_example_spark.plans"
# modules with their own oracle sweep
_OWN_SWEEP = ("queries", "relational", "tpch_extra", "scale", "parity")

_FOUND = discover([_PLANS])
_SKIP = discover([f"{_PLANS}.{m}" for m in _OWN_SWEEP])["_QUERIES"]
ALL_O = _FOUND["_ORACLES"]
ALL_Q = {k: q for k, q in _FOUND["_QUERIES"].items() if k in ALL_O and k not in _SKIP}


@pytest.mark.parametrize("name", sorted(ALL_Q))
def test_behavior_matches_oracle(spark, duck, sf_dir, name):
    assert oracle_mismatch(ALL_Q[name](spark, sf_dir), duck, ALL_O[name]) is None


def test_funnel_counts_are_monotone(spark, sf_dir):
    from etl_pipeline_example_spark.plans.behavior import q_window_funnel

    rows = sorted(
        q_window_funnel(spark, sf_dir).collect(),
        key=lambda r: r["step"],
    )
    counts = [r["n_users"] for r in rows]
    assert all(counts[i] >= counts[i + 1] for i in range(len(counts) - 1)), counts


def test_funnel_respects_order_and_window(spark, tmp_path):
    """Three planted users: one converts in order inside 24 h; one
    clicks BEFORE viewing (no step 2); one purchases after the window
    (no step 3)."""
    from etl_pipeline_example_spark.plans.behavior import q_window_funnel

    rows = [
        # user 1: view -> click -> purchase inside the window
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 01:00:00", 1, "click"),
        (3, "2024-01-01 02:00:00", 1, "purchase"),
        # user 2: click precedes the first view -> funnel stalls at view
        (4, "2024-01-02 00:00:00", 2, "click"),
        (5, "2024-01-02 01:00:00", 2, "view"),
        # user 3: purchase lands past view + 24h -> stalls at click
        (6, "2024-01-03 00:00:00", 3, "view"),
        (7, "2024-01-03 01:00:00", 3, "click"),
        (8, "2024-01-04 12:00:00", 3, "purchase"),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, et, 0.0, "{}") for i, ts, u, et in rows],
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id", "event_type",
                 "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r["step"]: r["n_users"] for r in q_window_funnel(spark, str(tmp_path)).collect()}
    assert got == {"1_view": 3, "2_click": 2, "3_purchase": 1}, got


def test_retention_week_zero_covers_every_user(spark, sf_dir):
    """Every user is active in their own cohort week, so the week_k=0
    rows must sum to the distinct-user count."""
    from etl_pipeline_example_spark.plans.behavior import q_retention
    from etl_pipeline_example_spark.sources.readers import read_table

    rows = q_retention(spark, sf_dir).collect()
    week0 = sum(r["n_active"] for r in rows if r["week_k"] == 0)
    n_users = read_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert week0 == n_users


def test_sequence_match_requires_order_and_no_error_between(spark, tmp_path):
    """Planted users: s→v→p matches; s→e→p has an error between (no
    match); p→s is out of order (no match); bare s→p matches."""
    from etl_pipeline_example_spark.plans.patterns import q_sequence_match

    rows = [
        (1, "2024-01-01 00:00:00", 1, "signup"),
        (2, "2024-01-01 01:00:00", 1, "view"),
        (3, "2024-01-01 02:00:00", 1, "purchase"),
        (4, "2024-01-02 00:00:00", 2, "signup"),
        (5, "2024-01-02 01:00:00", 2, "error"),
        (6, "2024-01-02 02:00:00", 2, "purchase"),
        (7, "2024-01-03 00:00:00", 3, "purchase"),
        (8, "2024-01-03 01:00:00", 3, "signup"),
        (9, "2024-01-04 00:00:00", 4, "signup"),
        (10, "2024-01-04 01:00:00", 4, "purchase"),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, et, 0.0, "{}") for i, ts, u, et in rows],
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    row = q_sequence_match(spark, str(tmp_path)).collect()[0]
    assert (row["n_matched"], row["n_users"]) == (2, 4), row


def test_anomaly_mad_flags_only_the_planted_outlier(spark, tmp_path):
    """click values [0, 0, 1, -1, 100]: median 0, MAD 1 — only the 100
    exceeds 5 MADs (dev = 100); the spread values never flag."""
    from etl_pipeline_example_spark.plans.patterns import anomaly_mad

    vals = [0.0, 0.0, 1.0, -1.0, 100.0]
    rows = [
        (i, f"2024-01-01 0{i}:00:00", 1, "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = anomaly_mad(spark, str(tmp_path)).collect()
    assert len(got) == 1 and got[0]["event_id"] == 4, got
    assert got[0]["dev_mads"] == 100.0, got


def test_domain_chi2_ranks_the_divergent_source_first(spark, tmp_path):
    """Three sources: two share a vocabulary, one speaks a disjoint
    one — the disjoint source must rank top by χ²."""
    from etl_pipeline_example_spark.operators.domainshift import domain_chi2

    shared = "alpha beta gamma delta epsilon zeta " * 4
    weird = "qqq www eee rrr ttt yyy " * 4
    rows = [
        (0, shared, "en", "same1", len(shared)),
        (1, shared, "en", "same2", len(shared)),
        (2, weird, "en", "odd", len(weird)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = domain_chi2(spark, str(tmp_path)).collect()
    assert got[0]["source"] == "odd", got
    assert got[0]["chi2"] > got[-1]["chi2"], got


def test_scd2_merge_keeps_exactly_one_open_row_per_key(spark, sf_dir):
    """SCD2 invariants on real data: every key has exactly one
    is_current row with null valid_to; every closed row's valid_to
    equals the change date and pairs with an open '_v2' row."""
    from pyspark.sql import functions as F

    from etl_pipeline_example_spark.plans.scd2 import scd2_merge

    df = scd2_merge(spark, sf_dir)
    per_key = df.groupBy("c_custkey").agg(
        F.sum(F.expr("CASE WHEN is_current THEN 1 ELSE 0 END")).alias("n_open"),
        F.sum(F.expr("CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END")).alias("n_null_to"),
    )
    assert per_key.filter("n_open != 1 OR n_null_to != 1").count() == 0
    closed = df.filter("NOT is_current")
    assert closed.filter("valid_to IS NULL").count() == 0
    opened_v2 = df.filter("is_current AND endswith(segment, '_v2')").count()
    assert closed.count() == opened_v2


def test_full_outer_recon_emits_all_three_statuses(spark, tmp_path):
    """Planted overlap: one day with both orders and events ('both'),
    one orders-only day, one events-only day."""
    from etl_pipeline_example_spark.plans.recon import q_full_outer_recon

    orders = spark.createDataFrame(
        [
            (1, 10, "O", 100.0, "1994-01-01", "1-URGENT", "c", 0, "x"),
            (2, 11, "O", 50.0, "1994-01-02", "1-URGENT", "c", 0, "x"),
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string,"
        " o_clerk string, o_shippriority int, o_comment string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "cast(o_orderdate as date) o_orderdate", "o_orderpriority",
        "o_clerk", "o_shippriority", "o_comment",
    )
    events = spark.createDataFrame(
        [
            (1, "1994-01-01 10:00:00", 7, "view", 1.0, "{}"),
            (2, "1994-01-03 10:00:00", 7, "click", 1.0, "{}"),
        ],
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value", "props")
    orders.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    events.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {str(r["day"]): r["status"] for r in q_full_outer_recon(spark, str(tmp_path)).collect()}
    assert got == {
        "1994-01-01": "both",
        "1994-01-02": "orders_only",
        "1994-01-03": "events_only",
    }, got


def test_props_schema_discovers_planted_keys_with_coverage(spark, tmp_path):
    """Three events: keys a (3/3), b (2/3), c (1/3) — discovery must
    report exactly those coverages."""
    from etl_pipeline_example_spark.plans.engagement import q_props_schema

    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 1.0, '{"a": "1", "b": "2"}'),
        (2, "2024-01-01 01:00:00", 1, "view", 1.0, '{"a": "1", "b": "2", "c": "3"}'),
        (3, "2024-01-01 02:00:00", 1, "view", 1.0, '{"a": "1"}'),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r["key"]: (r["n_present"], r["coverage"]) for r in q_props_schema(spark, str(tmp_path)).collect()}
    assert got == {"a": (3, 1.0), "b": (2, 0.666667), "c": (1, 0.333333)}, got


def test_active_users_stickiness_is_dau_over_mau(spark, sf_dir):
    from etl_pipeline_example_spark.plans.engagement import q_active_users

    rows = q_active_users(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["dau"] <= r["wau"] <= r["mau"]
        assert abs(r["stickiness"] - round(r["dau"] / r["mau"], 6)) < 1e-9


def test_basket_pairs_counts_co_orders_by_hand(spark, tmp_path):
    """Orders: {1: parts A,B,C}, {2: parts A,B}, {3: part A} →
    (A,B)=2, (A,C)=1, (B,C)=1; duplicate lines of one part in the same
    order count once."""
    from etl_pipeline_example_spark.plans.basket import q_basket_pairs

    rows = [
        # (orderkey, partkey) with one duplicated (1, A) line
        (1, 100), (1, 100), (1, 200), (1, 300),
        (2, 100), (2, 200),
        (3, 100),
    ]
    df = spark.createDataFrame(
        [(ok, pk, 1, i, 1.0, 10.0, 0.0, 0.0, "N", "O", "1995-01-01")
         for i, (ok, pk) in enumerate(rows)],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).selectExpr("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus",
                 "cast(l_shipdate as timestamp) l_shipdate")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = {(r["part_a"], r["part_b"]): r["n_orders"]
           for r in q_basket_pairs(spark, str(tmp_path)).collect()}
    assert got == {(100, 200): 2, (100, 300): 1, (200, 300): 1}, got


def test_rfm_quintiles_are_deterministic_and_complete(spark, sf_dir):
    """Structural contract: every band value in 1..5, rfm code
    consistent with its components, output capped at RFM_TOP."""
    from etl_pipeline_example_spark.plans.recon import RFM_TOP, q_rfm

    rows = q_rfm(spark, sf_dir).collect()
    assert 0 < len(rows) <= RFM_TOP
    for r in rows:
        assert 1 <= r["r"] <= 5 and 1 <= r["f"] <= 5 and 1 <= r["m"] <= 5
        assert r["rfm"] == r["r"] * 100 + r["f"] * 10 + r["m"]


def test_rfm_bands_hand_computed(spark, tmp_path):
    """10 customers, one order each on day 2020-01-i at price 100*i:
    recency bands follow the 1.8/3.6/5.4/7.2 cuts, frequency is an
    all-tie (every f = 5 under the strict-> descending convention),
    monetary bands follow the 280/460/640/820 cuts."""
    from etl_pipeline_example_spark.plans.recon import q_rfm

    rows = [
        (i, i, "O", 100.0 * i, f"2020-01-{i:02d}") for i in range(1, 11)
    ]
    df = spark.createDataFrame(
        [(ok, ck, st, tp, od, "p", "c", 0, "x") for ok, ck, st, tp, od in rows],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string,"
        " o_clerk string, o_shippriority int, o_comment string",
    ).selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "cast(o_orderdate as date) o_orderdate", "o_orderpriority",
                 "o_clerk", "o_shippriority", "o_comment")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = [
        (r["c_custkey"], r["r"], r["f"], r["m"], r["rfm"])
        for r in q_rfm(spark, str(tmp_path)).collect()
    ]
    band = {10: 1, 9: 1, 8: 2, 7: 2, 6: 3, 5: 3, 4: 4, 3: 4, 2: 5, 1: 5}
    mband = {9: 1, 10: 1, 7: 2, 8: 2, 5: 3, 6: 3, 3: 4, 4: 4, 1: 5, 2: 5}
    want = sorted(
        (
            (c, band[c], 5, mband[c], band[c] * 100 + 50 + mband[c])
            for c in range(1, 11)
        ),
        key=lambda t: (t[4], t[0]),
    )
    assert got == want, got


def test_seasonality_yoy_matches_hand_ratio(spark, tmp_path):
    """Two Januaries a year apart with revenues 100 and 150 → the later
    month's yoy is exactly 1.5 and the earlier's is null."""
    from etl_pipeline_example_spark.plans.seasonal import q_seasonality

    rows = [
        (1, 1, "O", 100.0, "1994-01-10"),
        (2, 1, "O", 150.0, "1995-01-20"),
    ]
    df = spark.createDataFrame(
        [(ok, ck, st, tp, od, "p", "c", 0, "x") for ok, ck, st, tp, od in rows],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string,"
        " o_clerk string, o_shippriority int, o_comment string",
    ).selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "cast(o_orderdate as date) o_orderdate", "o_orderpriority",
                 "o_clerk", "o_shippriority", "o_comment")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = {str(r["month"]): r["yoy"] for r in q_seasonality(spark, str(tmp_path)).collect()}
    assert got == {"1994-01-01": None, "1995-01-01": 1.5}, got


def _write_li_orders(spark, tmp_path, li_rows, order_rows):
    li = spark.createDataFrame(
        [(ok, pk, sk, i, 1.0, ep, dc, 0.0, rf, ls, sd)
         for i, (ok, pk, sk, ep, dc, rf, ls, sd) in enumerate(li_rows)],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).selectExpr("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus",
                 "cast(l_shipdate as timestamp) l_shipdate")
    li.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    od = spark.createDataFrame(
        [(ok, 1, "O", 0.0, d, "p", "c", 0, "x") for ok, d in order_rows],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string,"
        " o_clerk string, o_shippriority int, o_comment string",
    ).selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "cast(o_orderdate as date) o_orderdate", "o_orderpriority",
                 "o_clerk", "o_shippriority", "o_comment")
    od.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")


def test_shipping_lag_by_hand(spark, tmp_path):
    """Two 'O' lines shipping 10 and 100 days after their orders: the
    100-day line is the only slow one (rate 0.5) and the median lag is
    the interpolated 55."""
    from etl_pipeline_example_spark.plans.logistics import li_shipping_lag

    _write_li_orders(
        spark, tmp_path,
        [(1, 10, 1, 100.0, 0.0, "N", "O", "1994-01-11"),
         (2, 11, 1, 100.0, 0.0, "N", "O", "1994-04-11")],
        [(1, "1994-01-01"), (2, "1994-01-01")],
    )
    rows = li_shipping_lag(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_lines"], r["slow_rate"], r["p50_lag_days"]) == (2, 0.5, 55.0), r


def test_supplier_scorecard_by_hand(spark, tmp_path):
    """One supplier, two lines (100 @ 10% off and 50 flat, one
    returned): revenue 140, return rate 0.5, mean ship days (10+20)/2."""
    from etl_pipeline_example_spark.plans.logistics import supplier_scorecard

    _write_li_orders(
        spark, tmp_path,
        [(1, 10, 7, 100.0, 0.1, "R", "F", "1994-01-11"),
         (2, 11, 7, 50.0, 0.0, "N", "O", "1994-01-21")],
        [(1, "1994-01-01"), (2, "1994-01-01")],
    )
    sup = spark.createDataFrame(
        [(7, "Supplier#7", "addr", 1, "phone", 0.0, "c")],
        "s_suppkey bigint, s_name string, s_address string, s_nationkey bigint,"
        " s_phone string, s_acctbal double, s_comment string",
    )
    sup.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/supplier.parquet")
    rows = supplier_scorecard(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["revenue"] == 140.0 and r["return_rate"] == 0.5
    assert r["mean_ship_days"] == 15.0, r


def test_event_path_counts_transitions_by_hand(spark, tmp_path):
    """User stream v→c→v→c plus a second user c→p: transitions
    (v,c)=2, (c,v)=1, (c,p)=1."""
    from etl_pipeline_example_spark.plans.behavior import q_event_path

    rows = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 01:00:00", 1, "click"),
        (3, "2024-01-01 02:00:00", 1, "view"),
        (4, "2024-01-01 03:00:00", 1, "click"),
        (5, "2024-01-02 00:00:00", 2, "click"),
        (6, "2024-01-02 01:00:00", 2, "purchase"),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, et, 0.0, "{}") for i, ts, u, et in rows],
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {(r["prev_type"], r["next_type"]): r["n"] for r in q_event_path(spark, str(tmp_path)).collect()}
    assert got == {("view", "click"): 2, ("click", "view"): 1, ("click", "purchase"): 1}, got


def test_funnel_lag_medians_by_hand(spark, tmp_path):
    """One user: view at 00:00, click at 01:00 (3600 s), purchase at
    03:00 (7200 s after click) — the leg medians are exactly those."""
    from etl_pipeline_example_spark.plans.basket import q_funnel_lag

    rows = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 01:00:00", 1, "click"),
        (3, "2024-01-01 03:00:00", 1, "purchase"),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, et, 0.0, "{}") for i, ts, u, et in rows],
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                 "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r["leg"]: r["p50_seconds"] for r in q_funnel_lag(spark, str(tmp_path)).collect()}
    assert got == {"1_view_to_click": 3600.0, "2_click_to_purchase": 7200.0}, got
