"""Corpus-prep operators (chunking, sampling, tf-idf, PII scrub) vs their
DuckDB oracles at sf0.001 — exact match."""

from __future__ import annotations

import pytest

from etl_pipeline_example_spark.operators.corpus import CORPUS_ORACLES, CORPUS_QUERIES

from tools.drivercheck import oracle_mismatch


@pytest.mark.parametrize("name", sorted(CORPUS_QUERIES))
def test_corpus_matches_oracle(spark, duck, sf_dir, name):
    df = CORPUS_QUERIES[name](spark, sf_dir)
    assert oracle_mismatch(df, duck, CORPUS_ORACLES[name]) is None


def test_pii_scrub_matches_real_pii(spark, duck):
    """The scrub must actually match: the synthetic corpus contains no
    emails/phones, so this feeds documents that DO and checks counts and
    replacement semantics on both engines (guards against the SQL literal
    parser silently rewriting the pattern)."""
    import duckdb

    from etl_pipeline_example_spark.operators.corpus import (
        EMAIL_RE,
        PHONE_RE,
        PII_SCRUB_SQL,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "contact alice.smith+x@example.co.uk or call 555-123-4567 now"),
        (2, "two phones 111-222-3333 and 444 555 6666, no email"),
        (3, "plain text, d{3} literal, not-an-email@nodot"),
        (4, "bob@host.org bob@host.org"),
    ]
    sdf = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = sdf.select(
        "doc_id",
        F.expr(f"regexp_count(text, '{EMAIL_RE}')").alias("n_emails"),
        F.expr(f"regexp_count(text, '{PHONE_RE}')").alias("n_phones"),
        F.expr(
            f"md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>'),"
            f" '{PHONE_RE}', '<PHONE>'))"
        ).alias("scrubbed_hash"),
    )
    got = {r["doc_id"]: (r["n_emails"], r["n_phones"]) for r in out.collect()}
    assert got == {1: (1, 1), 2: (0, 2), 3: (0, 0), 4: (2, 0)}

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS t(doc_id, text)"
    )
    assert oracle_mismatch(out, con, PII_SCRUB_SQL) is None
    con.close()


def test_domain_cap_enforces_hard_bound(spark, sf_dir):
    """Every source ends at <= DOMAIN_CAP docs, ranks are dense 1..k, and
    the kept set is a pure function of the rows (stable under
    repartitioning)."""
    from pyspark.sql import functions as F

    from etl_pipeline_example_spark.operators.domain import DOMAIN_CAP, domain_cap

    out = domain_cap(spark, sf_dir)
    per_src = out.groupBy("source").agg(
        F.count("*").alias("n"), F.max("cap_rank").alias("mx")
    )
    for r in per_src.collect():
        assert r["n"] <= DOMAIN_CAP
        assert r["mx"] == r["n"]  # dense ranks: 1..n
    a = {(r["source"], r["doc_id"]) for r in out.collect()}
    b = {
        (r["source"], r["doc_id"])
        for r in domain_cap(spark, sf_dir).repartition(7).collect()
    }
    assert a == b


def test_charlm_keep_flag_is_non_vacuous(spark, sf_dir):
    """The LM filter must separate: some docs kept, some dropped, and the
    dropped docs score strictly below every kept doc (the flag is a pure
    threshold on the score)."""
    from etl_pipeline_example_spark.operators.charlm import LM_KEEP_MIN, quality_charlm

    rows = quality_charlm(spark, sf_dir).collect()
    kept = [r["lm_score"] for r in rows if r["keep"]]
    dropped = [r["lm_score"] for r in rows if not r["keep"]]
    assert kept and dropped, f"vacuous flag: {len(kept)} kept / {len(dropped)} dropped"
    assert min(kept) >= LM_KEEP_MIN > max(dropped)
