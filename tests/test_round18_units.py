"""Round-18 pins: the moments decimal boundary past 2^53.

Round-17 driver grading exposed a latent float-boundary defect in
``sketch_moments`` / ``stream_moments``: Spark rendered the exact
decimal(38,0) power sums through BigDecimal.doubleValue (one correctly
rounded conversion) while DuckDB cast HUGEINT→DOUBLE through upper/
lower double arithmetic (two roundings) — for sums past 2^53 the last
bit can disagree. The fix removes the float boundary: both engines
render the exact DECIMAL(38,0) sums as strings (a decimal output, the
round-18 form, is exact but outside the registry's output-type policy
and hashes differently through pandas). These tests pin that with
power sums that exceed 2^53 and are NOT exactly representable as
doubles.
"""

from __future__ import annotations


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


# value 1234567.25 is binary-exact (fraction 2^-2) so value*100 is the
# exact integer c = 123456725 (odd): c^2 = 15241562871885625 has 54
# significant bits — NOT a double — and c^4 ≈ 2.3e32 is way past 2^53,
# well inside decimal(38,0). A double boundary would round these; the
# string boundary must carry them digit-exactly.
_VAL = 1234567.25
_C = 123456725  # floor(_VAL * 100), exactly (checked below)


def test_moments_decimal_boundary_past_2p53(spark, tmp_path):
    import math

    from etl_pipeline_example_spark.operators.moments import sketch_moments

    assert math.floor(_VAL * 100) == _C
    sf = _write_events(
        spark, tmp_path, [(1, "a", _VAL), (2, "a", _VAL), (3, "b", 0.25)]
    )
    df = sketch_moments(spark, sf)
    # schema pin: the sums are exact strings, never double
    for col in ("s1", "s2", "s3", "s4"):
        assert df.schema[col].dataType.simpleString() == "string", col
    rows = {r["grp"]: r for r in df.collect()}
    a = rows["a"]
    assert a["s1"] == str(2 * _C)
    assert a["s2"] == str(2 * _C**2)
    assert a["s3"] == str(2 * _C**3)
    assert a["s4"] == str(2 * _C**4)
    # past-2^53 sanity: the exact sums are not doubles
    assert float(2 * _C**2) != 2 * _C**2 or float(2 * _C**4) != 2 * _C**4
    m = rows["__merged__"]
    assert m["s4"] == str(2 * _C**4 + 25**4)


def test_moments_duckdb_arrow_parity_past_2p53(spark, tmp_path):
    """Both engines must emit the SAME Arrow type (string) and the
    SAME exact integers — the driver hashes at the Arrow
    level, so this is the cross-engine pin the sf0.01 data missed."""
    import duckdb
    import pyarrow as pa

    from etl_pipeline_example_spark.operators.moments import (
        SKETCH_MOMENTS_SQL,
        sketch_moments,
    )

    sf = _write_events(
        spark, tmp_path,
        [(i, "a" if i % 2 else "b", _VAL + i) for i in range(8)],
    )
    sdf = sketch_moments(spark, sf)
    srows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    atable = con.sql(SKETCH_MOMENTS_SQL).arrow()
    sschema = sdf.toArrow().schema
    for name in ("s1", "s2", "s3", "s4"):
        types = (sschema.field(name).type, atable.schema.field(name).type)
        assert types == (pa.string(), pa.string()), (name, types)
    drows = sorted(
        tuple(row)
        for row in zip(*(c.to_pylist() for c in atable.columns))
    )
    assert srows == drows
    # and the data actually exercises the past-2^53 regime
    assert any(
        abs(int(v)) > 2**53 for row in srows for v in row[2:]
    )


def test_pq_round6_nonfinite_passthrough_and_wide_sum():
    """Round-17 ADVICE hardening: _round6 passes non-finite doubles
    through like Spark's round(), and the Lloyd mean sum runs at
    prec=50 so coefficients past 28 digits stay exact."""
    import decimal
    import math

    from etl_pipeline_example_spark.operators.pq import _dec12, _round6

    assert math.isnan(_round6(float("nan")))
    assert _round6(float("inf")) == float("inf")
    assert _round6(float("-inf")) == float("-inf")
    assert _round6(1.2345675) == 1.234568  # HALF_UP pin unchanged
    # 21 integer digits + 12 fractional = 33-significant-digit sum: the
    # default context (prec=28) rounds the small addend away entirely;
    # prec=50 keeps the sum exact
    big = _dec12(1e20)
    with decimal.localcontext(prec=50):
        exact = big + _dec12(1e-12)
    assert exact == decimal.Decimal("100000000000000000000.000000000001")
    with decimal.localcontext(prec=28):
        lossy = big + _dec12(1e-12)
    assert lossy == big and lossy != exact


def test_edges_broadcastable_sums_directory_parts(spark, tmp_path):
    """Round-17 ADVICE: a dataset laid out as a directory of part
    files must gate on the SUM of the parts, not the dir inode size.
    The graph keys gate on the one ``small_input`` check."""
    from etl_pipeline_example_spark.operators.cluster import (
        _SMALL_INPUT_BYTES,
        small_input,
    )

    d = tmp_path / "dirset" / "lineitem.parquet"
    d.mkdir(parents=True)
    half = _SMALL_INPUT_BYTES // 2 + 16
    for name in ("part-0.parquet", "part-1.parquet"):
        (d / name).write_bytes(b"\0" * half)
    assert not small_input(spark, str(tmp_path / "dirset"), "lineitem")
    small = tmp_path / "small" / "lineitem.parquet"
    small.mkdir(parents=True)
    (small / "part-0.parquet").write_bytes(b"\0" * 1024)
    assert small_input(spark, str(tmp_path / "small"), "lineitem")
    assert not small_input(spark, str(tmp_path / "missing"), "lineitem")


def test_tiny_loop_width_gate(spark, tmp_path):
    """The dedup keys gate on the same ``small_input`` check: a small
    single file passes, a big directory of parts and a missing table
    fail."""
    from etl_pipeline_example_spark.operators.cluster import (
        _SMALL_INPUT_BYTES,
        small_input,
    )

    (tmp_path / "documents.parquet").write_bytes(b"\0" * 1024)
    assert small_input(spark, str(tmp_path), "documents")
    big = tmp_path / "big" / "documents.parquet"
    big.mkdir(parents=True)
    half = _SMALL_INPUT_BYTES // 2 + 16
    (big / "part-0.parquet").write_bytes(b"\0" * half)
    (big / "part-1.parquet").write_bytes(b"\0" * half)
    assert not small_input(spark, str(tmp_path / "big"), "documents")
    assert not small_input(spark, str(tmp_path), "missing")


def test_stream_moments_decimal_boundary(spark, tmp_path):
    from etl_pipeline_example_spark.streaming.momentsfeed import (
        stream_moments,
    )

    sf = _write_events(
        spark, tmp_path, [(1, "a", _VAL), (2, "a", _VAL)]
    )
    df = stream_moments(spark, sf)
    rows = {r["grp"]: r for r in df.collect()}
    for col in ("s1", "s2", "s3", "s4"):
        assert df.schema[col].dataType.simpleString() == "string", col
    assert rows["a"]["s4"] == str(2 * _C**4)
