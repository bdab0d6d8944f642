"""Unit tests for the drivercheck type canonicalizer.

The canonicalizer is the local stand-in for the driver's Arrow-level
hash compare; a traceback here means the tool reports nothing instead of
a type mismatch, so the parser must degrade to "raw string" on anything
it can't split — never raise.
"""

from __future__ import annotations

import pyarrow as pa

from tools.drivercheck import _split_top, canon_arrow_type, canon_spark_type


def test_split_top_tracks_angle_depth():
    assert _split_top("int,array<struct<a:int,b:string>>,date") == [
        "int",
        "array<struct<a:int,b:string>>",
        "date",
    ]


def test_split_top_tracks_paren_depth():
    # the ADVICE repro: decimal's (precision,scale) comma is NOT a field split
    assert _split_top("a:decimal(10,2),b:int") == ["a:decimal(10,2)", "b:int"]


def test_struct_with_decimal_params_canonicalizes():
    got = canon_spark_type("struct<a:decimal(10,2),b:int>")
    assert got == "struct<a:decimal(10,2),b:int>"


def test_struct_with_nested_array_and_decimal():
    got = canon_spark_type("struct<xs:array<decimal(38,0)>,n:bigint>")
    assert got == "struct<xs:list<decimal(38,0)>,n:int>"


def test_map_with_decimal_value():
    assert canon_spark_type("map<string,decimal(10,2)>") == "map<string,decimal(10,2)>"


def test_unparseable_struct_falls_through_not_raises():
    # a field with no name:type colon — degrade to the raw string
    raw = "struct<justatypename>"
    assert canon_spark_type(raw) == raw


def test_canonical_collapse_matrix():
    # integer widths collapse, decimal-vs-int must NOT
    assert canon_spark_type("bigint") == canon_arrow_type(pa.int32()) == "int"
    assert canon_spark_type("double") == canon_arrow_type(pa.float64()) == "float"
    assert canon_arrow_type(pa.decimal128(38, 0)) == "decimal(38,0)"
    assert canon_spark_type("bigint") != canon_arrow_type(pa.decimal128(38, 0))
    # timestamp tz-ness collapses deliberately
    assert (
        canon_spark_type("timestamp")
        == canon_arrow_type(pa.timestamp("us", tz="UTC"))
        == "timestamp"
    )


def test_arrow_struct_with_decimal_matches_spark_side():
    at = pa.struct([("a", pa.decimal128(10, 2)), ("b", pa.int64())])
    assert canon_arrow_type(at) == canon_spark_type("struct<a:decimal(10,2),b:bigint>")


def test_float_sort_key_ties_break_deterministically():
    """Rows that tie on the rounded float key must order by the
    full-precision repr on BOTH sides — engine input order deciding the
    pairing would turn sub-tolerance diffs into spurious FAILs."""
    from tools.drivercheck import normalize, values_equal

    a_rows = [(0.3, "x"), (0.30000000000000004, "y")]
    b_rows = [(0.30000000000000004, "y"), (0.3, "x")]  # reversed input order
    na = normalize(a_rows, ["v", "tag"])
    nb = normalize(b_rows, ["v", "tag"])
    # same pairing regardless of input order: tags align row-for-row
    assert [r[0] for r in na] == [r[0] for r in nb]
    # and the aligned float values compare equal under tolerance
    assert all(values_equal(x[1], y[1]) for x, y in zip(na, nb))


def test_none_sorts_before_values():
    from tools.drivercheck import normalize

    rows = [(1.5,), (None,), (0.5,)]
    out = normalize(rows, ["v"])
    assert out[0] == (None,)


def test_type_report_applies_the_policy_set():
    """A column both engines emit as the same decimal matches pairwise
    but still hashes differently downstream: ``type_report`` must flag
    every Spark type outside ``ALLOWED``, not only pairwise mismatches."""
    from types import SimpleNamespace

    from pyspark.sql.types import (
        ArrayType,
        DecimalType,
        FloatType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from tools.drivercheck import ALLOWED, type_report

    assert ALLOWED == {
        "string", "int", "bigint", "double", "boolean", "date", "timestamp",
    }
    sdf = SimpleNamespace(schema=StructType([
        StructField("n", LongType()),
        StructField("s", StringType()),
        StructField("xs", ArrayType(StringType())),
        StructField("d", DecimalType(38, 0)),
        StructField("f", FloatType()),
    ]))
    arrow = pa.schema([
        ("n", pa.int64()),
        ("s", pa.string()),
        ("xs", pa.list_(pa.string())),
        ("d", pa.decimal128(38, 0)),
        ("f", pa.float32()),
    ])
    bad = type_report(sdf, arrow)
    assert [b.split(":")[0] for b in bad] == ["d", "f"], bad
    ok = SimpleNamespace(schema=StructType(sdf.schema.fields[:3]))
    assert type_report(ok, arrow.remove(4).remove(3)) == []


def test_decimal_values_compare_exactly():
    """Past 2^53 two different exact integers round to the same double;
    the compare must keep ``Decimal`` exact, never go through float."""
    from decimal import Decimal

    from tools.drivercheck import normalize, values_equal

    lo, hi = Decimal(2**53), Decimal(2**53 + 1)
    assert float(lo) == float(hi)
    [(a,)], [(b,)] = normalize([(lo,)], ["v"]), normalize([(hi,)], ["v"])
    assert a == lo and b == hi
    assert not values_equal(a, b)
    assert values_equal(a, Decimal(2**53))
