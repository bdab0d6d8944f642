"""Emulate the driver's correctness gate locally.

Runs each registered query on a VANILLA SparkSession (no engine session
factory — same as the driver's harness) and its DuckDB oracle twin at the
given sf dir, then compares row count, sorted column set, per-column
ARROW-LEVEL types, and normalized values. Usage:

    python tools/drivercheck.py [sf_dir] [key ...]

With no keys, checks every registered query.

Type faithfulness: the driver hashes values through Arrow, so a DuckDB
HUGEINT (integer ``sum()``) exports as decimal128(38,0) while Spark emits
bigint — value-identical rows hash differently. Python ``fetchall()``
hides that (HUGEINT -> int), which is how round 2 shipped 7 hash FAILs
this script called PASS. We therefore compare ``rel.arrow().schema``
against the Spark schema under a canonical mapping: integer widths
collapse (the driver tolerates int32 vs int64), but decimal-vs-int and
decimal-vs-double do NOT. On top of the pairwise compare, every Spark
column must resolve to a type in ``ALLOWED`` (or an array of one): a
decimal, float or NTZ column hashes differently from the oracle through
Arrow or pandas even when both engines emit the same type and values.
Values compare exactly, ``Decimal`` against ``Decimal``; only floats get
the tolerance below.
"""

from __future__ import annotations

import math
import os
import re
import sys
import time
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The registry's output-type policy, as Spark simpleStrings: the only
# types (and arrays of them) both engines hash identically.
ALLOWED = frozenset(
    {"string", "int", "bigint", "double", "boolean", "date", "timestamp"}
)


def allowed_type(t: str) -> bool:
    """True when the Spark simpleString ``t`` is in ``ALLOWED`` or an
    array (at any depth) of such a type."""
    if t.startswith("array<") and t.endswith(">"):
        return allowed_type(t[len("array<"):-1])
    return t in ALLOWED


def canon_spark_type(t: str) -> str:
    """Spark simpleString -> canonical type label."""
    t = t.strip().lower()
    m = re.match(r"array<(.+)>$", t)
    if m:
        return f"list<{canon_spark_type(m.group(1))}>"
    if t in {"tinyint", "smallint", "int", "integer", "bigint", "long"}:
        return "int"
    if t in {"float", "double"}:
        return "float"
    if t.startswith("decimal"):
        return t.replace(" ", "")
    if t.startswith("timestamp"):
        # tz-ness collapses deliberately: Spark Arrow export carries
        # tz=UTC while DuckDB emits naive timestamps, and the driver's
        # hashing tolerates that (every timestamp-emitting query in the
        # registry has green driver rows across rounds 2-3).
        return "timestamp"
    if t in {"string", "varchar"}:
        return "string"
    if t in {"boolean", "bool"}:
        return "bool"
    if t == "date":
        return "date"
    m = re.match(r"struct<(.+)>$", t)
    if m:
        fields = [f.split(":", 1) for f in _split_top(m.group(1))]
        if any(len(f) != 2 for f in fields):
            # unparseable field list — report the raw string rather than crash
            return t
        inner = ",".join(f"{n}:{canon_spark_type(ft)}" for n, ft in fields)
        return f"struct<{inner}>"
    m = re.match(r"map<(.+)>$", t)
    if m:
        parts = _split_top(m.group(1))
        if len(parts) != 2:
            return t
        k, v = parts
        return f"map<{canon_spark_type(k)},{canon_spark_type(v)}>"
    return t


def _split_top(s: str) -> list[str]:
    """Split on commas at nesting depth 0 (for struct/map type params).

    Depth tracks both ``<>`` and ``()`` so parameterized scalar types
    inside a struct — ``struct<a:decimal(10,2),b:int>`` — don't split at
    the comma inside the parens."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur).strip())
    return out


def canon_arrow_type(t) -> str:
    """pyarrow DataType -> canonical type label."""
    import pyarrow as pa

    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_arrow_type(t.value_type)}>"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{canon_arrow_type(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{canon_arrow_type(t.key_type)},{canon_arrow_type(t.item_type)}>"
    return str(t)


def _norm(v):
    # Decimal stays Decimal: exact on both sides, so a float conversion
    # could only hide a last-digit disagreement.
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return v


def _sort_key(v):
    # Floats sort on a rounded key so near-equal values (0.3 vs
    # 0.30000000000000004) land in the same position on both sides; the
    # tolerance compare then sees aligned rows. The full-precision repr
    # rides along as a secondary component so rows that TIE on the rounded
    # key order deterministically on both sides (engine input order must
    # not decide the pairing — it could pair rows crosswise and turn
    # sub-tolerance differences into spurious FAILs).
    if v is None:
        return (0, "", "")
    if isinstance(v, float):
        return (1, f"{v:.6e}", repr(v))
    return (1, str(v), "")


def normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(_sort_key(x) for x in t))


# DRIVERCHECK_STRICT=1 switches the float compare to bit-exact equality,
# matching the driver's value-hash gate: the default 1e-9 relative
# tolerance exists to triage, but a sub-tolerance cross-engine drift
# would pass here and still FAIL the driver, so the pre-round sweep runs
# strict.
STRICT = os.environ.get("DRIVERCHECK_STRICT", "") == "1"


def values_equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        if STRICT:
            return a == b
        return abs(a - b) <= 1e-9 * max(1.0, abs(b))
    return a == b


def type_report(sdf, arrow_schema):
    """Check each Spark column against ``ALLOWED`` and compare canonical
    per-column types; return list of mismatch strings."""
    bad = [
        f"{f.name}: spark={f.dataType.simpleString()} not in ALLOWED"
        for f in sdf.schema.fields
        if not allowed_type(f.dataType.simpleString())
    ]
    stypes = {f.name: canon_spark_type(f.dataType.simpleString()) for f in sdf.schema.fields}
    atypes = {f.name: canon_arrow_type(f.type) for f in arrow_schema}
    for name in sorted(set(stypes) | set(atypes)):
        st, at = stypes.get(name), atypes.get(name)
        if st != at:
            bad.append(f"{name}: spark={st} vs arrow={at}")
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("drivercheck")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for name in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failed = []
    for key, fn in qs.items():
        if only and key not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {key}: {type(exc).__name__}: {exc}")
            failed.append(key)
            continue
        if key not in oracles:
            print(f"ROWS {key}: {len(srows)} rows (no oracle)")
            continue
        rel = con.sql(oracles[key])
        atable = rel.arrow()
        dcols = atable.schema.names
        drows = [tuple(_norm_arrow(v) for v in row) for row in zip(*(c.to_pylist() for c in atable.columns))] if atable.num_columns else []
        dt = time.time() - t0
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {key}: columns {sorted(scols)} vs {sorted(dcols)}")
            failed.append(key)
            continue
        tbad = type_report(sdf, atable.schema)
        if tbad:
            print(f"FAIL {key}: output types: {'; '.join(tbad)}")
            failed.append(key)
            continue
        if len(srows) != len(drows):
            print(f"FAIL {key}: rows {len(srows)} vs {len(drows)}")
            failed.append(key)
            continue
        a = normalize(srows, scols)
        b = normalize(drows, list(dcols))
        bad = None
        for i, (ra, rb) in enumerate(zip(a, b)):
            for va, vb in zip(ra, rb):
                if not values_equal(va, vb):
                    bad = (i, ra, rb)
                    break
            if bad:
                break
        if bad:
            print(f"FAIL {key}: row {bad[0]}\n  spark={bad[1]}\n  duck ={bad[2]}")
            failed.append(key)
        else:
            print(f"PASS {key}: {len(srows)} rows in {dt:.1f}s")
    print(f"\n{'FAILED: ' + ', '.join(failed) if failed else 'ALL PASS'}")
    spark.stop()
    return 1 if failed else 0


def _norm_arrow(v):
    # to_pylist() yields Decimal for decimal128, datetime for timestamps —
    # run them through the same normalizer as the Spark side.
    return _norm(v)


if __name__ == "__main__":
    raise SystemExit(main())
