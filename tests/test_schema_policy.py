"""Registry-wide output-type policy: every column of every registered
query must resolve to a type both engines export through Arrow
identically.

The driver hashes values through Arrow-level types, so a column that is
value-identical but type-divergent (DuckDB integer ``sum()`` → HUGEINT →
decimal128, Spark float vs the oracle's double, TIMESTAMP_NTZ leaking
through a read path) hash-mismatches even when every value agrees — the
exact bug class that cost 7 driver rows in round 2. Restricting the
Spark side to the canonical set makes the class unrepresentable: the
paired DuckDB oracles are written to the same set, and drivercheck
applies the same ``ALLOWED`` set (defined there, imported here) and
compares the oracle's Arrow schema against the Spark types per run.

Schema resolution needs only plan analysis (no jobs), so this covers the
whole registry in seconds.
"""

from __future__ import annotations

import pytest

from tools.drivercheck import ALLOWED, allowed_type


def _registry():
    import __spark_entry__ as entry

    return entry.queries()


@pytest.mark.parametrize("name", sorted(_registry()))
def test_output_types_are_canonical(spark, sf_dir, name):
    df = _registry()[name](spark, sf_dir)
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if not allowed_type(f.dataType.simpleString())
    ]
    assert not bad, (
        f"{name} emits non-canonical output types (decimal/float/ntz "
        f"hash differently through Arrow than the DuckDB oracle; allowed: "
        f"{sorted(ALLOWED)} or arrays of them): {bad}"
    )
