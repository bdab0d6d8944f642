"""The testdata table names. The oracle connection
(``tools/drivercheck.oracle_connection``) makes one DuckDB view per name."""

from __future__ import annotations

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
