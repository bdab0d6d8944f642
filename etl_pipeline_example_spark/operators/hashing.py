"""Cross-engine deterministic hashing and tokenization fragments.

Every dedup/fingerprint operator needs a hash both Spark and the DuckDB
oracle compute identically. Neither engine's native ``hash()`` matches the
other's, but ``md5`` does: take 15 hex chars (60 bits, fits a signed
BIGINT) and parse. Verified bit-equal across engines:

    Spark : cast(conv(substr(md5(x),1,15),16,10) as bigint)
    DuckDB: cast(concat('0x', substr(md5(x),1,15)) as bigint)

Tokenization is the shared normalize→split: lower, collapse non-[a-z0-9]
runs to single spaces, trim, split on space. Same token stream both
engines (verified).

These are *oracle-parity* constructs: every key's output must be
reproducible by its DuckDB oracle, so there is one hash, md5, and no
engine-native alternative. At scale the md5 per value is ~100ns JVM-side
and stays inside whole-stage codegen — no Python involved.
"""

from __future__ import annotations


def spark_hexint(expr: str) -> str:
    """60-bit deterministic hash of a string expression (Spark SQL)."""
    return f"cast(conv(substr(md5({expr}),1,15),16,10) as bigint)"


def duck_hexint(expr: str) -> str:
    """Same hash in DuckDB SQL (always the md5 form — oracle side)."""
    return f"cast(concat('0x', substr(md5({expr}),1,15)) as bigint)"


def spark_h32(expr: str, pos: int) -> str:
    """32-bit hash slice: hex chars [pos, pos+8) of md5 parsed as bigint.

    Two independent slices of ONE md5 give the (h1, h2) pair for
    Kirsch–Mitzenmacher double hashing (mh_i = h1 + i*h2 mod p): k minhash
    functions for the price of a single md5 per value.
    """
    return f"cast(conv(substr(md5({expr}),{pos},8),16,10) as bigint)"


def duck_h32(expr: str, pos: int) -> str:
    """Same 32-bit slice in DuckDB SQL."""
    return f"cast(concat('0x', substr(md5({expr}),{pos},8)) as bigint)"


def spark_tokens(col: str = "text") -> str:
    return (
        f"filter(split(trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ')), ' '),"
        " t -> t != '')"
    )


def duck_tokens(col: str = "text") -> str:
    return (
        f"list_filter(string_split(trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g')), ' '),"
        " t -> t != '')"
    )


def spark_norm_text(col: str = "text") -> str:
    """Normalized text (join of tokens) for exact-dup hashing (Spark)."""
    return f"trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' '))"


def duck_norm_text(col: str = "text") -> str:
    return f"trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'))"
