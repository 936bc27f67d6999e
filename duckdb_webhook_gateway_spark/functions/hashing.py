"""Deterministic, cross-engine hashing primitives.

Everything here is built on ``md5`` because its hex output is identical in
Spark and DuckDB — the differential-correctness harness depends on the two
engines computing the same bytes.  Engine-native hashes (Spark xxhash64,
DuckDB hash()) are NOT interchangeable and are never used in any operator
that is oracle-checked.

The primitives generate SQL expression *text* in both dialects.  The
dialect implementations DIFFER structurally — Spark uses its ``conv``
intrinsic, DuckDB spells out the per-nibble sum with ``strpos`` — and
compute the same BIGINT only within the ``n <= 15`` hex-char bound;
tests/test_properties.py pins the bit-equality.
"""

from __future__ import annotations

_HEX = "0123456789abcdef"


def hex_to_int_expr(hex_sql: str, n: int = 8, dialect: str = "spark") -> str:
    """SQL text turning the first ``n`` hex chars of ``hex_sql`` into a
    non-negative integer.

    The two dialects use DIFFERENT implementations of the SAME value:
    Spark gets its ``conv(hex, 16, 10)`` intrinsic (one JVM call — measured
    ~1.8× faster than per-nibble string math on the minhash hot path);
    DuckDB 1.0 has no ``conv``, so its side spells out Σ nibble_k *
    16^(n-k) with integer literals.  Both are exact for ``n<=15`` (inside
    BIGINT), verified bit-equal in tests/test_properties.py.
    """
    if not 1 <= n <= 15:
        # beyond 15 nibbles the two dialects FAIL DIFFERENTLY (Spark's
        # conv wraps negative, DuckDB's literal term overflows loudly) —
        # reject instead of silently diverging cross-engine
        raise ValueError(f"hex_to_int_expr supports 1 <= n <= 15, got {n}")
    if dialect == "spark":
        return f"CAST(conv(substr({hex_sql}, 1, {n}), 16, 10) AS BIGINT)"
    # CAST each nibble to BIGINT before the multiply: DuckDB rejects INT32
    # overflow, and 16^7 * 15 exceeds INT32.
    terms = [
        f"CAST(strpos('{_HEX}', substr({hex_sql}, {k}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (n - k)}"
        for k in range(1, n + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def md5_int_expr(col_sql: str, dialect: str = "spark", n: int = 8) -> str:
    """Integer hash of a string column: first ``n`` hex chars of md5."""
    return hex_to_int_expr(f"md5({col_sql})", n=n, dialect=dialect)
