"""Cross-engine deterministic scalar functions.

The driver's correctness gate runs every query twice — PySpark and DuckDB —
and value-hashes the results, so any synthetic/derived value must be
*bit-identical* across engines. ``md5`` is the common denominator: both
engines produce the same hex digest, and a 15-hex-digit prefix fits a signed
BIGINT exactly the same way on both sides (verified:
``hash64('hello') == 419982666956583591`` in Spark 4.1 and DuckDB 1.0).

Spark's own ``hash``/``xxhash64`` are NOT portable to DuckDB; never use them
in an oracle-checked query.
"""

from __future__ import annotations


def spark_hash64(expr: str) -> str:
    """Spark SQL snippet: 60-bit deterministic hash of a string expression."""
    return f"cast(conv(substr(md5({expr}), 1, 15), 16, 10) as bigint)"


def duck_hash64(expr: str) -> str:
    """DuckDB SQL snippet computing the identical value."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"
