"""Deterministic, cross-engine-reproducible hashing primitives.

Everything downstream that needs "randomness" tied to data (MinHash
permutations, SimHash bit draws, LSH hyperplanes, document fingerprints)
derives from ``hash64``: the first 15 hex digits of md5 parsed as a 60-bit
non-negative integer. md5 is available and bit-identical in both Spark and
DuckDB, so every operator built on it is oracle-checkable:

    Spark : CAST(CONV(SUBSTRING(MD5(s), 1, 15), 16, 10) AS BIGINT)
    DuckDB: CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 15)) AS BIGINT)

(Spark's native ``hash``/``xxhash64`` and DuckDB's ``hash`` use different
algorithms, so they cannot anchor a cross-checked operator.)

Scale note: md5 per value is ~100ns JVM-side — fine in a scan-shaped hot
path; it stays inside whole-stage codegen since it's a builtin expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: max value of hash64 output + 1 (60 bits)
HASH64_SPACE = 1 << 60

# Prime 2^56-5: fingerprint modulus. Chosen so the fold step
# acc*31 + (h % p) stays < 2^62 — Spark 4 runs ANSI mode, where int64
# overflow is an ERROR, not a wrap (and DuckDB errors likewise).
FINGERPRINT_PRIME = (1 << 56) - 5


def hash64(col: Column | str) -> Column:
    """60-bit non-negative integer hash of a string column (md5-based)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash64_expr(expr: str) -> str:
    """Spark SQL text computing :func:`hash64` of the SQL expression
    ``expr``, for operators that build one ``F.expr``/``selectExpr``
    string."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def hash64_seeded(col: Column | str, seed: int | str) -> Column:
    """Seeded variant: hash of ``seed || ':' || value``."""
    c = F.col(col) if isinstance(col, str) else col
    return hash64(F.concat(F.lit(f"{seed}:"), c))


def hash64_sql(expr: str) -> str:
    """DuckDB SQL text computing the same value as :func:`hash64`."""
    return f"CAST(CONCAT('0x', SUBSTR(MD5({expr}), 1, 15)) AS BIGINT)"


def hash64_seeded_sql(expr: str, seed: int | str) -> str:
    return hash64_sql(f"CONCAT('{seed}:', {expr})")


def word_fingerprint(tokens: Column, modulus: int = FINGERPRINT_PRIME) -> Column:
    """Rolling polynomial fingerprint of a token array (order-sensitive).

    Re-expresses the reference's idea of a deterministic per-sample
    identity (its pipelines key samples positionally; see SURVEY §7
    "positional RUL join") as a content hash: fold
    h = (h*31 + hash64(tok) % p) mod p over the token sequence.
    Identical in DuckDB via list_reduce with a prepended 0.
    """
    return F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda acc, tok: (acc * 31 + hash64(tok) % F.lit(modulus)) % F.lit(modulus),
    )
