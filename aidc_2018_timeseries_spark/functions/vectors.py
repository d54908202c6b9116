"""Vector math over ``array<float|double>`` columns, JVM-side.

Higher-order functions (``zip_with`` + ``aggregate``) keep the arithmetic
inside Catalyst (no Python round-trip) and — crucially for oracle parity —
evaluate the reduction strictly left-to-right, so the floating-point result
is bit-reproducible and matches DuckDB's sequential list functions.

At 100 TB these are the brute-force building blocks; operators/similarity.py
adds the LSH-bucketed scale path so the cross product never materializes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product of two equal-length numeric arrays."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    sq = F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))
