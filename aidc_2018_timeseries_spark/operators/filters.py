"""Projection / repair / filter operators (SURVEY §2.2 P1-P7).

All are column expressions and window functions — Catalyst pushes the
filters to the parquet scan where possible; the min-length filter is a
window count (no join, one shuffle shared with the rest of the per-series
pipeline).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.windowing import _order_cols


def _keys(key: str | Sequence[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def backfill(
    df: DataFrame,
    key: str | Sequence[str],
    order: str | Sequence[str],
    value_col: str,
    out: str | None = None,
) -> DataFrame:
    """P2: pandas ``fillna(method='bfill')`` per series (reference
    ``turbofan.py:167``): a null takes the NEXT non-null value in time
    order; trailing nulls stay null.

    first_value-ignore-nulls over the forward-unbounded frame — partition-
    local, no shuffle beyond the series partitioning.
    """
    w = (
        Window.partitionBy(*_keys(key))
        .orderBy(*_order_cols(order))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = F.first(F.col(value_col), ignorenulls=True).over(w)
    return df.withColumn(out or value_col, filled)


def min_length_filter(
    df: DataFrame, key: str, min_len: int, len_col: str = "series_len"
) -> DataFrame:
    """P3: drop series shorter than ``min_len`` rows (reference skips
    series with L < seq_len, ``timeseries.py:104-105``). Window count —
    avoids a groupBy+join re-shuffle."""
    w = Window.partitionBy(*_keys(key))
    return (
        df.withColumn(len_col, F.count(F.lit(1)).over(w))
        .filter(F.col(len_col) >= min_len)
        .drop(len_col)
    )


def zero_window_abs_sum(arr: Column | str) -> Column:
    """A4: sum(|x|) over a (possibly nested) array window (reference
    ``timeseries.py:164``)."""
    a = F.col(arr) if isinstance(arr, str) else arr
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + F.abs(v.cast("double")))


def drop_zero_windows(df: DataFrame, arr_col: str, eps: float = 1e-12) -> DataFrame:
    """P4: drop windows whose total absolute mass ≤ eps — the reference's
    batch-norm NaN guard (``timeseries.py:154-167``)."""
    return df.filter(zero_window_abs_sum(F.flatten(F.col(arr_col))) > eps)


def take_last_k(
    df: DataFrame, key: str, order: str | Sequence[str], k: int
) -> DataFrame:
    """P7/O4: membership filter + keep last k in time order (reference
    ``utils/inference.py:37-48``). Returns rows still in ascending order
    semantics — callers re-sort as needed."""
    w = Window.partitionBy(*_keys(key)).orderBy(*[c.desc() for c in _order_cols(order)])
    return df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k).drop("_rk")
