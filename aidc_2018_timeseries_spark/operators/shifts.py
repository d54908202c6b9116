"""Sequence shift / slice operators (SURVEY §2.3 W8-W12).

All are expressible as built-in window functions (long format) or
higher-order array functions (array format) — no UDFs, fully inside
whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.windowing import _order_cols


def teacher_forcing_pairs(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    value_col: str,
    shift: int = 1,
    y_col: str = "y_next",
) -> DataFrame:
    """W8: next-step prediction pairs x_t -> x_{t+shift}
    (reference ``datasets/music.py:22-28``: X = rows[:T], y = rows[1:T+1]).
    Rows with no successor are dropped (the reference's window simply ends).
    """
    w = Window.partitionBy(key).orderBy(*_order_cols(order))
    return df.withColumn(y_col, F.lead(F.col(value_col), shift).over(w)).filter(
        F.col(y_col).isNotNull()
    )


def roll_wrap_previous(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    value_col: str,
    out: str = "prev",
) -> DataFrame:
    """W9: ``np.roll(X, 1, axis=time)`` — previous value with WRAP-AROUND:
    the first row of a series receives the LAST row's value (reference
    ``turbofan.py:68,73``; the wrap is a real quirk of np.roll, not a bug
    on our side — SURVEY §7).
    """
    w = Window.partitionBy(key).orderBy(*_order_cols(order))
    whole = (
        Window.partitionBy(key)
        .orderBy(*_order_cols(order))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return df.withColumn(
        out, F.coalesce(F.lag(F.col(value_col), 1).over(w), F.last(F.col(value_col)).over(whole))
    )


def zero_prepended_previous(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    value_col: str,
    out: str = "prev",
    zero: float = 0.0,
) -> DataFrame:
    """W10: decoder input ``[0, x_0, ..., x_{T-2}]`` — lag with zero fill
    (reference ``turbofan_autoencoder.py:79-88``), the non-wrapping sibling
    of W9.
    """
    w = Window.partitionBy(key).orderBy(*_order_cols(order))
    return df.withColumn(out, F.coalesce(F.lag(F.col(value_col), 1).over(w), F.lit(zero)))


def reverse_sequence(arr: Column | str) -> Column:
    """W11: backward target ``Xs[::-1]`` (reference
    ``turbofan_autoencoder.py:80-83``) on an array window."""
    return F.reverse(F.col(arr) if isinstance(arr, str) else arr)


def last_timepoint(arr: Column | str) -> Column:
    """W12: keep only t = T-1 of a sequence (reference
    ``turbofan_with_tcn.py:79``)."""
    return F.element_at(F.col(arr) if isinstance(arr, str) else arr, -1)
