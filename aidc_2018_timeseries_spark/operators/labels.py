"""RUL-style label generation (SURVEY §2.3 W3, §2.2 P5).

Reference semantics (``datasets/turbofan.py:142-157``): a trajectory fails
at its last row; the label of a window is the number of cycles remaining
after the window's END row, capped at ``max_rul_predictable``.

Spark-first: the label is one window aggregate over the series partition
(no extra shuffle after the series hash-partitioning), the cap is
``least``. Validation labels (an externally given base RUL per
trajectory) are built with the validation windows, in
``pipelines/turbofan.py:turbofan_val_windows``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.windowing import _order_cols


def rul_label(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    cap: int | None = 130,
    out: str = "rul",
) -> DataFrame:
    """Training labels: rows remaining after this row, capped.

    rul(row) = count(later rows in series), i.e. max(rn) - rn.
    Cap default 130 matches the entry scripts (``turbofan_with_tcn.py:55``;
    class default is 200, ``turbofan.py:28``).
    """
    w = Window.partitionBy(key)
    rank = Window.partitionBy(key).orderBy(*_order_cols(order))
    rn = F.row_number().over(rank)
    remaining = F.count(F.lit(1)).over(w) - rn
    label = remaining if cap is None else F.least(remaining, F.lit(cap))
    return df.withColumn(out, label.cast("long"))
