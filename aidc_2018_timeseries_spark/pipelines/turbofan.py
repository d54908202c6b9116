"""The turbofan RUL dataset pipeline as one composed Spark plan.

Reference chain (``datasets/turbofan.py:28-83``, traced in SURVEY §3.1):
load → per-trajectory max scaling (A1) → strided sliding windows (W2) →
RUL labels capped (W3+P5) → per-window normalization (A2) → shuffle (O2).

Spark-first: the whole chain is ONE logical plan with ONE hash shuffle on
the series key. The train path (``turbofan_train_windows``) is a short
chain of SQL-expression projections (scale, pad, window arrays, label)
whose windows all partition by the series key: the scale maxima and the
pad's row number and count use the same ordered spec and share one sort;
the pad's explode rewrites the order column, so the window arrays sort
once more; the label's ``max(rn)`` needs only the key order those arrays
already have. Physical plan: 1 Exchange, 2 Sorts, no Union. The val path
(``turbofan_val_windows``) runs the same scale, pad and window
projections and keeps each series' last window, so train and val share
one window materialization. At 100 TB (≈ millions of engines × long
histories) this scales linearly: no series ever crosses an executor
boundary, and nothing materializes windows until the array step at the
very end.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators._sql import _q, over
from aidc_2018_timeseries_spark.operators.normalize import per_key_max_scale
from aidc_2018_timeseries_spark.operators.padding import pad_short_series_front_repeat_long
from aidc_2018_timeseries_spark.operators.windowing import rolling_window_arrays


def rul_window_features(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    value_col: str,
    seq_len: int = 20,
    skip: int = 5,
    cap: int = 130,
) -> DataFrame:
    """Scaled strided-window features + capped RUL label per window.

    Output: (key, event id columns preserved by caller via select, win_mean
    rounded 6dp, rul). The label attaches to the window's END row, exactly
    like the reference's ``y = L - T - arange(...)*skip`` arithmetic
    (``turbofan.py:142-157``) re-expressed as count-remaining.
    """
    order_names = [order] if isinstance(order, str) else list(order)
    order_cols = [F.col(c) for c in order_names]

    df = per_key_max_scale(df, key, [value_col], order=order_names)
    scaled = F.col(value_col + "_scaled")

    w = Window.partitionBy(key).orderBy(*order_cols)
    frame = w.rowsBetween(-(seq_len - 1), Window.currentRow)
    whole = Window.partitionBy(key)

    out = (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("series_len", F.count(F.lit(1)).over(whole))
        .withColumn("win_mean", F.round(F.avg(scaled).over(frame), 6))
        .filter((F.col("rn") >= seq_len) & (((F.col("rn") - seq_len) % skip) == 0))
        .withColumn(
            "rul", F.least(F.col("series_len") - F.col("rn"), F.lit(cap)).cast("long")
        )
    )
    return out


def turbofan_train_windows(
    df: DataFrame,
    feature_cols: Sequence[str],
    seq_len: int = 50,
    skip: int = 1,
    cap: int = 130,
    key: str = "trajectory_id",
    order: str = "t",
) -> DataFrame:
    """Full-fidelity reference train pipeline on CMAPSS long format:
    A1 scale → W5 pad short series to T*skip → W2 strided windows →
    W3 capped RUL labels.

    Output: (key, rn, window array<struct<features>>, rul). Window count
    per series = ceil((L_padded - T + 1) / skip); labels follow
    ``y = L - T - k*skip`` capped (reference ``turbofan.py:118-163``).
    """
    df = per_key_max_scale(df, key, list(feature_cols), suffix="", order=[order])
    df = pad_short_series_front_repeat_long(df, key, order, feature_cols, seq_len * skip)
    windows = rolling_window_arrays(df, key, order, feature_cols, seq_len)
    # label of each window's END row is a function of (series_len, rn);
    # max(rn) over the series == series length, so no re-join is needed
    rul = f"least(max(rn) {over(key)} - rn, {int(cap)})"
    return windows.selectExpr(
        _q(key), "rn", "window", f"CAST({rul} AS BIGINT) AS rul"
    ).where(f"(rn - {int(seq_len)}) % {int(skip)} = 0")


def turbofan_val_windows(
    df: DataFrame,
    rul_df: DataFrame,
    feature_cols: Sequence[str],
    seq_len: int = 50,
    cap: int = 130,
    key: str = "trajectory_id",
    order: str = "t",
    ordinal_col: str = "trajectory_ordinal",
) -> DataFrame:
    """Validation mode (``augment_test_data=False``): the LAST seq_len rows
    of each trajectory form ONE window; its label is the file-provided base
    RUL (positional join made explicit via the trajectory ordinal), capped.

    Same window materialization as :func:`turbofan_train_windows` (scale,
    front-repeat pad to seq_len, ``rolling_window_arrays``), keeping each
    series' last window: the row whose ``rn`` is the series' ``max(rn)``,
    the spec the train label uses. Every padded series has at least one
    complete window, so every trajectory keeps one row. The ordinal (rank
    of the key, keys ascend in file order) is numbered over that
    one-row-per-key result, so the fleet is read once.

    Output: (key, window array<struct<features>>, rul).
    """
    df = per_key_max_scale(df, key, list(feature_cols), suffix="", order=[order])
    df = pad_short_series_front_repeat_long(df, key, order, feature_cols, seq_len)
    windows = rolling_window_arrays(df, key, order, feature_cols, seq_len)
    k = _q(key)
    last = windows.selectExpr(
        k, "window", f"rn = max(rn) {over(key)} AS _last"
    ).where("_last")
    ranked = last.selectExpr(
        k, "window", f"row_number() OVER (ORDER BY {k}) AS {_q(ordinal_col)}"
    )
    labeled = ranked.join(F.broadcast(rul_df), ordinal_col)
    return labeled.selectExpr(
        k, "window", f"CAST(least(base_rul, {int(cap)}) AS BIGINT) AS rul"
    )
