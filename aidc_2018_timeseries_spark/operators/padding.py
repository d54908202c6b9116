"""Array pad / truncate operators (SURVEY §2.3 W5, W6).

The two pad rules are intentionally DIFFERENT (SURVEY §7 trap):
- turbofan W5 left-pads by REPEATING THE FIRST ROW to a target length
  (reference ``turbofan.py:133-138``),
- music W6 left-pads with ZEROS / left-TRUNCATES to exactly seq_len+1
  (reference ``music.py:37-45``).

The array forms are pure higher-order array expressions — no UDF, no
shuffle; the long form adds one window over the series partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.functions.vectors import _c
from aidc_2018_timeseries_spark.operators._sql import WHOLE_PARTITION, _q, over


def pad_front_repeat_first(arr: Column | str, target_len: int) -> Column:
    """W5: if len(arr) < target_len, prepend copies of arr[0]; else keep.

    Reference: ``np.pad(..., mode='edge')`` on the time axis
    (``turbofan.py:133-138``, triggered when L < seq_len * skip).
    """
    a = _c(arr)
    pad_n = F.greatest(F.lit(target_len) - F.size(a), F.lit(0))
    pad = F.transform(F.sequence(F.lit(1), pad_n), lambda _: F.element_at(a, 1))
    return F.when(F.size(a) >= target_len, a).otherwise(F.concat(pad, a))


def pad_short_series_front_repeat_long(
    df: DataFrame,
    key: str,
    order: str,
    value_cols: Sequence[str],
    target_len: int,
) -> DataFrame:
    """W5 in LONG format: series shorter than ``target_len`` get synthetic
    leading rows that copy the series' first row (reference
    ``turbofan.py:133-138`` pads to T*skip before windowing).

    Output columns are (key, order, value_cols); other input columns are
    dropped. ``order`` must be numeric — pad rows take order values
    min(order) - 1 .. min(order) - n, so they sort strictly before the
    real rows; every row's order is ``order - k`` with a BIGINT ``k``, so
    an INT order column comes out BIGINT.

    Scale: no union and no second read of the input. One window
    projection over the series' ordered spec numbers the rows and counts
    the series; one generator projection then explodes
    ``sequence(n_pad, 0, -1)``, which is ``[0]`` (the row itself) for
    every row except a short series' first row, which becomes itself plus
    its n_pad copies. Two projections, because Spark cannot put a
    generator and window functions in one. The ordered spec is the one
    ``per_key_max_scale(order=...)`` and the windowing operators use, so
    the window shares their sort.
    """
    k, o = _q(key), _q(order)
    values = [_q(c) for c in value_cols]
    counted = df.selectExpr(
        k,
        o,
        *values,
        f"row_number() {over(key, order)} AS _rn",
        f"count(1) {over(key, order, WHOLE_PARTITION)} AS _len",
    )
    n_pad = f"IF(_rn = 1, greatest({int(target_len)} - _len, 0L), 0L)"
    return counted.selectExpr(
        k,
        f"explode(transform(sequence({n_pad}, 0L, -1L), _pad_k -> {o} - _pad_k)) AS {o}",
        *values,
    )


def pad_or_truncate_front_zero(arr: Column | str, target_len: int, zero: Column | None = None) -> Column:
    """W6: force length exactly target_len — longer keeps the LAST rows,
    shorter zero-pads at the FRONT (reference ``music.py:37-45``).

    ``zero`` is the fill element (default 0.0d; pass e.g. an
    ``array_repeat(lit(0.0), 88)`` for piano-roll rows).
    """
    a = _c(arr)
    z = F.lit(0.0) if zero is None else zero
    tail = F.slice(a, -target_len, target_len)  # last target_len elements
    pad_n = F.lit(target_len) - F.size(a)
    pad = F.transform(F.sequence(F.lit(1), pad_n), lambda _: z)
    return F.when(F.size(a) >= target_len, tail).otherwise(F.concat(pad, a))
