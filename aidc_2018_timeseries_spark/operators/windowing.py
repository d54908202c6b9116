"""Sequence-windowing operators (SURVEY §2.3 W1/W2/W4/W7).

The reference builds overlapping windows with zero-copy NumPy stride tricks
(``datasets/timeseries.py:90-115``, ``datasets/turbofan.py:118-163``).
Spark-first equivalent: keep the series in LONG FORMAT
``(series_id, t, features...)`` and express window membership with window
specs — the plan stays one shuffle (hash-partition by series_id, sort by t
within partitions), windows never materialize until the caller asks for
arrays. That is the 100 TB posture: per-series work is partition-local, the
window agg does no extra shuffle, and array materialization (the ×T data
amplification the reference avoids with as_strided) happens only at the ML
boundary, bounded per-partition.

Window-count parity (SURVEY §7 traps):
- rolling: L-T+1 windows per series, series with L < T emit none
  (reference ``timeseries.py:104-105``).
- strided: ceil((L-T+1)/skip) windows (reference ``turbofan.py:143``);
  reference window k starts at row k*skip, i.e. rows where
  (rn-T) % skip == 0 keyed by window END rn here.
- tumbling: (L - look_ahead) // T windows (reference ``timeseries.py:135``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators._sql import _q, over
from aidc_2018_timeseries_spark.operators.intervals import hierarchical_running_sum


def _order_cols(order: str | Sequence[str]) -> list[Column]:
    names = [order] if isinstance(order, str) else list(order)
    return [F.col(n) for n in names]


def with_row_index(
    df: DataFrame, key: str, order: str | Sequence[str], out: str = "rn"
) -> DataFrame:
    """1-based position of each row within its series (deterministic order).

    The reference gets ordering implicitly from file row order
    (``turbofan.py:171-174``); Spark must make it explicit. Pass a
    tie-breaking order (e.g. ``["ts", "event_id"]``) for full determinism.
    """
    w = Window.partitionBy(key).orderBy(*_order_cols(order))
    # BIGINT ordinal: int32 row_number overflows past 2^31 rows per series
    return df.withColumn(out, F.row_number().over(w).cast("long"))


def rolling_window_agg(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    agg_exprs: dict[str, Column],
    seq_len: int,
) -> DataFrame:
    """W1 in long form: per-row trailing window of ``seq_len`` rows with
    caller-chosen aggregates; rows whose window is incomplete are dropped —
    this is exactly the reference's "first T-1 windows don't exist"
    alignment.

    ``agg_exprs`` values must be PLAIN aggregate expressions (``F.avg(c)``,
    not ``F.round(F.avg(c), 6)``) — ``.over(frame)`` attaches directly to
    the aggregate; wrap post-processing around the output column instead.

    Result keeps (key, rn) as the window identity (rn = window END row).
    """
    df = with_row_index(df, key, order)
    frame = (
        Window.partitionBy(key)
        .orderBy(*_order_cols(order))
        .rowsBetween(-(seq_len - 1), Window.currentRow)
    )
    out = df
    for name, expr in agg_exprs.items():
        out = out.withColumn(name, expr.over(frame))
    return out.filter(F.col("rn") >= seq_len)


def rolling_window_arrays(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    feature_cols: Sequence[str],
    seq_len: int,
    window_col: str = "window",
) -> DataFrame:
    """W1 materialized: one row per complete window, ``window`` =
    array<struct<features>> of length exactly ``seq_len`` (time-ordered).

    This is the (N, T, F) tensor of the reference (``timeseries.py:47``) as
    a DataFrame. Materialization amplifies data ×T — keep it the LAST step
    before the ML stage, after filters/stride have cut N (same reason the
    reference uses as_strided views).

    One projection: the BIGINT ``rn`` and the ``collect_list`` frame share
    the ordered spec, so Catalyst evaluates both in one Window node.
    """
    fields = ", ".join(_q(c) for c in feature_cols)
    frame = f"ROWS BETWEEN {int(seq_len) - 1} PRECEDING AND CURRENT ROW"
    return df.selectExpr(
        _q(key),
        f"CAST(row_number() {over(key, order)} AS BIGINT) AS rn",
        f"collect_list(struct({fields})) {over(key, order, frame)} AS {_q(window_col)}",
    ).where(f"rn >= {int(seq_len)}")


def rolling_window_agg_bucketed(
    df: DataFrame,
    key: str,
    us_col: str,
    id_col: str,
    agg_exprs: dict[str, Column],
    seq_len: int,
    value_bucket: int,
    row_bucket: int,
) -> DataFrame:
    """W1 with BOUNDED window partitions — the skew-proof sibling of
    :func:`rolling_window_agg` for the regime the round-6 len10x/keys10x
    audit isolated: ONE series outgrowing a single task (plain W1 puts a
    series' entire history in one window partition; a 100M-row series is
    one task's sort no matter how many executors exist).

    The hierarchical prefix-sum template (operators/intervals.py) applied
    to trailing ROW windows:

    1. per-series row number ``rn`` WITHOUT a per-series window:
       ``intervals.hierarchical_running_sum`` counts rows in (``us_col``,
       ``id_col``) order within (key, ``us_col div value_bucket``) and
       adds each bucket's exclusive offset from the tiny per-(key,
       bucket) totals relation;
    2. row-bucket ``g = (rn-1) div row_bucket``; the last ``seq_len-1``
       rows of each bucket are REPLICATED into bucket g+1 as context
       (trailing windows need exactly T-1 rows of carry-in — bounded,
       explicit, and cheap because seq_len << row_bucket);
    3. the trailing frame runs within (key, g) ordered by rn: every
       non-context row's frame is fully contained in its bucket's
       contiguous rn range [g*B - (T-1) + 1, (g+1)*B], so the result is
       row-identical to the plain form (equality pytest-pinned), and the
       first T-1 rows of a series emit no window, as in the plain form.

    ``row_bucket`` must be >= ``seq_len`` so context only ever comes from
    the immediately-preceding bucket.

    Output: input columns + ``rn`` + the aggregate columns.
    """
    if row_bucket < seq_len:
        raise ValueError(
            f"row_bucket ({row_bucket}) must be >= seq_len ({seq_len}): "
            "context replication only reaches one bucket back"
        )
    tmp = ("_rb_vb", "_rb_g", "_rb_ctx", "_rb_t", "rn")
    clash = [c for c in df.columns if c in tmp]
    if clash:
        raise ValueError(
            f"rolling_window_agg_bucketed: input columns {clash} collide "
            f"with internal helper names {tmp}"
        )
    # exact long floor-div (sessionize_bucketed's form): floor, not
    # truncation, so negative order values keep bounded buckets too
    vb = F.expr(
        f"(`{us_col}` - pmod(`{us_col}`, {int(value_bucket)})) div {int(value_bucket)}"
    )
    withrn = hierarchical_running_sum(
        df.withColumn("_rb_vb", vb), [key], "_rb_vb", [us_col, id_col], F.lit(1), out_col="rn"
    ).drop("_rb_vb")
    b = int(row_bucket)
    g = F.expr(f"(rn - 1) div {b}")
    # own row + (boundary rows only) a context replica for bucket g+1,
    # emitted by ONE narrow explode — not a union of two filtered reads
    # of the same subplan, which would execute the whole upstream twice
    own_tag = F.struct(g.alias("g"), F.lit(0).alias("ctx"))
    ctx_tag = F.struct((g + 1).alias("g"), F.lit(1).alias("ctx"))
    tags = F.when(
        F.expr(f"pmod(rn - 1, {b})") >= b - (seq_len - 1),
        F.array(own_tag, ctx_tag),
    ).otherwise(F.array(own_tag))
    out = (
        withrn.withColumn("_rb_t", F.explode(tags))
        .withColumn("_rb_g", F.col("_rb_t.g"))
        .withColumn("_rb_ctx", F.col("_rb_t.ctx"))
        .drop("_rb_t")
    )
    frame = (
        Window.partitionBy(key, "_rb_g")
        .orderBy("rn")
        .rowsBetween(-(seq_len - 1), Window.currentRow)
    )
    for name, expr in agg_exprs.items():
        out = out.withColumn(name, expr.over(frame))
    return out.filter((F.col("_rb_ctx") == 0) & (F.col("rn") >= seq_len)).drop(
        "_rb_g", "_rb_ctx"
    )


def strided_rolling_window_agg(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    agg_exprs: dict[str, Column],
    seq_len: int,
    skip: int,
) -> DataFrame:
    """W2: rolling windows advanced by ``skip`` rows.

    Reference semantics (``turbofan.py:143-145``): window k covers rows
    [k*skip, k*skip + T); emitted for k in 0..ceil((L-T+1)/skip)-1. In
    row-number terms a window END rn qualifies iff (rn - T) % skip == 0.
    """
    out = rolling_window_agg(df, key, order, agg_exprs, seq_len)
    return out.filter(((F.col("rn") - seq_len) % skip) == 0)


def last_window(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    seq_len: int,
) -> DataFrame:
    """W4: the final ``seq_len`` rows of each series (as-of extraction).

    Reference val mode (``turbofan.py:151-153``): only the last T rows form
    one sample. Long-form output keeps original columns + ``rn`` (position
    from the end, 1 = last row) — callers aggregate or array-ify from here.
    Series shorter than seq_len keep all their rows (reference pads them;
    see operators/padding.py).
    """
    w = Window.partitionBy(key).orderBy(*[c.desc() for c in _order_cols(order)])
    # BIGINT ordinal: int32 row_number overflows past 2^31 rows per series
    return df.withColumn("rn_from_end", F.row_number().over(w).cast("long")).filter(
        F.col("rn_from_end") <= seq_len
    )


def tumbling_window_id(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    seq_len: int,
    out: str = "window_id",
) -> DataFrame:
    """W7 core: assign 0-based non-overlapping window ids of width T.

    Rows beyond the last complete window (and, in the reference, beyond
    L - look_ahead) are the caller's to drop; this just labels. Window id
    floor((rn-1)/T) matches the reference's reshape
    (``timeseries.py:135-140``).
    """
    df = with_row_index(df, key, order)
    return df.withColumn(out, ((F.col("rn") - 1) / seq_len).cast("long"))


def tumbling_windows_with_lookahead(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    value_col: str,
    seq_len: int,
    look_ahead: int,
) -> DataFrame:
    """W7 full: non-overlapping X windows plus the same windows shifted
    ``look_ahead`` rows as the forecasting target y
    (reference ``timeseries.py:117-152``: X = a[:n], y = a[look_ahead:
    look_ahead+n], n = (L - look_ahead)//T * T).

    Long-form output: one row per (series, window_id, offset t_in_window)
    with x and y columns; y is ``lead(value, look_ahead)`` so the pairing
    never re-shuffles.
    """
    order_c = _order_cols(order)
    w = Window.partitionBy(key).orderBy(*order_c)
    df = with_row_index(df, key, order)
    df = df.withColumn("y", F.lead(F.col(value_col), look_ahead).over(w))
    n_rows = Window.partitionBy(key)
    # usable length n = ((L - look_ahead) // T) * T
    df = df.withColumn("series_len", F.count(F.lit(1)).over(n_rows))
    usable = (F.floor((F.col("series_len") - look_ahead) / seq_len) * seq_len).cast("long")
    df = df.filter(F.col("rn") <= usable)
    return (
        df.withColumn("window_id", ((F.col("rn") - 1) / seq_len).cast("long"))
        .withColumn("t_in_window", ((F.col("rn") - 1) % seq_len).cast("long"))
        .select(key, "window_id", "t_in_window", F.col(value_col).alias("x"), "y")
    )
