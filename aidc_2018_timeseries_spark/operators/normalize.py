"""Scaling / normalization aggregations (SURVEY §2.4 A1-A3).

Reference quirk NOT reproduced: it normalizes IN PLACE over overlapping
strided views (``turbofan.py:237-246``), so with skip < seq_len later
windows see partially-overwritten data. Our semantics are pure — every
window/row is normalized from source values (SURVEY §7 documents the
deviation; golden tests encode the pure semantics).

Scale: all window aggregates over the series partition — a single hash
shuffle on the series key covers scaling, labeling and windowing together.
σ uses the POPULATION formula sqrt(E[x²] − E[x]²) to match the reference's
``np.std`` (ddof=0) and to be formula-identical in DuckDB oracles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators._sql import WHOLE_PARTITION, _q, over


def per_key_max_scale(
    df: DataFrame,
    key: str,
    cols: Sequence[str],
    suffix: str = "_scaled",
    order: Sequence[str] | None = None,
) -> DataFrame:
    """A1: x / max(x) per series per column (reference
    ``turbofan.py:249-264``: ``traj / traj.max(axis=0)``).

    Pass ``order`` when composing with ordered window ops downstream: the
    max is then computed over an unbounded frame of the SAME window spec
    (identical result), letting Catalyst satisfy every window in the chain
    with one sort instead of sorting once for the unordered spec and again
    for the ordered ones.

    One projection: every ``max(c) OVER (…)`` sits in a single
    ``selectExpr``, so Catalyst evaluates them in one Window node. Input
    columns keep their positions (``suffix=""`` scales in place); new
    ``c + suffix`` columns follow in ``cols`` order.
    """
    spec = over(key, order or (), WHOLE_PARTITION if order else "")
    scaled = {c + suffix: f"{_q(c)} / max({_q(c)}) {spec}" for c in cols}
    exprs = [f"{scaled.pop(n)} AS {_q(n)}" if n in scaled else _q(n) for n in df.columns]
    exprs += [f"{e} AS {_q(n)}" for n, e in scaled.items()]
    return df.selectExpr(*exprs)


def trailing_window_zscore(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    value_col: str,
    seq_len: int,
    eps: float = 1e-9,
    out: str | None = None,
) -> DataFrame:
    """A2 on long format: z-score each value against the mean/σ of its
    trailing ``seq_len``-row window (reference ``turbofan.py:225-247``
    z-scores each window over its time axis; per-row trailing-window form
    avoids materializing windows). σ ≤ eps → divide by 1 (reference's
    constant-sensor guard, ``turbofan.py:240``).
    """
    order_names = [order] if isinstance(order, str) else list(order)
    frame = (
        Window.partitionBy(key)
        .orderBy(*[F.col(n) for n in order_names])
        .rowsBetween(-(seq_len - 1), Window.currentRow)
    )
    v = F.col(value_col).cast("double")
    mean = F.avg(v).over(frame)
    # population σ via E[x²]−E[x]² — formula-identical in the DuckDB oracle
    sigma = F.sqrt(F.greatest(F.avg(v * v).over(frame) - mean * mean, F.lit(0.0)))
    safe_sigma = F.when(sigma <= eps, F.lit(1.0)).otherwise(sigma)
    return df.withColumn(out or (value_col + "_z"), (v - mean) / safe_sigma)


def array_window_zscore(arr: Column | str, eps: float = 1e-9) -> Column:
    """A2 on an array window: z-score the array over its own elements."""
    a = F.col(arr) if isinstance(arr, str) else arr
    n = F.size(a).cast("double")
    s = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    s2 = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    mean = s / n
    sigma = F.sqrt(F.greatest(s2 / n - mean * mean, F.lit(0.0)))
    safe = F.when(sigma <= eps, F.lit(1.0)).otherwise(sigma)
    return F.transform(a, lambda x: (x.cast("double") - mean) / safe)


def winsorize_by_group(
    df: DataFrame,
    group: str,
    val_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group percentile clipping (winsorization): clamp ``val_col`` to
    its group's exact [lo, hi] quantiles — the standard outlier guard a
    training pipeline applies to loss-relevant numeric features before
    normalization (A1/A2 assume tails are sane; this is what makes them
    sane). Distinct from a2_window_zscore: bounds come from ORDER
    STATISTICS, so one wild sensor spike moves them (almost) not at all,
    while it drags a mean/σ arbitrarily far.

    Bounds are exact linear-interpolated percentiles (Spark ``percentile``
    == DuckDB ``quantile_cont`` definition), rounded to 6 dp BEFORE the
    clip so cross-engine interpolation ulps cannot flip boundary rows.

    Scale: one partial-aggregated shuffle for the per-group bounds (the
    exact percentile needs the group's sorted values — swap in
    ``percentile_approx`` when groups exceed executor memory; same plan
    shape), then a broadcast join back (bounds relation = one row per
    group) — the scan never reshuffles.
    """
    bounds = df.groupBy(group).agg(
        F.round(F.percentile(val_col, F.lit(lo)), 6).alias("p_lo"),
        F.round(F.percentile(val_col, F.lit(hi)), 6).alias("p_hi"),
    )
    joined = df.join(F.broadcast(bounds), group)
    clipped = F.least(F.greatest(F.col(val_col), F.col("p_lo")), F.col("p_hi"))
    return joined.withColumn(f"{val_col}_winsorized", clipped).withColumn(
        "is_clipped",
        ((F.col(val_col) < F.col("p_lo")) | (F.col(val_col) > F.col("p_hi"))).cast(
            "int"
        ),
    )


def mad_outliers_by_group(
    df: DataFrame,
    group: str,
    val_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier detection via median absolute deviation:
    flag rows where |value − median| > k · 1.4826 · MAD (1.4826 scales MAD
    to σ under normality — the textbook "robust z-score" rule). The
    companion to :func:`winsorize_by_group`: winsorize CLIPS tails at fixed
    percentiles, MAD FLAGS points abnormally far from the group's center —
    the anomaly gate a sensor/metrics pipeline runs before training, since
    one stuck sensor survives percentile clipping but not a MAD fence
    (reference analogue: the all-zero-window guard of
    ``datasets/timeseries.py`` is a degenerate anomaly filter; this is the
    general robust-statistics form).

    Median and MAD are exact interpolated percentiles rounded to 6 dp
    before any comparison, so cross-engine interpolation ulps cannot flip
    a boundary row's flag; the deviation itself is exact double
    arithmetic on both engines.

    Scale: two partial-aggregated shuffles, each reducing to ONE ROW PER
    GROUP (median pass, then MAD pass over deviations), each joined back
    by broadcast — the event scan itself never reshuffles. Swap
    ``percentile`` → ``percentile_approx`` when a single group's values
    exceed task memory (plan shape unchanged).
    """
    med = df.groupBy(group).agg(
        F.round(F.percentile(val_col, F.lit(0.5)), 6).alias("med")
    )
    with_med = df.join(F.broadcast(med), group).withColumn(
        "dev", F.abs(F.col(val_col) - F.col("med"))
    )
    mad = with_med.groupBy(group).agg(
        F.round(F.percentile("dev", F.lit(0.5)), 6).alias("mad")
    )
    joined = with_med.join(F.broadcast(mad), group)
    fence = F.round(F.lit(k * 1.4826) * F.col("mad"), 6)
    return joined.select(
        *df.columns,
        "med",
        "mad",
        F.when(
            F.col("mad") > 0,
            F.round(F.col("dev") / (F.lit(1.4826) * F.col("mad")), 6),
        ).alias("robust_z"),
        (F.col("dev") > fence).cast("int").alias("is_outlier"),
    )
