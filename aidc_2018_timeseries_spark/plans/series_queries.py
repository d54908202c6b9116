"""Catalog queries for the series/windowing operator family (SURVEY §2.2-2.5)
exercised on the driver's ``events`` table as the generic long-format series
(key=user_id, order=(ts, event_id), value=value — FIXTURES.md §5).

Each query is the DuckDB-checkable face of a package operator; the Spark
side calls the operator, the oracle re-states the semantics in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators import filters, labels, metrics, normalize, resample, shifts, split, windowing
from aidc_2018_timeseries_spark.plans.catalog import register
from aidc_2018_timeseries_spark.sources.tables import load_table

KEY, ORDER, VAL = "user_id", ["ts", "event_id"], "value"
_ORA_WIN = "PARTITION BY user_id ORDER BY ts, event_id"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- W1: overlapping rolling window (reference datasets/timeseries.py:90-115) ---
_W1_ORACLE = f"""
    WITH r AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER ({_ORA_WIN}) AS rn,
             ROUND(AVG(value) OVER ({_ORA_WIN}
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS win_mean
      FROM events)
    SELECT user_id, event_id, win_mean FROM r WHERE rn >= 20
    """


@register(
    "w1_rolling_mean",
    _W1_ORACLE,
    doc="W1 rolling window (T=20) as trailing mean; partial windows dropped",
)
def w1_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = windowing.rolling_window_agg(
        _events(spark, sf_dir), KEY, ORDER, {"win_mean": F.avg(F.col(VAL))}, seq_len=20
    )
    return df.select(KEY, "event_id", F.round(F.col("win_mean"), 6).alias("win_mean"))


@register(
    "w1_rolling_mean_bucketed",
    _W1_ORACLE,  # SAME oracle as w1_rolling_mean: the bucketed form must be row-identical
    doc="SKEW-PROOF W1 (operators/windowing.py:rolling_window_agg_bucketed, "
    "round-6 verdict item 6): trailing T=20 mean with BOUNDED window "
    "partitions — hierarchical prefix-sum row numbers (no per-series "
    "window anywhere) + per-(series, row-bucket) frames with T-1 rows of "
    "explicit carry-in. The one-series-100M-rows audit "
    "(SCALING.md round 7) measured plain "
    "W1 at 353s (one un-splittable sort task) vs 121s bucketed; same "
    "deployment rule as sessionize_bucketed: plain by default, bucketed "
    "when one series can outgrow a task. Row-bucket 64 is deliberately "
    "small here so sf0.01's ~66-row series SPAN buckets and the driver "
    "hash-checks the carry-in stitch, not just the easy case",
)
def w1_rolling_mean_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = windowing.rolling_window_agg_bucketed(
        _events(spark, sf_dir), KEY, "ts", "event_id",
        {"win_mean": F.avg(F.col(VAL))},
        seq_len=20, value_bucket=21_600_000_000_000, row_bucket=64,
    )
    return df.select(KEY, "event_id", F.round(F.col("win_mean"), 6).alias("win_mean"))


# --- W2: strided sliding window (reference datasets/turbofan.py:118-163) ---
@register(
    "w2_strided_window",
    f"""
    WITH r AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER ({_ORA_WIN}) AS rn,
             ROUND(AVG(value) OVER ({_ORA_WIN}
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6) AS win_mean
      FROM events)
    SELECT user_id, event_id, win_mean FROM r
    WHERE rn >= 20 AND (rn - 20) % 5 = 0
    """,
    doc="W2 strided windows (T=20, skip=5): ceil((L-T+1)/skip) windows per series",
)
def w2_strided_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = windowing.strided_rolling_window_agg(
        _events(spark, sf_dir), KEY, ORDER, {"win_mean": F.avg(F.col(VAL))},
        seq_len=20, skip=5,
    )
    return df.select(KEY, "event_id", F.round(F.col("win_mean"), 6).alias("win_mean"))


# --- W3 + P5: RUL label generation, capped (reference turbofan.py:142-157) ---
@register(
    "w3_rul_label",
    f"""
    SELECT user_id, event_id,
           CAST(LEAST(COUNT(*) OVER (PARTITION BY user_id)
                      - ROW_NUMBER() OVER ({_ORA_WIN}), 130) AS BIGINT) AS rul
    FROM events
    """,
    doc="W3 RUL label: rows remaining until series end, capped at 130 (P5)",
)
def w3_rul_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = labels.rul_label(_events(spark, sf_dir), KEY, ORDER, cap=130)
    return df.select(KEY, "event_id", "rul")


# --- W4: last-window (as-of) extraction (reference turbofan.py:151-153) ---
@register(
    "w4_last_window",
    f"""
    WITH r AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
               AS rn_from_end
      FROM events)
    SELECT user_id, event_id, rn_from_end FROM r WHERE rn_from_end <= 10
    """,
    doc="W4 final-T-rows extraction per series (T=10), i.e. top-k per group",
)
def w4_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = windowing.last_window(_events(spark, sf_dir), KEY, ORDER, seq_len=10)
    return df.select(KEY, "event_id", "rn_from_end")


# --- W7: tumbling windows + look-ahead target (reference timeseries.py:117-152) ---
@register(
    "w7_tumbling_lookahead",
    f"""
    WITH base AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER ({_ORA_WIN}) AS rn,
             LEAD(value, 3) OVER ({_ORA_WIN}) AS y,
             COUNT(*) OVER (PARTITION BY user_id) AS series_len
      FROM events),
    lim AS (
      SELECT *, CAST(FLOOR((series_len - 3) / 10) * 10 AS BIGINT) AS n_usable FROM base)
    SELECT user_id, CAST(FLOOR((rn - 1) / 10) AS BIGINT) AS window_id,
           ROUND(AVG(value), 6) AS x_mean, ROUND(AVG(y), 6) AS y_mean
    FROM lim WHERE rn <= n_usable
    GROUP BY user_id, CAST(FLOOR((rn - 1) / 10) AS BIGINT)
    """,
    doc="W7 non-overlapping windows (T=10) with look_ahead=3 shifted target",
)
def w7_tumbling_lookahead(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = windowing.tumbling_windows_with_lookahead(
        _events(spark, sf_dir), KEY, ORDER, VAL, seq_len=10, look_ahead=3
    )
    return df.groupBy(KEY, "window_id").agg(
        F.round(F.avg("x"), 6).alias("x_mean"), F.round(F.avg("y"), 6).alias("y_mean")
    )


# --- W8: teacher-forcing next-step pairs (reference music.py:22-28) ---
@register(
    "w8_teacher_forcing",
    f"""
    WITH r AS (
      SELECT user_id, event_id, value AS x,
             LEAD(value, 1) OVER ({_ORA_WIN}) AS y_next
      FROM events)
    SELECT user_id, event_id, x, y_next FROM r WHERE y_next IS NOT NULL
    """,
    doc="W8 lag-1 forecasting pairs (x_t, x_{t+1})",
)
def w8_teacher_forcing(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = shifts.teacher_forcing_pairs(_events(spark, sf_dir), KEY, ORDER, VAL, shift=1)
    return df.select(KEY, "event_id", F.col(VAL).alias("x"), "y_next")


# --- W9: np.roll wrap-around previous (reference turbofan.py:68,73) ---
@register(
    "w9_roll_wraparound",
    f"""
    SELECT user_id, event_id,
           COALESCE(LAG(value, 1) OVER ({_ORA_WIN}),
                    LAST_VALUE(value) OVER ({_ORA_WIN}
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS prev
    FROM events
    """,
    doc="W9 np.roll(+1) semantics: first row wraps to the series' LAST value",
)
def w9_roll_wraparound(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = shifts.roll_wrap_previous(_events(spark, sf_dir), KEY, ORDER, VAL)
    return df.select(KEY, "event_id", "prev")


# --- W10: zero-prepended previous (reference turbofan_autoencoder.py:79-88) ---
@register(
    "w10_zero_prepend",
    f"""
    SELECT user_id, event_id,
           COALESCE(LAG(value, 1) OVER ({_ORA_WIN}), 0.0) AS prev
    FROM events
    """,
    doc="W10 decoder-input shift: [0, x_0, ..., x_{T-2}]",
)
def w10_zero_prepend(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = shifts.zero_prepended_previous(_events(spark, sf_dir), KEY, ORDER, VAL)
    return df.select(KEY, "event_id", "prev")


# --- W13: time-ordered train/test split (reference timeseries.py:52-63) ---
@register(
    "w13_time_split",
    """
    WITH r AS (
      SELECT event_id,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
             CAST(ROUND(0.8 * COUNT(*) OVER (), 0) AS BIGINT) AS cutoff
      FROM events)
    SELECT event_id, CASE WHEN rn <= cutoff THEN 'train' ELSE 'test' END AS split
    FROM r
    """,
    doc="W13 first round(0.8*N) rows (time order) = train, rest = test. "
    "The row index is the two-level prefix sum (weekly ts buckets ranked "
    "in parallel + a tiny bucket-offset relation) — identical output to "
    "the oracle's single global ROW_NUMBER",
)
def w13_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = split.time_ordered_split(
        _events(spark, sf_dir),
        ORDER,
        train_ratio=0.8,
        bucket_expr=F.expr("ts div 604800000000000"),  # week-of-epoch (ns)
    )
    return df.select("event_id", "split")


# --- A1: per-series max scaling (reference turbofan.py:249-264) ---
@register(
    "a1_per_key_max_scale",
    """
    SELECT user_id, event_id,
           value / MAX(value) OVER (PARTITION BY user_id) AS value_scaled
    FROM events
    """,
    doc="A1 column / per-series max. UNROUNDED on purpose: both engines "
    "divide the same parquet doubles by the same per-key max, and one "
    "IEEE division is bit-deterministic — while ROUND(x, 6) broke parity "
    "when a ratio landed exactly on a rounding boundary (0.5146875 at "
    "sf0.1: Spark rounds the shortest-decimal repr, DuckDB the binary "
    "value). Rounding is for ORDER-SENSITIVE accumulations only",
)
def a1_per_key_max_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = normalize.per_key_max_scale(_events(spark, sf_dir), KEY, [VAL], suffix="_scaled")
    return df.select(KEY, "event_id", F.col("value_scaled"))


# --- A2: trailing-window z-score (reference turbofan.py:225-247) ---
@register(
    "a2_window_zscore",
    f"""
    WITH r AS (
      SELECT user_id, event_id, value AS v,
             ROW_NUMBER() OVER ({_ORA_WIN}) AS rn,
             AVG(value) OVER ({_ORA_WIN} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS mu,
             AVG(value * value) OVER ({_ORA_WIN}
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS m2
      FROM events),
    z AS (
      SELECT user_id, event_id, rn, v, mu,
             SQRT(GREATEST(m2 - mu * mu, 0.0)) AS sigma
      FROM r)
    SELECT user_id, event_id,
           ROUND((v - mu) / (CASE WHEN sigma <= 1e-9 THEN 1.0 ELSE sigma END), 6) AS value_z
    FROM z WHERE rn >= 20
    """,
    doc="A2 per-window z-score (population σ via E[x²]−E[x]², σ≤eps guard)",
)
def a2_window_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = normalize.trailing_window_zscore(
        _events(spark, sf_dir), KEY, ORDER, VAL, seq_len=20, out="value_z"
    )
    df = windowing.with_row_index(df, KEY, ORDER).filter(F.col("rn") >= 20)
    return df.select(KEY, "event_id", F.round(F.col("value_z"), 6).alias("value_z"))


# --- A5: MSE of a naive trailing-mean forecast (reference squared_L2 / ng.mean) ---
@register(
    "a5_mse_naive_forecast",
    f"""
    WITH r AS (
      SELECT value,
             ROW_NUMBER() OVER ({_ORA_WIN}) AS rn,
             AVG(value) OVER ({_ORA_WIN} ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS pred
      FROM events)
    SELECT ROUND(AVG((value - pred) * (value - pred)), 4) AS mse
    FROM r WHERE rn > 5
    """,
    doc="A5 mean squared error aggregate (pred = trailing-5 mean)",
)
def a5_mse_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    w = Window.partitionBy(KEY).orderBy(*[F.col(c) for c in ORDER])
    df = (
        df.withColumn("rn", F.row_number().over(w))
        .withColumn("pred", F.avg(VAL).over(w.rowsBetween(-5, -1)))
        .filter(F.col("rn") > 5)
    )
    return df.agg(F.round(metrics.mse(F.col(VAL), F.col("pred")), 4).alias("mse"))


# --- A6: binary cross-entropy (reference music_forecasting_with_tcn.py:87-90) ---
@register(
    "a6_binary_cross_entropy",
    """
    WITH r AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
             1.0 / (1.0 + EXP(-(value - 100.0) / 50.0)) AS p
      FROM events)
    SELECT ROUND(AVG(-(y * LN(p) + (1 - y) * LN(1 - p))), 6) AS bce
    FROM r
    """,
    doc="A6 mean binary cross-entropy of a deterministic logistic score",
)
def a6_binary_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    y = F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col(VAL) - 100.0) / 50.0))
    df = df.select(y.alias("y"), p.alias("p"))
    return df.agg(F.round(metrics.binary_cross_entropy(F.col("p"), F.col("y")), 6).alias("bce"))


# --- A8: trailing-k mean (reference timeseries_trainer.py:108-109) ---
@register(
    "a8_trailing_mean",
    """
    SELECT event_id,
           ROUND(AVG(value) OVER (ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS trailing_mean
    FROM events
    """,
    doc="A8 trailing-10 mean over the global sequence (training-loss metric; "
    "single-partition window is intentional — metric streams are tiny)",
)
def a8_trailing_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = metrics.trailing_mean(_events(spark, sf_dir), ORDER, VAL, k=10)
    return df.select("event_id", F.round(F.col("trailing_mean"), 6).alias("trailing_mean"))


# --- P2: backfill null repair (reference turbofan.py:167) ---
@register(
    "p2_backfill",
    f"""
    WITH holed AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events)
    SELECT user_id, event_id,
           FIRST_VALUE(v IGNORE NULLS) OVER ({_ORA_WIN}
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_filled
    FROM holed
    """,
    doc="P2 pandas-bfill: null takes next non-null per series (nulls injected "
    "deterministically at event_type='error')",
)
def p2_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir).withColumn(
        "v", F.when(F.col("event_type") == "error", None).otherwise(F.col(VAL))
    )
    df = filters.backfill(df, KEY, ORDER, "v", out="v_filled")
    return df.select(KEY, "event_id", "v_filled")


# --- P3: min-length series filter (reference timeseries.py:104-105) ---
@register(
    "p3_min_length_filter",
    """
    WITH lens AS (
      SELECT user_id, event_id, COUNT(*) OVER (PARTITION BY user_id) AS series_len
      FROM events)
    SELECT user_id, event_id FROM lens WHERE series_len >= 50
    """,
    doc="P3 drop series shorter than 50 rows",
)
def p3_min_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = filters.min_length_filter(_events(spark, sf_dir), KEY, min_len=50)
    return df.select(KEY, "event_id")


# --- O4/P7: take last k of a filtered sub-series (reference utils/inference.py:37-48) ---
@register(
    "p7_filtered_last_k",
    """
    WITH f AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
    r AS (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
      FROM f)
    SELECT user_id, event_id FROM r WHERE rk <= 5
    """,
    doc="P7+O4 membership filter then last-k per series",
)
def p7_filtered_last_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir).filter(F.col("event_type") == "click")
    df = filters.take_last_k(df, KEY, ORDER, k=5)
    return df.select(KEY, "event_id")


def _sorted_series_array(df: DataFrame) -> DataFrame:
    """(user_id, seq array<double>) with seq in (ts, event_id) order.

    collect_list is order-nondeterministic, so sort structs of
    (order cols..., value) after collecting — array_sort on structs is
    lexicographic by field position. Whole-series arrays are bounded by
    the longest single key (same contract as applyInPandas per key);
    stays partition-local, one shuffle.
    """
    packed = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in ORDER], F.col(VAL).alias("v")))
    )
    lam = lambda x: x["v"]  # noqa: E731
    return df.groupBy(KEY).agg(F.transform(packed, lam).alias("seq"))


# --- P4/A4: all-zero-window filter (reference timeseries.py:154-167) ---
@register(
    "p4_zero_window_filter",
    f"""
    WITH r AS (
      SELECT user_id,
             CASE WHEN user_id % 7 = 0 THEN 0.0 ELSE value END AS v,
             ROW_NUMBER() OVER ({_ORA_WIN}) AS rn
      FROM events),
    w AS (
      SELECT user_id, CAST(FLOOR((rn - 1) / 10) AS BIGINT) AS window_id,
             SUM(ABS(v)) AS abs_sum, COUNT(*) AS n
      FROM r GROUP BY 1, 2)
    SELECT user_id, window_id, ROUND(abs_sum, 6) AS abs_sum
    FROM w WHERE n = 10 AND abs_sum > 1e-12
    """,
    doc="P4 batch-norm NaN guard: tumbling windows (T=10) whose total |mass| "
    "≤ eps are dropped (users ≡0 mod 7 zeroed to make the filter bite)",
)
def p4_zero_window_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn(
        "v", F.when(F.col(KEY) % 7 == 0, F.lit(0.0)).otherwise(F.col(VAL))
    )
    df = windowing.tumbling_window_id(ev, KEY, ORDER, seq_len=10)
    arrs = df.groupBy(KEY, "window_id").agg(
        F.collect_list(F.array(F.col("v"))).alias("w"),
        F.count(F.lit(1)).alias("n"),
    )
    kept = filters.drop_zero_windows(arrs.filter(F.col("n") == 10), "w")
    return kept.select(
        KEY,
        "window_id",
        F.round(filters.zero_window_abs_sum(F.flatten(F.col("w"))), 6).alias("abs_sum"),
    )


# --- W11: sequence reversal (reference turbofan_autoencoder.py:80-83) ---
@register(
    "w11_reverse_sequence",
    """
    SELECT user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) - 1
             AS pos,
           value AS v
    FROM events
    """,
    doc="W11 backward target Xs[::-1]: whole series reversed as an array, "
    "emitted exploded (pos = 0-based index in the reversed sequence)",
)
def w11_reverse_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = _sorted_series_array(_events(spark, sf_dir))
    rev = seqs.select(KEY, F.posexplode(shifts.reverse_sequence("seq")).alias("pos", "v"))
    return rev.select(KEY, F.col("pos").cast("long").alias("pos"), "v")


# --- W12: last-timepoint slice (reference turbofan_with_tcn.py:79) ---
@register(
    "w12_last_timepoint",
    """
    WITH r AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
      FROM events)
    SELECT user_id, value AS last_value FROM r WHERE rk = 1
    """,
    doc="W12 element_at(seq, -1): keep only t = T-1 of each series sequence",
)
def w12_last_timepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = _sorted_series_array(_events(spark, sf_dir))
    return seqs.select(KEY, shifts.last_timepoint("seq").alias("last_value"))


# --- per-series ntile bucketing (quartile assignment) ---
@register(
    "ntile_user_value_quartiles",
    """
    SELECT user_id, event_id,
           CAST(NTILE(4) OVER (PARTITION BY user_id ORDER BY value, event_id)
                AS INTEGER) AS quartile
    FROM events
    """,
    doc="per-series NTILE(4) bucket assignment over a total (value, "
    "event_id) order — standard first-buckets-get-the-remainder "
    "semantics, identical in both engines; partitioned window, no "
    "global sort",
)
def ntile_user_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(KEY).orderBy("value", "event_id")
    return _events(spark, sf_dir).select(
        KEY, "event_id", F.ntile(4).over(w).cast("int").alias("quartile")
    )


# --- resample / gap-fill: irregular events → fixed 6h grid, ffill ---
_BUCKET_US = 6 * 3600 * 1_000_000


@register(
    "resample_ffill_6h",
    f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, event_id, value FROM events),
    b AS (SELECT user_id, t_us - (t_us % {_BUCKET_US}) AS bucket_start_us,
                 t_us, event_id, value FROM e),
    last AS (
      SELECT user_id, bucket_start_us, value FROM (
        SELECT user_id, bucket_start_us, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, bucket_start_us
                                  ORDER BY t_us DESC, event_id DESC) AS rn
        FROM b) WHERE rn = 1),
    bounds AS (SELECT user_id, MIN(bucket_start_us) AS b0, MAX(bucket_start_us) AS b1
               FROM b GROUP BY user_id),
    grid AS (SELECT user_id, unnest(generate_series(b0, b1, {_BUCKET_US})) AS bucket_start_us
             FROM bounds),
    j AS (SELECT user_id, bucket_start_us, value AS v
          FROM grid LEFT JOIN last USING (user_id, bucket_start_us))
    SELECT user_id, bucket_start_us,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket_start_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           CASE WHEN v IS NULL THEN 0 ELSE 1 END AS is_observed
    FROM j
    """,
    doc="resample irregular per-user events onto a 6h grid: last "
    "observation per bucket (deterministic (t_us, event_id) tie-break), "
    "dense grid between each user's first/last bucket via "
    "sequence+explode, forward-fill via last(ignorenulls) — the bridge "
    "from irregular telemetry to the position-indexed windowing ops",
)
def resample_ffill_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resample.resample_ffill(
        _events(spark, sf_dir), KEY, "ts", VAL, _BUCKET_US, "event_id"
    )


@register(
    "resample_interp_6h",
    f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, event_id, value FROM events),
    b AS (SELECT user_id, t_us - (t_us % {_BUCKET_US}) AS bucket_start_us,
                 t_us, event_id, value FROM e),
    last AS (
      SELECT user_id, bucket_start_us, value FROM (
        SELECT user_id, bucket_start_us, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, bucket_start_us
                                  ORDER BY t_us DESC, event_id DESC) AS rn
        FROM b) WHERE rn = 1),
    bounds AS (SELECT user_id, MIN(bucket_start_us) AS b0, MAX(bucket_start_us) AS b1
               FROM b GROUP BY user_id),
    grid AS (SELECT user_id, unnest(generate_series(b0, b1, {_BUCKET_US})) AS bucket_start_us
             FROM bounds),
    j AS (SELECT user_id, bucket_start_us, value AS v
          FROM grid LEFT JOIN last USING (user_id, bucket_start_us)),
    x AS (
      SELECT user_id, bucket_start_us, v,
             last_value(v IGNORE NULLS) OVER wb AS prev_v,
             last_value(CASE WHEN v IS NOT NULL THEN bucket_start_us END
                        IGNORE NULLS) OVER wb AS prev_b,
             first_value(v IGNORE NULLS) OVER wf AS next_v,
             first_value(CASE WHEN v IS NOT NULL THEN bucket_start_us END
                         IGNORE NULLS) OVER wf AS next_b
      FROM j
      WINDOW wb AS (PARTITION BY user_id ORDER BY bucket_start_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY bucket_start_us
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, bucket_start_us,
           CASE WHEN v IS NOT NULL THEN v
                ELSE prev_v + (next_v - prev_v)
                     * (CAST(bucket_start_us - prev_b AS DOUBLE)
                        / CAST(next_b - prev_b AS DOUBLE)) END AS value,
           CASE WHEN v IS NULL THEN 0 ELSE 1 END AS is_observed
    FROM x
    """,
    doc="resample onto the 6h grid with LINEAR interpolation between the "
    "surrounding observed buckets (the hypertable time_bucket_gapfill + "
    "interpolate() pattern; resample_ffill_6h's sibling for continuous "
    "signals). Grid bounds guarantee both neighbours exist; the gap "
    "formula is exact-integer ratios through single IEEE ops in a fixed "
    "order, so values are bit-identical cross-engine UNROUNDED. Same "
    "scale shape as ffill — all four neighbour extractions share one "
    "per-key sort, no extra shuffle",
)
def resample_interp_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resample.resample_linear_interp(
        _events(spark, sf_dir), KEY, "ts", VAL, _BUCKET_US, "event_id"
    )


# --- SCD2 change compaction (CDC → validity intervals; MERGE-INTO's batch face) ---
@register(
    "scd2_type_intervals",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type FROM events),
    m AS (
      SELECT user_id, t_us, event_id, event_type,
             CASE WHEN LAG(event_type) OVER w IS NULL
                    OR LAG(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
    r AS (
      SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
      FROM m),
    iv AS (
      SELECT user_id, run_id, MIN(event_type) AS attr,
             MIN(t_us) AS valid_from, COUNT(*) AS n_obs
      FROM r GROUP BY user_id, run_id)
    SELECT user_id, run_id, attr, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
           n_obs
    FROM iv
    """,
    doc="SCD2 / CDC change compaction (the batch face of MERGE INTO, absent "
    "in the reference — SURVEY §2.7 has no mutable state): each user's "
    "event_type run becomes one validity interval (valid_from inclusive, "
    "valid_to = next run's start, NULL = current). One keyed shuffle "
    "serves the lag, the cumulative run-id, the run collapse and the "
    "lead — no self-join, no global sort; per-key state is that key's "
    "own history, the 100 TB dimension-build shape",
)
def scd2_type_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.operators import scd

    ev = _events(spark, sf_dir).select(
        KEY, F.expr("ts div 1000").alias("t_us"), "event_id", "event_type"
    )
    return scd.scd2_compact(ev, KEY, "t_us", "event_type", "event_id")


# --- P6: NaN guard as a countable data-quality operator ---
@register(
    "p6_nan_guard_counts",
    """
    WITH holed AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 'NaN'::DOUBLE ELSE value END AS v
      FROM events)
    SELECT user_id,
           COUNT(*) FILTER (WHERE isnan(v) OR v IS NULL) AS n_bad,
           COUNT(*) AS n_rows
    FROM holed GROUP BY user_id
    """,
    doc="P6 NaN guard as a countable operator: NaNs injected "
    "deterministically at error events, NaN-or-NULL rows counted per "
    "series in ONE conditional aggregate",
)
def p6_nan_guard_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    holed = _events(spark, sf_dir).withColumn(
        "v",
        F.when(F.col("event_type") == "error", F.lit(float("nan"))).otherwise(F.col(VAL)),
    )
    bad = F.isnan(F.col("v")) | F.col("v").isNull()
    return holed.groupBy(KEY).agg(
        F.count(F.when(bad, F.lit(1))).alias("n_bad"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- time-based RANGE window frame (value-based bounds, not row counts) ---
@register(
    "events_range_frame_hour",
    """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t_us, value FROM events)
    SELECT user_id, event_id,
           COUNT(*) OVER w AS n_in_hour,
           ROUND(AVG(value) OVER w, 6) AS hour_mean
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY t_us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="trailing ONE-HOUR mean per user over irregular events: a "
    "value-based RANGE frame (frame membership decided by timestamp "
    "distance, not row offsets — W1's ROWS frame cannot express this on "
    "irregular data). Bounds run in the exact µs domain on both engines; "
    "one shuffle on user_id, frame scan is a per-partition sliding pass",
)
def events_range_frame_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", F.expr("ts div 1000").alias("t_us"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_in_hour"),
        F.round(F.avg("value").over(w), 6).alias("hour_mean"),
    )


# --- seasonal-naive forecast + MASE (composes the resample grid) ---
_RESAMPLE_FFILL_SQL = f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, event_id, value FROM events),
    b AS (SELECT user_id, t_us - (t_us % {_BUCKET_US}) AS bucket_start_us,
                 t_us, event_id, value FROM e),
    last AS (
      SELECT user_id, bucket_start_us, value FROM (
        SELECT user_id, bucket_start_us, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, bucket_start_us
                                  ORDER BY t_us DESC, event_id DESC) AS rn
        FROM b) WHERE rn = 1),
    bounds AS (SELECT user_id, MIN(bucket_start_us) AS b0, MAX(bucket_start_us) AS b1
               FROM b GROUP BY user_id),
    grid AS (SELECT user_id, unnest(generate_series(b0, b1, {_BUCKET_US})) AS bucket_start_us
             FROM bounds),
    j AS (SELECT user_id, bucket_start_us, value AS v
          FROM grid LEFT JOIN last USING (user_id, bucket_start_us))
    SELECT user_id, bucket_start_us,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket_start_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM j
"""


@register(
    "forecast_seasonal_naive_mase",
    f"""
    WITH g AS ({_RESAMPLE_FFILL_SQL}),
    f AS (SELECT user_id, value,
                 LAG(value, 4) OVER (PARTITION BY user_id
                                     ORDER BY bucket_start_us) AS pred,
                 LAG(value, 1) OVER (PARTITION BY user_id
                                     ORDER BY bucket_start_us) AS prev
          FROM g)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(COUNT(pred) AS BIGINT) AS n_scored,
           ROUND(AVG(ABS(value - pred))
                 / NULLIF(AVG(ABS(value - prev)), 0), 6) AS mase
    FROM f GROUP BY user_id
    """,
    doc="seasonal-naive forecast scored with MASE (the standard "
    "scale-free forecast-accuracy baseline): the irregular events are "
    "first resampled onto the 6h forward-filled grid (the verified "
    "resample_ffill_6h leaf), the seasonal-naive prediction is "
    "lag(season=4 buckets = 24h) per user, and MASE divides the mean "
    "absolute forecast error by the one-step naive scale "
    "(mean |v_t − v_{{t−1}}|; NULL when the series is constant). "
    "One user_id shuffle carries the grid build, both lags, and the "
    "final per-user aggregate — windows and groupBy share the "
    "partitioning, so composing forecast scoring onto the grid adds "
    "ZERO shuffles. The forecasting-eval face of the metrics family "
    "next to a5_mse_naive_forecast",
)
def forecast_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    g = resample.resample_ffill(
        _events(spark, sf_dir), KEY, "ts", VAL, _BUCKET_US, "event_id"
    )
    w = Window.partitionBy(KEY).orderBy("bucket_start_us")
    f = g.select(
        KEY,
        F.col("value"),
        F.lag("value", 4).over(w).alias("pred"),
        F.lag("value", 1).over(w).alias("prev"),
    )
    err = F.abs(F.col("value") - F.col("pred"))
    scale = F.abs(F.col("value") - F.col("prev"))
    return f.groupBy(KEY).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.count("pred").alias("n_scored"),
        F.round(F.avg(err) / F.nullif(F.avg(scale), F.lit(0)), 6).alias("mase"),
    )


@register(
    "series_downsample_maxdev",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, event_id, value FROM events),
    b AS (SELECT *,
                 NTILE(12) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS bucket,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS pos,
                 COUNT(*) OVER (PARTITION BY user_id) AS n
          FROM e),
    d AS (SELECT *, ROUND(ABS(value - AVG(value) OVER (PARTITION BY user_id, bucket)), 6) AS dev
          FROM b),
    p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                       ORDER BY dev DESC, t_us, event_id) AS rn
          FROM d)
    SELECT user_id, t_us, event_id, value, bucket,
           CASE WHEN pos = 1 OR pos = n THEN 1 ELSE 0 END AS is_endpoint
    FROM p WHERE rn = 1 OR pos = 1 OR pos = n
    """,
    doc="shape-preserving series downsampling (LTTB family): 12 equal-count "
    "buckets per user series, keep the max-|value - bucket mean| point per "
    "bucket plus both endpoints — the long-retention rollup that collapses "
    "flat telemetry while peaks survive. Deviation rounded to 6 dp before "
    "the argmax so bucket-mean summation order can't flip the pick; "
    "(t_us, event_id) tie-break everywhere. One series-keyed shuffle, "
    "output ~14 rows/series regardless of input length",
)
def series_downsample_maxdev(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select(
        "user_id", F.expr("ts div 1000").alias("t_us"), "event_id", "value"
    )
    return resample.downsample_maxdev(
        e, "user_id", "t_us", "value", "event_id", n_buckets=12
    )


@register(
    "forecast_backtest_folds",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, event_id,
                      CAST(ROUND(value * 1000000) AS BIGINT) AS v_u FROM events),
    b AS (SELECT user_id, t_us, event_id, v_u,
                 NTILE(5) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS fold
          FROM e),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, fold
                                       ORDER BY t_us DESC, event_id DESC) AS rn
          FROM b),
    f AS (SELECT user_id, fold, COUNT(*) AS n_points,
                 SUM(v_u) AS s1,
                 SUM(CAST(v_u AS HUGEINT) * v_u) AS s2,
                 MAX(CASE WHEN rn = 1 THEN v_u END) AS last_u
          FROM r GROUP BY user_id, fold),
    g AS (SELECT *, LAG(last_u) OVER (PARTITION BY user_id ORDER BY fold) AS c_u
          FROM f)
    SELECT user_id, fold, n_points,
           ROUND(CAST(s1 AS DOUBLE) / n_points / 1000000.0, 6) AS fold_mean,
           ROUND(CAST(c_u AS DOUBLE) / 1000000.0, 6) AS train_last,
           ROUND(CAST(s2 - 2 * CAST(c_u AS HUGEINT) * s1
                         + n_points * CAST(c_u AS HUGEINT) * c_u AS DOUBLE)
                 / n_points / 1000000000000.0, 6) AS mse_persistence
    FROM g
    """,
    doc="expanding-window backtest (rolling-origin time-series CV): 5 "
    "contiguous time-ordered folds per user series; every fold >= 2 is "
    "scored with the persistence forecast (predict the previous fold's "
    "final value) via closed-form fold moments — no join back to points. "
    "The per-fold MSE floor a trained forecaster must beat, generalizing "
    "the reference's single W13 time split to K ordered folds. One "
    "series-keyed window pass + one (series, fold) aggregate. Round-6 "
    "hardening: moments are EXACT integer micro-unit sums (sum-of-squares "
    "in hugeint/decimal(38,0)) so the like-magnitude subtraction in "
    "m2 − 2c·m1 + c² has no accumulation-order rounding surface — the "
    "round-5 driver red row was a 6-dp boundary flip on exactly that form",
)
def forecast_backtest_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select(
        "user_id", F.expr("ts div 1000").alias("t_us"), "event_id", "value"
    )
    return split.backtest_folds(e, "user_id", "t_us", "event_id", "value", n_folds=5)


@register(
    "events_winsorize_by_type",
    """
    WITH b AS (SELECT event_type,
                      ROUND(quantile_cont(value, 0.05), 6) AS p_lo,
                      ROUND(quantile_cont(value, 0.95), 6) AS p_hi
               FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value, b.p_lo, b.p_hi,
           LEAST(GREATEST(e.value, b.p_lo), b.p_hi) AS value_winsorized,
           CASE WHEN e.value < b.p_lo OR e.value > b.p_hi THEN 1 ELSE 0 END
             AS is_clipped
    FROM events e JOIN b USING (event_type)
    """,
    doc="per-group winsorization: clamp each event's value to its "
    "event type's exact [p05, p95] order-statistic bounds (rounded to "
    "6 dp before the clip so interpolation ulps can't flip boundary "
    "rows) — the outlier guard that makes mean/sigma normalization (A1/"
    "A2) safe. One partial-agg shuffle for the 5-row bounds relation, "
    "broadcast join back; the event scan never reshuffles",
)
def events_winsorize_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = normalize.winsorize_by_group(e, "event_type", "value", 0.05, 0.95)
    return out.select(
        "event_id",
        "event_type",
        "value",
        "p_lo",
        "p_hi",
        F.col("value_winsorized").alias("value_winsorized"),
        "is_clipped",
    )


@register(
    "events_anomaly_mad",
    """
    WITH m AS (SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
               FROM events GROUP BY event_type),
    d AS (SELECT e.event_id, e.event_type, e.value, m.med,
                 ABS(e.value - m.med) AS dev
          FROM events e JOIN m USING (event_type)),
    md AS (SELECT event_type, ROUND(quantile_cont(dev, 0.5), 6) AS mad
           FROM d GROUP BY event_type)
    SELECT d.event_id, d.event_type, d.value, d.med, md.mad,
           CASE WHEN md.mad > 0
                THEN ROUND(d.dev / (1.4826 * md.mad), 6) END AS robust_z,
           CASE WHEN d.dev > ROUND(3.0 * 1.4826 * md.mad, 6)
                THEN 1 ELSE 0 END AS is_outlier
    FROM d JOIN md USING (event_type)
    """,
    doc="robust anomaly flags per event type: |value - median| > 3 x "
    "1.4826 x MAD (median absolute deviation) -- the robust z-score fence "
    "that catches a stuck/spiking sensor which percentile winsorization "
    "(events_winsorize_by_type) would clip silently. Two one-row-per-group "
    "partial-agg shuffles (median, then MAD over deviations), each "
    "broadcast-joined back; the event scan never reshuffles. Median/MAD "
    "rounded to 6 dp before the fence comparison so cross-engine "
    "interpolation ulps cannot flip a boundary flag",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select("event_id", "event_type", "value")
    return normalize.mad_outliers_by_group(e, "event_type", "value", k=3.0)


@register(
    "events_cusum_alarms",
    """
    WITH m AS (SELECT event_type,
                      ROUND(quantile_cont(value, 0.5), 6) AS med,
                      ROUND(quantile_cont(value, 0.75), 6)
                        - ROUND(quantile_cont(value, 0.25), 6) AS iqr
               FROM events GROUP BY event_type),
    y AS (SELECT e.event_id, e.event_type, epoch_us(e.ts) AS us,
                 CAST(ROUND((e.value - m.med - m.iqr) * 1000000) AS BIGINT)
                   AS y_int
          FROM events e JOIN m USING (event_type)),
    c AS (SELECT event_id, event_type, us,
                 SUM(y_int) OVER (PARTITION BY event_type
                                  ORDER BY us, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cum
          FROM y),
    c2 AS (SELECT event_id, event_type, cum,
                  MIN(cum) OVER (PARTITION BY event_type
                                 ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS minpref
           FROM c),
    s AS (SELECT event_id, event_type,
                 cum - LEAST(CAST(0 AS BIGINT), minpref) AS s_int
          FROM c2)
    SELECT event_id, event_type,
           ROUND(s_int / 1000000.0, 6) AS cusum,
           CASE WHEN s_int > 50000000 THEN 1 ELSE 0 END AS is_alarm
    FROM s
    """,
    doc="CUSUM change-point alarms per event-type stream, shuffle-exact: "
    "the textbook recursion S_t = max(0, S_{t-1} + (x_t - target - "
    "slack)) is not a SQL window — but it EQUALS C_t - min(0, "
    "min-prefix(C)) over the drift prefix sums C, which is two stacked "
    "windows on the same (type, time) partition: one sort, no "
    "iteration, no UDF. Drift is quantized to integer micro-units "
    "first, so the cumulative sums are EXACT integers on both engines "
    "(a double cumsum would differ in ulps wherever an engine uses "
    "segment-tree window aggregation). Target = per-type median, slack "
    "= IQR, alarm at S > 50 value-units; the bounds relation is "
    "one-row-per-group, broadcast back — same shape as the MAD fence",
)
def events_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select("event_id", "event_type", "ts", "value")
    m = e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med"),
        (
            F.round(F.percentile("value", F.lit(0.75)), 6)
            - F.round(F.percentile("value", F.lit(0.25)), 6)
        ).alias("iqr"),
    )
    y = e.join(F.broadcast(m), "event_type").select(
        "event_id",
        "event_type",
        F.expr("ts div 1000").alias("us"),
        F.round((F.col("value") - F.col("med") - F.col("iqr")) * 1_000_000, 0)
        .cast("long")
        .alias("y_int"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("y_int").over(w)
    # minpref rides the SAME (us, event_id) order as cum, so Catalyst
    # satisfies both windows with ONE sort of the type partition.
    c = y.withColumn("cum", cum).withColumn(
        "minpref",
        F.min(cum).over(
            Window.partitionBy("event_type")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    s_int = F.col("cum") - F.least(F.lit(0).cast("long"), F.col("minpref"))
    return c.select(
        "event_id",
        "event_type",
        F.round(s_int / 1_000_000.0, 6).alias("cusum"),
        (s_int > 50_000_000).cast("int").alias("is_alarm"),
    )


@register(
    "series_seasonal_decompose",
    """
    WITH b AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
                      CAST(ROUND(SUM(CAST(ROUND(value * 1000000)
                                          AS BIGINT)) * 1.0 / COUNT(*))
                           AS BIGINT) AS v_int
               FROM events GROUP BY 1, 2),
    t AS (SELECT *,
                 SUM(v_int) OVER w AS tnum,
                 COUNT(*) OVER w AS tcnt
          FROM b WINDOW w AS (PARTITION BY event_type ORDER BY hr
                              ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
    s AS (SELECT event_type, hr, hr % 24 AS slot, v_int,
                 CAST(ROUND(tnum * 1.0 / tcnt) AS BIGINT) AS trend_int
          FROM t),
    se AS (SELECT event_type, slot,
                  CAST(ROUND(SUM(v_int - trend_int) * 1.0 / COUNT(*))
                       AS BIGINT) AS seas_int
           FROM s GROUP BY 1, 2)
    SELECT s.event_type, s.hr,
           ROUND(s.v_int / 1000000.0, 6) AS value_avg,
           ROUND(s.trend_int / 1000000.0, 6) AS trend,
           ROUND(se.seas_int / 1000000.0, 6) AS seasonal,
           ROUND((s.v_int - s.trend_int - se.seas_int) / 1000000.0, 6)
             AS residual
    FROM s JOIN se USING (event_type, slot)
    """,
    doc="classical seasonal decomposition (decompose-by-moving-average, "
    "the pre-STL textbook method): hourly bucket means per event type, "
    "trend = centered 25-point moving average, seasonal = mean "
    "detrended value per hour-of-day slot, residual = the rest — the "
    "monitoring/forecasting preprocessing step that separates 'what "
    "always happens at 3am' from real drift (residuals are what CUSUM/"
    "MAD should watch). One bucket-agg shuffle, one per-type window "
    "sort, one 24-row-per-type slot relation broadcast back; every "
    "stage rounds at 6 dp before reuse so the decomposition is "
    "cross-engine exact",
)
def series_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Every mean is computed as an INTEGER micro-unit ratio (exact bigint
    # sums, one deterministic double division, rounded to the nearest
    # micro-unit): a double AVG differs between engines in ulps wherever
    # window/group accumulation order differs (segment tree vs
    # sequential), and a first cut of this face failed the exact gate on
    # exactly that — the trend column flipped its 6th decimal.
    e = _events(spark, sf_dir)
    b = (
        e.select(
            "event_type",
            F.expr("(ts div 1000) div 3600000000").alias("hr"),
            F.round(F.col("value") * 1_000_000, 0).cast("long").alias("u"),
        )
        .groupBy("event_type", "hr")
        .agg(
            F.round(F.sum("u") * 1.0 / F.count(F.lit(1)), 0)
            .cast("long")
            .alias("v_int")
        )
    )
    w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-12, 12)
    t = b.withColumn("tnum", F.sum("v_int").over(w)).withColumn(
        "tcnt", F.count(F.lit(1)).over(w)
    )
    s = t.select(
        "event_type",
        "hr",
        (F.col("hr") % 24).alias("slot"),
        "v_int",
        F.round(F.col("tnum") * 1.0 / F.col("tcnt"), 0)
        .cast("long")
        .alias("trend_int"),
    )
    se = s.groupBy("event_type", "slot").agg(
        F.round(
            F.sum(F.col("v_int") - F.col("trend_int")) * 1.0 / F.count(F.lit(1)), 0
        )
        .cast("long")
        .alias("seas_int")
    )
    j = s.join(F.broadcast(se), ["event_type", "slot"])
    return j.select(
        "event_type",
        "hr",
        F.round(F.col("v_int") / 1_000_000.0, 6).alias("value_avg"),
        F.round(F.col("trend_int") / 1_000_000.0, 6).alias("trend"),
        F.round(F.col("seas_int") / 1_000_000.0, 6).alias("seasonal"),
        F.round(
            (F.col("v_int") - F.col("trend_int") - F.col("seas_int")) / 1_000_000.0,
            6,
        ).alias("residual"),
    )


@register(
    "events_ohlc_bars",
    """
    WITH e AS (SELECT event_type, epoch_us(ts) AS us, event_id, value,
                      epoch_us(ts) // 3600000000 AS hr FROM events),
    w AS (SELECT event_type, hr, value,
                 ROW_NUMBER() OVER (PARTITION BY event_type, hr
                                    ORDER BY us, event_id) AS rn_a,
                 ROW_NUMBER() OVER (PARTITION BY event_type, hr
                                    ORDER BY us DESC, event_id DESC) AS rn_d
          FROM e)
    SELECT event_type, hr,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close
    FROM w GROUP BY event_type, hr
    """,
    doc="OHLC bars (open/high/low/close + count per type-hour): the "
    "financial-candlestick / telemetry-rollup aggregate, built from "
    "ORDER STATISTICS only (first/last by a total (time, id) order, "
    "min/max) so every output value is an exact input value — no "
    "accumulation, no rounding, bit-exact cross-engine by construction. "
    "One (type, hour) window sort serves both endpoint row_numbers; "
    "the bar relation is time-range-bound",
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select(
        "event_type",
        F.expr("ts div 1000").alias("us"),
        "event_id",
        "value",
        F.expr("(ts div 1000) div 3600000000").alias("hr"),
    )
    wa = Window.partitionBy("event_type", "hr").orderBy("us", "event_id")
    wd = Window.partitionBy("event_type", "hr").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    w = e.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return w.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
    )
