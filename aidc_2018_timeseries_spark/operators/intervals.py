"""Interval algebra via sweep-line: concurrency from point events.

The classic "how many things were active at once" question (concurrent
sessions, overlapping maintenance windows, active RUL test cells) answered
WITHOUT an interval self-join: each interval contributes a +1 boundary at
its start and a -1 at its end; a running sum over the time-ordered
boundary stream IS the concurrency curve. O(n log n) sort instead of the
O(n²) overlap join, and the only shuffle is the per-key sort partition —
the same shape as every W-family series window.

Cross-engine determinism: boundaries order by (t, delta, id) with ends
(-1) before starts (+1) at equal timestamps — half-open [start, end)
semantics — and the running sum is exact ±1 integer arithmetic.

Scale note: per-key sweep is embarrassingly parallel over keys. A GLOBAL
(un-keyed) sweep at 100 TB is two passes: per-partition partial sums +
a driver-size prefix fixup over partition boundaries — same technique,
documented here because the face keys by event_type and never needs it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def concurrency_sweep(
    df: DataFrame,
    key: str,
    start_us_col: str,
    end_us_col: str,
    id_col: str,
) -> DataFrame:
    """Per key: (max_concurrent, first_peak_t_us) — the peak of the
    concurrency curve and the earliest boundary time at which it is
    reached."""
    starts = df.select(
        F.col(key),
        F.col(start_us_col).alias("t_us"),
        F.lit(1).alias("delta"),
        F.col(id_col).alias("_id"),
    )
    ends = df.select(
        F.col(key),
        F.col(end_us_col).alias("t_us"),
        F.lit(-1).alias("delta"),
        F.col(id_col).alias("_id"),
    )
    bounds = starts.unionByName(ends)
    w = (
        Window.partitionBy(key)
        .orderBy("t_us", "delta", "_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = bounds.withColumn("conc", F.sum("delta").over(w))
    peak = curve.groupBy(key).agg(F.max("conc").alias("max_concurrent"))
    return (
        curve.join(peak, key)
        .filter(F.col("conc") == F.col("max_concurrent"))
        .groupBy(key, "max_concurrent")
        .agg(F.min("t_us").alias("first_peak_t_us"))
    )


def hierarchical_running_sum(
    df: DataFrame,
    keys: list[str],
    bucket_col: str,
    order_cols: list[str | Column],
    val: str | Column,
    out_col: str = "running_sum",
) -> DataFrame:
    """Per-``keys`` running sum of ``val`` without a window over a whole
    key — the two-level prefix-sum decomposition: (1) running sum WITHIN
    each (keys, bucket) (shuffle keyed by bucket, parallel across
    buckets), (2) exclusive running offset ACROSS a key's buckets computed
    on the (keys, bucket)-totals relation (one row per bucket, so its
    window is over bucket totals, never rows), (3) one plain equi-join
    back on (keys, bucket): the row-level side already carries that
    partitioning from its window, so the join adds no big-side shuffle.
    Row values are exactly what one ordered window per key would produce,
    provided ``bucket_col`` is coarser than (sorts consistently with)
    ``order_cols``'s leading column. ``keys=[]`` is the GLOBAL running
    sum; ``val=F.lit(1)`` is a row number.

    This is the scale-out answer for every "order the whole table / the
    whole series" operator (W13 global split, O2 hash permutation,
    sweep-line concurrency, bucketed W1, the DSIR rank): the only
    structure spanning buckets is the per-bucket totals.
    """
    part = [*keys, bucket_col]
    w_in = (
        Window.partitionBy(*part)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = df.withColumn("_cum_in", F.sum(val).over(w_in))
    totals = df.groupBy(*part).agg(F.sum(val).alias("_btot"))
    w_b = (
        Window.partitionBy(*keys)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.select(
        *part, (F.sum("_btot").over(w_b) - F.col("_btot")).alias("_boff")
    )
    return local.join(offsets, part).withColumn(
        out_col, F.col("_cum_in") + F.col("_boff")
    ).drop("_cum_in", "_boff")


def concurrency_curve_global(
    df: DataFrame,
    start_us_col: str,
    end_us_col: str,
    id_col: str,
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """The UN-KEYED sweep-line: global concurrency at every interval
    boundary, scalable via :func:`hierarchical_running_sum` with time
    buckets (default 1 day) as the parallel unit. Output one row per
    boundary: (t_us, delta, boundary id, conc)."""
    starts = df.select(
        F.col(start_us_col).alias("t_us"),
        F.lit(1).alias("delta"),
        F.col(id_col).alias("bid"),
    )
    ends = df.select(
        F.col(end_us_col).alias("t_us"),
        F.lit(-1).alias("delta"),
        F.col(id_col).alias("bid"),
    )
    bounds = starts.unionByName(ends).withColumn(
        "day_bucket", F.col("t_us") - (F.col("t_us") % F.lit(bucket_us))
    )
    out = hierarchical_running_sum(
        bounds, [], "day_bucket", ["t_us", "delta", "bid"], "delta", out_col="conc"
    )
    return out.select("t_us", "delta", "bid", "conc")


def sessionize_bucketed(
    df: DataFrame,
    key: str,
    us_col: str,
    id_col: str,
    gap_us: int,
    bucket_us: int,
) -> DataFrame:
    """Gap-based sessionization with BOUNDED window partitions — the
    skew-proof form of the plain (key)-partitioned lag+cumsum sessionize.

    The plain form puts a user's ENTIRE history in one window partition;
    the round-6 Zipf audit measured a hot user holding 45% of a 10M-row
    stream turning the whole query into one task's sort (SCALING.md).
    This form is the hierarchical prefix-sum template applied to session
    numbering:

    1. events window within (key, us div bucket_us) — partitions bounded
       by the bucket width, parallel across a hot user's time range;
       local new-session flags + local flag-prefix-sums there;
    2. a per-(key, bucket) summary relation (first/last event time, local
       flag total) — thousands of rows per key at most — carries the
       cross-bucket recursion: a bucket's FIRST event starts a new
       session iff its gap from the previous bucket's last event exceeds
       ``gap_us``, and bucket offsets are an exclusive prefix sum of
       (local flags + first-event flag) over the tiny summary;
    3. offsets broadcast back; session_id = offset + first_flag +
       local prefix — row-for-row IDENTICAL to the plain form (corrected
       flags partition the same global prefix sum), which the equality
       pytest pins on corpora with bucket-spanning sessions and
       exact-boundary gaps.

    Output: input columns + ``session_id`` (long, 0-based per key, same
    numbering as the plain form).

    Helper columns use a ``_sb_``-prefixed namespace and collide-check
    against the input (a caller column literally named ``_sb_off`` would
    otherwise be silently overwritten then dropped — ADVICE r6). Bucketing
    is an exact integer FLOOR division (``us - pmod(us, b)) div b``), so
    negative timestamps get true floor buckets instead of the
    truncate-toward-zero double-width bucket 0 (equality held either way —
    truncation is still monotone — but the partition-size bound did not).
    """
    tmp = ("_sb_b", "_sb_flag", "_sb_cum", "_sb_ff", "_sb_off")
    clash = [c for c in df.columns if c in tmp]
    if clash:
        raise ValueError(
            f"sessionize_bucketed: input columns {clash} collide with "
            f"internal helper names {tmp}"
        )
    # exact long floor-div: us - pmod(us, b) is the largest multiple of b
    # <= us (pmod is non-negative), and the remaining `div` is exact — no
    # double rounding at any magnitude, floor (not truncation) below zero
    b = F.expr(
        f"(`{us_col}` - pmod(`{us_col}`, {int(bucket_us)})) div {int(bucket_us)}"
    )
    w_in = Window.partitionBy(key, "_sb_b").orderBy(us_col, id_col)
    w_cum = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = (
        df.withColumn("_sb_b", b)
        .withColumn(
            "_sb_flag",
            F.when(
                F.col(us_col) - F.lag(us_col).over(w_in) > gap_us, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn("_sb_cum", F.sum("_sb_flag").over(w_cum))
        # materialize ONCE (deferred): flagged feeds BOTH the summary
        # aggregation and the final join, and Spark does not reuse the
        # scan→exchange→window subplan across the two consumers — the
        # round-7 plan audit showed the input scanned and windowed twice
        # (the llm_corpus_pipeline materialization hazard, same fix:
        # localCheckpoint, the CC loop's precedent). Zipf-100M audit:
        # 97.0s → re-measured after this change in SCALING.md round 7
        .localCheckpoint(eager=False)
    )
    # Its own stitch, not hierarchical_running_sum: a bucket's offset
    # carries a first-event flag that needs the previous bucket's last
    # timestamp, which the primitive's plain totals cannot supply.
    summary = flagged.groupBy(key, "_sb_b").agg(
        F.min(us_col).alias("_sb_first_us"),
        F.max(us_col).alias("_sb_last_us"),
        F.sum("_sb_flag").alias("_sb_flags"),
    )
    w_b = Window.partitionBy(key).orderBy("_sb_b")
    w_boff = w_b.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    first_flag = F.when(
        F.lag("_sb_last_us").over(w_b).isNull(), F.lit(0)
    ).otherwise(
        (F.col("_sb_first_us") - F.lag("_sb_last_us").over(w_b) > gap_us).cast(
            "int"
        )
    )
    stitched = summary.withColumn("_sb_ff", first_flag).withColumn(
        "_sb_off",
        F.sum(F.col("_sb_flags") + F.col("_sb_ff")).over(w_boff)
        - (F.col("_sb_flags") + F.col("_sb_ff")),
    )
    # plain equi-join, NOT broadcast: the offsets relation is (key, bucket)
    # -cardinality (≈ one row per user at 100 TB — a user-dim-sized
    # relation), and the big side already carries the (key, bucket)
    # partitioning from its window, so this join adds no big-side shuffle
    offsets = stitched.select(key, "_sb_b", "_sb_ff", "_sb_off")
    return (
        flagged.join(offsets, [key, "_sb_b"])
        .withColumn(
            "session_id",
            (F.col("_sb_off") + F.col("_sb_ff") + F.col("_sb_cum")).cast("long"),
        )
        .drop("_sb_b", "_sb_flag", "_sb_cum", "_sb_ff", "_sb_off")
    )
