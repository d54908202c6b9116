"""hierarchical_running_sum == one global ordered window, with the
single-partition work confined to the buckets-total relation."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.intervals import (
    concurrency_curve_global,
    hierarchical_running_sum,
)
from aidc_2018_timeseries_spark.operators.split import time_ordered_split


def _bounds(spark, n=500):
    # deterministic pseudo-random boundary stream spanning many buckets
    rows = [(((i * 2654435761) % 97) * 10 + i % 7, 1 if i % 2 else -1, i) for i in range(n)]
    return spark.createDataFrame(rows, "t long, delta int, bid long")


def _assert_matches_naive_window(df, keys):
    """hierarchical_running_sum over 100-wide floor buckets of t == one
    running-sum window per key (one global window when keys is [])."""
    order = ["t", "delta", "bid"]
    got = hierarchical_running_sum(
        df.withColumn("bucket", F.expr("(t - pmod(t, 100)) div 100")),
        keys,
        "bucket",
        order,
        "delta",
        out_col="cum",
    )
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.withColumn("cum", F.sum("delta").over(w))
    cols = [*keys, *order, "cum"]
    a = sorted(tuple(r) for r in got.select(*cols).collect())
    b = sorted(tuple(r) for r in want.select(*cols).collect())
    assert a == b


def test_matches_naive_global_window(spark):
    _assert_matches_naive_window(_bounds(spark), [])


def test_keyed_matches_per_key_window(spark):
    """Keys whose rows span many buckets, negative t (floor buckets below
    zero), and a key with a single row."""
    rows = [
        (k, ((i * 2654435761) % 97) * 10 - 480 + k, 1 if (i + k) % 3 else -1, i)
        for k in (1, 2, 3)
        for i in range(k * 100, k * 100 + 150)
    ]
    rows.append((9, -7, 1, 10_000))
    df = spark.createDataFrame(rows, "k long, t long, delta int, bid long")
    assert min(r[1] for r in rows) < 0
    _assert_matches_naive_window(df, ["k"])


def test_single_bucket_degenerates_to_global(spark):
    df = _bounds(spark, n=50).withColumn("bucket", F.lit(0))
    got = hierarchical_running_sum(df, [], "bucket", ["t", "delta", "bid"], "delta")
    # last row of the prefix sum is the grand total
    total = df.agg(F.sum("delta")).first()[0]
    last = got.orderBy(F.desc("t"), F.desc("delta"), F.desc("bid")).first()
    assert last.running_sum == total


def test_plan_keeps_big_window_partitioned(spark):
    """The only unpartitioned (single-partition) window must consume the
    per-bucket AGGREGATE, never the raw boundary stream."""
    df = _bounds(spark).withColumn("bucket", F.col("t") - F.col("t") % 100)
    out = hierarchical_running_sum(df, [], "bucket", ["t", "delta", "bid"], "delta")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "bucket#" not in line.split("partitionBy")[0]:
            # unpartitioned window: its ordering must be over the bucket
            # totals (sum(delta) aggregate), not the row-level stream
            if "windowspecdefinition(t#" in line:
                raise AssertionError(f"raw-stream global window found: {line}")


def test_curve_ends_at_zero_and_never_negative(spark):
    rows = [(i, 100 + (i % 13) * 5, 100 + (i % 13) * 5 + 30) for i in range(200)]
    iv = spark.createDataFrame(rows, "id long, s long, e long")
    curve = concurrency_curve_global(iv, "s", "e", "id", bucket_us=50).collect()
    concs = [r.conc for r in sorted(curve, key=lambda r: (r.t_us, r.delta, r.bid))]
    assert concs[-1] == 0  # every interval that opens eventually closes
    assert min(concs) >= 0


def test_time_split_cutoff_rounds_half_even(spark):
    """The W13 cutoff is Python's round(ratio * N): 2.5 → 2 and 3.5 → 4."""
    for n, want in ((5, 2), (7, 4)):
        df = spark.range(n).withColumn("ts", F.col("id") * 10)
        out = time_ordered_split(df, "ts", 0.5, F.expr("ts div 30"))
        train = sorted(r.id for r in out.filter("split = 'train'").collect())
        assert train == list(range(want)), (n, train)


def test_w13_face_build_runs_only_the_schema_read(spark, sf_dir):
    """Building w13_time_split runs no job beyond load_table's parquet
    schema read: the row count behind the cutoff runs with the plan."""
    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all
    from aidc_2018_timeseries_spark.sources.tables import load_table

    load_all()
    sc = spark.sparkContext

    def build_jobs(name, build) -> list[int]:
        group = f"build-{name}"
        sc.setJobGroup(group, "DataFrame construction only")
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sc.statusTracker().getJobIdsForGroup(group)

    read = build_jobs("w13-read", lambda: load_table(spark, sf_dir, "events"))
    face = build_jobs(
        "w13-face", lambda: CATALOG["w13_time_split"].spark_fn(spark, sf_dir)
    )
    assert len(face) == len(read), (read, face)
