"""rolling_window_agg_bucketed: the skew-proof W1 form must be
row-identical to the plain form (round-6 verdict item 6 — the
one-series-exceeds-a-task regime the len10x/keys10x audit isolated).

Corpus design stresses the seams: multiple keys, duplicate timestamps
(id tiebreak), negative timestamps (floor bucketing), a series shorter
than seq_len, and bucket widths chosen so windows SPAN row-bucket
boundaries (row_bucket barely above seq_len) and value buckets are tiny
(many buckets per series, several rn offsets in play).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.windowing import (
    rolling_window_agg,
    rolling_window_agg_bucketed,
)

SEQ, VB, RB = 5, 40, 7  # seq_len, value_bucket (us), row_bucket (rows)


def _corpus(spark):
    rng = random.Random(11)
    rows = []
    eid = 0
    for k in (1, 2, 3):
        us = -90  # negative start: floor-bucket regime
        for _ in range(120):
            us += rng.choice((0, 0, 3, 7, 25))  # dup timestamps + gaps
            rows.append((k, eid, us, round(rng.uniform(-5, 5), 3)))
            eid += 1
    for i in range(SEQ - 2):  # series shorter than seq_len
        rows.append((9, eid, i * 10, float(i)))
        eid += 1
    return spark.createDataFrame(rows, "k long, id long, us long, v double")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bucketed_agg_equals_plain(spark):
    df = _corpus(spark)
    aggs = {
        "w_avg": F.avg(F.col("v")),
        "w_sum": F.sum(F.col("v")),
        "w_min": F.min(F.col("v")),
    }
    plain = rolling_window_agg(df, "k", ["us", "id"], dict(aggs), SEQ)
    buck = rolling_window_agg_bucketed(df, "k", "us", "id", dict(aggs), SEQ, VB, RB)
    assert _rows(buck.select(*plain.columns)) == _rows(plain)
    # short series emits nothing, both forms
    assert plain.filter(F.col("k") == 9).count() == 0
    assert buck.filter(F.col("k") == 9).count() == 0


def test_bucketed_agg_guards(spark):
    df = _corpus(spark)
    try:
        rolling_window_agg_bucketed(df, "k", "us", "id", {}, SEQ, VB, SEQ - 1)
    except ValueError as e:
        assert "row_bucket" in str(e)
    else:
        raise AssertionError("expected ValueError: row_bucket < seq_len")
    bad = df.withColumn("rn", F.lit(1))
    try:
        rolling_window_agg_bucketed(bad, "k", "us", "id", {}, SEQ, VB, RB)
    except ValueError as e:
        assert "rn" in str(e)
    else:
        raise AssertionError("expected ValueError on rn collision")


def test_bucketed_partitions_are_bounded(spark):
    """The whole point: no window partition holds more than
    row_bucket + seq_len - 1 rows even when ONE key owns the corpus."""
    rows = [(1, i, i * 3, float(i % 17)) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, id long, us long, v double")
    buck = rolling_window_agg_bucketed(
        df, "k", "us", "id", {"w_avg": F.avg(F.col("v"))}, SEQ, 1000, 100
    )
    plain = rolling_window_agg(df, "k", ["us", "id"], {"w_avg": F.avg(F.col("v"))}, SEQ)
    assert _rows(buck.select(*plain.columns)) == _rows(plain)
    plan = buck._jdf.queryExecution().executedPlan().toString()
    assert "_rb_g" in plan  # the trailing frame partitions by (k, row bucket)
