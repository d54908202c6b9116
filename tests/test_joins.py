"""Golden tests for as-of and range joins (operators/joins.py).

pandas ``merge_asof`` is the independent oracle for the as-of join (a
third algorithm besides our union-merge plan and DuckDB's native ASOF
JOIN used in the catalog parity check); the range join is checked against
a brute-force O(n·m) pandas filter.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from aidc_2018_timeseries_spark.operators.joins import (
    asof_join,
    range_join_points_to_intervals,
)


def _random_sides(seed: int, n_left: int = 400, n_right: int = 150):
    rng = np.random.RandomState(seed)
    left = pd.DataFrame(
        {
            "k": rng.randint(0, 8, n_left),
            "t": rng.randint(0, 10_000, n_left).astype("int64"),
            "lv": rng.randn(n_left).round(4),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.randint(0, 8, n_right),
            "t": rng.randint(0, 10_000, n_right).astype("int64"),
            "rv": rng.randn(n_right).round(4),
        }
    )
    # merge_asof matches ties arbitrarily within equal (k, t) on the right;
    # dedupe to make the golden comparison deterministic.
    right = right.drop_duplicates(subset=["k", "t"])
    left["lid"] = np.arange(len(left))
    return left, right


def _pandas_asof(left, right, direction, tolerance=None):
    kwargs = {"tolerance": tolerance} if tolerance is not None else {}
    return pd.merge_asof(
        left.sort_values("t", kind="stable"),
        right.sort_values("t", kind="stable").rename(columns={"t": "rt"}),
        left_on="t",
        right_on="rt",
        by="k",
        direction=direction,
        allow_exact_matches=True,
        **kwargs,
    ).sort_values("lid")


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("seed", [0, 7])
def test_asof_join_matches_pandas(spark, direction, seed):
    left, right = _random_sides(seed)
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right.rename(columns={"t": "rt"})),
            on="k",
            left_ts="t",
            right_ts="rt",
            right_cols=["rv"],
            direction=direction,
        )
        .orderBy("lid")
        .toPandas()
    )
    want = _pandas_asof(left, right, direction)
    np.testing.assert_array_equal(got["lid"].values, want["lid"].values)
    np.testing.assert_allclose(got["rv"].values, want["rv"].values, equal_nan=True)


def test_asof_join_tolerance(spark):
    left, right = _random_sides(3)
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right.rename(columns={"t": "rt"})),
            on="k",
            left_ts="t",
            right_ts="rt",
            right_cols=["rv"],
            tolerance=500,
        )
        .orderBy("lid")
        .toPandas()
    )
    want = _pandas_asof(left, right, "backward", tolerance=500)
    np.testing.assert_allclose(got["rv"].values, want["rv"].values, equal_nan=True)
    # tolerance must null some matches but not all (test is vacuous otherwise)
    assert got["rv"].isna().any() and got["rv"].notna().any()


def test_asof_join_inclusive_and_unmatched(spark):
    left = pd.DataFrame({"k": [1, 1, 2], "t": [10, 5, 10], "lid": [0, 1, 2]})
    right = pd.DataFrame({"k": [1, 2], "rt": [10, 99], "rv": [1.5, 2.5]})
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            on="k",
            left_ts="t",
            right_ts="rt",
            right_cols=["rv"],
        )
        .orderBy("lid")
        .toPandas()
    )
    assert got["rv"][0] == 1.5  # equal timestamps match (inclusive)
    assert pd.isna(got["rv"][1])  # no right row at or before t=5
    assert pd.isna(got["rv"][2])  # right row is in the future
    assert len(got) == 3  # left-outer: every left row survives


@pytest.mark.parametrize("closed", ["left", "both"])
@pytest.mark.parametrize("bucket_width", [50, 333, 5000])
def test_range_join_matches_bruteforce(spark, closed, bucket_width):
    rng = np.random.RandomState(11)
    pts = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 300),
            "p": rng.randint(0, 5_000, 300).astype("int64"),
            "pid": np.arange(300),
        }
    )
    iv = pd.DataFrame({"k": rng.randint(0, 5, 60), "s": rng.randint(0, 5_000, 60).astype("int64")})
    iv["e"] = iv["s"] + rng.randint(1, 800, 60)
    iv["iid"] = np.arange(60)

    got = (
        range_join_points_to_intervals(
            spark.createDataFrame(pts),
            spark.createDataFrame(iv),
            point_col="p",
            start_col="s",
            end_col="e",
            on="k",
            bucket_width=bucket_width,
            closed=closed,
        )
        .select("pid", "iid")
        .toPandas()
    )
    m = pts.merge(iv, on="k")
    upper = m["p"] <= m["e"] if closed == "both" else m["p"] < m["e"]
    want = m[(m["p"] >= m["s"]) & upper][["pid", "iid"]]
    assert sorted(map(tuple, got.values)) == sorted(map(tuple, want.values))
    # bucketing must never duplicate a (point, interval) pair
    assert len(got) == len(got.drop_duplicates())


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain_join(spark, how):
    from aidc_2018_timeseries_spark.operators.joins import salted_join

    rng = np.random.RandomState(5)
    # heavy skew: half the big side lands on key 0
    keys = np.where(rng.rand(2000) < 0.5, 0, rng.randint(1, 40, 2000))
    big = pd.DataFrame({"k": keys, "x": np.arange(2000)})
    small = pd.DataFrame({"k": np.arange(0, 50), "y": np.arange(0, 50) * 10})
    got = (
        salted_join(spark.createDataFrame(big), spark.createDataFrame(small), "k", n_salts=8, how=how)
        .select("k", "x", "y")
        .toPandas()
    )
    want = big.merge(small, on="k", how=how)
    assert sorted(map(tuple, got.fillna(-1).values)) == sorted(
        map(tuple, want.fillna(-1).values)
    )
