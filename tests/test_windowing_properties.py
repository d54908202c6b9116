"""Property-based tests (hypothesis) for the windowing invariants — the
SURVEY §7 "window-count parity" traps, exercised over randomized series
lengths and (T, skip, look_ahead) parameters rather than the fixed golden
fixtures.

Each example builds a multi-series long DataFrame driver-side and checks
the NumPy-derivable invariants in bulk; examples are capped because every
one pays a Spark job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.labels import rul_label
from aidc_2018_timeseries_spark.operators.windowing import (
    last_window,
    rolling_window_arrays,
    strided_rolling_window_agg,
    tumbling_windows_with_lookahead,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _series_df(lengths: list[int]) -> pd.DataFrame:
    rows = [
        {"sid": s, "t": t, "v": float((s * 31 + t * 7) % 97)}
        for s, length in enumerate(lengths)
        for t in range(length)
    ]
    return pd.DataFrame(rows, columns=["sid", "t", "v"]).astype(
        {"sid": "int64", "t": "int64", "v": "float64"}
    )


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=6),
    seq_len=st.integers(min_value=1, max_value=25),
    skip=st.integers(min_value=1, max_value=10),
)
@_SETTINGS
def test_strided_window_count_parity(spark, lengths, seq_len, skip):
    """W2: exactly ceil((L-T+1)/skip) windows per series; series with
    L < T emit none (reference turbofan.py:143, timeseries.py:104-105)."""
    df = spark.createDataFrame(_series_df(lengths))
    out = strided_rolling_window_agg(
        df, "sid", ["t"], {"m": F.avg("v")}, seq_len=seq_len, skip=skip
    )
    got = {r["sid"]: r["n"] for r in out.groupBy("sid").agg(F.count("*").alias("n")).collect()}
    for sid, length in enumerate(lengths):
        expect = int(np.ceil((length - seq_len + 1) / skip)) if length >= seq_len else 0
        assert got.get(sid, 0) == expect, (sid, length, seq_len, skip)


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=6),
    seq_len=st.integers(min_value=1, max_value=25),
)
@_SETTINGS
def test_rolling_window_arrays_all_complete(spark, lengths, seq_len):
    """W1 arrays: every emitted window has size exactly T and is
    time-contiguous (window identity rn = end-row position)."""
    df = spark.createDataFrame(_series_df(lengths))
    rows = rolling_window_arrays(df, "sid", ["t"], ["t", "v"], seq_len=seq_len).collect()
    per_sid: dict[int, int] = {}
    for r in rows:
        assert len(r["window"]) == seq_len
        ts = [e["t"] for e in r["window"]]
        assert ts == list(range(ts[0], ts[0] + seq_len))  # contiguous + ordered
        assert ts[-1] == r["rn"] - 1  # rn is 1-based end-row position
        per_sid[r["sid"]] = per_sid.get(r["sid"], 0) + 1
    for sid, length in enumerate(lengths):
        assert per_sid.get(sid, 0) == max(0, length - seq_len + 1)


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=6),
    cap=st.integers(min_value=0, max_value=80),
)
@_SETTINGS
def test_rul_label_range_and_cap(spark, lengths, cap):
    """W3/P5: labels are count-remaining capped at cap — always in
    [0, cap], exactly one 0 per series (the last row), decreasing by 1
    once under the cap."""
    df = spark.createDataFrame(_series_df(lengths))
    rows = rul_label(df, "sid", ["t"], cap=cap).collect()
    by_sid: dict[int, list] = {}
    for r in rows:
        assert 0 <= r["rul"] <= cap
        by_sid.setdefault(r["sid"], []).append((r["t"], r["rul"]))
    for sid, length in enumerate(lengths):
        series = sorted(by_sid[sid])
        assert series[-1][1] == 0
        expect = [min(length - 1 - t, cap) for t in range(length)]
        assert [rul for _, rul in series] == expect


@given(
    lengths=st.lists(st.integers(min_value=2, max_value=60), min_size=1, max_size=5),
    seq_len=st.integers(min_value=1, max_value=15),
    look_ahead=st.integers(min_value=1, max_value=8),
)
@_SETTINGS
def test_tumbling_lookahead_counts_and_pairing(spark, lengths, seq_len, look_ahead):
    """W7: (L - look_ahead) // T complete windows; y is x shifted by
    look_ahead rows within the same series (reference timeseries.py:135)."""
    df = spark.createDataFrame(_series_df(lengths))
    rows = tumbling_windows_with_lookahead(
        df, "sid", ["t"], "v", seq_len=seq_len, look_ahead=look_ahead
    ).collect()
    per_sid: dict[int, set] = {}
    for r in rows:
        per_sid.setdefault(r["sid"], set()).add(r["window_id"])
        # y pairing: value at t + look_ahead (v is a known function of t)
        sid = r["sid"]
        t = r["window_id"] * seq_len + r["t_in_window"]
        assert r["x"] == float((sid * 31 + t * 7) % 97)
        assert r["y"] == float((sid * 31 + (t + look_ahead) * 7) % 97)
    for sid, length in enumerate(lengths):
        n_windows = max(0, (length - look_ahead) // seq_len)
        assert len(per_sid.get(sid, set())) == n_windows


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=5),
    k=st.integers(min_value=1, max_value=12),
)
@_SETTINGS
def test_last_window_takes_min_k_l_rows(spark, lengths, k):
    """W4: exactly min(k, L) rows per series, and they are the LAST rows."""
    df = spark.createDataFrame(_series_df(lengths))
    rows = last_window(df, "sid", ["t"], seq_len=k).collect()
    by_sid: dict[int, list] = {}
    for r in rows:
        by_sid.setdefault(r["sid"], []).append(r["t"])
    for sid, length in enumerate(lengths):
        got = sorted(by_sid[sid])
        assert got == list(range(max(0, length - k), length))


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=30), min_size=1, max_size=8),
    target=st.integers(min_value=1, max_value=40),
)
@_SETTINGS
def test_pad_repeat_first_properties(spark, lengths, target):
    """W5: short arrays left-pad by REPEATING the first element to target;
    arrays already >= target are untouched (never truncated)."""
    from aidc_2018_timeseries_spark.operators.padding import pad_front_repeat_first

    rows = [(i, [float(i * 100 + j) for j in range(n)]) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "id INT, a ARRAY<DOUBLE>")
    got = {r["id"]: r["p"] for r in df.select("id", pad_front_repeat_first("a", target).alias("p")).collect()}
    for i, n in enumerate(lengths):
        orig = [float(i * 100 + j) for j in range(n)]
        if n >= target:
            assert got[i] == orig  # untouched, NOT truncated
        else:
            assert got[i] == [orig[0]] * (target - n) + orig


@given(
    lengths=st.lists(st.integers(min_value=1, max_value=30), min_size=1, max_size=8),
    target=st.integers(min_value=1, max_value=40),
)
@_SETTINGS
def test_pad_truncate_front_zero_properties(spark, lengths, target):
    """W6: exactly target elements out — shorter arrays left-pad with
    ZEROS, longer arrays keep the LAST target elements (music.py:37-45)."""
    from aidc_2018_timeseries_spark.operators.padding import pad_or_truncate_front_zero

    rows = [(i, [float(i * 100 + j) for j in range(n)]) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "id INT, a ARRAY<DOUBLE>")
    got = {r["id"]: r["p"] for r in df.select("id", pad_or_truncate_front_zero("a", target).alias("p")).collect()}
    for i, n in enumerate(lengths):
        orig = [float(i * 100 + j) for j in range(n)]
        assert len(got[i]) == target
        if n >= target:
            assert got[i] == orig[n - target:]  # keep the LAST rows
        else:
            assert got[i] == [0.0] * (target - n) + orig  # zeros at the FRONT


@given(
    target=st.integers(min_value=2, max_value=60),
    lengths=st.lists(st.integers(min_value=1, max_value=60), min_size=0, max_size=4),
    dup_every=st.lists(st.integers(min_value=1, max_value=3), min_size=7, max_size=7),
)
@_SETTINGS
def test_pad_short_series_long_form_properties(spark, target, lengths, dup_every):
    """W5 long form: every series comes out with max(L, target) rows; pad
    rows take order values min-1 .. min-n and copy the series' first row
    (one of the rows at min(t) when t repeats); real rows pass through;
    the INT order column widens to BIGINT."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from aidc_2018_timeseries_spark.operators.padding import (
        pad_short_series_front_repeat_long,
    )

    lengths = [1, target - 1, target, *lengths]  # always draw 1, T-1 and T
    rows = [
        # t repeats each value dup_every[sid] times: duplicate timestamps
        (sid, 5 + i // dup_every[sid], float(sid * 1000 + i), f"r{sid}.{i}")
        for sid, length in enumerate(lengths)
        for i in range(length)
    ]
    df = spark.createDataFrame(rows, "sid INT, t INT, v DOUBLE, w STRING")
    out = pad_short_series_front_repeat_long(df, "sid", "t", ["v", "w"], target)
    assert out.schema == StructType(
        [
            StructField("sid", IntegerType()),
            StructField("t", LongType()),
            StructField("v", DoubleType()),
            StructField("w", StringType()),
        ]
    )
    by_sid: dict[int, list] = {}
    for r in out.collect():
        by_sid.setdefault(r["sid"], []).append(tuple(r))
    for sid, length in enumerate(lengths):
        got = by_sid[sid]
        assert len(got) == max(length, target), (sid, length, target)
        real = [r for r in rows if r[0] == sid]
        t_min = min(r[1] for r in real)
        pads = sorted((r for r in got if r[1] < t_min), key=lambda r: r[1])
        assert sorted(r for r in got if r[1] >= t_min) == sorted(real)
        n = max(target - length, 0)
        assert [r[1] for r in pads] == list(range(t_min - n, t_min))
        firsts = {r[2:] for r in real if r[1] == t_min}
        assert len({r[2:] for r in pads}) <= 1
        assert all(r[2:] in firsts for r in pads)
