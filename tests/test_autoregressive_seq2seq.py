"""Tests for W14 autoregressive generation and the seq2seq stage."""

from __future__ import annotations

import numpy as np
import pytest

from aidc_2018_timeseries_spark.ml.autoregressive import (
    autoregressive_generate,
    trailing_mean_predictor,
)
from aidc_2018_timeseries_spark.ml.seq2seq import (
    Seq2SeqWeights,
    decode,
    encode,
    reconstruct,
)


def test_autoregressive_matches_local_loop(spark):
    rng = np.random.default_rng(11)
    data = {sid: rng.uniform(0, 10, size=30) for sid in (1, 2, 3)}
    rows = [
        (sid, t, float(v)) for sid, vals in data.items() for t, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "series_id int, t int, v double")
    seq_len, n_steps = 8, 4
    got = {}
    for r in autoregressive_generate(df, "series_id", "t", "v", seq_len, n_steps).collect():
        got[(r["series_id"], r["step"])] = (r["generated"], r["actual"])

    for sid, vals in data.items():
        tail = vals[-(seq_len + n_steps):]
        window = tail[:seq_len].copy()
        for step in range(1, n_steps + 1):
            pred = trailing_mean_predictor(window[None])[0]
            g, a = got[(sid, step)]
            assert g == pytest.approx(pred, rel=1e-12)
            assert a == pytest.approx(float(tail[seq_len + step - 1]), rel=1e-12)
            window = np.append(window[1:], pred)


def test_autoregressive_with_tcn_predictor(spark):
    """Distributed model-in-the-loop generation == a local NumPy replay of
    the same loop (reference utils/inference.py:61 generates with the
    trained model; same seeded weights on both sides)."""
    from aidc_2018_timeseries_spark.ml.autoregressive import tcn_predictor
    from aidc_2018_timeseries_spark.ml.tcn import TCNWeights, tcn_forward

    rng = np.random.default_rng(23)
    data = {sid: rng.uniform(-1, 1, size=25) for sid in (1, 2)}
    rows = [
        (sid, t, float(v)) for sid, vals in data.items() for t, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "series_id int, t int, v double")
    seq_len, n_steps = 10, 5
    weights = TCNWeights(n_features=1, seed=42)
    got = {}
    gen = autoregressive_generate(
        df, "series_id", "t", "v", seq_len, n_steps, predictor=tcn_predictor(weights)
    )
    for r in gen.collect():
        got[(r["series_id"], r["step"])] = (r["generated"], r["actual"])
    assert len(got) == len(data) * n_steps

    local_weights = TCNWeights(n_features=1, seed=42)  # fresh instance: same seed
    for sid, vals in data.items():
        tail = vals[-(seq_len + n_steps):]
        window = tail[:seq_len].copy()
        for step in range(1, n_steps + 1):
            pred = tcn_forward(window.reshape(-1, 1), local_weights)
            g, a = got[(sid, step)]
            assert g == pytest.approx(pred, rel=1e-12)
            assert a == pytest.approx(float(tail[seq_len + step - 1]), rel=1e-12)
            window = np.append(window[1:], pred)


def test_autoregressive_short_series_emits_nothing(spark):
    df = spark.createDataFrame(
        [(1, t, float(t)) for t in range(5)], "series_id int, t int, v double"
    )
    out = autoregressive_generate(df, "series_id", "t", "v", seq_len=8, n_steps=3)
    assert out.count() == 0


def _replay(vals: np.ndarray, seq_len: int, n_steps: int, predictor) -> list[tuple]:
    """One series' generation, one step at a time, as (step, generated,
    actual) with None where the output is null."""
    tail = vals[-(seq_len + n_steps):]
    window = tail[:seq_len].copy()
    out = []
    for step in range(1, n_steps + 1):
        pred = float(predictor(window[None])[0])
        actual = tail[seq_len + step - 1] if seq_len + step - 1 < len(tail) else None
        out.append((step, pred, None if actual is None else float(actual)))
        window = np.append(window[1:], pred)
    return out


def test_autoregressive_mixed_lengths_match_per_series_replay(spark):
    """Series of seq_len + 1 up to beyond seq_len + n_steps rows, shuffled
    and spread over several partitions, generate exactly what a
    per-series NumPy replay of the same predictor gives."""
    seq_len, n_steps = 5, 4
    rng = np.random.default_rng(5)
    lengths = np.repeat(np.arange(seq_len + 1, seq_len + n_steps + 4), 3)
    data = {sid: rng.uniform(-5, 5, size=n) for sid, n in enumerate(lengths)}
    rows = [(sid, t, float(v)) for sid, vals in data.items() for t, v in enumerate(vals)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "series_id int, t int, v double").repartition(4, "t")
    assert df.rdd.getNumPartitions() == 4
    gen = autoregressive_generate(df, "series_id", "t", "v", seq_len, n_steps)
    plan = gen._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(series_id") == 1  # the one gather, on the key
    got = sorted((r["series_id"], r["step"], r["generated"], r["actual"]) for r in gen.collect())
    want = sorted(
        (sid, *row)
        for sid, vals in data.items()
        for row in _replay(vals, seq_len, n_steps, trailing_mean_predictor)
    )
    assert got == want


def test_autoregressive_one_predictor_call_per_step_per_arrow_batch(spark, tmp_path):
    """7 series in one partition, 3 per Arrow batch: batches of 3, 3 and 1
    series, each generated in lockstep by n_steps predictor calls."""
    seq_len, n_steps = 4, 3
    calls = tmp_path / "calls.txt"

    def spy(windows):
        with open(calls, "a") as f:
            f.write(f"{windows.shape[0]} {windows.shape[1]}\n")
        return trailing_mean_predictor(windows)

    rows = [(sid, t, float(sid + t)) for sid in range(7) for t in range(seq_len + n_steps)]
    df = spark.createDataFrame(rows, "series_id int, t int, v double")
    confs = {"spark.sql.shuffle.partitions": "1", "spark.sql.execution.arrow.maxRecordsPerBatch": "3"}
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        out = autoregressive_generate(df, "series_id", "t", "v", seq_len, n_steps, predictor=spy)
        assert out.count() == 7 * n_steps
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    shapes = [tuple(map(int, line.split())) for line in calls.read_text().splitlines()]
    assert shapes == [(3, seq_len)] * n_steps + [(3, seq_len)] * n_steps + [(1, seq_len)] * n_steps


def test_autoregressive_null_value_reads_as_nan_in_place(spark):
    """A null keeps its slot: the predictor sees NaN exactly where it was
    until the window slides past it, and a null actual stays null."""
    seq_len, n_steps = 4, 3
    vals = [10.0, None, 12.0, 13.0, 14.0, None, 16.0]
    df = spark.createDataFrame(
        [(1, t, v) for t, v in enumerate(vals)], "series_id int, t int, v double"
    )
    # bit j set <=> window slot j is NaN
    nan_slots = lambda w: np.isnan(w) @ (2.0 ** np.arange(w.shape[1]))
    out = autoregressive_generate(df, "series_id", "t", "v", seq_len, n_steps, predictor=nan_slots)
    got = sorted((r["step"], r["generated"], r["actual"]) for r in out.collect())
    assert got == [(1, 2.0, 14.0), (2, 1.0, None), (3, 0.0, 16.0)]
    # the trailing mean of a window holding the NaN is emitted as null
    mean = autoregressive_generate(df, "series_id", "t", "v", seq_len, n_steps).collect()
    assert [r["generated"] for r in mean] == [None] * n_steps


def test_autoregressive_short_tail_matches_mean_oracle(spark, tmp_path):
    """A series too short to supply every actual: the Spark face's rows
    equal the DuckDB oracle's, missing actuals null on both sides."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aidc_2018_timeseries_spark.plans.pipeline_queries import _w14_mean_oracle

    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(9), pa.int64()),
                "ts": pa.array([t * 10 for t in range(9)], pa.int64()),
                "user_id": pa.array([1] * 9, pa.int64()),
                "value": pa.array([float(t * t % 7) for t in range(9)], pa.float64()),
            }
        ),
        path,
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    want = sorted(con.sql(_w14_mean_oracle(8, 4)).fetchall())
    out = autoregressive_generate(
        spark.read.parquet(path), "user_id", ["ts", "event_id"], "value", seq_len=8, n_steps=4
    )
    got = sorted(
        tuple(r)
        for r in out.selectExpr(
            "user_id", "step", "round(generated, 6)", "round(actual, 6)"
        ).collect()
    )
    assert got == want
    assert [r[3] is None for r in got] == [False, True, True, True]


def test_autoregressive_empty_input_has_declared_schema(spark):
    df = spark.createDataFrame([], "series_id long, t int, v double")
    out = autoregressive_generate(df, "series_id", "t", "v", seq_len=4, n_steps=2)
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<series_id:bigint,step:int,generated:double,actual:double>"
    )


def test_trailing_mean_is_a_per_row_left_fold():
    rng = np.random.default_rng(9)
    windows = rng.normal(size=(50, 13)) * 10.0 ** rng.integers(-8, 8, size=(50, 13))
    got = trailing_mean_predictor(windows)
    for row, g in zip(windows, got):
        total = 0.0
        for v in row:
            total += float(v)
        assert g == total / windows.shape[1]


def test_seq2seq_shapes_and_determinism():
    w = Seq2SeqWeights(n_features=3, hidden_sizes=(6, 5))
    x = np.random.default_rng(2).normal(size=(12, 3))
    states = encode(x, w)
    assert [s[0].shape[0] for s in states] == [6, 5]
    y1 = decode(states, 7, w, np.zeros(3))
    y2 = decode(states, 7, w, np.zeros(3))
    assert y1.shape == (7, 3)
    np.testing.assert_array_equal(y1, y2)
    # autoregressive feedback: step k+1 depends on step k
    recon = reconstruct(x, w)
    assert recon.shape == x.shape


def test_encoder_final_state_depends_on_whole_sequence():
    w = Seq2SeqWeights(n_features=2, hidden_sizes=(4,))
    rng = np.random.default_rng(3)
    x = rng.normal(size=(10, 2))
    s1 = encode(x, w)
    x2 = x.copy()
    x2[0] += 5.0  # perturb the FIRST timestep — must reach the final state
    s2 = encode(x2, w)
    assert not np.allclose(s1[0][0], s2[0][0])
