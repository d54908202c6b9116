"""ML-stage (TCN inference) and multimodal plumbing tests."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aidc_2018_timeseries_spark.ml import tcn
from aidc_2018_timeseries_spark.ml.tcn import (
    TCNWeights,
    causal_dilated_conv,
    predict_windows,
    tcn_forward,
    tcn_forward_batch,
    weight_normalized,
    window_predictions,
)
from aidc_2018_timeseries_spark.operators.multimodal import (
    attach_binary_payload,
    binary_metadata,
    decode_images,
    frame_sample_stub,
)
from aidc_2018_timeseries_spark.operators.windowing import rolling_window_arrays
from aidc_2018_timeseries_spark.plans.pipeline_queries import _w14_tcn_weights
from aidc_2018_timeseries_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_causal_conv_is_causal():
    """out[t] must not depend on x[t'] for t' > t."""
    rng = np.random.default_rng(0)
    x = rng.normal(size=(12, 2))
    w = rng.normal(size=(3, 2, 4))
    b = np.zeros(4)
    base = causal_dilated_conv(x, w, b, dilation=2)
    x2 = x.copy()
    x2[8:, :] += 100.0  # perturb the future
    pert = causal_dilated_conv(x2, w, b, dilation=2)
    np.testing.assert_allclose(base[:8], pert[:8], rtol=1e-12)
    assert not np.allclose(base[8:], pert[8:])


def test_weight_norm_formula():
    rng = np.random.default_rng(1)
    v = rng.normal(size=(3, 2, 4))
    g = rng.normal(size=(1, 1, 4))
    w = weight_normalized(v, g)
    want = g * v / np.sqrt((v**2).mean(axis=(0, 1), keepdims=True) + 1e-3)
    np.testing.assert_allclose(w, want, rtol=1e-12)


def test_distributed_tcn_matches_local(spark):
    """mapInArrow inference == pure-NumPy forward on collected windows."""
    rng = np.random.default_rng(5)
    rows = [
        (sid, t, float(v0), float(v1))
        for sid in (1, 2)
        for t, (v0, v1) in enumerate(rng.normal(size=(25, 2)))
    ]
    df = spark.createDataFrame(rows, "series_id int, t int, f0 double, f1 double")
    windows = rolling_window_arrays(df, "series_id", "t", ["f0", "f1"], seq_len=8)
    weights = TCNWeights(n_features=2, n_hidden=4, levels=2, kernel_size=3)
    preds = {
        (r["series_id"], r["rn"]): r["pred"]
        for r in predict_windows(windows, weights).collect()
    }
    local = {}
    for r in windows.collect():
        x = np.array([[e["f0"], e["f1"]] for e in r["window"]])
        local[(r["series_id"], r["rn"])] = tcn_forward(x, weights)
    assert preds.keys() == local.keys()
    for k in preds:
        assert preds[k] == pytest.approx(local[k], rel=1e-9)


def _pre_batch_forward(x, weights):
    """Per-window reference forward: 2-D convs, readout as (C,) @ (C, 1) —
    the float grouping the w14_tcn_autoregressive DuckDB oracle mirrors."""

    def conv(h, w, b, dilation):
        k, t_len = w.shape[0], h.shape[0]
        pad = (k - 1) * dilation
        hp = np.concatenate([np.zeros((pad, h.shape[1])), h], axis=0)
        out = np.zeros((t_len, w.shape[2]))
        for j in range(k):
            out += hp[j * dilation : j * dilation + t_len, :] @ w[j]
        return out + b

    h = x
    for i, (v1, g1, b1, v2, g2, b2, side) in enumerate(weights.blocks):
        main = np.maximum(conv(h, weight_normalized(v1, g1), b1, 2**i), 0.0)
        main = np.maximum(conv(main, weight_normalized(v2, g2), b2, 2**i), 0.0)
        res = h if side is None else conv(h, side, np.zeros(side.shape[2]), 1)
        h = np.maximum(main + res, 0.0)
    w, b = weights.readout
    return float((h[-1] @ w + b)[0])


@pytest.mark.parametrize(
    "weights",
    [
        _w14_tcn_weights(),
        TCNWeights(n_features=3),
        TCNWeights(n_features=24),
    ],
    ids=["w14", "default-f3", "default-f24"],
)
def test_tcn_forward_bit_equal_to_pre_batch_formula(weights):
    """tcn_forward (the N = 1 batched call) reproduces the per-window
    formula bit for bit: == on every window, not approx. The first model
    is the w14_tcn_autoregressive face's own."""
    rng = np.random.default_rng(3)
    for t_len in (1, 3, 8, 30):
        for x in rng.normal(size=(10, t_len, weights.n_features)):
            assert tcn_forward(x, weights) == _pre_batch_forward(x, weights)


@pytest.mark.parametrize("n", [1, 7, 500])
@pytest.mark.parametrize("n_features", [1, 2, 24])
@pytest.mark.parametrize("kernel_size", [2, 3])
@pytest.mark.parametrize("levels", [1, 2, 3])
def test_batched_forward_matches_per_window(levels, kernel_size, n_features, n):
    weights = TCNWeights(
        n_features=n_features, n_hidden=8, levels=levels, kernel_size=kernel_size, seed=levels
    )
    x = np.random.default_rng(n).normal(size=(n, 12, n_features))
    got = tcn_forward_batch(x, weights)
    assert got.shape == (n,)
    assert got.tolist() == pytest.approx([tcn_forward(w, weights) for w in x], rel=1e-12)


def _window_column(windows):
    st = pa.struct([("f0", pa.float64()), ("f1", pa.float64())])
    return pa.array(
        [None if w is None else [None if e is None else dict(zip(("f0", "f1"), e)) for e in w]
         for w in windows],
        type=pa.list_(st),
    )


def test_window_predictions_one_forward_per_length(monkeypatch):
    """A ragged batch runs one batched forward per distinct window length;
    windows of different lengths are never padded together."""
    weights = TCNWeights(n_features=2, n_hidden=4, levels=2, kernel_size=3)
    rng = np.random.default_rng(9)
    lengths = [5, 3, 5, 8, 3, 5]
    wins = [rng.normal(size=(n, 2)) for n in lengths]
    want = [tcn_forward(w, weights) for w in wins]
    calls = []
    real = tcn.tcn_forward_batch

    def counting(x, w):
        calls.append(x.shape)
        return real(x, w)

    monkeypatch.setattr(tcn, "tcn_forward_batch", counting)
    pred = window_predictions(_window_column([w.tolist() for w in wins]), ["f0", "f1"], weights)
    assert calls == [(2, 3, 2), (3, 5, 2), (1, 8, 2)]  # (windows, T, F) per length
    assert pred.null_count == 0
    assert pred.to_pylist() == pytest.approx(want, rel=1e-12)


def test_window_predictions_slices_long_runs(monkeypatch):
    """Windows of one length are scored FORWARD_ROWS // T at a time, with
    the same predictions as a single forward over all of them."""
    weights = TCNWeights(n_features=2, n_hidden=4, levels=2, kernel_size=3)
    wins = np.random.default_rng(5).normal(size=(11, 4, 2))
    want = tcn.tcn_forward_batch(wins, weights)
    calls = []
    real = tcn.tcn_forward_batch

    def counting(x, w):
        calls.append(x.shape)
        return real(x, w)

    monkeypatch.setattr(tcn, "tcn_forward_batch", counting)
    monkeypatch.setattr(tcn, "FORWARD_ROWS", 17)  # 4 windows of T=4 per slice
    pred = window_predictions(_window_column(wins.tolist()), ["f0", "f1"], weights)
    assert calls == [(4, 4, 2), (4, 4, 2), (3, 4, 2)]
    assert pred.to_pylist() == pytest.approx(want.tolist(), rel=1e-12)


_ID_SCHEMA = "iid int, lid long, name string"


def _windows_df(spark, windows, n_partitions=1):
    rows = [(i, 10_000_000_000 + i, f"engine-{i}", w) for i, w in enumerate(windows)]
    return spark.createDataFrame(
        rows, f"{_ID_SCHEMA}, window array<struct<f0:double,f1:double>>"
    ).repartition(n_partitions)


def _local_pred(window, weights):
    return tcn_forward(np.array(window, dtype=float), weights)


def test_predict_windows_null_sensor_gives_null_pred(spark):
    """A window holding a null feature value (or a null element, or no
    elements at all) scores to a null pred; the rest of its batch scores
    normally."""
    weights = TCNWeights(n_features=2, n_hidden=4, levels=2, kernel_size=3)
    rng = np.random.default_rng(4)
    good = [rng.normal(size=(6, 2)).tolist() for _ in range(4)]
    null_sensor = rng.normal(size=(6, 2)).tolist()
    null_sensor[2][1] = None
    null_elem = rng.normal(size=(6, 2)).tolist()
    null_elem[0] = None
    windows = [good[0], null_sensor, good[1], None, good[2], [], null_elem, good[3]]
    got = {r["iid"]: r["pred"] for r in predict_windows(_windows_df(spark, windows), weights).collect()}
    assert [i for i, p in sorted(got.items()) if p is None] == [1, 3, 5, 6]
    for i, w in zip((0, 2, 4, 7), good):
        assert got[i] == pytest.approx(_local_pred(w, weights), rel=1e-12)


def test_predict_windows_ragged_empty_partitions_and_id_types(spark):
    """Ragged windows in one partition, several empty partitions: every row
    comes back once, scored per its own length, with the id columns'
    int/long/string types and values unchanged."""
    weights = TCNWeights(n_features=2, n_hidden=4, levels=2, kernel_size=3)
    rng = np.random.default_rng(6)
    windows = [rng.normal(size=(n, 2)).tolist() for n in (4, 7, 4, 2, 7)]
    for n_partitions in (1, 8):
        df = _windows_df(spark, windows, n_partitions)
        out = predict_windows(df, weights)
        assert out.schema.fields[:3] == df.schema.fields[:3]
        assert out.schema["pred"].dataType == T.DoubleType()
        rows = sorted(out.collect())
        assert [(r["iid"], r["lid"], r["name"]) for r in rows] == [
            (i, 10_000_000_000 + i, f"engine-{i}") for i in range(len(windows))
        ]
        for r in rows:
            assert r["pred"] == pytest.approx(_local_pred(windows[r["iid"]], weights), rel=1e-12)


def test_predict_windows_empty_input_keeps_schema(spark):
    weights = TCNWeights(n_features=2, n_hidden=4, levels=1, kernel_size=2)
    df = _windows_df(spark, [], n_partitions=3)
    out = predict_windows(df, weights, id_cols=["name", "iid"])
    assert out.collect() == []
    assert out.schema == T.StructType(
        [df.schema["name"], df.schema["iid"], T.StructField("pred", T.DoubleType())]
    )


def test_short_engine_fleet_scores_like_numpy(spark):
    """Engines shorter than T go through turbofan_train_windows (front-repeat
    padding) and predict_windows; every pred matches tcn_forward on the
    NumPy restatement of the padded strided windows."""
    from aidc_2018_timeseries_spark.pipelines.turbofan import turbofan_train_windows
    from tests.test_windowing_golden import np_strided_windows_with_labels

    seq_len, cap = 10, 130
    rng = np.random.default_rng(12)
    fleet = {1: 25, 2: 6, 3: 1, 4: 10}  # engines 2 and 3 are shorter than T
    series = {tid: rng.uniform(1.0, 100.0, size=(n, 2)).round(4) for tid, n in fleet.items()}
    rows = [
        (tid, t, float(a[t, 0]), float(a[t, 1])) for tid, a in series.items() for t in range(len(a))
    ]
    df = spark.createDataFrame(rows, "trajectory_id int, t int, f0 double, f1 double")
    windows = turbofan_train_windows(df, ["f0", "f1"], seq_len=seq_len, cap=cap)
    weights = TCNWeights(n_features=2, n_hidden=8, levels=3, kernel_size=3, seed=5)
    got = {
        (r["trajectory_id"], r["rn"]): (r["pred"], r["rul"])
        for r in predict_windows(windows, weights, id_cols=["trajectory_id", "rn", "rul"]).collect()
    }
    want = {}
    for tid, a in series.items():
        wins, labels = np_strided_windows_with_labels(a / a.max(axis=0), seq_len, 1, cap)
        for k, (w, label) in enumerate(zip(wins, labels)):
            want[(tid, k + seq_len)] = (tcn_forward(w, weights), label)
    assert got.keys() == want.keys()
    assert sum(1 for tid, _ in got if tid in (2, 3)) == 2  # one padded window each
    for key, (pred, rul) in want.items():
        assert got[key][0] == pytest.approx(pred, rel=1e-12)
        assert got[key][1] == rul


def test_binary_metadata_and_decode(spark):
    d = load_table(spark, SF_DIR, "documents").limit(50)
    meta = binary_metadata(attach_binary_payload(d, "text"))
    rows = meta.select("doc_id", "n_bytes", "sha256", "text").collect()
    import hashlib

    for r in rows[:10]:
        assert r["n_bytes"] == len(r["text"].encode())
        assert r["sha256"] == hashlib.sha256(r["text"].encode()).hexdigest()

    from aidc_2018_timeseries_spark.operators import multimodal as mm

    if not mm._HAS_PIL:  # fake-kernel path: text payloads aren't real images
        decoded = decode_images(attach_binary_payload(d, "text")).collect()
        assert len(decoded) == 50
        for r in decoded:
            assert r["width"] >= 16 and r["height"] >= 16 and r["n_channels"] == 3
            assert 0.0 <= r["mean_intensity"] <= 1.0


def test_frame_sample_stub(spark):
    d = load_table(spark, SF_DIR, "documents").limit(10)
    frames = frame_sample_stub(attach_binary_payload(d, "text"), every_n=7)
    rows = frames.groupBy("doc_id").agg(F.max("frame_idx").alias("m"), F.count(F.lit(1)).alias("n")).collect()
    for r in rows:
        assert r["m"] % 7 == 0 and r["n"] == r["m"] // 7 + 1


def test_resize_stub_shapes(spark):
    from aidc_2018_timeseries_spark.operators.multimodal import (
        attach_binary_payload,
        fake_resize_kernel,
        resize_images,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(20).select("doc_id", "text")
    # include an empty payload: the fake kernel must still emit w*h*3 bytes.
    # kernel pinned to the fake so the test runs identically with or
    # without PIL (text payloads aren't decodable images)
    empty = docs.sparkSession.createDataFrame([(10_000_000, "")], ["doc_id", "text"])
    payloads = attach_binary_payload(docs.unionByName(empty), "text")
    out = resize_images(
        payloads, target_w=8, target_h=4, kernel=fake_resize_kernel(8, 4)
    ).collect()
    assert len(out) == 21
    for r in out:
        assert (r["width"], r["height"]) == (8, 4)
        assert len(r["resized"]) == 8 * 4 * 3  # every output exactly w*h*3 bytes


def test_audio_feature_extract_row_expansion(spark):
    from aidc_2018_timeseries_spark.operators.multimodal import (
        attach_binary_payload,
        extract_audio_features,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(10)
    payloads = attach_binary_payload(docs, "text")
    sizes = {r["doc_id"]: r["n"] for r in payloads.select("doc_id", F.octet_length("payload").alias("n")).collect()}
    rows = extract_audio_features(payloads, frame_bytes=64).collect()
    got = {}
    for r in rows:
        assert r["rms"] >= 0.0
        got[r["doc_id"]] = max(got.get(r["doc_id"], -1), r["frame_idx"])
    # 1 payload -> ceil(n/64) frames: the row-expanding iterator contract
    for doc_id, n in sizes.items():
        expect_frames = max(1, -(-n // 64))
        assert got[doc_id] == expect_frames - 1


def test_pil_decode_resize(spark):
    """Real-codec path (runs only where PIL is installed — mirrors the
    scipy .mat shim's test gating): synthesize tiny PNGs driver-side,
    push them through the SAME mapInPandas plans as the fake kernel, and
    check true dimensions, channel count, and resized byte length."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    from aidc_2018_timeseries_spark.operators.multimodal import (
        decode_images,
        resize_images,
    )

    def png_bytes(w, h, color):
        buf = io.BytesIO()
        PIL_Image.new("RGB", (w, h), color).save(buf, format="PNG")
        return buf.getvalue()

    rows = [
        (1, png_bytes(20, 10, (255, 255, 255))),  # white -> mean_intensity 1.0
        (2, png_bytes(7, 5, (0, 0, 0))),  # black -> mean_intensity 0.0
        (3, png_bytes(64, 64, (128, 64, 32))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    decoded = {r["doc_id"]: r for r in decode_images(df).collect()}
    assert (decoded[1]["width"], decoded[1]["height"]) == (20, 10)
    assert decoded[1]["mean_intensity"] == pytest.approx(1.0)
    assert decoded[2]["mean_intensity"] == pytest.approx(0.0)
    assert all(decoded[i]["n_channels"] == 3 for i in (1, 2, 3))

    resized = resize_images(df, target_w=8, target_h=4).collect()
    assert len(resized) == 3
    for r in resized:
        assert (r["width"], r["height"]) == (8, 4)
        assert len(r["resized"]) == 8 * 4 * 3  # raw RGB bytes at target size


def test_audio_frames_face_matches_operator(spark):
    """The catalog face is the operator plus ROUND(rms, 6): same row set,
    scalar driver-canonicalizable schema."""
    from aidc_2018_timeseries_spark.operators.multimodal import (
        attach_binary_payload,
        extract_audio_features,
    )
    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all

    load_all()
    face = CATALOG["multimodal_audio_frames"].spark_fn(spark, SF_DIR)
    assert face.schema.simpleString() == (
        "struct<doc_id:bigint,frame_idx:int,rms:double>"
    )
    got = sorted(map(tuple, face.collect()))
    docs = load_table(spark, SF_DIR, "documents")
    want = sorted(
        map(
            tuple,
            extract_audio_features(attach_binary_payload(docs, "text"))
            .select("doc_id", "frame_idx", F.round("rms", 6).alias("rms"))
            .collect(),
        )
    )
    assert got == want and len(got) > len(set(r[0] for r in got))  # row-expanding


def test_inference_dropout_folds_into_conv_gain():
    """M2 at inference (reference custom_neon_classes.py:32-33) scales
    each conv+relu output by keep; relu(a)·k = relu(k·a) for k > 0, so
    the same forward comes from scaling each conv's g and b by k."""
    keep = 0.7
    w = TCNWeights(n_features=3, n_hidden=4, levels=2)
    x = np.random.default_rng(0).normal(size=(5, 12, 3))

    def keep_scaled_forward(x):
        h = x
        for i, (v1, g1, b1, v2, g2, b2, side) in enumerate(w.blocks):
            main = tcn.relu(causal_dilated_conv(h, weight_normalized(v1, g1), b1, 2**i)) * keep
            main = tcn.relu(causal_dilated_conv(main, weight_normalized(v2, g2), b2, 2**i)) * keep
            res = h if side is None else causal_dilated_conv(h, side, np.zeros(side.shape[2]), 1)
            h = tcn.relu(main + res)
        wr, br = w.readout
        return (h[:, -1] @ wr + br)[:, 0]

    folded = TCNWeights(n_features=3, n_hidden=4, levels=2)
    folded.blocks = [
        (v1, g1 * keep, b1 * keep, v2, g2 * keep, b2 * keep, side)
        for v1, g1, b1, v2, g2, b2, side in w.blocks
    ]
    assert tcn_forward_batch(x, folded) == pytest.approx(keep_scaled_forward(x), rel=1e-12)
