"""TCN inference stage (SURVEY §2.6 M1-M5, M10) — batched NumPy forward
pass distributed with mapInArrow.

The reference declares these as ngraph graph ops
(``topologies/custom_neon_classes.py:43-139`` dilated causal conv with
weight normalization, ``temporal_convolutional_network.py:7-65`` temporal
blocks / residual blocks / dilation-2^i stacking, Affine readout at
``turbofan_with_tcn.py:80``); execution happened in the ngraph
transformer. Here the forward pass is plain NumPy over Arrow record
batches: each batch's window column is read with pyarrow, gathered into
(N, T, F) arrays and scored with batched forwards, the reference's
minibatch shape (``datasets/timeseries.py:90-115``). The Spark plan stays
scan-shaped: windows stream through Python workers partition-by-partition,
nothing collects to the driver, so 100 TB of windows is just more
partitions.

Training is out of scope by design (SURVEY §7.7): no distributed backprop.
Weights are deterministic (seeded) or caller-provided; inference parity
with a reference-shaped NumPy implementation is what the tests pin.

Dropout (SURVEY §2 M2): the reference's Dropout2D zeroes whole channels
only while training; at inference it multiplies each conv+relu output by
the keep probability k (``custom_neon_classes.py:32-33``). That scale folds
exactly into the conv's own parameters: relu(a)·k = relu(k·a) for k > 0,
and k·a is the conv with ``g`` and ``b`` scaled by k. Caller-provided
weights carry the fold, so the forward has no dropout stage.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

WEIGHT_NORM_EPS = 1e-3  # reference custom_neon_classes.py:86

#: ``window_predictions`` scores windows of one length in slices of at most
#: this many (window, timestep) rows, so that every temporary of the forward
#: stays cache-sized and is served from the allocator's free lists instead
#: of fresh pages. On a 4-core x86 host, 2160 windows (T=30, F=24, 3 levels
#: x 16 channels) took 275 ms CPU in one forward, 55 ms of it kernel time
#: for ~17k page faults per call, and 125 ms with no page faults in
#: 2048-row slices.
FORWARD_ROWS = 2048


def weight_normalized(v: np.ndarray, g: np.ndarray) -> np.ndarray:
    """W = g * v / sqrt(mean(v^2) + eps) (reference
    ``custom_neon_classes.py:81-88``; mean over all non-output axes)."""
    denom = np.sqrt((v**2).mean(axis=(0, 1), keepdims=True) + WEIGHT_NORM_EPS)
    return g * v / denom


def causal_dilated_conv(x: np.ndarray, w: np.ndarray, b: np.ndarray, dilation: int) -> np.ndarray:
    """Causal 1-D convolution: out[t] uses x[t - j*dilation] only (left
    zero-padding of (k-1)*dilation — the 'causal' padding flag at
    ``temporal_convolutional_network.py:13``).

    x: (T, C_in) or a batch (N, T, C_in); w: (k, C_in, C_out); b: (C_out,)
    → (T, C_out) / (N, T, C_out). Each tap is one (N·T, C_in) @ (C_in, C_out)
    GEMM over the whole batch.
    """
    k = w.shape[0]
    t_len = x.shape[-2]
    pad = (k - 1) * dilation
    xp = np.concatenate([np.zeros(x.shape[:-2] + (pad, x.shape[-1])), x], axis=-2)
    out = np.zeros(x.shape[:-1] + (w.shape[2],))
    for j in range(k):
        # tap j looks back (k-1-j)*dilation steps
        seg = xp[..., j * dilation : j * dilation + t_len, :]
        out += (seg.reshape(-1, seg.shape[-1]) @ w[j]).reshape(out.shape)
    return out + b


def relu(x: np.ndarray) -> np.ndarray:
    return np.maximum(x, 0.0)


@dataclass
class TCNWeights:
    """Deterministic TCN parameters: levels residual blocks, dilation 2^i,
    each block = (conv → relu) × 2 + residual (1×1 conv when widths differ),
    then a linear readout on the LAST timepoint (W12 + Affine)."""

    n_features: int
    n_hidden: int = 8
    levels: int = 2
    kernel_size: int = 3
    seed: int = 42
    blocks: list = field(default_factory=list)
    readout: tuple = None  # (w, b)

    def __post_init__(self):
        rng = np.random.default_rng(self.seed)
        c_in = self.n_features
        for _ in range(self.levels):
            mk = lambda *s: rng.normal(0, 0.1, size=s)
            v1, g1 = mk(self.kernel_size, c_in, self.n_hidden), mk(1, 1, self.n_hidden)
            v2, g2 = mk(self.kernel_size, self.n_hidden, self.n_hidden), mk(1, 1, self.n_hidden)
            b1, b2 = mk(self.n_hidden), mk(self.n_hidden)
            side = mk(1, c_in, self.n_hidden) if c_in != self.n_hidden else None
            self.blocks.append((v1, g1, b1, v2, g2, b2, side))
            c_in = self.n_hidden
        self.readout = (rng.normal(0, 0.1, size=(self.n_hidden, 1)), rng.normal(0, 0.1, size=1))


def tcn_forward_batch(x: np.ndarray, weights: TCNWeights) -> np.ndarray:
    """Forward pass for a batch of equal-length (N, T, F) windows → (N,)
    predictions — the reference's minibatch shape
    (``datasets/timeseries.py:90-115``). Weight normalization runs once per
    block per call, every causal conv is one GEMM per tap over all N·T rows.
    """
    h = x
    for i, (v1, g1, b1, v2, g2, b2, side) in enumerate(weights.blocks):
        dilation = 2**i  # temporal_convolutional_network.py:51-65
        main = relu(causal_dilated_conv(h, weight_normalized(v1, g1), b1, dilation))
        main = relu(causal_dilated_conv(main, weight_normalized(v2, g2), b2, dilation))
        res = h if side is None else causal_dilated_conv(h, side, np.zeros(side.shape[2]), 1)
        h = relu(main + res)
    w, b = weights.readout
    return (h[:, -1] @ w + b)[:, 0]  # last timepoint (W12) + Affine (M10)


def tcn_forward(x: np.ndarray, weights: TCNWeights) -> float:
    """Forward pass for one (T, F) window → scalar prediction: the N = 1
    case of ``tcn_forward_batch``."""
    return float(tcn_forward_batch(x[None], weights)[0])


def window_predictions(
    windows: pa.Array, feature_names: list[str], weights: TCNWeights
) -> pa.Array:
    """Score one Arrow column of ``list<struct<features>>`` windows → a
    double array, null where a window is null, empty or holds a null
    feature value.

    The struct fields become one (elements, F) matrix; windows of each
    distinct length T are then gathered to (N, T, F) and scored with
    ``tcn_forward_batch``, one call per ``FORWARD_ROWS // T`` windows — no
    per-window loop, and windows of different lengths are never padded
    together.
    """
    lengths = windows.value_lengths().fill_null(0).to_numpy()
    elems = windows.flatten()  # skips the slots of null lists
    fields = dict(zip([f.name for f in elems.type], elems.flatten()))
    x = np.empty((len(elems), len(feature_names)))
    null = np.zeros(len(elems), dtype=bool)
    for j, name in enumerate(feature_names):
        col = fields[name]  # carries the struct's own nulls
        x[:, j] = col.to_numpy(zero_copy_only=False)
        if col.null_count:
            null |= col.is_null().to_numpy(zero_copy_only=False)
    ok = lengths > 0
    ok[np.repeat(np.arange(len(lengths)), lengths)[null]] = False
    starts = np.cumsum(lengths) - lengths
    pred = np.zeros(len(lengths))
    for t_len in np.unique(lengths[ok]):
        idx = np.flatnonzero(ok & (lengths == t_len))
        step = max(1, FORWARD_ROWS // t_len)
        for part in np.split(idx, range(step, len(idx), step)):
            pred[part] = tcn_forward_batch(x[starts[part, None] + np.arange(t_len)], weights)
    return pa.array(pred, mask=~ok, type=pa.float64())


def predict_windows(
    df: DataFrame,
    weights: TCNWeights,
    window_col: str = "window",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed inference: mapInArrow, batched forwards over each record
    batch (per window length, in ``FORWARD_ROWS`` slices) via
    ``window_predictions``.

    Input rows carry ``window`` = array<struct<features>>; output keeps
    ``id_cols`` — passed through as the Arrow arrays Spark sent — plus a
    double ``pred`` (null for windows with a null feature value). The UDF
    touches only its partition — bounded memory, no shuffle, linear
    scale-out.
    """
    id_cols = id_cols or [c for c in df.columns if c != window_col]
    feature_names = [f.name for f in df.schema[window_col].dataType.elementType.fields]
    out_schema = T.StructType(
        [df.schema[c] for c in id_cols] + [T.StructField("pred", T.DoubleType())]
    )
    names = [*id_cols, "pred"]

    def infer(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            pred = window_predictions(batch.column(window_col), feature_names, weights)
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in id_cols] + [pred], names=names
            )

    return df.select(*id_cols, window_col).mapInArrow(infer, schema=out_schema)
