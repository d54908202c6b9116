"""W14: autoregressive sequence generation (reference
``utils/inference.py:18-105``, which also generates one batch of series
at a time).

Each prediction feeds the next window, so generation is sequential along
a series but independent across series. The plan gathers each series'
last ``seq_len + n_steps`` values, in time order, into one ``tail`` array
(one Exchange, on the key); one mapInArrow then generates all the series
of an Arrow batch in lockstep: ``n_steps`` predictor calls per batch, each
on the (S, ``seq_len``) matrix of the batch's current windows. The driver
never sees the data, memory is bounded by one batch of tails, and there
is no per-series Python loop. This is the documented non-SQL operator
(SURVEY §7).

Semantics (mirroring the reference loop):
- seed the window with the first ``seq_len`` points of each series' tail
  segment of length seq_len + n_steps;
- repeatedly predict the next point, slide the window by one, append the
  prediction (generated points feed later windows);
- emit (key, step, generated, actual) so callers can compute the
  generated-vs-truth comparison the reference plots.

Edges: a null value keeps its slot and reads as NaN; a series with at
most ``seq_len`` rows emits nothing; a NaN ``generated`` or ``actual``
(a NaN in the window, or a series too short to supply the actual) is
emitted as null.

Predictor contract: an (N, T) float64 window matrix → (N,) predictions.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aidc_2018_timeseries_spark.ml.tcn import tcn_forward_batch
from aidc_2018_timeseries_spark.operators.windowing import _order_cols


def trailing_mean_predictor(windows: np.ndarray) -> np.ndarray:
    """Default next-point predictor: mean of each window row (deterministic,
    dependency-free). ``tcn_predictor`` gives model-based generation.

    Summed as a column-wise LEFT FOLD, not np.mean: numpy's pairwise
    summation has a different op order, and the W14 oracle reproduces
    this mean bit-for-bit in DuckDB via list_reduce (sequential
    left-to-right per row, and fold-from-first == fold-from-0.0 since
    0.0 + x == x exactly)."""
    total = np.zeros(windows.shape[0])
    for j in range(windows.shape[1]):
        total += windows[:, j]
    return total / windows.shape[1]


def tcn_predictor(weights) -> Callable[[np.ndarray], np.ndarray]:
    """Adapt a TCN (ml/tcn.py) to the autoregressive predictor contract —
    the reference generates with the TRAINED MODEL, not a summary statistic
    (``utils/inference.py:61`` calls the model inside the loop; topology at
    ``topologies/temporal_convolutional_network.py:51-65``). The (N, T)
    value windows become an (N, T, 1) batch for ``tcn_forward_batch``.

    Returned closure is cloudpickle-shipped to executors with the weights
    captured — generation runs model inference worker-side.
    """
    return lambda windows: tcn_forward_batch(windows[:, :, None], weights)


def autoregressive_generate(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    value_col: str,
    seq_len: int,
    n_steps: int,
    predictor: Callable[[np.ndarray], np.ndarray] = trailing_mean_predictor,
) -> DataFrame:
    """Generate ``n_steps`` points per series from a ``seq_len`` seed.

    Output: (key, step 1..n_steps, generated double, actual double) —
    ``actual`` is the ground-truth point at the same position (null when
    the series is too short to supply it).
    """
    span = seq_len + n_steps
    # newest first; DESC NULLS FIRST is the reverse of ascending, nulls last
    newest = Window.partitionBy(key).orderBy(*[c.desc_nulls_first() for c in _order_cols(order)])
    tails = (
        df.select(key, F.row_number().over(newest).alias("_b"), F.col(value_col).cast("double").alias("_v"))
        .filter(F.col("_b") <= span)
        .groupBy(key)
        .agg(F.expr("transform(sort_array(collect_list(struct(_b, _v)), false), s_ -> s_._v)").alias("tail"))
        .filter(F.size("tail") > seq_len)
    )
    out_schema = T.StructType([df.schema[key]]).add("step", T.IntegerType())
    out_schema = out_schema.add("generated", T.DoubleType()).add("actual", T.DoubleType())

    def generate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tail, n = batch.column(1), batch.num_rows
            buf = np.full((n, span), np.nan)  # NaN past a short tail's end
            values = tail.flatten().to_numpy(zero_copy_only=False)  # a null value reads as NaN
            buf[np.arange(span) < tail.value_lengths().to_numpy()[:, None]] = values
            actual = buf[:, seq_len:].copy()
            for i in range(n_steps):  # slide each window by one onto its own prediction
                buf[:, seq_len + i] = predictor(buf[:, i : seq_len + i])
            key_col = batch.column(0).take(np.repeat(np.arange(n), n_steps))
            step = pa.array(np.tile(np.arange(1, n_steps + 1, dtype=np.int32), n))
            gen, act = (pa.array(c, mask=np.isnan(c)) for c in (buf[:, seq_len:].ravel(), actual.ravel()))
            yield pa.RecordBatch.from_arrays([key_col, step, gen, act], names=out_schema.fieldNames())

    return tails.mapInArrow(generate, schema=out_schema)
