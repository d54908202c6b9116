"""One-pass data-quality observation (``DataFrame.observe``).

dq_audit_constraints runs quality checks as their own query; this is the
zero-extra-scan alternative: ``observe`` attaches named aggregate metrics
to a DataFrame, computed DURING whatever action next executes the plan —
row counts, null counts, bounds — without a second pass over the data.
At 100 TB a pipeline cannot afford to re-scan its input just to count
nulls; observation metrics ride the scan the pipeline already pays for.

The reference's closest relative is its inline assert guards
(``datasets/turbofan.py:140,159-161`` — NaN / negativity checks executed
eagerly on materialized arrays); here the guards are declarative and
collected from the executed plan.

Metrics are observed under a plain name and read from the query
execution of the action that ran them. A ``pyspark.sql.Observation``
would start the session's ObservationManager, which Spark 4.1 does not
mark transient: once started, every task closure that captures the
session (an MLlib model summary does) fails with
NotSerializableException.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _observed(df: DataFrame, name: str) -> dict[str, Any]:
    """The metrics observed under ``name`` while the last action ran
    ``df`` (the observed frame, or one built on it), by metric name.
    ``df`` must be the frame the action was called on: ``count()`` and
    ``first()`` run a derived plan, so collect the frame instead (e.g.
    ``df.groupBy().count()``)."""
    row = df._jdf.queryExecution().observedMetrics().get(name).get()
    return {f: row.get(i) for i, f in enumerate(row.schema().fieldNames())}


def observe_quality(
    df: DataFrame, value_col: str, name: str = "quality"
) -> tuple[DataFrame, Callable[[DataFrame], dict[str, Any]]]:
    """Attach standard quality metrics for ``value_col``; returns the
    instrumented frame and a reader: ``read(ran)`` gives the metrics
    observed while the last action ran the frame ``ran`` (see
    :func:`_observed`).

    Metrics: n_rows, n_null, n_nan, n_negative, min/max (of non-null).
    """
    v = F.col(value_col)
    instrumented = df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(v.isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum(F.when(F.isnan(v), 1).otherwise(0)).alias("n_nan"),
        F.sum(F.when(v < 0, 1).otherwise(0)).alias("n_negative"),
        F.min(v).alias("v_min"),
        F.max(v).alias("v_max"),
    )
    return instrumented, partial(_observed, name=name)
