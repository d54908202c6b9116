"""Record-breaking-event detection, batch and streaming.

A row is a "record" when its value STRICTLY exceeds every earlier value of
its key (first row of a key is always a record). Like the EWMA recurrence
(streaming/stateful.py), the predicate depends on the full prefix of the
key's history, so a stream needs cross-micro-batch state: the streaming
form runs on ``applyInPandasWithState`` with one state value per key (the
running max — O(1) per key; the state store holds #keys × 8 bytes,
independent of stream length).

The batch form is a window aggregate: value > max over the key's strict
prefix. Both forms share nothing but semantics, which is the point — the
replay test (tests/test_tws_records.py) proves the stateful form over
chunked micro-batches equals the one-pass window plan, pinning the state
machine against the declarative golden.

Reference relation: the closest reference op is the running-extremum
bookkeeping inside its training loop (best-eval tracking,
training/timeseries_trainer.py:90-110); here it is a first-class per-key
streaming operator.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
        StructField("prev_max", DoubleType()),  # null on a key's first record
    ]
)

_STATE_SCHEMA = StructType([StructField("max_v", DoubleType())])


def record_breaking_stream_gs(events: DataFrame) -> DataFrame:
    """Streaming form: per-user records across micro-batches, with the
    running max held in ``GroupState``. Rows arriving in one micro-batch
    are put back in (ts, event_id) order before the state machine runs."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def func(key, pdfs, state):
        rows = [pdf for pdf in pdfs if len(pdf)]
        if rows:
            batch = pd.concat(rows, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            cur = state.get[0] if state.exists else None
            out = []
            for row in batch.itertuples(index=False):
                if cur is None or row.value > cur:
                    out.append(
                        (row.user_id, row.event_id, row.ts, row.value, cur)
                    )
                    cur = float(row.value)
            state.update((cur,))
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["user_id", "event_id", "ts", "value", "prev_max"],
                )

    return events.groupBy("user_id").applyInPandasWithState(
        func,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def record_breaking_batch(events: DataFrame) -> DataFrame:
    """Batch golden: the same semantics as one window plan (strict-prefix
    max per key; one shuffle, no Python)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max("value").over(w)
    return (
        events.select("user_id", "event_id", "ts", "value", prev_max.alias("prev_max"))
        .where(F.col("prev_max").isNull() | (F.col("value") > F.col("prev_max")))
    )
