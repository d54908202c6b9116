"""Stateful-stream replay: the record-breaking detector's running max
per key must survive micro-batch boundaries. The declarative window plan
is the golden; the stream replays the same events split into three
time-ordered files, one file per trigger, so the state crosses at least
three micro-batches.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.sources.tables import load_table
from aidc_2018_timeseries_spark.streaming.records import (
    record_breaking_batch,
    record_breaking_stream_gs,
)
from tests.conftest import SF_DIR

COLS = ["user_id", "event_id", "ts", "value"]


@pytest.fixture(scope="module")
def chunked_events(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("tws_chunks")
    ev = load_table(spark, SF_DIR, "events").select(*COLS)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    conds = [
        F.col("ts") <= cut1,
        (F.col("ts") > cut1) & (F.col("ts") <= cut2),
        F.col("ts") > cut2,
    ]
    for i, cond in enumerate(conds):
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(str(d / f"chunk_{i}"))
    return [str(d / f"chunk_{i}") for i in range(3)], ev


def test_gs_stream_replay_matches_batch_window(spark, chunked_events, tmp_path):
    """The applyInPandasWithState stream must equal the batch window
    golden across >= 3 micro-batches."""
    chunk_dirs, ev = chunked_events
    golden = sorted(map(tuple, record_breaking_batch(ev).collect()))
    assert 0 < len(golden) < ev.count()

    feed = tmp_path / "feed_gs"
    feed.mkdir()
    for i, cd in enumerate(chunk_dirs):
        for f in glob.glob(os.path.join(cd, "*.parquet")):
            shutil.copy(f, feed / f"{i}.parquet")
            time.sleep(0.05)  # distinct mod-times → deterministic file order

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(feed))
    )
    q = (
        record_breaking_stream_gs(stream)
        .writeStream.format("memory")
        .queryName("gs_records")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.sql("SELECT * FROM gs_records").collect()))
    assert got == golden


def test_batch_form_first_event_is_record(spark):
    """Every user's earliest event must appear with prev_max NULL."""
    ev = load_table(spark, SF_DIR, "events").select(*COLS)
    rec = record_breaking_batch(ev)
    n_users = ev.select("user_id").distinct().count()
    firsts = rec.where(F.col("prev_max").isNull()).count()
    assert firsts == n_users
