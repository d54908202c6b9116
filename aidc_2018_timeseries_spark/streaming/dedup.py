"""Streaming exact deduplication: keep the first-arriving row per key.

The batch dedup family (operators/dedup.py) assumes the corpus is at
rest; an ingestion pipeline dedups ON ARRIVAL. Structured Streaming's
``dropDuplicates`` is the engine-native form: per-key state in the state
store, first occurrence emitted (append mode), later arrivals dropped —
across micro-batch boundaries.

Scale posture: state size = #distinct keys × key width. For content hashes that is the
dedup table itself — the honest cost of exact streaming dedup, and why the
key is a 128-bit hash, not the document.

The same call works on a batch DataFrame (plain dropDuplicates), so the
batch result is the streaming replay's golden (tests/test_streaming_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from aidc_2018_timeseries_spark.operators.dedup import content_hash


def dedup_stream(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """First-seen-wins dedup on ``key_cols``."""
    return df.dropDuplicates(key_cols)


def dedup_documents_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content-hash dedup of a document stream: normalized-content md5
    (same normalization as the batch ``exact_duplicates``), first doc per
    hash survives."""
    hashed = docs.withColumn("content_hash", content_hash(text_col))
    return dedup_stream(hashed, ["content_hash"])
