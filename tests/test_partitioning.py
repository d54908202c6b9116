"""spread_for_compute gate plumbing: the gate reads
spark.sql.files.maxPartitionBytes as Spark parsed it (ADVICE r9 medium —
'128m' once parsed as 128 BYTES, silently disabling the gate) and the
halfway-window scaling of the Arrow rounding kernel."""

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

from aidc_2018_timeseries_spark.operators.partitioning import (
    _max_partition_bytes,
    spread_for_compute,
)
from aidc_2018_timeseries_spark.operators.similarity import _round6_half_up

CONF = "spark.sql.files.maxPartitionBytes"


@pytest.fixture
def restore_conf(spark):
    old = spark.conf.get(CONF)
    yield
    spark.conf.set(CONF, old)


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("134217728", 134217728),
        ("128m", 128 << 20),
        ("128M", 128 << 20),
        ("128mb", 128 << 20),
        ("1g", 1 << 30),
        ("1G", 1 << 30),
        ("1gb", 1 << 30),
        ("512k", 512 << 10),
        ("512kb", 512 << 10),
        ("2t", 2 << 40),
        ("64b", 64),
        (" 128m ", 128 << 20),
        ("0", 0),
        # Spark accepts a negative size; spread_for_compute rejects it
        ("-1m", -(1 << 20)),
    ],
)
def test_parse_byte_string(spark, restore_conf, raw, expected):
    spark.conf.set(CONF, raw)
    assert _max_partition_bytes(spark) == expected


@pytest.mark.parametrize("raw", ["", "abc", "128x", "1.5g", "m128"])
def test_parse_byte_string_fallback(spark, restore_conf, raw):
    """Spark rejects a value that is not a byte count when it is set, so
    the gate keeps reading the value already in force."""
    spark.conf.set(CONF, "64m")
    with pytest.raises(Exception, match="INVALID_CONF_VALUE"):
        spark.conf.set(CONF, raw)
    assert _max_partition_bytes(spark) == 64 << 20


def test_spark_default_is_binary_128_mib(spark, restore_conf):
    # Spark's documented default; the regression was 128m -> 128.
    spark.conf.unset(CONF)
    assert _max_partition_bytes(spark) == 134217728


def test_spread_rejects_non_positive_max_partition_bytes(spark):
    """A negative maxPartitionBytes would make the gate skip every input
    silently; the spread names the conf and its value instead."""
    df = spark.range(10)
    old = spark.conf.get(CONF)
    try:
        spark.conf.set(CONF, "-1m")
        with pytest.raises(ValueError, match=r"maxPartitionBytes.*'-1m'"):
            spread_for_compute(df, "id")
    finally:
        spark.conf.set(CONF, old)


def _decimal_half_up_6dp(v: float) -> float:
    return float(
        Decimal(repr(float(v))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def test_round6_half_up_large_magnitude_halfway():
    """ADVICE r9 low: at |x| >~ 1e4 the fixed 1e-6 halfway window was
    narrower than ulp(x*1e6); the window now scales with spacing so
    large-magnitude values still agree with the Decimal HALF_UP oracle."""
    rng = np.random.default_rng(7)
    # Exact-representable large halfway-ish values plus random magnitudes
    vals = np.concatenate(
        [
            rng.uniform(-1, 1, 2000),
            rng.uniform(-1e5, 1e5, 2000),
            rng.uniform(-1e9, 1e9, 1000),
            np.array([12345.6789125, -98765.4321005, 1e7 + 0.0000005]),
        ]
    )
    got = _round6_half_up(vals)
    want = np.array([_decimal_half_up_6dp(v) for v in vals])
    assert np.array_equal(got, want)


def test_round6_half_up_nonfinite_propagates():
    got = _round6_half_up(np.array([np.nan, np.inf, -np.inf, 0.0]))
    assert np.isnan(got[0]) and got[1] == np.inf and got[2] == -np.inf
    assert got[3] == 0.0


def test_three_band_gate_decisions(spark, tmp_path):
    """Band logic against real parquet scans (conf-scaled so the bands are
    reachable with tiny files): tiny corpus -> unconditional spread to
    core count; corpus at/above cores x maxPartitionBytes -> untouched."""
    from pyspark.sql import functions as F

    from aidc_2018_timeseries_spark.operators.partitioning import (
        spread_for_compute,
    )

    n = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "gate_corpus.parquet")
    spark.range(200_000).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("text")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try:
        # huge band: threshold n x 16k is far below the file's ~8 MB stats
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
        out = spread_for_compute(df, "doc_id")
        assert out is df  # untouched — no forced shuffle on a "huge" input
        # small band: raise the ceiling so size << n x maxPartitionBytes
        # AND size < n x 4 MiB -> unconditional spread to core count
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1g")
        out = spread_for_compute(df, "doc_id")
        assert out is not df
        assert out.rdd.getNumPartitions() == n
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
