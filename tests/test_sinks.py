"""Round-trip tests for the sinks (SURVEY §2.1 S7/S8)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.sources.sinks import write_metrics_json, write_partitioned
from aidc_2018_timeseries_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_metrics_json_roundtrip(tmp_path):
    metrics = {"train_loss": [1.5, 0.9, 0.4], "eval_loss": [1.2, 0.8]}
    p = str(tmp_path / "metrics.json")
    write_metrics_json(metrics, p)
    assert json.load(open(p)) == metrics


def test_partitioned_write_prunes(spark, tmp_path):
    """S8: partitioned write must round-trip identically AND produce a
    directory layout a key-filter read can prune (the scale rationale)."""
    ev = load_table(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    p = str(tmp_path / "events_by_type")
    write_partitioned(ev, p, partition_by=["event_type"])

    assert any(d.startswith("event_type=") for d in os.listdir(p))
    back = spark.read.parquet(p)
    assert back.count() == ev.count()
    got = sorted(map(tuple, back.select("event_id", "event_type", "value").collect()))
    want = sorted(map(tuple, ev.collect()))
    assert got == want

    # partition pruning: the filter must appear as a PartitionFilter on the
    # scan (strict — a layout regression must fail here, not fall through)
    one = spark.read.parquet(p).filter(F.col("event_type") == "error")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        one.explain("formatted")
    plan = buf.getvalue()
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and any("error" in l for l in pf_lines), plan


def test_schema_evolution_merge_read(spark, tmp_path):
    """Long-lived datasets accrete columns: a reader over many partitions
    written at different schema versions must see the union schema, with
    NULLs where an older file lacks a column — and a query that only
    touches the ORIGINAL columns must still prune to them (column append
    cannot tax old readers)."""
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    p = str(tmp_path / "evolving")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(p, mode="append")
    # v2 of the pipeline adds a derived column
    ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "value_sq", F.col("value") * F.col("value")
    ).write.parquet(p, mode="append")

    back = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(back.columns) == {"event_id", "user_id", "value", "value_sq"}
    assert back.count() == ev.count()
    # old-file rows surface NULL for the new column; new-file rows don't
    n_old = back.filter(F.col("value_sq").isNull()).count()
    assert n_old == ev.filter(F.col("event_id") % 2 == 0).count()
    # a projection of original columns stays prunable (ReadSchema shrinks)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        back.select("event_id", "value").explain("formatted")
    plan = buf.getvalue()
    assert "value_sq" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_dynamic_partition_pruning(spark, tmp_path):
    """Dynamic partition pruning: joining a partitioned fact table against
    a FILTERED dim must prune fact partitions at runtime using the dim's
    join keys — at 100 TB this is the difference between scanning one
    event_type directory and scanning the table. Asserted at plan level:
    the fact scan's partition filters carry a dynamicpruning subquery."""
    ev = load_table(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    p = str(tmp_path / "events_part")
    ev.write.partitionBy("event_type").parquet(p)

    fact = spark.read.parquet(p)
    dim = spark.createDataFrame(
        [("error", 1), ("click", 2)], ["event_type", "weight"]
    ).filter(F.col("weight") == 1)
    joined = fact.join(dim, "event_type").groupBy("event_type").count()

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result is right: only 'error' rows survive
    rows = {r["event_type"]: r["count"] for r in joined.collect()}
    assert set(rows) == {"error"}
    assert rows["error"] == ev.filter(F.col("event_type") == "error").count()


def test_runtime_bloom_filter_injection(spark):
    """Row-level runtime filtering (the unpartitioned sibling of dynamic
    partition pruning): a selective dim-side filter must inject a bloom
    filter that prunes fact rows AT THE SCAN before the join shuffle —
    at 100 TB this is the difference between shuffling the whole fact
    table and shuffling only rows whose key can possibly match. Local
    data sits under the production size thresholds, so the test lowers
    them; the assertion is about the optimizer capability, not sizing."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        # no broadcast (bloom filters target shuffle joins), no min scan size
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter(F.col("o_orderstatus") == "F")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()

        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        # the probe must sit on the fact (lineitem) side's filter condition
        probe_lines = [l for l in plan.splitlines() if "might_contain" in l]
        assert any("l_orderkey" in l for l in probe_lines), plan
        # and the filtered plan still computes the right answer
        expected = (
            li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, expected.collect()))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_write_sizing_max_records_per_file(spark, tmp_path):
    """Small-file management: at 100 TB the writer must control output
    file sizing (too many small files kill the downstream scan; too few
    kill write parallelism). maxRecordsPerFile gives a hard per-file row
    bound independent of partition count; coalesce(1) + the option still
    splits into multiple files."""
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    n = ev.count()
    p = str(tmp_path / "sized")
    (
        ev.coalesce(1)
        .write.option("maxRecordsPerFile", 1000)
        .parquet(p, mode="overwrite")
    )
    files = [f for f in os.listdir(p) if f.endswith(".parquet")]
    import math

    assert len(files) >= math.ceil(n / 1000), (n, files)
    back = spark.read.parquet(p)
    assert back.count() == n
    # every file respects the bound
    for f in files:
        cnt = spark.read.parquet(os.path.join(p, f)).count()
        assert cnt <= 1000, (f, cnt)


def test_observe_quality_rides_the_main_action(spark):
    """Observation metrics must match a separately-computed audit while the
    observed plan executes only once (its own action)."""
    from pyspark.sql import functions as F

    from aidc_2018_timeseries_spark.operators.observe import observe_quality
    from aidc_2018_timeseries_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select("user_id", "value")
    instrumented, read = observe_quality(ev, "value")
    # the pipeline's own action — metrics piggyback on this execution
    counted = instrumented.filter(F.col("value") > 50).groupBy().count()
    n_out = counted.collect()[0][0]
    m = read(counted)
    assert m["n_rows"] == ev.count()
    assert m["n_null"] == ev.filter(F.col("value").isNull()).count()
    assert m["n_nan"] == 0
    assert m["n_negative"] == ev.filter(F.col("value") < 0).count()
    exact = ev.agg(F.min("value"), F.max("value")).first()
    assert (m["v_min"], m["v_max"]) == tuple(exact)
    assert 0 < n_out < m["n_rows"]


def test_sink_roundtrip_face_matches_direct_aggregate(spark):
    """The catalog face's write → read-back → aggregate must equal the same
    aggregate computed with no filesystem hop (parquet is lossless for
    bigint/double) — the driver checks the identical statement vs DuckDB."""
    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all

    load_all()
    got = sorted(
        map(tuple, CATALOG["sink_roundtrip_partitioned"].spark_fn(spark, SF_DIR).collect())
    )
    ev = load_table(spark, SF_DIR, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    want = sorted(
        map(
            tuple,
            per_user.where(F.col("event_type").isin("click", "view"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("n_events").alias("n_events"),
                F.round(F.sum("sum_value"), 4).alias("total_value"),
            )
            .collect(),
        )
    )
    assert got == want and len(got) == 2


def test_sink_roundtrip_face_read_back_is_partition_pruned(spark):
    """The face's read-back filter must reach the scan as a PartitionFilter
    (the whole point of partitioning by the downstream filter key)."""
    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all

    load_all()
    df = CATALOG["sink_roundtrip_partitioned"].spark_fn(spark, SF_DIR)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and any("event_type" in l for l in pf_lines), plan


def test_compact_parquet_shrinks_file_count_preserves_rows(spark, tmp_path):
    """compact_parquet must cut the file count to the metadata-derived
    target and leave the row multiset untouched (compaction = pure layout)."""
    import os

    from aidc_2018_timeseries_spark.sources.sinks import compact_parquet
    from aidc_2018_timeseries_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "event_type")
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    ev.repartition(64).write.parquet(frag)

    def n_files(p):
        return sum(
            1
            for root, _, fs in os.walk(p)
            for f in fs
            if not f.startswith((".", "_"))
        )

    assert n_files(frag) == 64
    n_out = compact_parquet(spark, frag, out, target_bytes=4 * 1024 * 1024)
    assert n_files(out) == n_out < 64
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, ev.collect()))
    assert got == want
