"""Catalog face of the stateful streaming operators.

The driver's correctness harness runs batch queries; the entry here is the
batch sibling of the streaming EWMA detector (identical recurrence, same
code path for the math — tests/test_stateful_streaming.py proves the
stream replay equals this batch form). No oracle: an exponentially
weighted recurrence is not ANSI-SQL-expressible without recursive CTEs,
so the driver records the rows-only check (SURVEY §7 contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.plans.catalog import register
from aidc_2018_timeseries_spark.sources.tables import load_table
from aidc_2018_timeseries_spark.streaming.stateful import ewma_anomaly_batch


def _ewma_state_fold(prefix_upper: str) -> str:
    """DuckDB expression: the (n, var, mean) EWMA state after folding the
    per-user value prefix ``evs[1:<prefix_upper>]`` — the list_reduce twin
    of streaming/stateful._ewma_step's loop, op-for-op (delta vs the OLD
    mean; var update before mean update). Field order in the struct is
    load-bearing: DuckDB's struct-accumulator list_reduce assigns fields
    IN PLACE sequentially, so each field's expression may only read
    accumulator fields not yet assigned ('n', then 's' reading old a.m /
    a.s, then 'm') — an ordering that is also correct under snapshot
    semantics, so the oracle does not depend on the quirk."""
    return f"""list_reduce(
               list_transform(evs[1:{prefix_upper}],
                              e2 -> {{'n': 1, 's': 0.0::DOUBLE, 'm': e2.x}}),
               (a, b) -> {{'n': a.n + 1,
                           's': (1.0::DOUBLE - 0.1::DOUBLE)
                                * (a.s + 0.1::DOUBLE * (b.m - a.m)
                                             * (b.m - a.m)),
                           'm': a.m + 0.1::DOUBLE * (b.m - a.m)}})"""


@register(
    "streaming_ewma_anomaly",
    f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t_us, value
               FROM events),
    g AS (SELECT user_id,
                 list(struct_pack(eid := event_id, t := t_us, x := value)
                      ORDER BY t_us, event_id) AS evs
          FROM e GROUP BY user_id),
    r AS (SELECT user_id, evs[i] AS ev, i,
                 {_ewma_state_fold("i")} AS fs,
                 CASE WHEN i >= 3 THEN {_ewma_state_fold("i - 1")} END AS ps
          FROM g, unnest(range(1, len(evs) + 1)) AS u(i))
    SELECT user_id, ev.eid AS event_id, ev.t AS ts, ev.x AS value,
           ROUND(fs.m, 6) AS ewma,
           CASE WHEN i >= 3
                THEN abs(ev.x - ps.m) > 3.0::DOUBLE * sqrt(ps.s)
                ELSE FALSE END AS is_anomaly
    FROM r
    """,
    doc="per-user EWMA anomaly flags (batch face of the "
    "applyInPandasWithState streaming operator) — ORACLE-CHECKED since "
    "round 7: the per-row running recurrence restates as a per-prefix "
    "struct fold (see _ewma_state_fold), the ewma_final_fold trick "
    "extended from final values to every intermediate state. The oracle "
    "is quadratic per series (fine at driver SF; the Spark side stays "
    "the linear single pass). Both engines fold identical doubles in "
    "identical op order, so flags and 6-dp means match exactly; the "
    "anomaly test uses the state BEFORE each point (i >= 3 <=> two "
    "prior points). Time runs in the µs domain with event_id tie-break "
    "on both sides (ns-precision ts would be unorderable cross-engine: "
    "DuckDB's parquet reader floors ns to µs)",
)
def streaming_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts div 1000").alias("ts"), "value"
    )
    out = ewma_anomaly_batch(ev, alpha=0.1, k=3.0)
    return out.withColumn("ewma", F.round("ewma", 6))


@register(
    "ewma_final_fold",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS t_us, event_id, value FROM events),
    s AS (SELECT user_id, list(value ORDER BY t_us, event_id) AS vals
          FROM e GROUP BY user_id)
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n,
           ROUND(list_reduce(vals, (acc, x) -> acc + 0.1 * (x - acc)), 6) AS ewma
    FROM s
    """,
    doc="per-series final EWMA via an in-order JVM-side array fold — the "
    "ORACLE-CHECKED face of the streaming EWMA recurrence (identical "
    "update rule to streaming/stateful.py; both engines fold the same "
    "ordered list left-to-right, so doubles match bit-for-bit before "
    "rounding). Ordering runs in the µs domain with event_id tie-break.",
)
def ewma_final_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from aidc_2018_timeseries_spark.operators.metrics import ewma_final

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("t_us"), "event_id", "value"
    )
    return ewma_final(ev, "user_id", ["t_us", "event_id"], "value", alpha=0.1)


from aidc_2018_timeseries_spark.functions.hashing import hash64_seeded_sql

# same helper the Spark side's arrival_batches uses — keeps the oracle's
# hash text in lockstep with hash64_seeded by construction
_ARRIVAL_H = hash64_seeded_sql("CAST(event_id AS VARCHAR)", "arrival:42")


@register(
    "streaming_watermark_late_drops",
    f"""
    WITH e AS (
      SELECT epoch_us(ts) AS t_us,
             {_ARRIVAL_H} % 20 AS arrival_batch
      FROM events),
    pb AS (SELECT arrival_batch, MAX(t_us) AS bmax
           FROM e GROUP BY arrival_batch),
    wm AS (SELECT arrival_batch,
                  MAX(bmax) OVER (ORDER BY arrival_batch
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    - 3600000000 AS watermark_us
           FROM pb)
    SELECT e.arrival_batch, wm.watermark_us,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN e.t_us < wm.watermark_us THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late
    FROM e JOIN wm USING (arrival_batch)
    GROUP BY 1, 2
    """,
    doc="watermark late-data accounting (the drop ledger of every "
    "watermarked streaming pipeline): rows are assigned deterministic "
    "synthetic arrival micro-batches (md5 hash mod 20), and the EXACT "
    "micro-batch watermark recurrence — wm(b) = max event time over "
    "batches < b, minus a 1 h delay; a row is late iff its event time is "
    "strictly below its batch's watermark — is restated as batch "
    "arithmetic: one tiny per-batch max aggregate, a running max over "
    "that 20-row relation (never over raw rows), and a broadcast join "
    "back. First batch's watermark is NULL (nothing seen yet, nothing "
    "late) exactly like a fresh streaming query. "
    "tests/test_watermark.py replays the same batches through a REAL "
    "readStream + withWatermark query one file per trigger and proves "
    "the engine's per-batch watermark equals this restatement "
    "batch-for-batch (n_late = what a strict-eviction operator may "
    "reject; the test also pins that dropDuplicates itself only evicts "
    "state). All times in the µs domain",
)
def streaming_watermark_late_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.streaming.watermark import (
        arrival_batches,
        late_event_accounting,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.expr("ts div 1000").alias("t_us")
    )
    batched = arrival_batches(ev, "event_id", n_batches=20)
    return late_event_accounting(batched, "t_us", delay_us=3_600_000_000)


@register(
    "events_hourly_tumbling",
    """
    SELECT strftime(time_bucket(INTERVAL 6 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(time_bucket(INTERVAL 6 HOUR, ts) + INTERVAL 6 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
    doc="batch face of the streaming tumbling-window aggregate (6h windows "
    "per event type) — identical code runs on readStream with a watermark; "
    "the replay test proves stream == this batch result",
)
def events_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.streaming.windows import windowed_event_aggregate

    ev = load_table(spark, sf_dir, "events")
    return windowed_event_aggregate(ev, window="6 hours")


@register(
    "events_sliding_6h_1h",
    """
    WITH e AS (SELECT event_type, value,
                      time_bucket(INTERVAL 1 HOUR, ts) AS tb FROM events),
    w AS (SELECT event_type, value,
                 tb - k * INTERVAL 1 HOUR AS wstart
          FROM e CROSS JOIN (SELECT unnest(range(6)) AS k))
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(wstart + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM w GROUP BY 1, 2, 3
    """,
    doc="batch face of the SLIDING event-time window (6h window, 1h "
    "slide): each event replicated into its 6 covering windows — the "
    "oracle restates the replication with time_bucket + range; identical "
    "code runs on readStream with a watermark",
)
def events_sliding_6h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.streaming.windows import windowed_event_aggregate

    ev = load_table(spark, sf_dir, "events")
    return windowed_event_aggregate(ev, window="6 hours", slide="1 hour")


@register(
    "events_session_window",
    """
    WITH flags AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  >= 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM events),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flags)
    SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           user_id, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Spark's NATIVE session_window state machine vs the classic "
    "lag+cumsum sessionization as the oracle — same 30-min gap, but "
    "session_window closes a session when the next event is AT OR PAST "
    "last_ts + gap (>=), hence the oracle's >= where the lag+cumsum "
    "catalog face uses strict >",
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.streaming.windows import sessionize_stream

    ev = load_table(spark, sf_dir, "events")
    return sessionize_stream(ev, gap="30 minutes")


@register(
    "events_rollup_daily_from_hourly",
    """
    WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day_id, event_type, value
               FROM events)
    SELECT day_id, event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM e GROUP BY day_id, event_type
    """,
    doc="hierarchical rollup reuse (the 'hypertable continuous aggregate' "
    "pattern): Spark aggregates raw events to HOURLY partials, then "
    "derives the DAILY rollup by re-aggregating those partials — the "
    "oracle computes daily straight from raw rows, so the check proves "
    "the partial-aggregate merge is lossless. At 100 TB the hourly table "
    "is what you materialize; every coarser rollup (day/week/month) is "
    "derived from it at partials cost, never re-scanning raw data",
)
def events_rollup_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("(ts div 1000) div 3600000000").alias("hour_id"),
        "event_type",
        "value",
    )
    hourly = ev.groupBy("hour_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")
    )
    return (
        hourly.withColumn("day_id", F.expr("hour_id div 24"))
        .groupBy("day_id", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sum_value"), 4).alias("sum_value"),
        )
    )


@register(
    "tws_record_breaking",
    """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t_us, value FROM events),
    m AS (
      SELECT user_id, event_id, t_us, value,
             MAX(value) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM e)
    SELECT user_id, event_id, t_us, value, prev_max
    FROM m WHERE prev_max IS NULL OR value > prev_max
    """,
    doc="record-breaking events per user (value strictly above the key's "
    "running max; first event always a record) — the ORACLE-CHECKED batch "
    "face of the stateful streaming operator (streaming/records.py: "
    "applyInPandasWithState, one state value holding the running max = "
    "8 bytes/key). Batch form is a strict-prefix window max — one keyed "
    "shuffle, no Python; tests/test_tws_records.py proves the chunked "
    "stream replay equals this plan. Raw parquet doubles compared, no "
    "arithmetic — exact cross-engine",
)
def tws_record_breaking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.streaming.records import record_breaking_batch

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts div 1000").alias("ts"), "value"
    )
    return record_breaking_batch(ev).withColumnRenamed("ts", "t_us")


@register(
    "streaming_interval_join",
    """
    WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events
               WHERE event_type = 'click'),
    x AS (SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events
          WHERE event_type = 'error')
    SELECT c.user_id, c.event_id AS left_event_id, x.event_id AS right_event_id,
           x.t_us - c.t_us AS gap_us
    FROM c JOIN x ON c.user_id = x.user_id
     AND x.t_us >= c.t_us AND x.t_us <= c.t_us + 600000000
    """,
    doc="stream-stream interval join (clicks x errors within 10 min per "
    "user): the batch face of streaming/joins.py interval_join_streams — "
    "the SAME function runs on two readStream sources with 2h watermarks "
    "on both sides, where the bounded time predicate lets Spark evict "
    "join state at the watermark (state = events per key within the "
    "tolerance, not stream length). tests/test_streaming.py replays the "
    "files through the live streaming query and proves stream == this "
    "batch result row-for-row. Join state and shuffle are keyed by "
    "user_id; all time math in the exact µs domain",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.streaming.joins import interval_join_streams

    ev = load_table(spark, sf_dir, "events")
    return interval_join_streams(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "error"),
    )
