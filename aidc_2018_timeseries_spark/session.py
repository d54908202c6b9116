"""SparkSession construction and per-session configuration.

The reference selects its execution backend with an argparse ``-b`` flag
(reference ``utils/arguments.py:6``); here the equivalent is session
configuration. All confs that MUST hold on any session that touches the
driver's testdata (nanosecond parquet timestamps, UTC, Arrow) are applied
by :func:`configure_session`, which is safe to call on an
externally-provided session (the driver passes us one).

Sessions built by :func:`get_spark` also start their Python workers from
:mod:`aidc_2018_timeseries_spark.daemon` instead of ``pyspark.daemon``. It
imports pyspark from the interpreter's own site-packages (when that copy is
the same version as Spark's ``pyspark.zip``) and keeps Spark's jar off the
workers' path, so pyspark's ``importlib.invalidate_caches()`` before every
task has no archive to re-read; that call cost 0.2 CPU s per task. The
workers must be able to import this package, which every engine UDF needs
already. Sessions built elsewhere keep Spark's default daemon.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)

# Runtime-settable confs required to read the driver's testdata and to keep
# results deterministic / DuckDB-comparable.
_RUNTIME_CONFS = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark cannot represent;
    # read it as raw nanosecond longs and convert explicitly (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas UDF / toPandas paths (similarity, multimodal, ML stage).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs needed by this engine to an existing session.

    A conf that cannot be set (static on some builds) is logged as one
    WARNING naming the key and the error; the session is still returned.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            _LOG.warning("configure_session: cannot set %s=%s: %r", k, v, exc)
    return spark


def get_spark(
    app_name: str = "aidc_2018_timeseries_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session sized for this container.

    On a real cluster the same engine code runs unchanged — only
    master/partition confs differ. Shuffle-partition count follows core
    count (local) but the operators themselves are written for the
    1000-executor case: partition-local window work keyed by series id,
    broadcast dimension joins, AQE enabled for runtime re-planning.

    The session's Python workers run under :mod:`aidc_2018_timeseries_spark.daemon`,
    which takes pyspark's per-task cache invalidation from 0.2 to under
    0.01 CPU s by importing pyspark from plain files and dropping Spark's jar
    from the workers' path. It needs this package to be importable by the
    workers (the working directory or ``PYTHONPATH``), as every engine UDF
    does.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle = shuffle_partitions or max(cpus, 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "aidc_2018_timeseries_spark.daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
