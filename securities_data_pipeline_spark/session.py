"""SparkSession factory tuned for both local testing and cluster scale.

The reference delegates execution to pandas (in-process) and the
warehouse; here every query runs on Spark, so the session config is the
single place where scale knobs live:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast selection) — at 100 TB the static plan is always
  wrong somewhere; AQE repairs it per-stage.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on
  a real cluster AQE coalesces down from a deliberately high initial
  number, so we set the *initial* number high-ish and let AQE shrink it.
- UTC session timezone (raw reference timestamps are UTC —
  tests/data/raw_fx_prices.csv row 3), so ``to_date`` is stable.
- Arrow enabled for the Pandas-UDF paths (vectorized batch transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "securities-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    On a cluster, pass ``master=None`` and let spark-submit own the
    master; locally this defaults to ``local[N]`` with N from
    ``$SPARK_GRAFT_CPUS`` (falling back to all cores).

    An already active session is returned unchanged: ``getOrCreate``
    would re-apply this builder's confs to it, so a second call (a
    tool run inside a process that built its own session) would
    silently reset that session's settings.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    par = _default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{par}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(par, 32)))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Some sources (the events table) carry TIMESTAMP(NANOS) parquet
        # columns, which Spark rejects by default; read them as long and
        # convert at the scan (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
