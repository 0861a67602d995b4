"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment would set per
executor: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow on (every driver transfer and pandas_udf crosses via
Arrow batches), shuffle partitions sized to cores rather than the 200
default, and a UTC session timezone so results compare bit-for-bit with
external oracles (DuckDB timestamps are UTC-naive).

At 100 TB on a real cluster the same settings hold; only
`spark.sql.shuffle.partitions` grows (or is left to AQE's
`advisoryPartitionSizeInBytes` to coalesce), and executors/memory come
from the cluster manager instead of `local[*]`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet filter pushdown is on by default; pin it explicitly so a
    # misconfigured cluster doesn't silently lose pushdown
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # synthetic testdata stores TIMESTAMP(NANOS); see sources/tables.py
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(app_name: str = "detanalysis_spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra: str) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``); on a cluster, pass ``None`` and let spark-submit set it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # local mode = the driver JVM is the whole engine; the 1g default
    # heap OOMs real workloads on a 32-core box. On a cluster this is
    # the deploy's concern — the setting only applies at JVM launch.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    builder = builder.config("spark.driver.memory", mem)
    for k, v in {**_DEFAULTS, **extra}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
