"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment would set per
executor: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow on (every driver transfer and pandas_udf crosses via
Arrow batches), shuffle partitions sized to cores rather than the 200
default, and a UTC session timezone so results compare bit-for-bit with
external oracles (DuckDB timestamps are UTC-naive).

The driver heap defaults to half of physical RAM, at most 48g
(``SPARK_GRAFT_DRIVER_MEM`` overrides it). On ``local[...]`` masters the
Python workers run under ``detanalysis_spark._pydaemon``, which stops
every Python task from re-reading Spark's zip archives (~0.2 s of CPU
per task on Python < 3.13); the package root goes on the workers'
``PYTHONPATH`` so the daemon imports from any cwd. Passing
``**{"spark.python.daemon.module": "pyspark.daemon"}`` restores Spark's
stock daemon. Other masters keep the stock daemon, since executors may
not have the package (SCALING.md gives the spark-defaults line).

Two defaults cut the driver's fixed cost per analyst call (SCALING.md
"Driver fixed cost per call"):

- ``spark.python.sql.dataFrameDebugging.enabled=false`` stops PySpark
  from capturing the Python call site of every Column and function
  call (~6 py4j round trips each: ``F.col("a") > 1`` takes 4 round
  trips instead of 24). PySpark reads the flag once per process, at
  the first wrapped call, so it applies only when ``get_spark`` creates
  the session before the first DataFrame call. Error messages then
  lack the Python "DataFrame query context";
  ``get_spark(**{"spark.python.sql.dataFrameDebugging.enabled": "true"})``
  brings it back.
- ``spark.sql.codegen.cache.maxEntries=1000`` (Spark's default is 100)
  keeps the generated classes of a whole session compiled. The cache
  evicts per segment (4 segments of 100/4 entries at the default), so
  a working set of 95 classes (the perfbench analyst session) already
  recompiled a third of its classes on every pass, and one of 228
  (the curation-plus-ingest pass) recompiled all of them. A JVM-wide
  static setting: it must be set before the session starts.

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
    # no per-call Python call-site capture (module docstring)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # room for a session's generated classes (module docstring)
    "spark.sql.codegen.cache.maxEntries": "1000",
}

_DAEMON = "detanalysis_spark._pydaemon"
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """Half of physical RAM, capped at 48g."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(48 * 1024, half_mb)}m"


def session_conf(master: str, shuffle_partitions: int | None = None,
                 **extra: str) -> dict:
    """The configs ``get_spark`` sets on top of ``master``; ``extra``
    overrides any of them."""
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # local mode = the driver JVM is the whole engine; the 1g default
        # heap OOMs real workloads. On a cluster this is the deploy's
        # concern — the setting only applies at JVM launch.
        "spark.driver.memory": (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                                or _default_driver_mem()),
    }
    if master.startswith("local"):
        conf["spark.python.daemon.module"] = _DAEMON
    conf.update(_DEFAULTS)
    conf.update(extra)
    if conf.get("spark.python.daemon.module") == _DAEMON:
        key = "spark.executorEnv.PYTHONPATH"
        pp = [p for p in conf.get(key, "").split(os.pathsep) if p]
        if _ROOT not in pp:
            conf[key] = os.pathsep.join([_ROOT] + pp)
    return conf


def get_spark(app_name: str = "detanalysis_spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra: str) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``); on a cluster, pass ``None`` and let spark-submit set it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(master, shuffle_partitions, **extra).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
