"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash); ``tools/check_oracles.py`` runs the
same comparison locally.

All queries live in ``detanalysis_spark.suite`` — each one pairs a
Spark plan built on the engine API with an ANSI-SQL oracle, and the
``@query`` decorator registers both.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# robust to path-based import from a foreign cwd (driver loads this file
# directly; the package lives next to it)
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from detanalysis_spark import suite  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return suite.QUERIES["flagship_event_cut_stats"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(suite.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (same column aliases).

    Keys missing here (non-SQL-expressible ops: pandas_udf kernels,
    iterative fits) get the driver's weaker rows-only check.
    """
    return dict(suite.ORACLES)
