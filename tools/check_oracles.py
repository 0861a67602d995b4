"""Local stand-in for the driver's correctness gate.

Runs every declared query at sf0.01 on Spark AND its DuckDB oracle,
compares row count, column names, and order-insensitive values
(columns sorted by name, rows sorted, floats compared exactly after
both sides' own rounding). Usage:

    python tools/check_oracles.py [query_name ...]

`tools/duckdb_compare.py --gate` runs the same gate in-process on
other scale factors through `duck_views`, `compare` and `gate`.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb
import pandas as pd
from py4j.protocol import Py4JNetworkError

from detanalysis_spark.session import get_spark
from detanalysis_spark import suite
from detanalysis_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per suite table under
    ``sf_dir``, so oracle SQL reads the same parquet as Spark."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf


def compare(name: str, spark, con, sf_dir: str = SF_DIR) -> tuple[bool, str]:
    q = suite.QUERIES[name]
    t0 = time.time()
    sdf = q(spark, sf_dir).toPandas()
    t_spark = time.time() - t0
    if name not in suite.ORACLES:
        return True, f"rows-only ({len(sdf)} rows, {t_spark:.2f}s, no oracle)"
    odf = con.execute(suite.ORACLES[name]).df()
    if sorted(sdf.columns) != sorted(odf.columns):
        return False, f"schema mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    if len(sdf) != len(odf):
        return False, f"row count mismatch: spark={len(sdf)} oracle={len(odf)}"
    a, b = _normalize(sdf), _normalize(odf.astype({c: t for c, t in sdf.dtypes.items() if c in odf}))
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return False, f"value mismatch: {str(e)[:500]}"
    return True, f"ok ({len(sdf)} rows, {t_spark:.2f}s)"


def gate(names, spark, sf_dir: str = SF_DIR) -> int:
    """Print PASS/FAIL per query and a summary; returns the FAIL count.
    A lost JVM stops the gate: the names left print as NOT RUN and
    count as failures."""
    names = list(names)
    con = duck_views(sf_dir)
    n_fail = 0
    for i, name in enumerate(names):
        if name not in suite.QUERIES:
            print(f"FAIL {name}: unknown query")
            n_fail += 1
            continue
        try:
            ok, msg = compare(name, spark, con, sf_dir)
        except (ConnectionRefusedError, Py4JNetworkError) as e:
            print(f"FAIL {name}: JVM lost: {type(e).__name__}: {str(e)[:300]}")
            for rest in names[i + 1:]:
                print(f"NOT RUN {rest}", flush=True)
            n_fail += len(names) - i
            break
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"exception: {type(e).__name__}: {str(e)[:300]}"
        print(f"{'PASS' if ok else 'FAIL'} {name}: {msg}", flush=True)
        n_fail += 0 if ok else 1
    print(f"\n{len(names) - n_fail}/{len(names)} pass")
    return n_fail


# A driver-like session: default configs, a deliberately non-UTC
# timezone, none of the engine's session.py tuning. Queries must pass
# here too, since the correctness harness supplies its own SparkSession.
VANILLA_CONF = {
    "spark.sql.session.timeZone": "America/New_York",
    # reader capabilities, not engine tuning: without nanosAsLong Spark
    # cannot load TIMESTAMP(NANOS) parquet at all (load_table's nano
    # branch expects long nanos); without the repo root on the workers'
    # path, Python UDFs cannot import the package unless the cwd is
    # the repo root
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.executorEnv.PYTHONPATH": ROOT,
    "spark.ui.enabled": "false",
}


def _vanilla_spark():
    from pyspark.sql import SparkSession
    return (SparkSession.builder.appName("oracle-check-vanilla")
            .master("local[8]").config(map=VANILLA_CONF).getOrCreate())


def main() -> int:
    names = sys.argv[1:] or list(suite.QUERIES)
    spark = (_vanilla_spark() if os.environ.get("SPARK_GRAFT_VANILLA")
             else get_spark("oracle-check"))
    return 1 if gate(names, spark) else 0


if __name__ == "__main__":
    raise SystemExit(main())
