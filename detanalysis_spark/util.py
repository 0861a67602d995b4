"""Small shared utilities.

``local_frame`` exists because of a measured pathology: building a
DataFrame from a Python list (``spark.createDataFrame(rows, schema)``)
routes through ``parallelize`` — a Python-worker round trip that
costs ~4.5 s PER CALL in a 32-core local session even for ONE row
(measured round 10; the cost recurs on every call, it is not a
one-off warm-up). The pandas/Arrow path instead embeds the rows as a
plan-local relation: ~0.2 s, no Python workers at execution. Every
small literal frame in the engine's hot paths (PSL rule tables,
driver-computed offsets, oracle-query result frames, the Spark
fallback of ``write_small_parquet``) goes through here.

``blas_single_thread`` keeps numpy's OpenBLAS pool at one thread
around driver-side solves (``photon.least_squares_lm``).

``_row_map`` is the one quarantine kernel for per-row binary-payload
decode (the multimodal operators, the WET/WARC shard readers): a
100-TB crawl always carries some truncated or exotic payloads, and in
``on_error="quarantine"`` mode one of them becomes a row with NULL
outputs and a ``corrupt_reason`` instead of a failed job.
"""
from __future__ import annotations

import ctypes
from contextlib import contextmanager
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` via the pandas/Arrow
    local-relation path (~20× faster than the list/parallelize path
    for small frames). ``rows`` is a sequence of tuples; ``schema`` a
    DDL string. Falls back to the plain path for empty input (nothing
    to win) or when the Arrow conversion rejects the values (complex
    nested types) — same result either way."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        import pandas as pd
        cols = _ddl_columns(schema)
        pdf = pd.DataFrame(rows, columns=[name for name, _ in cols])
        # an integer column containing None coerces to float64 in
        # pandas; magnitudes past 2^53 would then lose precision
        # silently — fall back to the exact (slow) path there
        for name, f in cols:
            typ = f.split()[-1].lower()
            if typ in ("int", "long", "bigint", "integer", "smallint",
                       "tinyint") and str(pdf[name].dtype) == "float64":
                if pdf[name].abs().max() >= 2 ** 53:
                    return spark.createDataFrame(rows, schema)
        return spark.createDataFrame(pdf, schema)
    except Exception:   # noqa: BLE001 — correctness first, speed second
        return spark.createDataFrame(rows, schema)


def fan_out_small(df: DataFrame, min_partitions: int | None = None
                  ) -> DataFrame:
    """Spread a DataFrame whose physical input arrives in fewer
    partitions than the session has cores (optimization guide §2.5:
    "one huge unsplittable file ... repartition immediately after the
    read").

    The synthetic corpus ships each table as ONE parquet row group, so
    without this every per-row-expensive first stage (shingling,
    MinHash, regex gates, Python codecs) runs on a single core while
    the rest of the machine idles. At production scale inputs arrive
    in thousands of splits, the partition count meets the bar, and
    this is a no-op — the guard is input-shape-adaptive, not tuned to
    any core count.

    Used ONLY inside operators whose downstream is content-keyed
    (hashing, aggregation, equi-joins): a round-robin exchange must
    never be inserted upstream of partition-order-sensitive
    expressions (``rand``, ``monotonically_increasing_id``,
    ``spark_partition_id``). Streaming frames and frames whose
    partition count cannot be inspected pass through untouched.

    Per-call cost: the partition-count probe (``df.rdd``) physically
    plans the subtree — ~100 ms per call on warm sessions (measured
    round 12). The probe result is memoized on
    ``(applicationId, semanticHash)`` (~15 ms on hits): the corpus
    dirs this engine scans are read-only within a session, so the
    same semantic plan always splits the same way. The exchange
    itself costs a shuffle of the input: worth it only when stage-1
    per-row work dominates — callers were chosen by A/B measurement
    (OPTIMIZATION_r12.md), cheap first stages do NOT call this.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = int(min_partitions or sc.defaultParallelism)
    try:
        key = (sc.applicationId, df.semanticHash(), target)
    except Exception:   # noqa: BLE001 — a probe failure must not fail the op
        key = None
    if key is not None and key in _FAN_OUT_CACHE:
        cur = _FAN_OUT_CACHE[key]
    else:
        try:
            cur = df.rdd.getNumPartitions()
        except Exception:   # noqa: BLE001
            return df
        if key is not None:
            if len(_FAN_OUT_CACHE) > 512:
                _FAN_OUT_CACHE.clear()
            _FAN_OUT_CACHE[key] = cur
    if cur >= target:
        return df
    return df.repartition(target)


_FAN_OUT_CACHE: dict = {}


def _ddl_columns(schema) -> list[tuple[str, str]]:
    """``(name, "name type")`` per top-level column of a DDL string or
    a StructType. A DDL string splits on depth-0 commas (array<...>
    and struct<...> commas don't count), empty pieces are skipped, and
    the name is the first token with its backticks stripped."""
    if not isinstance(schema, str):
        return [(f.name, f"{f.name} {f.dataType.simpleString()}")
                for f in schema.fields]
    out, depth, cur = [], 0, []
    for ch in schema + ",":
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            piece = "".join(cur).strip()
            if piece:
                out.append((piece.split()[0].strip("`"), piece))
            cur = []
        else:
            cur.append(ch)
    return out


# row bound of a driver-side write: a DataFrame is collected through
# ``limit(bound + 1)``, so a larger result never reaches the driver
_LOCAL_WRITE_MAX_ROWS = 2_000_000


def write_small_parquet(spark: SparkSession, data, path: str,
                        schema: str | None = None,
                        n_files: int = 1) -> None:
    """Write a small table as a parquet directory, driver-side when the
    path is local.

    ``data`` is either literal rows (a sequence of tuples with DDL
    ``schema``) — the meta sidecars pinning index/table parameters
    (``_lsh_meta``, ``_cow_meta``, BPE/LM meta, saved model weights) —
    or a BOUNDED DataFrame — the input files a streaming suite query
    stages per run. A Spark ``coalesce(n).write`` of either costs a
    whole job (~0.3-0.4 s of stage launch + commit protocol per call,
    measured round 12) for a few KB of payload, inside hot builder
    paths (every COW table create, every LSH index build, every
    streaming-upsert micro-batch) and timed queries.

    For a plain LOCAL path the Arrow table is built on the driver —
    literal rows through a DDL → Arrow type map (no Spark job at all),
    a DataFrame through a bounded ``limit(N + 1).toArrow()``, which
    keeps Spark's physical parquet types (timestamps keep their
    LTZ/NTZ adjustment, arrays stay lists) — and written with pyarrow
    as ``n_files`` contiguous slices, one part file each (the
    micro-batch boundaries of a ``maxFilesPerTrigger=1`` drain). The
    layout matches a Spark write, so ``spark.read.parquet`` sees the
    same table either way.

    One fallback rule: a path with a scheme (hdfs://, s3a://,
    file://), more than ``_LOCAL_WRITE_MAX_ROWS`` rows, or any
    conversion error (e.g. a DDL type the map lacks) goes to the Spark
    writer — persisted artifacts land on whatever filesystem the
    session targets.
    """
    is_frame = isinstance(data, DataFrame)
    if not is_frame:
        data = list(data)
    n = max(1, int(n_files))
    if "://" not in path:
        try:
            import os
            import shutil

            import pyarrow.parquet as pq
            tbl = (data.limit(_LOCAL_WRITE_MAX_ROWS + 1).toArrow()
                   if is_frame else _ddl_arrow_table(data, schema))
            if tbl.num_rows <= _LOCAL_WRITE_MAX_ROWS:
                shutil.rmtree(path, ignore_errors=True)
                os.makedirs(path, exist_ok=True)
                step = max(1, -(-tbl.num_rows // n))
                for i in range(n):
                    pq.write_table(
                        tbl.slice(i * step, step),
                        os.path.join(path, f"part-{i:05d}.parquet"))
                return
        except Exception:   # noqa: BLE001 — correctness first
            pass
    df = data if is_frame else local_frame(spark, data, schema)
    df.coalesce(n).write.mode("overwrite").parquet(path)


def _ddl_arrow_table(rows: list, schema: str):
    """Literal rows as a pyarrow Table typed by a flat DDL column list;
    a type outside the map raises KeyError."""
    import pyarrow as pa
    types = {
        "int": pa.int32(), "integer": pa.int32(),
        "smallint": pa.int16(), "tinyint": pa.int8(),
        "long": pa.int64(), "bigint": pa.int64(),
        "float": pa.float32(), "double": pa.float64(),
        "string": pa.string(), "boolean": pa.bool_(),
        "binary": pa.binary(),
    }
    fields = [pa.field(name, types[f.split()[-1].lower()])
              for name, f in _ddl_columns(schema)]
    arrays = [pa.array([r[i] for r in rows], type=fld.type)
              for i, fld in enumerate(fields)]
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


# a quarantined row's reason: "Type: message", cut to this many chars
_REASON_CHARS = 300


def _quarantine_mode(on_error: str) -> bool:
    """True for ``on_error="quarantine"``, False for ``"raise"``; any
    other value is a ValueError on the driver, at plan-build time."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(
            f"on_error must be 'raise' or 'quarantine', got {on_error!r}")
    return on_error == "quarantine"


def _row_map(df: DataFrame, key: str, inputs: list[str], fields: list,
             fn, on_error: str) -> DataFrame:
    """One output row per input row: the ``key`` column passes through
    with its own name and type, then ``fields`` (StructFields) hold
    ``fn(*input values)``, a tuple of ``len(fields)`` values.

    ``on_error="raise"``: an exception in ``fn`` propagates and fails
    the job (right for curated fixtures, where a bad payload means a
    bug). ``"quarantine"``: the row survives with NULL ``fields`` and a
    trailing ``corrupt_reason`` string (``"Type: message"``, at most
    ``_REASON_CHARS`` chars; NULL for good rows) — one scan, callers
    split good from bad with a filter on ``corrupt_reason``.

    Arrow-batched through ``mapInPandas``: one Python round trip per
    batch, ``fn`` once per row. Columns are addressed by position and
    outputs built as object Series, so any key name (``_id``,
    ``doc-id``) works and 64-bit integers never detour through
    float64 when a NULL shares their batch."""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    quarantine = _quarantine_mode(on_error)
    out_fields = [df.schema[key], *fields]
    if quarantine:
        out_fields.append(StructField("corrupt_reason", StringType()))
    failed = (None,) * len(fields)

    def run(batches):
        for pdf in batches:
            cols = [[] for _ in out_fields[1:]]
            for args in zip(*(pdf.iloc[:, j]
                              for j in range(1, pdf.shape[1]))):
                try:
                    vals = fn(*args)
                except Exception as e:   # noqa: BLE001 — quarantined
                    if not quarantine:
                        raise
                    vals = failed + (
                        f"{type(e).__name__}: {e}"[:_REASON_CHARS],)
                else:
                    if quarantine:
                        vals = (*vals, None)
                for col, v in zip(cols, vals):
                    col.append(v)
            out = [pdf.iloc[:, 0]] + [
                pd.Series(c, index=pdf.index, dtype=object) for c in cols]
            # integer labels: Spark matches the output schema by position
            yield pd.DataFrame(dict(enumerate(out)))

    sel = df.select(key, *[df[c].alias(f"__row_map_in{j}")
                           for j, c in enumerate(inputs)])
    return sel.mapInPandas(run, StructType(out_fields))


def _blas_thread_fns(lib):
    """``(get, set)`` of an OpenBLAS library's thread-pool size, or None
    when ``lib`` exports neither the ILP64 (numpy's wheels) nor the
    plain symbol pair."""
    for suffix in ("64_", ""):
        try:
            return (getattr(lib, f"openblas_get_num_threads{suffix}"),
                    getattr(lib, f"openblas_set_num_threads{suffix}"))
        except AttributeError:
            pass
    return None


@lru_cache(maxsize=1)
def _numpy_blas():
    """The thread-pool functions of the BLAS numpy's linalg links; a
    handle's symbol lookup also searches the libraries it depends on."""
    try:
        import numpy.linalg._umath_linalg as linalg
        fns = _blas_thread_fns(ctypes.CDLL(linalg.__file__))
    except (ImportError, OSError):
        return None
    if fns is not None:
        get, set_ = fns
        get.argtypes, get.restype = [], ctypes.c_int
        set_.argtypes, set_.restype = [ctypes.c_int], None
    return fns


@contextmanager
def blas_single_thread():
    """Run the block (or, as a decorator, the function) with numpy's
    OpenBLAS pool at one thread, then restore its size.

    Small driver-side solves wake the pool, and its idle threads spin
    for the rest of the caller's run: an LM spectrum fit used 180-590 ms
    of process CPU for 80-160 ms of thread CPU on a 4-core host. A no-op
    for other BLAS builds (MKL, Accelerate) and for Python workers,
    whose pool Spark already sizes to 1 (``OMP_NUM_THREADS``)."""
    fns = _numpy_blas()
    old = fns[0]() if fns else 1
    if old <= 1:
        yield
        return
    fns[1](1)
    try:
        yield
    finally:
        fns[1](old)
