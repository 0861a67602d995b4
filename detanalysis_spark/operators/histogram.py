"""Distributed histogram operators (A6/A7).

Reference: ``Analyzer.hist`` / ``Analyzer.heatmap``
(analyzer.py:579-662, 664-715) delegate to Vaex's binned count engine.
Spark-first shape: an optional min/max pass for limits (none when an
Analyzer view's range memo already knows the column), then ONE shuffle
— ``groupBy(bucket).count()`` — returning only ``shape`` rows to the
driver. At 100 TB the agg is map-side combined, so the shuffle carries
at most ``shape × partitions`` rows regardless of input size.

The bucket expression is plain column arithmetic (floor((x-lo)/w)) so it
stays inside whole-stage codegen; no UDFs. The photon spectrum fits bin
through it too.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .stats import column_ranges


def resolve_limits(df: DataFrame, expression: str | Column,
                   limits: Any) -> tuple[float, float]:
    """Resolve 'minmax' / explicit [lo, hi] limits (analyzer.py:595);
    an empty range widens to [lo, lo + 1]. 'minmax' of a column name
    reads the view's range memo (``stats.column_ranges``); any other
    expression runs its own min/max aggregate."""
    if limits is None or (isinstance(limits, str) and limits == "minmax"):
        if isinstance(expression, str) and expression in df.columns:
            lo, hi = column_ranges(df, [expression])[0]
        else:
            col = F.expr(expression) if isinstance(expression, str) \
                else expression
            lo, hi = df.agg(F.min(col), F.max(col)).collect()[0]
    else:
        lo, hi = limits
    lo, hi = float(lo), float(hi)
    return lo, (lo + 1.0 if hi == lo else hi)


def bucket_expr(col: Column, lo: float | Column, hi: float | Column,
                shape: int) -> Column:
    """Bin index of ``shape`` equal-width bins over [lo, hi]: the top
    edge is inclusive in the last bin (np.histogram convention, which
    the reference inherits), clamped so a value rounding onto the top
    edge stays in it too. ``lo``/``hi`` are floats or per-row Columns
    (per-group bounds); an empty range takes width 1."""
    lo, hi = F.lit(lo), F.lit(hi)
    w = (hi - lo) / shape
    w = F.when(w == 0, 1.0).otherwise(w)
    return F.least(F.floor((col - lo) / w).cast("int"), F.lit(shape - 1))


def _in_range(col: Column, lo: float | Column,
              hi: float | Column) -> Column:
    """Non-NULL and inside the closed range [lo, hi]."""
    return col.isNotNull() & (col >= lo) & (col <= hi)


def bucket_agg(df: DataFrame, col: Column, lo: float, hi: float,
               shape: int, *aggs: Column) -> DataFrame:
    """``(bucket, *aggs)`` over the non-NULL rows inside [lo, hi] — the
    one bucket-keyed aggregate behind every 1-D histogram here."""
    return (df.filter(_in_range(col, lo, hi))
              .groupBy(bucket_expr(col, lo, hi, shape).alias("bucket"))
              .agg(*aggs))


def what_agg(what: str) -> Column:
    """Parse the reference's ``what`` aggregation string
    (analyzer.py:595, vaex grammar): ``count(*)`` or
    ``sum|mean|min|max(<column expr>)`` → one aggregate Column."""
    import re

    m = re.fullmatch(r"\s*(count|sum|mean|avg|min|max)\(([^)]*)\)\s*", what)
    if not m:
        raise ValueError(f"unsupported what={what!r}")
    fn, inner = m.group(1), m.group(2).strip()
    if fn == "count":
        if inner not in ("*", ""):
            return F.count(F.expr(inner))
        return F.count(F.lit(1))
    col = F.expr(inner)
    return {"sum": F.sum, "mean": F.avg, "avg": F.avg,
            "min": F.min, "max": F.max}[fn](col)


def hist1d(df: DataFrame, expression: str | Column, shape: int = 64,
           limits: Any = "minmax", dense: bool = True,
           what: str = "count(*)", normalize: bool = False):
    """1-D histogram: returns (values ndarray[shape], edges ndarray[shape+1]).

    ``what`` selects the per-bin statistic (the reference's vaex-style
    grammar: ``count(*)``, ``mean(expr)``, …) — a binned-statistic
    operator, still ONE bucket-keyed aggregate. ``normalize`` (only
    with counts) divides by total·bin_width — np.histogram
    ``density=True`` parity. Two actions at most (each 2 Spark jobs
    under AQE): the limits aggregate — skipped when the limits are
    explicit or the view's range memo knows them — and the bucket
    groupBy.
    """
    import numpy as np

    col = F.expr(expression) if isinstance(expression, str) else expression
    lo, hi = resolve_limits(df, expression, limits)
    rows = bucket_agg(df, col, lo, hi, shape,
                      what_agg(what).alias("count")).collect()
    edges = np.linspace(lo, hi, shape + 1)
    if not dense:
        return rows, edges
    is_count = what.strip().startswith("count")
    counts = np.zeros(shape,
                      dtype=np.int64 if is_count and not normalize
                      else np.float64)
    if normalize and not is_count:
        raise ValueError("normalize applies to count histograms only")
    for r in rows:
        if r["bucket"] is not None and 0 <= r["bucket"] < shape:
            counts[r["bucket"]] = r["count"]
    if normalize:
        total = counts.sum()
        if total > 0:
            counts = counts / (total * (edges[1] - edges[0]))
    return counts, edges


def hist2d(df: DataFrame, expr_x: str | Column, expr_y: str | Column,
           shape: int | Sequence[int] = 256, limits_x: Any = "minmax",
           limits_y: Any = "minmax", what: str = "count(*)"):
    """2-D histogram / heatmap grid (analyzer.py:664-715), with the
    reference's ``what`` binned-statistic grammar (:669).

    Returns (grid ndarray[sx, sy], xedges, yedges). One shuffle of at
    most sx*sy groups; the dense pivot happens on the driver over ≤64k
    cells.
    """
    import numpy as np

    sx, sy = (shape, shape) if isinstance(shape, int) else shape
    cx = F.expr(expr_x) if isinstance(expr_x, str) else expr_x
    cy = F.expr(expr_y) if isinstance(expr_y, str) else expr_y
    lox, hix = resolve_limits(df, expr_x, limits_x)
    loy, hiy = resolve_limits(df, expr_y, limits_y)
    bx = bucket_expr(cx, lox, hix, sx)
    by = bucket_expr(cy, loy, hiy, sy)
    is_count = what.strip().startswith("count")
    rows = (df.filter(_in_range(cx, lox, hix) & _in_range(cy, loy, hiy))
              .groupBy(bx.alias("bx"), by.alias("by"))
              .agg(what_agg(what).alias("count")).collect())
    grid = np.zeros((sx, sy), dtype=np.int64 if is_count else np.float64)
    for r in rows:
        if r["bx"] is not None and r["by"] is not None:
            grid[r["bx"], r["by"]] = r["count"]
    return grid, np.linspace(lox, hix, sx + 1), np.linspace(loy, hiy, sy + 1)


def hist1d_df(df: DataFrame, expression: str | Column, shape: int, lo: float,
              hi: float) -> DataFrame:
    """Lazy variant returning a DataFrame ``(bucket, count)`` — for use
    as a query stage (e.g. the driver's oracle comparisons) without a
    driver collect."""
    col = F.expr(expression) if isinstance(expression, str) else expression
    return bucket_agg(df, col, lo, hi, shape,
                      F.count(F.lit(1)).alias("n")).orderBy("bucket")
