"""Headless point-pick layer — the ScatterPlotter analog.

The reference's ScatterPlotter (/root/reference/detanalysis/
scatterplotter.py, 323 LoC) renders a matplotlib scatter of two
features, lets the user click a point, resolves the click to the
nearest event in display-normalized coordinates, and fetches (and
optionally low-pass filters) that event's raw trace
(scatterplotter.py:112-202 `_get_trace`, 255-290 filter option).

A headless engine keeps the exact query semantics and drops the
widget: a "pick" is a nearest-event lookup under normalized distance,
a rubber-band selection is a box filter, and the trace fetch is the
same broadcast key join as `traces.get_traces`.

Scale notes (100 TB): the feature ranges used for normalization are
one tiny min/max aggregate (none on an Analyzer view whose range memo
knows both columns); the nearest-k lookup compiles to
`TakeOrderedAndProject` (per-partition top-k then a k-row merge on the
driver — never a global sort); box select is a plain filter that
pushes down to parquet.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .operators.stats import column_ranges
from .traces import get_traces, lowpass_filter_udf

__all__ = ["TracePicker"]


class TracePicker:
    """Pick events on a 2-D feature plane and fetch their traces.

    Parameters
    ----------
    df : event DataFrame (e.g. ``Analyzer.df`` — pass the filtered view
        to honor a global filter, as the reference plots ``self._df``).
    x_feature, y_feature : the two plotted feature expressions (column
        names or SQL strings — anything ``F.expr`` accepts).
    traces : optional trace table for ``pick_traces``.
    tiebreak : column names that deterministically order equidistant
        events (the reference's widget pick is whatever matplotlib
        returns first; a headless engine must be reproducible).
    """

    def __init__(self, df: DataFrame, x_feature: str, y_feature: str,
                 traces: DataFrame | None = None,
                 tiebreak: Sequence[str] = ()):
        self._df = df
        self._names = [x_feature, y_feature]
        self._x = F.expr(x_feature)
        self._y = F.expr(y_feature)
        self._traces = traces
        self._tiebreak = list(tiebreak)
        self._ranges: tuple[float, float, float, float] | None = None

    # ------------------------------------------------------------------
    def _axis_ranges(self) -> tuple[float, float, float, float]:
        """(x_lo, x_span, y_lo, y_span) — one tiny agg, cached; none
        when both features are columns of a view whose range memo
        already knows them (``stats.column_ranges``).

        Mirrors the plot's display normalization: the reference picks
        the point nearest the click *on screen*, i.e. distance is
        measured after each axis is scaled to its data range.
        """
        if self._ranges is None:
            if all(n in self._df.columns for n in self._names):
                (xlo, xhi), (ylo, yhi) = column_ranges(self._df, self._names)
            else:
                xlo, xhi, ylo, yhi = self._df.agg(
                    F.min(self._x), F.max(self._x),
                    F.min(self._y), F.max(self._y)).first()
            self._ranges = (xlo, (xhi - xlo) or 1.0, ylo, (yhi - ylo) or 1.0)
        return self._ranges

    def _dist(self, x: float, y: float) -> Column:
        _, xspan, _, yspan = self._axis_ranges()
        dx = (self._x - F.lit(float(x))) / F.lit(float(xspan))
        dy = (self._y - F.lit(float(y))) / F.lit(float(yspan))
        return F.sqrt(dx * dx + dy * dy)

    # ------------------------------------------------------------------
    def nearest_events(self, x: float, y: float, n: int = 1,
                       cut: Column | str | None = None) -> DataFrame:
        """The n events nearest the picked (x, y), with a ``pick_dist``
        column — the headless click handler (scatterplotter.py:135-155
        resolves the picked index with ``df[df.index == df_index]``)."""
        df = self._df if cut is None else self._df.filter(
            F.expr(cut) if isinstance(cut, str) else cut)
        order = [F.col("pick_dist").asc()] + \
            [F.col(c).asc() for c in self._tiebreak]
        return (df.withColumn("pick_dist", self._dist(x, y))
                .orderBy(*order).limit(int(n)))

    def events_in_box(self, xlim: tuple[float, float],
                      ylim: tuple[float, float],
                      cut: Column | str | None = None) -> DataFrame:
        """Rubber-band selection: AND of two betweens (pushes down)."""
        df = self._df if cut is None else self._df.filter(
            F.expr(cut) if isinstance(cut, str) else cut)
        return df.filter(self._x.between(float(xlim[0]), float(xlim[1]))
                         & self._y.between(float(ylim[0]), float(ylim[1])))

    def pick_traces(self, x: float, y: float, n: int = 1,
                    channels: Sequence[str] | None = None,
                    lowpass_cutoff: float | None = None,
                    fs: float = 1.25e6, order: int = 2,
                    trace_col: str = "trace") -> DataFrame:
        """Pick → fetch raw traces (broadcast key join), optionally
        low-pass filtered like the reference's filter toggle
        (scatterplotter.py:255-290, qetpy lowpassfilter at :280)."""
        if self._traces is None:
            raise ValueError("TracePicker was built without a trace table")
        picked = self.nearest_events(x, y, n)
        out = get_traces(self._traces, picked, channels=channels,
                         nb_events_limit=None)
        if lowpass_cutoff is not None:
            out = out.withColumn(
                trace_col,
                lowpass_filter_udf(fs, lowpass_cutoff, order)(
                    F.col(trace_col)))
        return out

    # ------------------------------------------------------------------
    # headless plot providers under the reference's names — the engine
    # returns plot-ready data, never renders
    # ------------------------------------------------------------------
    def plot_picking_scatter(self, cut: Column | str | None = None,
                             max_points: int = 20000, seed: int = 42,
                             render: bool = False, **plot_kw):
        """scatterplotter.py plot_picking_scatter analog: the (x, y)
        scatter frame behind the picker, seeded-sampled down to
        ``max_points`` BEFORE collection (the reference draws every
        point; at scale that is the plot-thinning rule O7).
        ``render=True`` (matplotlib installed) draws the sampled frame
        via :func:`detanalysis_spark.plotting.scatter`."""
        df = self._df if cut is None else self._df.filter(
            F.expr(cut) if isinstance(cut, str) else cut)
        pts = (df.select(self._x.alias("x"), self._y.alias("y"))
               .orderBy(F.rand(seed)).limit(int(max_points)))
        if render:
            from . import plotting
            return plotting.scatter(pts, **plot_kw)
        return pts

    def plot_picked_events(self, x: float, y: float, n: int = 1,
                           render: bool = False, fs: float = 1.25e6,
                           plot_kw: dict | None = None, **kw):
        """scatterplotter.py plot_picked_events analog: the picked
        events' traces (``pick_traces`` result, plot-ready).
        ``render=True`` (matplotlib installed) draws them vs time via
        :func:`detanalysis_spark.plotting.traces`."""
        out = self.pick_traces(x, y, n=n, fs=fs, **kw)
        if render:
            from . import plotting
            return plotting.traces(out, fs=fs, **(plot_kw or {}))
        return out
