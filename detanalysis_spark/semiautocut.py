"""Semiautocut engine: statistical auto-cut generation.

Re-expresses the reference's ``Semiautocut`` / ``MasterSemiautocuts``
(/root/reference/detanalysis/semiautocuts.py) Spark-first.

Semantics preserved from the reference:
- threshold families ``val / percent / sigma`` with upper/lower/symmetric
  variants (semiautocuts.py:548-627); sigma uses the IQR-style robust
  width ``|mean(p(50-34.135)-med, med-p(50+34.135))|`` (:590-607)
- thresholds are *estimated* on the conditioned sample (bin range AND
  previously registered cuts) but *applied* to ALL rows; the final mask
  is ``value_pred AND bin_pred`` OR-ed over bins (:497-498, 646, 714)
- strict ``>`` / ``<`` comparisons on both value bounds and bin edges
  (:510-523, 554-627)
- per-bin ``exceptions_dict`` replaces the whole pars dict for that bin
  (:700-713)
- ofamp bins: edge[0]=min, edge[1]=0.0, then even spacing to max; the
  final extra bin spans (last_edge, max(ofamp)) (:272-292, 855-871);
  time bins have no such final bin (:718-734 is commented out)
- count cut (``time_arr_num/percent/sigma``): per-bin counts of
  conditioned rows inside the value range — zero-count bins included in
  the threshold statistics — bins with count > threshold are excluded
  wholesale; rows outside every bin survive (:738-811)
- ``-1e8`` sentinel for unset bounds in saved cut dicts (:294-306) and
  the values→exceptions reload path (:342-369)

Documented deviations (reference behavior looks unintended):
- ``time_arr`` interval cuts: the reference ANDs each interval into an
  all-False initial mask (:456-489), which always yields an empty cut;
  the documented intent ("array of time pairs between which to pass
  data", :128) is implemented instead: OR of strict betweens.
- the reference's final-ofamp-bin bookkeeping writes thresholds at
  index ``n_bins`` (one past the array, :866-871); here the final bin
  is index ``n_bins-1``.

Spark shape (100 TB): threshold estimation is ONE
``groupBy(bin).agg(percentile(...), count, ...)`` pass over the
conditioned rows — map-side combined, returns n_bins rows to the
driver. The applied cut is then a pure literal-predicate Column (CASE
over bins), fully inside whole-stage codegen: no join, no UDF, no
second shuffle. ``exact=False`` switches the quantile estimator to
``percentile_approx`` (mergeable sketch) for the very-large-sample
path.
"""

from __future__ import annotations

import json
import math
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .analyzer import Analyzer
from .operators.stats import column_ranges

SENTINEL = -1e8

# reference trigger_type codes (semiautocuts.py:1872-1881)
TRIGGER_RANDOM = 3.0
TRIGGER_TRIGGER = 4.0


def _trigger_sel(lgc_randoms: bool, lgc_triggers: bool,
                 trigger_col: str) -> tuple[Column | None, str]:
    """Trigger-type row selection + title suffix
    (semiautocuts.py:1872-1883). ``(None, ...)`` means all rows —
    only possible when both flags are False, which the reference
    leaves undefined; we treat it as no selection."""
    t = F.col(trigger_col)
    if lgc_randoms and lgc_triggers:
        return ((t == TRIGGER_RANDOM) | (t == TRIGGER_TRIGGER),
                " (Triggers and Randoms)")
    if lgc_randoms:
        return t == TRIGGER_RANDOM, " (Randoms Only)"
    if lgc_triggers:
        return t == TRIGGER_TRIGGER, " (Triggers Only)"
    return None, ""

# the reference's central-interval percentiles (semiautocuts.py:590-607)
_SIG_LO = (50.0 - 68.27 / 2.0) / 100.0
_SIG_HI = (50.0 + 68.27 / 2.0) / 100.0

_PAR_KEYS = ("val_upper", "val_lower", "percent_upper", "percent_lower",
             "percent", "sigma_upper", "sigma_lower", "sigma")


def _fracs_needed(pars: Mapping) -> list[float]:
    """Quantile fractions required to turn ``pars`` into bounds."""
    if "val_upper" in pars or "val_lower" in pars:
        return []
    if "percent_upper" in pars:
        out = [float(pars["percent_upper"])]
        if "percent_lower" in pars:
            out.append(float(pars["percent_lower"]))
        return out
    if "percent_lower" in pars:
        return [float(pars["percent_lower"])]
    if "percent" in pars:
        p = float(pars["percent"])
        return [0.5 - 0.5 * p, 0.5 + 0.5 * p]
    if any(k in pars for k in ("sigma", "sigma_upper", "sigma_lower")):
        return [_SIG_LO, 0.5, _SIG_HI]
    if not any(k in pars for k in _PAR_KEYS):
        return []
    raise ValueError(f"unsupported cut_pars: {dict(pars)!r}")


def _bounds_from_pars(pars: Mapping, q: Mapping[float, float] | None
                      ) -> tuple[float | None, float | None]:
    """(lower, upper) bounds per semiautocuts.py:548-627; ``q`` maps
    quantile fraction → value on the conditioned sample."""
    if "val_upper" in pars:
        return (float(pars["val_lower"]) if "val_lower" in pars else None,
                float(pars["val_upper"]))
    if "val_lower" in pars:
        return float(pars["val_lower"]), None
    if q is None:
        return None, None
    if "percent_upper" in pars:
        up = q[float(pars["percent_upper"])]
        lo = q[float(pars["percent_lower"])] if "percent_lower" in pars else None
        return lo, up
    if "percent_lower" in pars:
        return q[float(pars["percent_lower"])], None
    if "percent" in pars:
        p = float(pars["percent"])
        return q[0.5 - 0.5 * p], q[0.5 + 0.5 * p]
    if any(k in pars for k in ("sigma", "sigma_upper", "sigma_lower")):
        med = q[0.5]
        sigma = abs(((q[_SIG_LO] - med) + (med - q[_SIG_HI])) / 2.0)
        if "sigma_upper" in pars:
            up = med + sigma * float(pars["sigma_upper"])
            lo = (med - sigma * float(pars["sigma_lower"])
                  if "sigma_lower" in pars else None)
            return lo, up
        if "sigma_lower" in pars:
            # reference quirk: standalone sigma_lower ADDS (semiautocuts.py:617)
            return med + sigma * float(pars["sigma_lower"]), None
        s = float(pars["sigma"])
        return med - sigma * s, med + sigma * s
    return None, None


def _bounds_pred(col: Column, lo: float | None, up: float | None) -> Column:
    """Strict value-bounds predicate (semiautocuts.py:554-627)."""
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (col > F.lit(float(lo)))
    if up is not None:
        pred = pred & (col < F.lit(float(up)))
    return pred


def _strict_bin_pred(col: Column, lo: float, hi: float) -> Column:
    """Strict bin-range predicate (semiautocuts.py:510-523)."""
    return (col > F.lit(float(lo))) & (col < F.lit(float(hi)))


def _strict_bin_expr(col: Column, lims: Sequence[tuple[float, float]]) -> Column:
    """Bin index under strict (lo, hi) intervals; NULL outside all bins."""
    expr = F.lit(None).cast("int")
    for i in range(len(lims) - 1, -1, -1):
        lo, hi = lims[i]
        expr = F.when(_strict_bin_pred(col, lo, hi), F.lit(i)).otherwise(expr)
    return expr


class Semiautocut:
    """Automatic threshold cut over an :class:`Analyzer`'s event table.

    Parameters mirror the reference (semiautocuts.py:83-306); the first
    argument is an ``Analyzer`` (or a DataFrame, which gets wrapped).
    ``time_col`` names the event-time column (reference hard-codes
    ``event_time``); ``exact`` picks exact percentiles (np.percentile /
    quantile_cont parity) vs the mergeable-sketch approx path.
    """

    def __init__(self, ana: Analyzer | DataFrame, cut_rq: str,
                 channel_name: str = "", cut_pars: Mapping | None = None,
                 time_bins: Any = None, even_time_bins: bool = True,
                 ofamp_bins: Any = None,
                 exceptions_dict: Mapping[int, Mapping] | None = None,
                 ofamp_rq: str | None = None, chi2_rq: str | None = None,
                 cut_name: str | None = None,
                 cut_rq_name_override: bool = False,
                 time_col: str = "event_time", exact: bool = True):
        self.ana = ana if isinstance(ana, Analyzer) else Analyzer(ana)
        self.channel_name = channel_name
        self.cut_pars = dict(cut_pars or {})
        self.exceptions_dict = {int(k): dict(v)
                                for k, v in (exceptions_dict or {}).items()}
        self.time_col = time_col
        self.exact = exact
        self.time_bins = time_bins
        self.even_time_bins = even_time_bins
        self.ofamp_bins = ofamp_bins

        suffix = f"_{channel_name}" if channel_name else ""
        self.ofamp_rq = (ofamp_rq + suffix) if ofamp_rq else f"amp_of1x1_nodelay{suffix}"
        self.chi2_rq = (chi2_rq + suffix) if chi2_rq else f"lowchi2_of1x1_nodelay{suffix}"

        if cut_rq == time_col or cut_rq_name_override:
            self.cut_rq = cut_rq
        else:
            self.cut_rq = cut_rq + suffix
            if "time_arr" in self.cut_pars:
                raise ValueError("time_arr is only for time based cuts")
        self.cut_name = cut_name if cut_name is not None else f"cut_{self.cut_rq}"

        if time_bins is not None and ofamp_bins is not None:
            raise ValueError("bin in time or in ofamp, not both")

        self.time_bins_arr: list[float] | None = None
        self.ofamp_bins_arr: list[float] | None = None
        if isinstance(time_bins, int):
            self.time_bins_arr = self._build_time_edges(time_bins)
        elif time_bins is not None:
            self.time_bins_arr = [float(x) for x in time_bins]
        if isinstance(ofamp_bins, int):
            self.ofamp_bins_arr = self._build_ofamp_edges(ofamp_bins)
        elif ofamp_bins is not None:
            self.ofamp_bins_arr = [float(x) for x in ofamp_bins]

        n_vals = (len(self.time_bins_arr) if self.time_bins_arr is not None
                  else len(self.ofamp_bins_arr) if self.ofamp_bins_arr is not None
                  else 1)
        self.values_lower = [SENTINEL] * n_vals
        self.values_upper = [SENTINEL] * n_vals
        self.column: Column | None = None

    # ------------------------------------------------------------------
    # bin construction (semiautocuts.py:244-292)
    # ------------------------------------------------------------------
    def _build_time_edges(self, n: int) -> list[float]:
        df = self.ana.df_full
        t = F.col(self.time_col)
        if self.even_time_bins:
            # equal TIME width (semiautocuts.py:257-259); edge formula
            # lo + step*i is kept textually identical to the SQL oracles
            lo, hi = map(float, column_ranges(df, [self.time_col])[0])
            step = (hi - lo) / n
            return [lo + step * i for i in range(n + 1)]
        # equal events per bin: percentile edges + max (semiautocuts.py:244-255)
        fracs = [i / n for i in range(n)]
        agg = (F.percentile(t, F.lit(fracs)) if self.exact
               else F.percentile_approx(t, F.lit(fracs), F.lit(10000)))
        row = df.agg(agg.alias("p"), F.max(t).alias("hi")).collect()[0]
        return [float(v) for v in row["p"]] + [float(row["hi"])]

    def _build_ofamp_edges(self, n: int) -> list[float]:
        if n < 3:
            raise ValueError("must have more than 2 ofamp bins")
        lo, hi = map(float, column_ranges(self.ana.df_full,
                                          [self.ofamp_rq])[0])
        spacing = hi / (n - 2)
        return [lo, 0.0] + [spacing * (i - 1) for i in range(2, n)]

    # ------------------------------------------------------------------
    # conditioning sample (semiautocuts.py:384-409, 508-528)
    # ------------------------------------------------------------------
    def _previous_cuts_pred(self, include_previous_cuts) -> Column | None:
        names: list[str] = []
        if include_previous_cuts is True:
            for nm in self.ana.get_cuts():
                if nm.startswith("cut_") and self.channel_name in nm:
                    names.append(nm)
            for nm in self.ana.df_full.columns:
                if (nm.startswith("cut_") and self.channel_name in nm
                        and nm not in names):
                    names.append(nm)
        elif isinstance(include_previous_cuts, (list, tuple)):
            names = list(include_previous_cuts)
        if not names:
            return None
        pred = F.lit(True)
        for nm in names:
            pred = pred & self.ana.resolve_cut(nm)
        return pred

    # ------------------------------------------------------------------
    # threshold estimation: ONE grouped-quantile pass
    # ------------------------------------------------------------------
    def _bin_lims(self) -> tuple[str | None, list[tuple[float, float]]]:
        """(bin column name, [(lo, hi)] strict intervals) or (None, [])
        for the unbinned cut."""
        if self.time_bins_arr is not None:
            e = self.time_bins_arr
            return self.time_col, [(e[i], e[i + 1]) for i in range(len(e) - 1)]
        if self.ofamp_bins_arr is not None:
            e = self.ofamp_bins_arr
            hi = float(column_ranges(self.ana.df_full, [self.ofamp_rq])[0][1])
            lims = [(e[i], e[i + 1]) for i in range(len(e) - 1)]
            lims.append((e[-1], hi))  # final bin to data max (strict)
            return self.ofamp_rq, lims
        return None, []

    def _pars_for_bin(self, i: int) -> dict:
        return dict(self.exceptions_dict.get(i, self.cut_pars))

    def _estimate(self, lims: list[tuple[float, float]], bin_col: str | None,
                  include_previous_cuts) -> list[tuple[float | None, float | None]]:
        """Per-bin (lower, upper) bounds; one action for all bins."""
        n_bins = max(len(lims), 1)
        pars_by_bin = [self._pars_for_bin(i) for i in range(n_bins)]
        all_fracs = sorted({f for p in pars_by_bin for f in _fracs_needed(p)})

        q_by_bin: dict[int, dict[float, float] | None] = {i: None for i in range(n_bins)}
        if all_fracs:
            df = self.ana.df_full
            prev = self._previous_cuts_pred(include_previous_cuts)
            if prev is not None:
                df = df.filter(prev)
            rq = F.col(self.cut_rq)
            agg = (F.percentile(rq, F.lit(all_fracs)) if self.exact
                   else F.percentile_approx(rq, F.lit(all_fracs), F.lit(10000)))
            if bin_col is None:
                row = df.agg(agg.alias("q"), F.count(rq).alias("n")).collect()[0]
                if row["n"] and row["q"] is not None:
                    q_by_bin[0] = dict(zip(all_fracs, (float(v) for v in row["q"])))
            else:
                b = _strict_bin_expr(F.col(bin_col), lims)
                rows = (df.withColumn("__sac_bin__", b)
                        .filter(F.col("__sac_bin__").isNotNull())
                        .groupBy("__sac_bin__")
                        .agg(agg.alias("q"), F.count(rq).alias("n"))
                        .collect())
                for r in rows:
                    if r["n"] and r["q"] is not None:
                        q_by_bin[r["__sac_bin__"]] = dict(
                            zip(all_fracs, (float(v) for v in r["q"])))

        bounds: list[tuple[float | None, float | None]] = []
        for i, pars in enumerate(pars_by_bin):
            needs_q = bool(_fracs_needed(pars))
            if needs_q and q_by_bin[i] is None:
                bounds.append((math.inf, -math.inf))  # empty bin: pass nothing
                continue
            lo, up = _bounds_from_pars(pars, q_by_bin[i])
            bounds.append((lo, up))
            if lo is not None:
                self.values_lower[i] = lo
            if up is not None:
                self.values_upper[i] = up
        return bounds

    # ------------------------------------------------------------------
    # dispatch (semiautocuts.py:411-458)
    # ------------------------------------------------------------------
    def do_cut(self, include_previous_cuts=False, register: bool = True,
               overwrite: bool = True) -> Column:
        """Build the cut predicate; optionally register it on the
        Analyzer under ``self.cut_name``. Returns the Column."""
        if "time_arr" in self.cut_pars:
            pred = self._time_interval_pred()
        elif any(k in self.cut_pars for k in
                 ("time_arr_num", "time_arr_percent", "time_arr_sigma")):
            if self.time_bins_arr is None:
                raise ValueError("count cut requires time_bins")
            pred = self._count_cut_pred(include_previous_cuts)
        else:
            bin_col, lims = self._bin_lims()
            bounds = self._estimate(lims, bin_col, include_previous_cuts)
            if bin_col is None:
                pred = _bounds_pred(F.col(self.cut_rq), *bounds[0])
            else:
                rq = F.col(self.cut_rq)
                pred = F.lit(False)
                for (blo, bhi), (lo, up) in zip(lims, bounds):
                    if lo == math.inf:
                        continue
                    pred = pred | (_strict_bin_pred(F.col(bin_col), blo, bhi)
                                   & _bounds_pred(rq, lo, up))
        self.column = pred
        if register:
            self.ana.register_cut(pred, self.cut_name, overwrite=overwrite,
                                  metadata={"cut_rq": self.cut_rq,
                                            "cut_pars": self.cut_pars,
                                            "kind": "semiautocut"})
        return pred

    def _time_interval_pred(self) -> Column:
        """OR of strict time betweens (documented intent of
        semiautocuts.py:461-489 — see module docstring on the deviation)."""
        t = F.col(self.time_col)
        pred = F.lit(False)
        for lo, hi in self.cut_pars["time_arr"]:
            pred = pred | _strict_bin_pred(t, float(lo), float(hi))
        return pred

    def _count_cut_pred(self, include_previous_cuts) -> Column:
        """Time-binned count cut (semiautocuts.py:738-811): exclude every
        row of bins whose conditioned in-range count exceeds a threshold."""
        for key in ("time_arr_num", "time_arr_percent", "time_arr_sigma"):
            if key in self.cut_pars:
                knob, lo_v, hi_v = self.cut_pars[key]
                break
        lo_v, hi_v = float(lo_v), float(hi_v)
        self.values_lower = [lo_v] * len(self.time_bins_arr)
        self.values_upper = [hi_v] * len(self.time_bins_arr)

        df = self.ana.df_full
        t_max = float(column_ranges(df, [self.time_col])[0][1])
        edges = list(self.time_bins_arr) + [t_max]
        lims = [(edges[i], edges[i + 1]) for i in range(len(edges) - 1)]

        prev = self._previous_cuts_pred(include_previous_cuts)
        cond = df.filter(prev) if prev is not None else df
        rq = F.col(self.cut_rq)
        b = _strict_bin_expr(F.col(self.time_col), lims)
        rows = (cond.filter((rq > F.lit(lo_v)) & (rq < F.lit(hi_v)))
                .withColumn("__sac_bin__", b)
                .filter(F.col("__sac_bin__").isNotNull())
                .groupBy("__sac_bin__").agg(F.count(F.lit(1)).alias("n"))
                .collect())
        counts = [0.0] * len(lims)  # zero-count bins DO enter the stats
        for r in rows:
            counts[r["__sac_bin__"]] = float(r["n"])

        import numpy as np
        arr = np.asarray(counts)
        if key == "time_arr_num":
            cut_num = float(knob)
        elif key == "time_arr_percent":
            cut_num = float(np.percentile(arr, float(knob) * 100))
        else:
            med = float(np.percentile(arr, 50))
            sigma = abs(float(np.mean([np.percentile(arr, 50 - 68.27 / 2.0) - med,
                                       med - np.percentile(arr, 50 + 68.27 / 2.0)])))
            cut_num = med + float(knob) * sigma
        self.bin_counts = counts
        self.cut_num = cut_num

        t = F.col(self.time_col)
        bad = F.lit(False)
        for (blo, bhi), n in zip(lims, counts):
            if n > cut_num:
                bad = bad | _strict_bin_pred(t, blo, bhi)
        return ~bad

    # ------------------------------------------------------------------
    # passage fraction (semiautocuts.py:1846-1896)
    # ------------------------------------------------------------------
    def get_passage_fraction(self, lgcprint: bool = False,
                             lgc_randoms: bool = True,
                             lgc_triggers: bool = True,
                             trigger_col: str = "trigger_type") -> float:
        """Fraction of trigger-selected events passing this cut.

        The reference (semiautocuts.py:1846-1896) collects the full
        boolean mask to the driver; here numerator and denominator come
        back from ONE map-side-combined aggregate — no mask ever leaves
        the executors.
        """
        if self.column is None:
            raise RuntimeError("call do_cut() first")
        df = self.ana.df_full
        sel, title = _trigger_sel(lgc_randoms, lgc_triggers, trigger_col)
        if sel is not None:
            df = df.filter(sel)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(self.column.cast("long")).alias("passed")).collect()[0]
        n, passed = int(row["n"]), int(row["passed"] or 0)
        frac = passed / n if n else float("nan")
        if lgcprint:
            print(f"Cut name: {self.cut_name}")
            print(f"Passage fraction: {frac}{title}")
            print(f"Number of events passing cuts: {passed}{title}")
            print(f"Number of events failing cuts: {n - passed}{title}")
            print(f"Number of total events: {n}{title}")
            print(" ")
        return frac

    def get_passage_fraction_splits(
            self, trigger_col: str = "trigger_type",
    ) -> dict[str, tuple[int, int, float]]:
        """All three trigger-type splits of :meth:`get_passage_fraction`
        — randoms-only, triggers-only, both — from ONE map-side-combined
        aggregate instead of three separate actions (the reference's loop at
        semiautocuts.py:1846-1896 scans once per selection).

        Returns ``{sel: (n, passed, fraction)}`` for
        ``sel in ("randoms", "triggers", "both")``.
        """
        if self.column is None:
            raise RuntimeError("call do_cut() first")
        df = self.ana.df_full
        p = self.column.cast("long")
        t = F.col(trigger_col)
        is_rand = t == TRIGGER_RANDOM
        is_trig = t == TRIGGER_TRIGGER
        row = df.agg(
            F.sum(is_rand.cast("long")).alias("nr"),
            F.sum(F.when(is_rand, p).otherwise(F.lit(0))).alias("pr"),
            F.sum(is_trig.cast("long")).alias("nt"),
            F.sum(F.when(is_trig, p).otherwise(F.lit(0))).alias("pt"),
        ).collect()[0]
        nr, pr = int(row["nr"] or 0), int(row["pr"] or 0)
        nt, pt = int(row["nt"] or 0), int(row["pt"] or 0)
        nb, pb = nr + nt, pr + pt
        return {
            "randoms": (nr, pr, pr / nr if nr else float("nan")),
            "triggers": (nt, pt, pt / nt if nt else float("nan")),
            "both": (nb, pb, pb / nb if nb else float("nan")),
        }

    # ------------------------------------------------------------------
    # headless diagnostic providers (semiautocuts.py:879-1727 plot_*)
    # ------------------------------------------------------------------
    def diagnostics_frame(self, x_col: str | None = None,
                          decimate: int = 1) -> DataFrame:
        """Data behind ``plot_vs_time`` / ``plot_vs_ofamp`` /
        ``plot_chi2_vs_ofamp`` (semiautocuts.py:879-1727): one row per
        (optionally every-Nth decimated) event with the x axis, the cut
        RQ, the chi2 RQ when present, and the pass flag. Lazy — the
        caller renders or aggregates."""
        if self.column is None:
            raise RuntimeError("call do_cut() first")
        x = x_col or self.time_col
        df = self.ana.df_full
        cols = [F.col(x).alias("x"), F.col(self.cut_rq).alias("value"),
                self.column.alias("passed")]
        if self.chi2_rq in df.columns:
            cols.append(F.col(self.chi2_rq).alias("chi2"))
        out = df.select(*cols)
        if decimate > 1:
            out = out.filter(
                F.pmod(F.abs(F.hash("x", "value")), decimate) == 0)
        return out

    def histograms(self, shape: int = 64,
                   limits=None) -> tuple:
        """Data behind ``plot_histograms`` (semiautocuts.py:1612-1727):
        (counts_all, counts_passing, edges) over the cut RQ — both
        histograms share the full-range edges and come from ONE bucket
        aggregate of ``count(1)`` and the passing count."""
        if self.column is None:
            raise RuntimeError("call do_cut() first")
        import numpy as np
        from .operators.histogram import bucket_agg, resolve_limits
        df = self.ana.df_full
        lo, hi = resolve_limits(df, self.cut_rq, limits)
        rows = bucket_agg(df, F.col(self.cut_rq), lo, hi, shape,
                          F.count(F.lit(1)).alias("n"),
                          F.count(F.when(self.column, 1)).alias("passed")
                          ).collect()
        counts_all = np.zeros(shape, dtype=np.int64)
        counts_pass = np.zeros(shape, dtype=np.int64)
        for r in rows:
            if r["bucket"] is not None and 0 <= r["bucket"] < shape:
                counts_all[r["bucket"]] = r["n"]
                counts_pass[r["bucket"]] = r["passed"]
        return counts_all, counts_pass, np.linspace(lo, hi, shape + 1)

    # ------------------------------------------------------------------
    # cut-recipe (de)serialization (semiautocuts.py:308-381, 1899-1936)
    # ------------------------------------------------------------------
    def get_cut_dict(self, save_values: bool = True) -> dict:
        d = {"cut_name": self.cut_name, "cut_rq": self.cut_rq,
             "time_bins": self.time_bins if not isinstance(self.time_bins, (list, tuple)) else list(self.time_bins),
             "time_bins_arr": list(self.time_bins_arr) if self.time_bins_arr is not None else None,
             "ofamp_bins": self.ofamp_bins if not isinstance(self.ofamp_bins, (list, tuple)) else list(self.ofamp_bins),
             "ofamp_bins_arr": list(self.ofamp_bins_arr) if self.ofamp_bins_arr is not None else None,
             "ofamp_rq": self.ofamp_rq, "chi2_rq": self.chi2_rq}
        if save_values:
            d["values_lower"] = list(self.values_lower)
            d["values_upper"] = list(self.values_upper)
        else:
            d["cut_pars"] = dict(self.cut_pars)
            d["exceptions_dict"] = {int(k): dict(v)
                                    for k, v in self.exceptions_dict.items()}
        return d

    def to_json(self, save_values: bool = True) -> str:
        return json.dumps(self.get_cut_dict(save_values=save_values))

    @classmethod
    def from_cut_dict(cls, ana: Analyzer | DataFrame, cut_dict: Mapping,
                      time_col: str = "event_time", exact: bool = True
                      ) -> "Semiautocut":
        """Rebuild a cut from a saved dict (semiautocuts.py:308-381).

        Saved raw values become per-bin val_lower/val_upper exceptions;
        ``-1e8`` sentinels mean "bound never set" and are dropped."""
        d = dict(cut_dict)
        if isinstance(d.get("exceptions_dict"), Mapping):
            d["exceptions_dict"] = {int(k): v for k, v in d["exceptions_dict"].items()}
        self = cls.__new__(cls)
        base = ana if isinstance(ana, Analyzer) else Analyzer(ana)
        self.ana = base
        self.channel_name = ""
        self.time_col = time_col
        self.exact = exact
        self.cut_name = d["cut_name"]
        self.cut_rq = d["cut_rq"]
        self.time_bins = d.get("time_bins")
        self.even_time_bins = True
        self.ofamp_bins = d.get("ofamp_bins")
        self.time_bins_arr = (list(d["time_bins_arr"])
                              if d.get("time_bins_arr") is not None else None)
        self.ofamp_bins_arr = (list(d["ofamp_bins_arr"])
                               if d.get("ofamp_bins_arr") is not None else None)
        self.ofamp_rq = d.get("ofamp_rq", "amp_of1x1_nodelay")
        self.chi2_rq = d.get("chi2_rq", "lowchi2_of1x1_nodelay")
        n_vals = (len(self.time_bins_arr) if self.time_bins_arr is not None
                  else len(self.ofamp_bins_arr) if self.ofamp_bins_arr is not None
                  else 1)
        self.values_lower = [SENTINEL] * n_vals
        self.values_upper = [SENTINEL] * n_vals
        self.column = None
        if "values_lower" in d:
            exceptions = {}
            for i, (lo, up) in enumerate(zip(d["values_lower"], d["values_upper"])):
                e = {}
                if lo != SENTINEL:
                    e["val_lower"] = float(lo)
                if up != SENTINEL:
                    e["val_upper"] = float(up)
                exceptions[i] = e
            self.cut_pars = dict(exceptions.get(0, {}))
            self.exceptions_dict = exceptions
        else:
            self.cut_pars = dict(d.get("cut_pars", {}))
            self.exceptions_dict = {int(k): dict(v)
                                    for k, v in d.get("exceptions_dict", {}).items()}
        return self

    @classmethod
    def from_json(cls, ana: Analyzer | DataFrame, s: str, **kw) -> "Semiautocut":
        return cls.from_cut_dict(ana, json.loads(s), **kw)

    def load_cut_dict(self, cut_dict: Mapping,
                      lgc_diagnostics: bool = False) -> None:
        """Reference-name entry point (semiautocuts.py:308-381):
        re-initialize THIS object in place from a saved cut dict
        (keeps the analyzer binding; everything else comes from the
        dict, exactly like ``from_cut_dict``)."""
        fresh = Semiautocut.from_cut_dict(self.ana, cut_dict,
                                          time_col=self.time_col,
                                          exact=self.exact)
        self.__dict__.update(fresh.__dict__)
        if lgc_diagnostics:
            print(f"Loaded cut name: {self.cut_name}")

    # ------------------------------------------------------------------
    # headless plot providers under the reference's method names — the
    # engine never renders; each returns the exact plot-ready data
    # ------------------------------------------------------------------
    def plot_vs_time(self, decimate: int = 1) -> DataFrame:
        """semiautocuts.py:879 analog: (x=time, value, passed[, chi2])."""
        return self.diagnostics_frame(x_col=self.time_col, decimate=decimate)

    def plot_vs_ofamp(self, decimate: int = 1) -> DataFrame:
        """semiautocuts.py:1179 analog: x = the ofamp RQ."""
        return self.diagnostics_frame(x_col=self.ofamp_rq, decimate=decimate)

    def plot_chi2_vs_ofamp(self, decimate: int = 1) -> DataFrame:
        """semiautocuts.py:1418 analog (chi2 column included when the
        chi2 RQ exists in the frame)."""
        return self.diagnostics_frame(x_col=self.ofamp_rq, decimate=decimate)

    def plot_histograms(self, shape: int = 64, limits=None) -> tuple:
        """semiautocuts.py:1612 analog → (counts_all, counts_pass,
        edges) numpy arrays."""
        return self.histograms(shape=shape, limits=limits)

    def plot_example_events(self, num_example_events: int,
                            traces: DataFrame | None = None,
                            seed: int | None = None) -> DataFrame:
        """semiautocuts.py:1728 analog: random events passing this cut
        (with traces when a trace table is given) — sample-then-join,
        never a full-table trace join."""
        if self.column is None:
            raise RuntimeError("call do_cut() first")
        picked = (self.ana.df_full.filter(self.column)
                  .orderBy(F.rand(seed) if seed is not None else F.rand())
                  .limit(int(num_example_events)))
        if traces is None:
            return picked
        from .traces import get_traces
        return get_traces(traces, picked.select("series_number",
                                                "event_number"),
                          nb_events_limit=int(num_example_events))


class MasterSemiautocuts:
    """Combine per-channel cuts into one master cut
    (semiautocuts.py:1955-2160): AND-fold over the cut list, then OR in
    saturated events above an ofamp threshold."""

    def __init__(self, ana: Analyzer | DataFrame, cuts_list: Sequence[str],
                 channel_name: str = "", ofamp_rq: str | None = None,
                 chi2_rq: str | None = None):
        self.ana = ana if isinstance(ana, Analyzer) else Analyzer(ana)
        self.cuts_list = list(cuts_list)
        self.channel_name = channel_name
        suffix = f"_{channel_name}" if channel_name else ""
        self.ofamp_rq = (ofamp_rq + suffix) if ofamp_rq else f"amp_of1x1_nodelay{suffix}"
        self.chi2_rq = (chi2_rq + suffix) if chi2_rq else f"lowchi2_of1x1_nodelay{suffix}"
        self.cut_name: str | None = None
        self.column: Column | None = None

    def create_cut_rqs(self, rqs_dicts: Sequence[Mapping]) -> None:
        """Difference RQs (semiautocuts.py:1990-2035) as lazy features."""
        for d in rqs_dicts:
            if d.get("cut_type") != "difference":
                raise ValueError("only 'difference' RQ creation is supported")
            self.ana.register_feature(
                F.col(d["sub_rq_1"]) - F.col(d["sub_rq_2"]),
                d["new_rq_name"], overwrite=True)

    def load_cut_dicts(self, cut_dicts: Sequence[Mapping],
                       time_col: str = "event_time") -> None:
        """Rebuild + register every cut (semiautocuts.py:2037-2064)."""
        names = []
        for d in cut_dicts:
            sac = Semiautocut.from_cut_dict(self.ana, d, time_col=time_col)
            sac.do_cut(register=True)
            names.append(sac.cut_name)
        self.cuts_list = names

    def get_combined_cuts(self, sat_pass_threshold: float | None = None,
                          cut_name: str | None = None) -> Column:
        """AND-fold + saturation OR (semiautocuts.py:2066-2101)."""
        pred = F.lit(True)
        for nm in self.cuts_list:
            pred = pred & self.ana.resolve_cut(nm)
        if sat_pass_threshold is not None:
            pred = pred | (F.col(self.ofamp_rq) > F.lit(float(sat_pass_threshold)))
        self.cut_name = cut_name or (f"cut_all_{self.channel_name}"
                                     if self.channel_name else "cut_all")
        self.column = pred
        self.ana.register_cut(pred, self.cut_name, overwrite=True,
                              metadata={"kind": "master", "inputs": self.cuts_list,
                                        "sat_pass_threshold": sat_pass_threshold})
        return pred

    combine_cuts = get_combined_cuts

    def create_load_combine_cuts(self, master_dict: Mapping,
                                 time_col: str = "event_time") -> Column:
        """Full recipe interpreter (semiautocuts.py:2112-2159)."""
        self.create_cut_rqs(master_dict.get("creation", []))
        self.load_cut_dicts(master_dict.get("cuts", []), time_col=time_col)
        combo = master_dict["combo"]
        if "cuts_to_combine" in combo:
            self.cuts_list = list(combo["cuts_to_combine"])
        return self.get_combined_cuts(
            sat_pass_threshold=combo.get("sat_pass_threshold"),
            cut_name=combo.get("cut_name"))

    def batch_create_load_combine_cuts(self, master_dict_list: Sequence[Mapping],
                                       time_col: str = "event_time") -> list[Column]:
        """Run the full recipe for each master dict
        (semiautocuts.py:2161-2189). Returns the combined Columns."""
        return [self.create_load_combine_cuts(d, time_col=time_col)
                for d in master_dict_list]

    # ------------------------------------------------------------------
    # passage fractions (semiautocuts.py:2191-2239, 2471-2531)
    # ------------------------------------------------------------------
    def get_passage_fraction(self, lgcprint: bool = False,
                             lgc_randoms_return: bool = False,
                             trigger_col: str = "trigger_type") -> float:
        """Overall and randoms-only passage fraction of the combined
        cut (semiautocuts.py:2191-2239) — both from ONE aggregate pass
        instead of two driver-side mask scans."""
        if self.column is None:
            raise RuntimeError("call get_combined_cuts() first")
        df = self.ana.df_full
        is_rand = (F.col(trigger_col) == TRIGGER_RANDOM).cast("long") \
            if trigger_col in df.columns else F.lit(0)
        passed = self.column.cast("long")
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(passed).alias("passed"),
            F.sum(is_rand).alias("n_rand"),
            F.sum(passed * is_rand).alias("passed_rand")).collect()[0]
        n, p = int(row["n"]), int(row["passed"] or 0)
        nr, pr = int(row["n_rand"] or 0), int(row["passed_rand"] or 0)
        frac = p / n if n else float("nan")
        frac_rand = pr / nr if nr else float("nan")
        if lgcprint:
            print(f"Passage fraction: {frac}")
            print(f"Number of events passing cuts: {p}")
            print(f"Number of events failing cuts: {n - p}")
            print(f"Number of total events: {n}")
            print(" ")
            print(f"Passage fraction randoms: {frac_rand}")
            print(f"Number of Randoms Passing Cuts: {pr}")
            print(f"Total number of randoms: {nr}")
        return frac_rand if lgc_randoms_return else frac

    def get_randoms_passfrac_table(self, trigger_col: str = "trigger_type",
                                   return_nrand: bool = False):
        """Sequential passage-fraction matrix over randoms
        (semiautocuts.py:2471-2531): cell (i, j), j <= i, is the
        fraction of ALL randoms passing cut_i AND cuts_0..j; the
        denominator is the constant randoms count. Returns
        ``(matrix, cut_names)`` with NaN above the diagonal — or
        ``(matrix, cut_names, nrand)`` with ``return_nrand=True``
        (the randoms count already rides along in the same aggregate;
        returning it saves callers a second action).

        The reference materializes an n×N mask matrix on the driver;
        here every cell is a ``sum()`` column of one aggregate — a
        single map-side-combined action, O(n²) scalar results.
        """
        import numpy as np

        df = self.ana.df_full
        preds = [self.ana.resolve_cut(nm).cast("boolean")
                 for nm in self.cuts_list]
        n = len(preds)
        is_rand = (F.col(trigger_col) == TRIGGER_RANDOM)
        aggs = [F.sum(is_rand.cast("long")).alias("__nrand__")]
        for i in range(n):
            acc = preds[i] & is_rand
            for j in range(i + 1):
                acc = acc & preds[j]
                aggs.append(F.sum(acc.cast("long")).alias(f"__c_{i}_{j}__"))
        row = df.agg(*aggs).collect()[0].asDict()
        nrand = row["__nrand__"] or 0
        mat = np.full((n, n), np.nan)
        for i in range(n):
            for j in range(i + 1):
                mat[i, j] = (row[f"__c_{i}_{j}__"] or 0) / nrand if nrand else np.nan
        if return_nrand:
            return mat, list(self.cuts_list), int(nrand)
        return mat, list(self.cuts_list)

    def get_example_events(self, num_example_events: int,
                           traces: DataFrame | None = None,
                           join_keys: Sequence[str] = ("series_number",
                                                       "event_number"),
                           seed: int | None = None) -> DataFrame:
        """Random events passing the combined cut, with their raw
        traces when a trace table is given (semiautocuts.py:2414-2469).
        Headless analog of ``plot_example_events``: returns the
        DataFrame instead of rendering.

        Scale shape: ``orderBy(rand)`` + ``limit`` prunes to n rows
        BEFORE the trace join, so the join is a broadcast key-lookup of
        n keys against the big trace table — never a full-table join.
        """
        if self.column is None:
            raise RuntimeError("call get_combined_cuts() first")
        picked = (self.ana.df_full.filter(self.column)
                  .orderBy(F.rand(seed) if seed is not None else F.rand())
                  .limit(int(num_example_events)))
        if traces is None:
            return picked
        from .traces import get_traces
        return get_traces(traces, picked.select(*join_keys),
                          nb_events_limit=int(num_example_events))

    # reference name (semiautocuts.py:2267) — headless: returns data
    plot_example_events = get_example_events

    def _master_diag_frame(self, x_rq: str, y_rq: str) -> DataFrame:
        if self.column is None:
            raise RuntimeError("call get_combined_cuts() first")
        df = self.ana.df_full
        cols = [F.col(x_rq).alias("x"), F.col(y_rq).alias("y"),
                self.column.alias("passed")]
        return df.select(*cols)

    def plot_chi2_vs_ofamp(self) -> DataFrame:
        """semiautocuts.py:2240 analog: (x=ofamp, y=chi2, passed) for
        the combined master cut — plot-ready data, never rendered."""
        return self._master_diag_frame(self.ofamp_rq, self.chi2_rq)

    def plot_ofamp_vs_time(self, time_col: str = "event_time") -> DataFrame:
        """semiautocuts.py:2380 analog: (x=time, y=ofamp, passed)."""
        return self._master_diag_frame(time_col, self.ofamp_rq)
