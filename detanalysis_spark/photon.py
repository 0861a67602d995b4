"""Photon calibration: spectrum fit, peak cuts, grouped trace
averaging, per-bin FFT ensemble statistics, dPdI application.

Reference semantics: detanalysis photon_calibration.py — Gaussian-comb
spectrum models (:247-366), histogram + weighted least-squares fit
(:369-612), photon-peak cuts (:614-745 concept), average pulses
(:959-993), per-frequency-bin FFT ensemble stats (:1340-1400), energy
integral (:2063-2073). Re-expressed Spark-first:

- The **histogram is the distributed part** (one groupBy over billions
  of events); the nonlinear fit runs driver-side on the ~200 collected
  bins — that is the right split at any scale. No scipy in this
  environment, so the bounded least-squares solver is a small pure-
  numpy Levenberg–Marquardt with parameter clipping. The single and
  per-group fits share one bucket (``histogram.bucket_expr``) and one
  comb-fit core (``_comb_fit``).
- **Peak assignment is a native CASE expression** usable as an engine
  cut (no Python in the event loop).
- **Trace averaging / FFT stats** are `posexplode → groupBy(peak,
  pos|bin)` aggregations — Spark's partial aggregation replaces the
  reference's per-peak numpy loops, distributed over the trace
  ensemble; the FFT is ``traces.rfft_udf``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .operators.histogram import bucket_agg, bucket_expr
from .operators.stats import column_ranges
from .traces import rfft_udf  # noqa: F401  (re-export convenience)
from .util import blas_single_thread, local_frame

__all__ = [
    "model_spectrum", "default_guess", "default_bounds", "fit_spectrum",
    "photon_peak_expr", "average_pulses", "fft_ensemble_stats",
    "apply_dpdi", "didv_dvdi", "dpdi_from_didv", "dpdi_table",
    "least_squares_lm",
    "template_twopole_t", "template_threepole_t", "template_fourpole_t",
    "TEMPLATE_MODELS", "template_f", "collect_peak_spectrum",
    "fit_template", "compare_template_fits", "template_energy",
]


# ----------------------------------------------------------------------
# spectrum models (driver-side numpy; photon_calibration.py:188-366)
# ----------------------------------------------------------------------
def _gaussian(x, height, mean, std):
    return height * np.exp(-((x - mean) ** 2) / (2.0 * std ** 2))


def model_spectrum(x: np.ndarray, params, poisson: bool = False,
                   eqspacing: bool = True, npeaks: int = 5) -> np.ndarray:
    """Gaussian-comb spectrum model (photon_calibration.py:297-366).

    Parameter layouts (matching the reference):
    - eqspacing & poisson:  [spacing, stds×n, num_photons, height0]
      with peak heights height0·λ^i/i!·std0/stdᵢ
    - eqspacing, free amp:  [spacing, stds×n, heights×n]
    - free means:           [means×n, stds×n, heights×n]
    """
    x = np.asarray(x, dtype=np.float64)
    out = np.zeros_like(x)
    if eqspacing:
        spacing = params[0]
        stds = np.asarray(params[1:1 + npeaks], dtype=np.float64)
        if poisson:
            lam, h0 = params[1 + npeaks], params[2 + npeaks]
            for i in range(npeaks):
                h = h0 * lam ** i / math.factorial(i) * stds[0] / stds[i]
                out += _gaussian(x, h, spacing * i, stds[i])
        else:
            heights = params[1 + npeaks:1 + 2 * npeaks]
            for i in range(npeaks):
                out += _gaussian(x, heights[i], spacing * i, stds[i])
    else:
        if poisson:
            raise ValueError("poisson requires eqspacing")
        means = params[:npeaks]
        stds = params[npeaks:2 * npeaks]
        heights = params[2 * npeaks:3 * npeaks]
        for i in range(npeaks):
            out += _gaussian(x, heights[i], means[i], stds[i])
    return out


def default_guess(spacing_guess: float, std_guess: float,
                  height_guess: float, npeaks: int = 5,
                  poisson: bool = False, eqspacing: bool = True) -> list:
    """Reference-shaped initial guess (photon_calibration.py:414-437)."""
    if eqspacing:
        if poisson:
            return [spacing_guess] + [std_guess] * npeaks + [1.0, height_guess]
        return [spacing_guess] + [std_guess] * npeaks \
            + [height_guess] * npeaks
    return [spacing_guess * i for i in range(npeaks)] \
        + [std_guess] * npeaks + [height_guess] * npeaks


def default_bounds(guess: list, npeaks: int = 5, poisson: bool = False,
                   eqspacing: bool = True) -> tuple[list, list]:
    """±50% mean/std bounds, [0.25×, 2×] heights
    (photon_calibration.py:438-482)."""
    g = list(guess)
    if eqspacing and poisson:
        m, s, h = g[:1], g[1:1 + npeaks], g[-2:]
        lo = [x * .5 for x in m] + [x * .5 for x in s] \
            + [0.25 * h[0], 0.5 * h[1]]
        hi = [x * 1.5 for x in m] + [x * 1.5 for x in s] \
            + [2.0 * h[0], 1.5 * h[1]]
    else:
        nm = 1 if eqspacing else npeaks
        m, s, h = g[:nm], g[nm:nm + npeaks], g[nm + npeaks:]
        lo = [x * .5 for x in m] + [x * .5 for x in s] + [x * .25 for x in h]
        hi = [x * 1.5 for x in m] + [x * 1.5 for x in s] + [x * 2. for x in h]
    return lo, hi


# ----------------------------------------------------------------------
# bounded Levenberg–Marquardt (scipy-free stand-in for least_squares)
# ----------------------------------------------------------------------
@blas_single_thread()
def least_squares_lm(resid_fn, x0, bounds=None, max_iter: int = 200,
                     tol: float = 1e-12):
    """Minimize ‖resid(p)‖² with numeric Jacobian and box bounds
    (projection). Returns (popt, pcov, pstds) with pcov = (JᵀJ)⁻¹ as in
    the reference's post-fit covariance (photon_calibration.py:577-581).
    Runs with numpy's BLAS pool at one thread (``util.blas_single_thread``).
    """
    p = np.asarray(x0, dtype=np.float64)
    lo = np.full_like(p, -np.inf) if bounds is None else np.asarray(bounds[0])
    hi = np.full_like(p, np.inf) if bounds is None else np.asarray(bounds[1])
    p = np.clip(p, lo, hi)
    lam = 1e-3
    r = resid_fn(p)
    cost = float(r @ r)

    def jac(p, r0):
        J = np.empty((r0.size, p.size))
        for k in range(p.size):
            # absolute floor keeps the difference representable when
            # p[k] ≈ 0 (a pure relative step underflows the residual)
            h = 1.5e-8 * abs(p[k]) + 1e-12
            q = p.copy()
            # difference backward when the forward step would leave the
            # box (a clipped step of 0 would NaN the whole column)
            q[k] = p[k] - h if p[k] + h > hi[k] else p[k] + h
            J[:, k] = (resid_fn(q) - r0) / (q[k] - p[k])
        return J

    J = jac(p, r)
    for _ in range(max_iter):
        g = J.T @ r
        H = J.T @ J
        try:
            step = np.linalg.solve(H + lam * np.diag(np.diag(H) + 1e-12),
                                   -g)
        except np.linalg.LinAlgError:
            lam *= 10
            continue
        p_new = np.clip(p + step, lo, hi)
        r_new = resid_fn(p_new)
        cost_new = float(r_new @ r_new)
        if cost_new < cost:
            if cost - cost_new < tol * max(cost, 1e-30):
                p, r, cost = p_new, r_new, cost_new
                J = jac(p, r)
                break
            p, r, cost = p_new, r_new, cost_new
            J = jac(p, r)
            lam = max(lam / 3, 1e-12)
        else:
            lam *= 10
            if lam > 1e12:
                break
    H = J.T @ J
    try:
        pcov = np.linalg.inv(H)
    except np.linalg.LinAlgError:
        pcov = np.full((p.size, p.size), np.nan)
    return p, pcov, np.sqrt(np.clip(np.diag(pcov), 0, None))


def _auto_spacing(centers: np.ndarray, counts: np.ndarray,
                  width: float) -> float:
    """Seed the comb-spacing guess from the histogram itself: median
    gap between smoothed local maxima (the photon peaks). Robust to
    where the 0-photon peak sits relative to the histogram edge —
    seeding from ``tallest-peak − min`` misreads the 0-peak offset as
    the spacing when the amplitude range extends below zero."""
    c = np.convolve(counts, np.ones(5) / 5.0, mode="same")
    thr = 0.1 * c.max()
    locs: list[int] = []
    for i in range(1, len(c) - 1):
        if c[i] >= c[i - 1] and c[i] > c[i + 1] and c[i] > thr:
            if locs and i - locs[-1] <= 2:          # collapse plateaus
                if c[i] > c[locs[-1]]:
                    locs[-1] = i
            else:
                locs.append(i)
    if len(locs) >= 2:
        return float(np.median(np.diff(centers[locs])))
    peak_b = int(np.argmax(counts[1:])) + 1
    return max(float(centers[peak_b] - centers[0]) + width / 2, width)


# ----------------------------------------------------------------------
# distributed histogram → driver fit (photon_calibration.py:369-612)
# ----------------------------------------------------------------------
def _comb_fit(counts: np.ndarray, lo: float, hi: float, npeaks: int,
              poisson: bool, eqspacing: bool, guess: list | None = None,
              bounds=None):
    """Weighted least-squares Gaussian-comb fit of one equal-width
    histogram over [lo, hi] (photon_calibration.py:414-530): the
    reference-shaped guess and bounds unless given, weights 1/√count
    with zero-count bins excluded. Returns (popt, pcov, pstds, bin
    centers, weighted residual sum of squares)."""
    bins = counts.size
    width = (hi - lo) / bins or 1.0
    centers = lo + (np.arange(bins) + 0.5) * width
    if guess is None:
        guess = default_guess(_auto_spacing(centers, counts, width),
                              2 * width, float(counts.max()), npeaks,
                              poisson, eqspacing)
    if bounds is None:
        bounds = default_bounds(guess, npeaks, poisson, eqspacing)
    w = np.where(counts > 0, 1.0 / np.sqrt(np.where(counts > 0, counts, 1)),
                 0.0)

    def resid(p):
        return (counts - model_spectrum(centers, p, poisson, eqspacing,
                                        npeaks)) * w

    popt, pcov, pstds = least_squares_lm(resid, guess, bounds)
    r = resid(popt)
    return popt, pcov, pstds, centers, float(r @ r)


def fit_spectrum(df: DataFrame, amp_col: str, cut: Column | None = None,
                 poisson: bool = False, eqspacing: bool = True,
                 npeaks: int = 5, guess: list | None = None,
                 bounds=None, bins: int = 200):
    """Histogram the amplitude column distributed, then weighted
    least-squares fit of the Gaussian comb on the collected bins.

    np.histogram parity: equal-width edges over [min, max], rightmost
    bin closed (``histogram.bucket_agg``, NULL amplitudes skipped).
    Weights 1/√count, zero-count bins excluded — exactly the
    reference's residual (:519-530).

    Returns (popt, pcov, pstds, (bin_centers, counts)).
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    if cut is not None:
        df = df.filter(cut)
    lo, hi = map(float, column_ranges(df, [amp_col])[0])
    hist = {r["bucket"]: r["n"] for r in
            bucket_agg(df, F.col(amp_col).cast("double"), lo, hi, bins,
                       F.count(F.lit(1)).alias("n")).collect()}
    counts = np.array([hist.get(b, 0) for b in range(bins)],
                      dtype=np.float64)
    popt, pcov, pstds, centers, _ = _comb_fit(
        counts, lo, hi, npeaks, poisson, eqspacing, guess, bounds)
    return popt, pcov, pstds, (centers, counts)


def fit_spectrum_grouped(df: DataFrame, amp_col: str, group_col: str,
                         poisson: bool = False, eqspacing: bool = True,
                         npeaks: int = 5, bins: int = 200) -> DataFrame:
    """Per-group spectrum fits, fitted in parallel on the executors —
    the many-channel scale path of U3 (SURVEY §2.10: "aggregate in
    Spark → scipy on the driver … optionally ``applyInPandas`` for many
    channels in parallel"; reference loops channels one at a time,
    photon_calibration.py:369-612).

    Three stages, all distributed: per-group [min, max] (one agg,
    broadcast back), per-(group, bin) counts (one shuffle, binned by
    ``histogram.bucket_expr`` with the group's bounds as Columns), then
    ``applyInPandas`` over groups — each task fits its group's
    ``bins``-bin histogram with the same comb-fit core the
    single-spectrum path uses, so ≤ ``bins`` rows per group ever move
    and the fits scale out with the number of groups.

    Returns (group, popt array, pstds array, n_events, fit_cost).
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    a = F.col(amp_col).cast("double")
    df = df.filter(a.isNotNull() & ~F.isnan(a))   # null bin idx would
    mm = (df.groupBy(group_col)                    # poison the fit task
          .agg(F.min(a).alias("__lo__"), F.max(a).alias("__hi__")))
    idx = bucket_expr(a, F.col("__lo__"), F.col("__hi__"), bins)
    hist = (df.join(F.broadcast(mm), group_col)
            .groupBy(F.col(group_col).cast("string").alias("group"),
                     idx.alias("b"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.first("__lo__").alias("lo"),
                 F.first("__hi__").alias("hi")))

    out_schema = ("group string, popt array<double>, "
                  "pstds array<double>, n_events long, fit_cost double")

    def fit_one(pdf: pd.DataFrame) -> pd.DataFrame:
        counts = np.zeros(bins, dtype=np.float64)
        counts[pdf["b"].to_numpy()] = pdf["n"].to_numpy()
        popt, _, pstds, _, cost = _comb_fit(
            counts, float(pdf["lo"].iloc[0]), float(pdf["hi"].iloc[0]),
            npeaks, poisson, eqspacing)
        return pd.DataFrame({
            "group": [pdf["group"].iloc[0]],
            "popt": [list(map(float, popt))],
            "pstds": [list(map(float, pstds))],
            "n_events": [int(counts.sum())],
            "fit_cost": [cost],
        })

    return hist.groupBy("group").applyInPandas(fit_one, out_schema)


def photon_peak_expr(amp_col: Column | str, spacing: float,
                     stds: list[float], n_sigma: float = 2.0) -> Column:
    """Peak-assignment expression: peak k iff |amp − k·spacing| <
    n_sigma·std_k, else NULL — the photon_cut_dict analog as one native
    CASE chain, registrable as an engine cut."""
    a = F.col(amp_col) if isinstance(amp_col, str) else amp_col
    expr = None
    for k, std in enumerate(stds):
        cond = F.abs(a - k * spacing) < n_sigma * std
        expr = F.when(cond, F.lit(k)) if expr is None else expr.when(
            cond, F.lit(k))
    return expr.otherwise(F.lit(None).cast("int"))


# ----------------------------------------------------------------------
# grouped trace averaging (A14, photon_calibration.py:959-993)
# ----------------------------------------------------------------------
def average_pulses(traces_df: DataFrame, peak_col: str = "peak",
                   trace_col: str = "trace",
                   baseline_samples: int | None = None) -> DataFrame:
    """Per-peak mean pulse, baseline-subtracted: (peak, pos, value).

    ``posexplode → groupBy(peak, pos).avg`` — one shuffle keyed by
    (peak, pos); the baseline (mean of the averaged pulse's first
    ``baseline_samples`` samples, reference trigger_index−100) is a
    per-peak scalar broadcast back.
    """
    ex = traces_df.select(F.col(peak_col).alias("peak"),
                          F.posexplode(F.col(trace_col)).alias("pos", "v"))
    means = ex.groupBy("peak", "pos").agg(F.avg("v").alias("value"))
    if baseline_samples is None:
        return means
    base = (means.filter(F.col("pos") < baseline_samples)
            .groupBy("peak").agg(F.avg("value").alias("__base__")))
    return (means.join(F.broadcast(base), "peak")
            .select("peak", "pos",
                    (F.col("value") - F.col("__base__")).alias("value")))


def subtract_zero_photon_means(means: DataFrame, peak_col: str = "peak",
                               pos_col: str = "pos",
                               val_col: str = "value") -> DataFrame:
    """Subtract the zero-photon mean pulse from every higher peak's
    mean (photon_calibration.py:1192-1275 ``subtract_zero_photon_template``
    — the reference loops peaks >= 1 and leaves peak 0 untouched).

    One broadcast join on ``pos`` (the zero-photon pulse is a single
    trace-length row set) — no shuffle of the mean frame.
    """
    zero = (means.filter(F.col(peak_col) == 0)
            .select(F.col(pos_col),
                    F.col(val_col).alias("__zero__")))
    return (means.join(F.broadcast(zero), pos_col, "left")
            .select(peak_col, pos_col,
                    F.when(F.col(peak_col) == 0, F.col(val_col))
                    .otherwise(F.col(val_col)
                               - F.coalesce(F.col("__zero__"), F.lit(0.0)))
                    .alias(val_col)))


def crosstalk_template(template_0p: np.ndarray, fs: float,
                       pretrigger_window: float, crosstalk_length: float,
                       window_plus: int, window_minus: int) -> np.ndarray:
    """Crosstalk (TTL edge) template from the zero-photon mean pulse
    (photon_calibration.py:1044-1104): windows around the rising and
    falling TTL edges, each re-baselined to the mean of the quiet span
    ``[edge − 5·window_minus, edge − window_minus)`` before it; zero
    elsewhere. Driver-side numpy — the input is one trace-length array.
    """
    template_0p = np.asarray(template_0p, dtype=np.float64)
    out = np.zeros_like(template_0p)
    for edge_t in (pretrigger_window, pretrigger_window + crosstalk_length):
        edge = int(edge_t * fs)
        start, stop = edge - window_minus, edge + window_plus
        avg_start = edge - 5 * window_minus
        quiet = template_0p[avg_start:start]
        base = float(np.mean(quiet)) if quiet.size else 0.0
        out[start:stop] = template_0p[start:stop] - base
    return out


def subtract_template_expr(trace_col: Column | str,
                           template: np.ndarray) -> Column:
    """Per-trace template subtraction as a native array expression
    (photon_calibration.py:1118-1123 subtracts in a driver loop; here
    ``zip_with`` against a literal array runs in whole-stage codegen on
    the executors — the template is a few KB of plan constant)."""
    col = F.col(trace_col) if isinstance(trace_col, str) else trace_col
    lit = F.array(*[F.lit(float(x)) for x in np.asarray(template)])
    return F.zip_with(col, lit, lambda x, t: x - t)


def subtract_template_means(means: DataFrame, template: np.ndarray,
                            pos_col: str = "pos",
                            val_col: str = "value") -> DataFrame:
    """Subtract a template from every peak's mean pulse — the mean-frame
    half of ``subtract_crosstalk_template``
    (photon_calibration.py:1106-1190). Broadcast join on ``pos``."""
    tmpl = local_frame(
        means.sparkSession,
        [(i, float(v)) for i, v in enumerate(np.asarray(template))],
        f"{pos_col} int, __tmpl__ double")
    return (means.join(F.broadcast(tmpl), pos_col, "left")
            .withColumn(val_col,
                        F.col(val_col)
                        - F.coalesce(F.col("__tmpl__"), F.lit(0.0)))
            .drop("__tmpl__"))


# ----------------------------------------------------------------------
# per-bin FFT ensemble stats (A15, photon_calibration.py:1340-1400)
# ----------------------------------------------------------------------
def fft_ensemble_stats(traces_df: DataFrame, fs: float,
                       peak_col: str = "peak",
                       trace_col: str = "trace") -> DataFrame:
    """(peak, bin, mean_re, mean_im, std_re, std_im, psd, n) over the
    trace ensemble per photon peak.

    FFT normalization fft/√(n·fs) (:1363); complex std is
    std(real)+j·std(imag) of the ensemble over √N (population std,
    matching np.std ddof=0); PSD = √⟨|fft|²⟩ of the normalized FFT
    (:1392). One vectorized pandas UDF, then native explode+groupBy.
    """
    fft = rfft_udf(fs, inv_sqrt_nfs=True)(F.col(trace_col))
    spec = traces_df.select(F.col(peak_col).alias("peak"), fft.alias("a"))
    ex = spec.select(
        "peak",
        F.posexplode(F.arrays_zip(F.col("a.re"), F.col("a.im")))
         .alias("bin", "v"))
    re, im = F.col("v.re"), F.col("v.im")
    n = F.count(F.lit(1))
    return (ex.groupBy("peak", "bin")
            .agg(F.avg(re).alias("mean_re"), F.avg(im).alias("mean_im"),
                 (F.stddev_pop(re) / F.sqrt(n)).alias("std_re"),
                 (F.stddev_pop(im) / F.sqrt(n)).alias("std_im"),
                 F.sqrt(F.avg(re * re + im * im)).alias("psd"),
                 n.alias("n")))


def apply_dpdi(stats_df: DataFrame, dpdi_df: DataFrame) -> DataFrame:
    """Current→power via the dPdI model table (photon_calibration.py:
    1316-1323, 1394-1400): broadcast join on the frequency bin, complex
    multiply mean_p = mean_i·dpdi, errors per the reference formula
    (σ_re = √((mean_re·err_re)² + (std_re·|dpdi|)²), imag analog).
    """
    d = dpdi_df.select(
        F.col("freq_index").alias("bin"),
        F.col("value_real").alias("d_re"), F.col("value_imag").alias("d_im"),
        F.col("err_real").alias("e_re"), F.col("err_imag").alias("e_im"))
    j = stats_df.join(F.broadcast(d), "bin")
    mag = F.sqrt(F.col("d_re") * F.col("d_re")
                 + F.col("d_im") * F.col("d_im"))
    return j.select(
        "peak", "bin",
        (F.col("mean_re") * F.col("d_re")
         - F.col("mean_im") * F.col("d_im")).alias("mean_p_re"),
        (F.col("mean_re") * F.col("d_im")
         + F.col("mean_im") * F.col("d_re")).alias("mean_p_im"),
        F.sqrt((F.col("mean_re") * F.col("e_re")) ** 2
               + (F.col("std_re") * mag) ** 2).alias("std_p_re"),
        F.sqrt((F.col("mean_im") * F.col("e_im")) ** 2
               + (F.col("std_im") * mag) ** 2).alias("std_p_im"))


# ----------------------------------------------------------------------
# dIdV-model dPdI from the published Irwin-Hilton small-signal TES
# formalism (Irwin & Hilton, "Transition-Edge Sensors", 2005) — the
# public-formula replacement for the reference's qetpy call
# (photon_calibration.py:1277-1299 via get_dPdI_with_uncertainties).
# ----------------------------------------------------------------------
def didv_dvdi(freqs: np.ndarray, params: dict) -> np.ndarray:
    """Complex fitted dV/dI of the TES bias circuit at ``freqs``, in
    the standard 1/2/3-pole parametrization of dIdV fits (the same
    A/B/C, τ1/τ2/τ3 convention the reference's qetpy results carry):

        1-pole:  dVdI = A
        2-pole:  dVdI = A·(1 + jωτ2) + B/(1 + jωτ1)
        3-pole:  dVdI = A·(1 + jωτ2) + B/(1 + jωτ1 − C/(1 + jωτ3))

    ``params`` holds A (required) and optionally B, C, tau1, tau2,
    tau3 (absent → that pole collapses: C=0 gives the 2-pole form,
    B=0 the 1-pole form)."""
    w = 2j * np.pi * np.asarray(freqs, dtype=np.float64)
    A = params["A"]
    B = params.get("B", 0.0)
    C = params.get("C", 0.0)
    tau1 = params.get("tau1", 0.0)
    tau2 = params.get("tau2", 0.0)
    tau3 = params.get("tau3", 0.0)
    out = A * (1.0 + w * tau2)
    if B:
        denom = 1.0 + w * tau1
        if C:
            denom = denom - C / (1.0 + w * tau3)
        out = out + B / denom
    return out


def dpdi_from_didv(freqs: np.ndarray, didv_result: dict,
                   n_mc: int = 0, seed: int = 0):
    """dPdI(ω) (+ optional 1σ uncertainty) from a dIdV fit result.

    Small-signal derivation: with the TES biased through load
    resistance ``rl`` and inductance ``L``, the circuit satisfies
    dVdI(ω) = rl + jωL + Z_tes(ω), and the power dissipated in the
    TES is P = I·V_tes with V_tes0 = i0·r0, so

        dP/dI = V_tes0 + i0·dV_tes/dI = i0·(r0 + dVdI(ω) − rl − jωL)

    — every term from the published model; no qetpy.

    ``didv_result`` keys: ``params`` (see :func:`didv_dvdi`), ``i0``,
    ``r0``, ``rl``, ``L``; optional ``cov``+``cov_labels`` (parameter
    covariance). With ``n_mc > 0`` and a covariance present, the
    uncertainty is propagated by deterministic Monte-Carlo over the
    fit parameters (n_mc Gaussian draws; returns per-frequency complex
    std as ``err_re + 1j·err_im``), matching the reference's
    with-uncertainties variant in spirit. Returns ``(dpdi, dpdi_err)``
    with ``dpdi_err=None`` when no covariance is given.
    """
    freqs = np.asarray(freqs, dtype=np.float64)
    i0, r0 = float(didv_result["i0"]), float(didv_result["r0"])
    rl = float(didv_result["rl"])
    ind = float(didv_result.get("L", 0.0))
    w = 2j * np.pi * freqs

    def one(params: dict) -> np.ndarray:
        return i0 * (r0 + didv_dvdi(freqs, params) - rl - w * ind)

    dpdi = one(didv_result["params"])
    cov = didv_result.get("cov")
    if cov is None or n_mc <= 0:
        return dpdi, None
    labels = list(didv_result.get("cov_labels") or
                  sorted(didv_result["params"]))
    rng = np.random.default_rng(seed)
    draws = rng.multivariate_normal(
        [didv_result["params"].get(k, 0.0) for k in labels],
        np.asarray(cov, dtype=np.float64), size=n_mc)
    samples = np.stack([
        one({**didv_result["params"], **dict(zip(labels, d))})
        for d in draws])
    err = samples.real.std(axis=0) + 1j * samples.imag.std(axis=0)
    return dpdi, err


def dpdi_table(spark: SparkSession, dpdi: np.ndarray,
               dpdi_err: np.ndarray | None = None) -> DataFrame:
    """Render a driver-side dPdI curve as the (freq_index, value_real,
    value_imag, err_real, err_imag) model table ``apply_dpdi``
    consumes — the same shape ``sources.load_filterfile`` produces, so
    the dIdV-model and filter-file paths are interchangeable
    downstream. n_freqs rows; always broadcast."""
    dpdi = np.asarray(dpdi)
    err = (np.zeros_like(dpdi) if dpdi_err is None
           else np.asarray(dpdi_err))
    rows = [(int(i), float(v.real), float(v.imag),
             float(e.real), float(e.imag))
            for i, (v, e) in enumerate(zip(dpdi, err))]
    return local_frame(spark, rows,
                       "freq_index int, value_real double, "
                       "value_imag double, err_real double, "
                       "err_imag double")


# ----------------------------------------------------------------------
# pulse-template fit (U3, photon_calibration.py:1440-1998)
# ----------------------------------------------------------------------
def template_twopole_t(t_arr: np.ndarray, amp: float, tau_f: float,
                       tau_r: float, t0: float) -> np.ndarray:
    """Canonical two-pole pulse A·(e^{−(t−t0)/τf} − e^{−(t−t0)/τr}) for
    t ≥ t0 (the reference's twopole template family,
    photon_calibration.py:1470-1495)."""
    t = np.asarray(t_arr, dtype=np.float64) - t0
    p = np.where(t >= 0,
                 np.exp(-np.clip(t, 0, None) / tau_f)
                 - np.exp(-np.clip(t, 0, None) / tau_r), 0.0)
    out = amp * p
    if np.isnan(out).any() or np.isinf(out).all():
        return np.zeros_like(out)
    return out


def template_threepole_t(t_arr: np.ndarray, amp1: float, amp2: float,
                         tau_f1: float, tau_f2: float, tau_r: float,
                         t0: float) -> np.ndarray:
    """Three-pole pulse: two fall times sharing one rise,

        A·(e^{−t/τf1} − e^{−t/τr}) + B·(e^{−t/τf2} − e^{−t/τr})

    for t ≥ t0 — the published TES pulse-shape algebra behind the
    reference's qetpy ``make_template_threepole`` call
    (photon_calibration.py:1497-1515). Parameter order matches the
    reference's (amp1, amp2, fall_1, fall_2, rise) so ``fit_template``
    guesses/bounds line up positionally."""
    t = np.clip(np.asarray(t_arr, dtype=np.float64) - t0, 0, None)
    on = np.asarray(t_arr, dtype=np.float64) >= t0
    rise = np.exp(-t / tau_r)
    p = amp1 * (np.exp(-t / tau_f1) - rise) \
        + amp2 * (np.exp(-t / tau_f2) - rise)
    out = np.where(on, p, 0.0)
    if np.isnan(out).any() or np.isinf(out).all():
        return np.zeros_like(out)
    return out


def template_fourpole_t(t_arr: np.ndarray, amp1: float, amp2: float,
                        amp3: float, tau_f1: float, tau_f2: float,
                        tau_f3: float, tau_r: float,
                        t0: float) -> np.ndarray:
    """Four-pole pulse: three fall times sharing one rise,

        A·(e^{−t/τf1} − e^{−t/τr}) + B·(e^{−t/τf2} − e^{−t/τr})
          + C·(e^{−t/τf3} − e^{−t/τr})

    for t ≥ t0 (reference's qetpy ``make_template_fourpole``,
    photon_calibration.py:1525-1544)."""
    t = np.clip(np.asarray(t_arr, dtype=np.float64) - t0, 0, None)
    on = np.asarray(t_arr, dtype=np.float64) >= t0
    rise = np.exp(-t / tau_r)
    p = amp1 * (np.exp(-t / tau_f1) - rise) \
        + amp2 * (np.exp(-t / tau_f2) - rise) \
        + amp3 * (np.exp(-t / tau_f3) - rise)
    out = np.where(on, p, 0.0)
    if np.isnan(out).any() or np.isinf(out).all():
        return np.zeros_like(out)
    return out


#: template family registry — name → (model fn, n free params before t0)
TEMPLATE_MODELS: dict = {
    "twopole": (template_twopole_t, 3),
    "threepole": (template_threepole_t, 5),
    "fourpole": (template_fourpole_t, 7),
}


def template_f(template_t: np.ndarray, fs: float) -> np.ndarray:
    """Frequency-domain template: fft/√(n·fs)
    (photon_calibration.py:1495)."""
    return np.fft.fft(template_t) / np.sqrt(template_t.size * fs)


def collect_peak_spectrum(stats_df: DataFrame, peak: int,
                          re_col: str = "mean_p_re",
                          im_col: str = "mean_p_im",
                          sre_col: str = "std_p_re",
                          sim_col: str = "std_p_im"):
    """Collect one peak's (mean, std) complex spectrum from the
    distributed ensemble-stat frame, ordered by bin. The frame is
    n_freqs rows — the correct driver-side handoff size."""
    rows = (stats_df.filter(F.col("peak") == peak)
            .orderBy("bin").collect())
    mean = np.array([r[re_col] for r in rows]) \
        + 1j * np.array([r[im_col] for r in rows])
    std = np.array([r[sre_col] for r in rows]) \
        + 1j * np.array([r[sim_col] for r in rows])
    return mean, std


def fit_template(mean_p_f: np.ndarray, std_p_f: np.ndarray,
                 freqs: np.ndarray, fs: float, t_arr: np.ndarray,
                 t0: float, guess, bounds=None,
                 f_fit_cutoff: float | None = None,
                 model=template_twopole_t):
    """Weighted complex least-squares of a pulse model against the
    ensemble-mean spectrum (photon_calibration.py:1799-1830): residuals
    are interleaved (re·w_re, im·w_im) with w = 1/std, NaN/inf weights
    and the DC bin zeroed, bins above ``f_fit_cutoff`` excluded.

    ``mean_p_f``/``std_p_f`` come from the distributed
    fft_ensemble_stats → apply_dpdi pipeline via collect_peak_spectrum;
    the fit itself is a driver-side n_freqs-point problem.
    """
    with np.errstate(divide="ignore"):
        w_re = 1.0 / std_p_f.real
        w_im = 1.0 / std_p_f.imag
    for w in (w_re, w_im):
        w[~np.isfinite(w)] = 0.0
        w[0] = 0.0
        if f_fit_cutoff is not None:
            w[np.abs(freqs[:w.size]) > f_fit_cutoff] = 0.0

    def resid(params):
        m = template_f(model(t_arr, *params, t0), fs)[:mean_p_f.size]
        diff = mean_p_f - m
        out = np.empty(mean_p_f.size * 2)
        out[0::2] = diff.real * w_re
        out[1::2] = diff.imag * w_im
        return out

    return least_squares_lm(resid, guess, bounds)


def compare_template_fits(mean_p_f: np.ndarray, std_p_f: np.ndarray,
                          freqs: np.ndarray, fs: float,
                          t_arr: np.ndarray, t0: float,
                          guesses: dict, bounds: dict | None = None,
                          f_fit_cutoff: float | None = None) -> list[dict]:
    """Fit every template family in ``guesses`` (name → guess vector,
    names from :data:`TEMPLATE_MODELS`) against one peak spectrum and
    return a comparison table: ``[{model, n_params, popt, pstds, cost,
    aic}]`` sorted by AIC (cost = weighted residual sum of squares;
    AIC = 2k + n·ln(cost/n)) — the model-selection step the reference
    leaves to the user's choice of ``self.model``
    (photon_calibration.py:1556-1603)."""
    rows = []
    for name, guess in guesses.items():
        model, n_par = TEMPLATE_MODELS[name]
        if len(guess) != n_par:
            raise ValueError(f"{name} expects {n_par} params, "
                             f"got {len(guess)}")
        popt, _, pstds = fit_template(
            mean_p_f, std_p_f, freqs, fs, t_arr, t0, guess,
            None if bounds is None else bounds.get(name),
            f_fit_cutoff, model=model)
        m = template_f(model(t_arr, *popt, t0), fs)[:mean_p_f.size]
        with np.errstate(divide="ignore"):
            w_re = 1.0 / std_p_f.real
            w_im = 1.0 / std_p_f.imag
        for w in (w_re, w_im):
            w[~np.isfinite(w)] = 0.0
            w[0] = 0.0
            if f_fit_cutoff is not None:
                w[np.abs(freqs[:w.size]) > f_fit_cutoff] = 0.0
        diff = mean_p_f - m
        cost = float(np.sum((diff.real * w_re) ** 2
                            + (diff.imag * w_im) ** 2))
        n_pts = int(np.count_nonzero(w_re) + np.count_nonzero(w_im))
        aic = 2 * n_par + n_pts * np.log(max(cost, 1e-300) / max(n_pts, 1))
        rows.append({"model": name, "n_params": n_par,
                     "popt": [float(p) for p in popt],
                     "pstds": [float(s) for s in pstds],
                     "cost": cost, "aic": float(aic)})
    return sorted(rows, key=lambda r: r["aic"])


def template_energy(template_t: np.ndarray, fs: float) -> float:
    """A17 driver-side: energy integral Σp(t)/fs of a fitted template
    (photon_calibration.py:2063-2073). The distributed per-trace
    variant is traces.trace_energy."""
    return float(np.sum(template_t) / fs)


class PhotonCalibration:
    """Facade mirroring the reference's ``PhotonCalibration`` class
    (photon_calibration.py): one object per (event table, amplitude
    column) that walks the demo workflow — spectrum fit → peak
    assignment → trace ensembles → frequency-domain template → energy.

    Every heavy step stays distributed (histogram, peak tagging, pulse
    averaging, FFT ensemble stats); only the tiny aggregates (histogram
    bins, one peak's spectrum) cross to the driver for the scipy-style
    LM fits, exactly as laid out in SURVEY.md §2.10 U3.
    """

    def __init__(self, events: DataFrame, amp_col: str,
                 traces: DataFrame | None = None, fs: float = 1.25e6,
                 trace_col: str = "trace"):
        self._events = events
        self._amp_col = amp_col
        self._traces = traces
        self._fs = float(fs)
        self._trace_col = trace_col
        self.popt = None
        self.pstds = None
        self.pcov = None
        self.hist = None
        self._eqspacing = True
        self._npeaks = None
        self._template_fits: dict[int, tuple] = {}

    # ------------------------------------------------------------------
    def fit_spectrum(self, cut: Column | None = None, poisson: bool = False,
                     eqspacing: bool = True, npeaks: int = 5,
                     guess: list | None = None, bounds=None,
                     bins: int = 200):
        """Distributed histogram → driver Gaussian-comb fit
        (photon_calibration.py:369-612). Stores popt/pstds on self."""
        self.popt, self.pcov, self.pstds, self.hist = fit_spectrum(
            self._events, self._amp_col, cut=cut, poisson=poisson,
            eqspacing=eqspacing, npeaks=npeaks, guess=guess,
            bounds=bounds, bins=bins)
        self._eqspacing = eqspacing
        self._npeaks = npeaks
        return self.popt, self.pstds

    @property
    def spacing(self) -> float:
        """Fitted peak spacing (equal-spacing model parameter 0)."""
        if self.popt is None:
            raise RuntimeError("call fit_spectrum() first")
        if not self._eqspacing:
            raise RuntimeError("spacing is only defined for the "
                               "equal-spacing model")
        return float(self.popt[0])

    @property
    def peak_stds(self) -> list[float]:
        if self.popt is None:
            raise RuntimeError("call fit_spectrum() first")
        return [float(s) for s in self.popt[1:1 + self._npeaks]]

    def peak_expr(self, n_sigma: float = 2.0) -> Column:
        """Peak-assignment CASE chain from the fitted comb — the
        photon_cut_dict analog (photon_calibration.py:297-366)."""
        return photon_peak_expr(self._amp_col, self.spacing,
                                self.peak_stds, n_sigma=n_sigma)

    def tagged_traces(self, n_sigma: float = 2.0,
                      join_keys: tuple[str, ...] = ("series_number",
                                                    "event_number")
                      ) -> DataFrame:
        """Traces joined to their fitted peak tag (broadcast-safe only
        when the event side is pre-filtered; here both are full tables,
        so it is a plain equi-join on the trace keys)."""
        if self._traces is None:
            raise ValueError("PhotonCalibration built without traces")
        ev = self._events.select(*join_keys,
                                 self.peak_expr(n_sigma).alias("peak")) \
            .filter(F.col("peak").isNotNull())
        return self._traces.join(ev, on=list(join_keys))

    # ------------------------------------------------------------------
    def average_pulses(self, n_sigma: float = 2.0,
                       baseline_samples: int | None = None) -> DataFrame:
        """Per-peak mean pulse (photon_calibration.py:959-993)."""
        return average_pulses(self.tagged_traces(n_sigma),
                              trace_col=self._trace_col,
                              baseline_samples=baseline_samples)

    def fft_stats(self, n_sigma: float = 2.0) -> DataFrame:
        """Per-(peak, freq-bin) FFT ensemble stats
        (photon_calibration.py:1340-1400)."""
        return fft_ensemble_stats(self.tagged_traces(n_sigma), self._fs,
                                  trace_col=self._trace_col)

    def fit_peak_template(self, stats_df: DataFrame, peak: int,
                          t_arr: np.ndarray, t0: float, guess,
                          bounds=None, f_fit_cutoff: float | None = None,
                          re_col: str = "mean_re", im_col: str = "mean_im",
                          sre_col: str = "std_re", sim_col: str = "std_im",
                          model=template_twopole_t):
        """Collect one peak's spectrum and LM-fit the two-pole template
        (photon_calibration.py:1754-1998). Returns (popt, pcov, pstds);
        the fit is also stored for the energy/PCE derivations."""
        mean, std = collect_peak_spectrum(stats_df, peak, re_col=re_col,
                                          im_col=im_col, sre_col=sre_col,
                                          sim_col=sim_col)
        freqs = np.fft.rfftfreq(t_arr.size, d=1.0 / self._fs)
        popt, pcov, pstds = fit_template(mean, std, freqs, self._fs, t_arr,
                                         t0, guess, bounds=bounds,
                                         f_fit_cutoff=f_fit_cutoff,
                                         model=model)
        self._template_fits[int(peak)] = (np.asarray(popt, dtype=float),
                                          np.asarray(pcov, dtype=float),
                                          np.asarray(t_arr, dtype=float),
                                          float(t0), model)
        return popt, pcov, pstds

    def template_energy(self, template_t: np.ndarray) -> float:
        """Energy integral of a fitted template (A17)."""
        return template_energy(template_t, self._fs)

    # ------------------------------------------------------------------
    # calibration headline numbers (photon_calibration.py:614-691,
    # 2076-2145)
    # ------------------------------------------------------------------
    def spectrum_energy_res(self, photon_energy: float, peak: int = 0
                            ) -> tuple[float, float]:
        """Energy resolution from the fitted comb
        (photon_calibration.py:614-691): ``E_photon · width / spacing``
        with the fit covariance propagated through the gradient.

        Documented deviation: the reference's gradient terms multiply by
        ``spacing**-2`` written as ``peak_spacing**-2`` applied with a
        ``/`` (:660-662) — algebraically wrong; the analytic gradient
        (∂/∂s = -E·w/s², ∂/∂w = E/s) is used here. Our comb model fits
        a per-peak width, so ``peak`` selects which width defines the
        resolution (the reference's shared-width model has one).
        """
        if self.popt is None:
            raise RuntimeError("call fit_spectrum() first")
        if not self._eqspacing:
            raise RuntimeError("energy resolution needs the equal-spacing model")
        s = float(self.popt[0])
        w_idx = 1 + int(peak)
        w = float(self.popt[w_idx])
        res = photon_energy * w / s
        grad = np.zeros(len(self.popt))
        grad[0] = -photon_energy * w / s ** 2
        grad[w_idx] = photon_energy / s
        err = float(np.sqrt(grad @ (np.asarray(self.pcov) @ grad)))
        return float(res), err

    def _template_energy_of(self, peak: int, params: np.ndarray) -> float:
        _, _, t_arr, t0, model = self._template_fits[int(peak)]
        return float(np.sum(model(t_arr, *params, t0)) / self._fs)

    def template_energy_uncertainty(self, peak: int
                                    ) -> tuple[float, float]:
        """Template energy ± uncertainty via numerical Jacobian against
        the template-fit covariance (photon_calibration.py:2076-2116;
        the reference's drawn-sample array is computed but unused there
        — only the Jacobian propagation matters)."""
        if int(peak) not in self._template_fits:
            raise RuntimeError("call fit_peak_template() for this peak first")
        popt, pcov, *_ = self._template_fits[int(peak)]
        energy = self._template_energy_of(peak, popt)
        jac = np.zeros_like(popt)
        for i in range(popt.size):
            eps = 1e-8 * (abs(popt[i]) if popt[i] != 0 else 1.0)
            up = popt.copy()
            up[i] += eps
            jac[i] = (self._template_energy_of(peak, up) - energy) / eps
        std = float(np.sqrt(jac @ (pcov @ jac)))
        return energy, std

    def phonon_collection_efficiency(self, peak: int,
                                     photon_energy_j: float
                                     ) -> tuple[float, float]:
        """PCE = template energy / (n_photons · E_photon)
        (photon_calibration.py:2118-2145)."""
        photon_energy = photon_energy_j * int(peak)
        if photon_energy == 0:
            raise ValueError("peak 0 carries no photon energy")
        energy, std = self.template_energy_uncertainty(peak)
        return energy / photon_energy, std / photon_energy

    def fits_comparison_table(self):
        """Per-peak template-fit parameters ± 1σ as a pandas frame —
        the headless ``print_fits_comparison_table`` analog
        (photon_calibration.py:2190-2466 renders the same numbers with
        tabulate). One row per fitted peak, one (value, err) pair per
        model parameter."""
        import pandas as pd
        rows = []
        for peak in sorted(self._template_fits):
            popt, pcov, *_ = self._template_fits[peak]
            pstds = np.sqrt(np.diag(pcov))
            row: dict = {"peak": peak}
            for i, (v, e) in enumerate(zip(popt, pstds)):
                row[f"p{i}"] = float(v)
                row[f"p{i}_err"] = float(e)
            rows.append(row)
        return pd.DataFrame(rows)

    # ------------------------------------------------------------------
    # reference-name API (photon_calibration.py) — the reference's
    # workflow verbs, delegating to the distributed implementations
    # above; "plot" variants return the plot-ready data (headless)
    # ------------------------------------------------------------------
    calculate_average_pulses = average_pulses           # :959

    def load_events(self, photon_peak_number: int,
                    number_events_limit: int = 1000,
                    n_sigma: float = 2.0) -> DataFrame:
        """photon_calibration.py:841 — one fitted peak's traces,
        row-capped (the reference's default 1000-event cap)."""
        return (self.tagged_traces(n_sigma)
                .filter(F.col("peak") == int(photon_peak_number))
                .limit(int(number_events_limit)))

    def define_photon_cut(self, peak_number: int, width_sigma: float,
                          cut_name: str, ana=None) -> Column:
        """photon_calibration.py:755 — window cut around one fitted
        peak (center ± width_sigma·σ); registered on ``ana`` when an
        Analyzer is given, always returned as a Column."""
        center = self.spacing * int(peak_number)
        width = float(width_sigma) * self.peak_stds[int(peak_number)]
        pred = F.col(self._amp_col).between(center - width, center + width)
        if ana is not None:
            ana.register_cut(pred, cut_name, overwrite=True,
                             metadata={"kind": "photon_peak",
                                       "peak": int(peak_number)})
        return pred

    def calculate_dPdI(self, dpdi_df: DataFrame | None = None,
                       didv_result: dict | None = None,
                       n_samples: int | None = None,
                       n_mc: int = 0) -> DataFrame:
        """photon_calibration.py:1277 — attach the dPdI model table.

        Two paths, mirroring the reference's:

        - ``dpdi_df``: the (freq_index, value_real, value_imag,
          err_real, err_imag) table from ``sources.load_filterfile``
          — the filter-file path (:1301-1325).
        - ``didv_result``: a dIdV fit result dict (see
          :func:`dpdi_from_didv`) — the model path, computed from the
          published Irwin-Hilton small-signal formalism instead of
          qetpy. ``n_samples`` sets the trace length for the rfft
          frequency grid (defaults to the fitted ensemble's bin count
          convention: pass it when attaching before any fit).
        """
        if dpdi_df is None:
            if didv_result is None:
                raise ValueError(
                    "pass dpdi_df (filter-file path, "
                    "sources.load_filterfile) or didv_result "
                    "(dIdV-model path, dpdi_from_didv)")
            if n_samples is None:
                raise ValueError(
                    "n_samples (trace length) is required for the "
                    "dIdV-model path's frequency grid")
            freqs = np.fft.rfftfreq(int(n_samples), d=1.0 / self._fs)
            dpdi, err = dpdi_from_didv(freqs, didv_result, n_mc=n_mc)
            dpdi_df = dpdi_table(self._events.sparkSession, dpdi, err)
        self._dpdi = dpdi_df
        return dpdi_df

    def calculate_frequency_domain_templates(self, n_sigma: float = 2.0
                                             ) -> DataFrame:
        """photon_calibration.py:1330 — per-(peak, bin) FFT ensemble
        stats in the current domain; converted to the power domain when
        a dPdI table was attached via ``calculate_dPdI``."""
        cur = self.fft_stats(n_sigma)
        dpdi = getattr(self, "_dpdi", None)
        return cur if dpdi is None else apply_dpdi(cur, dpdi)

    def fit_templates(self, photon_peak_number: int, stats_df: DataFrame,
                      t_arr: np.ndarray, t0: float, guess, **kw):
        """photon_calibration.py:1754 — reference-name wrapper of
        ``fit_peak_template`` (same LM fit, same stored covariance)."""
        return self.fit_peak_template(stats_df, photon_peak_number,
                                      t_arr, t0, guess, **kw)

    def get_current_template(self, photon_peak_number: int) -> np.ndarray:
        """photon_calibration.py:2001 — evaluate the fitted time-domain
        template for one peak."""
        if int(photon_peak_number) not in self._template_fits:
            raise RuntimeError("call fit_templates() for this peak first")
        popt, _, t_arr, t0, model = self._template_fits[int(photon_peak_number)]
        return model(t_arr, *popt, t0)

    def get_crosstalk_template(self, crosstalk_length: float,
                               crosstalk_window_plus: int,
                               crosstalk_window_minus: int,
                               pretrigger_window: float,
                               means: DataFrame | None = None,
                               n_sigma: float = 2.0) -> np.ndarray:
        """photon_calibration.py:1044 — crosstalk (TTL-edge) template
        from the zero-photon mean pulse; the mean frame is computed
        distributed, only the one trace-length pulse is collected."""
        m = means if means is not None else self.average_pulses(n_sigma)
        rows = (m.filter(F.col("peak") == 0).orderBy("pos")
                .select("value").collect())
        pulse = np.array([r["value"] for r in rows], dtype=np.float64)
        self._crosstalk = crosstalk_template(
            pulse, self._fs, pretrigger_window, crosstalk_length,
            crosstalk_window_plus, crosstalk_window_minus)
        return self._crosstalk

    def subtract_crosstalk_template(self, means: DataFrame) -> DataFrame:
        """photon_calibration.py:1106 — subtract the stored crosstalk
        template from every peak's mean pulse (broadcast join on pos)."""
        tmpl = getattr(self, "_crosstalk", None)
        if tmpl is None:
            raise RuntimeError("call get_crosstalk_template() first")
        return subtract_template_means(means, tmpl)

    def subtract_zero_photon_template(self, means: DataFrame) -> DataFrame:
        """photon_calibration.py:1192 — subtract the zero-photon mean
        from every higher peak's mean (peak 0 untouched)."""
        return subtract_zero_photon_means(means)

    # calibration headline numbers under the reference's names
    get_spectrum_energy_res = spectrum_energy_res        # :614
    get_template_energy_uncertainty = template_energy_uncertainty  # :2076
    # (the reference's method name carries this typo — keep both)
    get_template_phonon_collection_effiency = phonon_collection_efficiency
    get_template_phonon_collection_efficiency = phonon_collection_efficiency

    def print_fits_comparison_table(self) -> None:
        """photon_calibration.py:2190 — render ``fits_comparison_table``
        to stdout (the engine's only print surface)."""
        print(self.fits_comparison_table().to_string(index=False))

    def get_nice_photon_spectrum_plot(self, bins: int | None = None):
        """photon_calibration.py:693 analog — (bin centers, counts,
        fitted comb parameters): the data behind the spectrum plot;
        headless (no rendering)."""
        if self.hist is None:
            raise RuntimeError("call fit_spectrum() first")
        centers, counts = self.hist
        return centers, counts, self.popt

    def get_correlation_matrix_visualization(self, photon_peak_number: int
                                             ) -> np.ndarray:
        """photon_calibration.py:2147 analog — the template-fit
        parameter correlation matrix (data behind the visualization)."""
        if int(photon_peak_number) not in self._template_fits:
            raise RuntimeError("call fit_templates() for this peak first")
        _, pcov, *_ = self._template_fits[int(photon_peak_number)]
        std = np.sqrt(np.diag(pcov))
        denom = np.outer(std, std)
        with np.errstate(invalid="ignore", divide="ignore"):
            return pcov / denom

    # ------------------------------------------------------------------
    def get_save_obj(self) -> dict:
        """JSON-ready calibration summary (photon_calibration.py:
        2469-2480 pickles the object; a dict keeps it portable)."""
        if self.popt is None:
            raise RuntimeError("call fit_spectrum() first")
        return {
            "amp_col": self._amp_col,
            "fs": self._fs,
            "eqspacing": self._eqspacing,
            "npeaks": self._npeaks,
            "popt": [float(p) for p in self.popt],
            "pstds": [float(s) for s in self.pstds],
            "pcov": [[float(v) for v in row]
                     for row in np.asarray(self.pcov)],
        }

    @classmethod
    def from_save_obj(cls, events: DataFrame, obj: dict,
                      traces: DataFrame | None = None,
                      trace_col: str = "trace") -> "PhotonCalibration":
        """Rebuild a calibration from ``get_save_obj`` output — the
        reference's pickle-reload analog (photon_calibration.py:
        2482-2516) against a fresh event table: the fitted comb comes
        back without refitting; derived cuts/energies work
        immediately."""
        self = cls(events, obj["amp_col"], traces=traces,
                   fs=obj["fs"], trace_col=trace_col)
        self.popt = np.asarray(obj["popt"], dtype=float)
        self.pstds = np.asarray(obj["pstds"], dtype=float)
        self.pcov = np.asarray(obj["pcov"], dtype=float) \
            if "pcov" in obj else np.diag(self.pstds ** 2)
        self._eqspacing = bool(obj["eqspacing"])
        self._npeaks = int(obj["npeaks"])
        return self
