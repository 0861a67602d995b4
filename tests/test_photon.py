"""Photon calibration vs planted ground truth / numpy oracles.

Synthetic calib_events per FIXTURES.md §6: amplitude from an equally
spaced Gaussian comb with known spacing so fit_spectrum recovery is
checkable; synthetic traces whose pulse scales with photon count."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from detanalysis_spark import photon as P
from detanalysis_spark import util

SPACING = 4.0
STDS = [0.30, 0.32, 0.35, 0.40, 0.45]
NPEAKS = 5
WEIGHTS = [0.35, 0.30, 0.18, 0.10, 0.07]
N_EVENTS = 20000


@pytest.fixture(scope="module")
def calib(spark):
    rng = np.random.default_rng(3)
    peaks = rng.choice(NPEAKS, size=N_EVENTS, p=WEIGHTS)
    amps = peaks * SPACING + rng.standard_normal(N_EVENTS) * \
        np.array(STDS)[peaks]
    pdf = pd.DataFrame({"event_id": np.arange(N_EVENTS),
                        "true_peak": peaks, "amp": amps})
    return spark.createDataFrame(pdf), pdf


def test_model_spectrum_layouts():
    x = np.linspace(-1, 20, 500)
    eq = P.model_spectrum(x, [SPACING] + STDS + [100] * NPEAKS,
                          eqspacing=True, npeaks=NPEAKS)
    free = P.model_spectrum(
        x, [SPACING * i for i in range(NPEAKS)] + STDS + [100] * NPEAKS,
        eqspacing=False, npeaks=NPEAKS)
    np.testing.assert_allclose(eq, free, rtol=1e-12)
    poi = P.model_spectrum(x, [SPACING] + STDS + [0.5, 100],
                           poisson=True, npeaks=NPEAKS)
    # poisson peak-k height = h0·λ^k/k!·std0/stdk
    k = 1
    xk = np.array([SPACING * k])
    expect = 100 * 0.5 ** k / 1 * STDS[0] / STDS[k]
    assert P.model_spectrum(xk, [SPACING] + STDS + [0.5, 100],
                            poisson=True, npeaks=NPEAKS)[0] == \
        pytest.approx(expect, rel=0.02)  # small neighbor-peak leakage
    assert poi.max() > 0


def test_lm_recovers_parabola_minimum():
    def resid(p):
        return np.array([p[0] - 3.0, 2 * (p[1] + 1.0)])
    popt, pcov, pstds = P.least_squares_lm(resid, [0.0, 0.0],
                                           bounds=([-10, -10], [10, 10]))
    assert popt[0] == pytest.approx(3.0, abs=1e-6)
    assert popt[1] == pytest.approx(-1.0, abs=1e-6)
    assert np.all(np.isfinite(pstds))


def _comb_fit_args():
    """The perfbench spectrum: 20k events on the 5-peak comb, 200 bins,
    with fit_spectrum's weights, guess and bounds."""
    rng = np.random.default_rng(1)
    peaks = rng.choice(NPEAKS, size=N_EVENTS, p=WEIGHTS)
    amps = peaks * SPACING + rng.standard_normal(N_EVENTS) * \
        np.array(STDS)[peaks]
    counts, edges = np.histogram(amps, bins=200)
    centers = (edges[1:] + edges[:-1]) / 2
    w = np.where(counts > 0, 1 / np.sqrt(np.maximum(counts, 1)), 0.0)

    def resid(p):
        return (counts - P.model_spectrum(centers, p, npeaks=NPEAKS)) * w
    guess = P.default_guess(SPACING * 1.03, 0.4, N_EVENTS * 0.02, NPEAKS)
    return resid, guess, P.default_bounds(guess, NPEAKS)


@pytest.fixture
def blas_pool():
    """numpy's OpenBLAS (get, set) pair with the pool at 2 threads;
    restores the size it found."""
    fns = util._numpy_blas()
    if fns is None:
        pytest.skip("numpy does not link OpenBLAS")
    get, set_ = fns
    old = get()
    set_(2)
    yield get
    set_(old)


def test_lm_runs_blas_single_threaded_and_restores_pool(blas_pool):
    resid, guess, bounds = _comb_fit_args()
    seen = []

    def watched(p):
        seen.append(blas_pool())
        return resid(p)
    P.least_squares_lm(watched, guess, bounds)
    assert seen and set(seen) == {1}
    assert blas_pool() == 2

    def failing(p):
        if len(seen) > 5:
            raise RuntimeError("model blew up")
        seen.append(blas_pool())
        return resid(p)
    seen.clear()
    with pytest.raises(RuntimeError, match="blew up"):
        P.least_squares_lm(failing, guess, bounds)
    assert blas_pool() == 2


def test_lm_single_thread_matches_uncapped_fit(blas_pool, monkeypatch):
    resid, guess, bounds = _comb_fit_args()
    capped = P.least_squares_lm(resid, guess, bounds)[0]
    monkeypatch.setattr(util, "_numpy_blas", lambda: None)
    uncapped = P.least_squares_lm(resid, guess, bounds)[0]
    np.testing.assert_allclose(capped, uncapped, rtol=1e-9)
    assert abs(capped[0] - SPACING) < 0.02 * SPACING


def test_blas_helper_without_the_symbol(monkeypatch):
    from types import SimpleNamespace
    assert util._blas_thread_fns(SimpleNamespace()) is None
    monkeypatch.setattr(util, "_numpy_blas", lambda: util._blas_thread_fns(
        SimpleNamespace()))
    with util.blas_single_thread():
        pass
    # a build exporting only the plain (LP64) pair is pinned and restored
    calls = []
    lib = SimpleNamespace(openblas_get_num_threads=lambda: 3,
                          openblas_set_num_threads=calls.append)
    monkeypatch.setattr(util, "_numpy_blas", lambda: util._blas_thread_fns(lib))
    with pytest.raises(KeyError):
        with util.blas_single_thread():
            assert calls == [1]
            raise KeyError
    assert calls == [1, 3]


def test_fit_spectrum_recovers_spacing(calib):
    df, _ = calib
    # comb fits are locally identifiable: seed within ~5% of the known
    # photon energy, as the reference does (photon_ev·0.4e-8 guess)
    guess = P.default_guess(SPACING * 1.05, 0.4, 900.0, NPEAKS)
    popt, pcov, pstds, (centers, counts) = P.fit_spectrum(
        df, "amp", npeaks=NPEAKS, guess=guess, bins=200)
    assert popt[0] == pytest.approx(SPACING, rel=0.02)
    # histogram matches np.histogram on the same data
    assert counts.sum() == N_EVENTS

    # residual-norm parity vs a numpy reference fit of the same model
    w = np.where(counts > 0, 1 / np.sqrt(np.maximum(counts, 1)), 0.0)

    def resid(p):
        return (counts - P.model_spectrum(centers, p, False, True,
                                          NPEAKS)) * w
    final = float((resid(popt) ** 2).sum())
    initial = float((resid(np.asarray(guess)) ** 2).sum())
    assert final < 0.25 * initial


def test_histogram_np_parity(calib):
    df, pdf = calib
    _, _, _, (centers, counts) = P.fit_spectrum(
        df, "amp", npeaks=NPEAKS,
        guess=P.default_guess(SPACING, 0.4, 2000.0, NPEAKS), bins=50)
    want, edges = np.histogram(pdf["amp"].to_numpy(), bins=50)
    np.testing.assert_array_equal(counts, want)
    np.testing.assert_allclose(centers, (edges[1:] + edges[:-1]) / 2,
                               rtol=1e-9)


def test_photon_peak_expr_assignment(calib):
    df, pdf = calib
    assigned = df.select(
        "event_id", "true_peak",
        P.photon_peak_expr("amp", SPACING, STDS, n_sigma=2.0).alias("peak"))
    rows = assigned.filter(F.col("peak").isNotNull()).collect()
    agree = np.mean([r.peak == r.true_peak for r in rows])
    assert agree > 0.97          # 2σ window on well-separated peaks
    # ~4.6% of a Gaussian lies outside ±2σ → some NULLs must exist
    assert assigned.filter(F.col("peak").isNull()).count() > 0


@pytest.fixture(scope="module")
def pulse_traces(spark):
    rng = np.random.default_rng(9)
    n, fs = 64, 1000.0
    t = np.arange(n)
    rows = []
    for eid in range(60):
        peak = eid % 3
        pulse = peak * np.exp(-((t - 20.0) ** 2) / 50.0)
        tr = 5.0 + pulse + 0.01 * rng.standard_normal(n)
        rows.append((eid, peak, [float(x) for x in tr]))
    return spark.createDataFrame(rows, ["event_id", "peak", "trace"]), fs


def test_average_pulses(pulse_traces):
    df, _ = pulse_traces
    avg = P.average_pulses(df, baseline_samples=10)
    pdf = avg.toPandas().pivot(index="pos", columns="peak", values="value")
    # baseline region ~0 after subtraction
    assert abs(pdf.loc[:9, 0].mean()) < 0.01
    # pulse height scales with peak number at the pulse center
    assert pdf.loc[20, 2] == pytest.approx(2.0, abs=0.05)
    assert pdf.loc[20, 1] == pytest.approx(1.0, abs=0.05)


def test_fft_ensemble_stats_vs_numpy(pulse_traces):
    df, fs = pulse_traces
    got = P.fft_ensemble_stats(df, fs).filter("peak = 2").toPandas() \
        .set_index("bin").sort_index()
    traces = np.stack([np.asarray(r.trace) for r in
                       df.filter("peak = 2").collect()])
    spec = np.fft.rfft(traces, axis=1) / np.sqrt(traces.shape[1] * fs)
    n = traces.shape[0]
    np.testing.assert_allclose(got["mean_re"], spec.real.mean(axis=0),
                               rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(got["std_re"],
                               spec.real.std(axis=0) / np.sqrt(n),
                               rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(got["psd"],
                               np.sqrt((np.abs(spec) ** 2).mean(axis=0)),
                               rtol=1e-9, atol=1e-12)


def test_apply_dpdi(pulse_traces, spark):
    df, fs = pulse_traces
    stats = P.fft_ensemble_stats(df, fs)
    nbins = 33
    dpdi = spark.createDataFrame(
        [(b, 2.0, 0.5, 0.01, 0.02) for b in range(nbins)],
        ["freq_index", "value_real", "value_imag", "err_real", "err_imag"])
    out = P.apply_dpdi(stats, dpdi).filter("peak = 1 AND bin = 3").first()
    s = stats.filter("peak = 1 AND bin = 3").first()
    assert out.mean_p_re == pytest.approx(
        s.mean_re * 2.0 - s.mean_im * 0.5, rel=1e-9)
    mag = np.hypot(2.0, 0.5)
    assert out.std_p_re == pytest.approx(
        np.sqrt((s.mean_re * 0.01) ** 2 + (s.std_re * mag) ** 2), rel=1e-9)


# ----------------------------------------------------------------------
# template fit: distributed ensemble stats → driver-side weighted
# complex least squares (photon_calibration.py:1754-1998)
# ----------------------------------------------------------------------
def test_template_fit_recovers_pulse(spark):
    rng = np.random.default_rng(33)
    n, fs = 256, 10000.0
    t = np.arange(n) / fs
    amp_true, tau_f, tau_r, t0 = 2.0, 2e-3, 2e-4, 5e-3
    template = P.template_twopole_t(t, amp_true, tau_f, tau_r, t0)
    rows = [(i, 0, [float(x) for x in
                    template + 0.02 * rng.standard_normal(n)])
            for i in range(80)]
    df = spark.createDataFrame(rows, ["event_id", "peak", "trace"])

    stats = P.fft_ensemble_stats(df, fs)
    mean_i, std_i = P.collect_peak_spectrum(
        stats, 0, re_col="mean_re", im_col="mean_im",
        sre_col="std_re", sim_col="std_im")
    # rfft gives n//2+1 bins; fit against the matching prefix
    freqs = np.fft.rfftfreq(n, 1 / fs)

    guess = [1.0, 1.5e-3, 3e-4]
    bounds = ([0.1, 1e-4, 1e-5], [10.0, 1e-2, 1e-3])
    popt, pcov, pstds = P.fit_template(
        mean_i, std_i, freqs, fs, t, t0, guess, bounds)
    assert popt[0] == pytest.approx(amp_true, rel=0.05)
    assert popt[1] == pytest.approx(tau_f, rel=0.05)
    assert popt[2] == pytest.approx(tau_r, rel=0.10)

    fit_t = P.template_twopole_t(t, *popt, t0)
    e_fit = P.template_energy(fit_t, fs)
    e_true = P.template_energy(template, fs)
    assert e_fit == pytest.approx(e_true, rel=0.05)


# ----------------------------------------------------------------------
# zero-photon / crosstalk template subtraction
# (photon_calibration.py:1044-1275)
# ----------------------------------------------------------------------
def test_subtract_zero_photon_means(spark):
    rows = [(p, pos, float(p * 10 + pos)) for p in range(3)
            for pos in range(4)]
    means = spark.createDataFrame(rows, ["peak", "pos", "value"])
    got = {(r.peak, r.pos): r.value
           for r in P.subtract_zero_photon_means(means).collect()}
    for pos in range(4):
        assert got[(0, pos)] == float(pos)             # untouched
        assert got[(1, pos)] == 10.0                   # (10+pos) - pos
        assert got[(2, pos)] == 20.0


def test_crosstalk_template_windows():
    fs, pre, length = 1000.0, 0.02, 0.05   # edges at samples 20 and 70
    t0p = np.zeros(100)
    t0p[20:25] = 5.0                        # rising-edge blip
    t0p[70:75] = -3.0                       # falling-edge blip
    t0p[:20] = 1.0                          # quiet baseline before edge 1
    tmpl = P.crosstalk_template(t0p, fs, pre, length,
                                window_plus=6, window_minus=2)
    # rising window [18, 26): quiet span [10, 18) has baseline 1.0
    assert tmpl[20] == pytest.approx(4.0)
    assert tmpl[18] == pytest.approx(0.0)   # 1.0 - 1.0
    # falling window [68, 76): quiet span [60, 68) is zeros
    assert tmpl[70] == pytest.approx(-3.0)
    assert tmpl[30] == 0.0 and tmpl[90] == 0.0  # outside both windows


def test_subtract_template_trace_and_means(spark):
    tmpl = np.array([1.0, 2.0, 0.0, -1.0])
    df = spark.createDataFrame(
        [(1, [float(x) for x in range(4)])], ["peak", "trace"])
    got = df.select(P.subtract_template_expr("trace", tmpl)
                    .alias("t")).collect()[0].t
    assert list(got) == pytest.approx([-1.0, -1.0, 2.0, 4.0])

    means = spark.createDataFrame(
        [(p, pos, 10.0) for p in (0, 1) for pos in range(4)],
        ["peak", "pos", "value"])
    got2 = {(r.peak, r.pos): r.value
            for r in P.subtract_template_means(means, tmpl).collect()}
    assert got2[(0, 0)] == 9.0 and got2[(1, 1)] == 8.0
    assert got2[(0, 3)] == 11.0


def test_small_model_frames_are_local_relations(spark):
    """The template and dPdI tables are plan-local relations (the
    ``util.local_frame`` path), not a parallelized RDD scan, which
    costs a Python-worker round trip per call."""
    means = util.local_frame(
        spark, [(p, pos, 10.0) for p in (0, 1) for pos in range(4)],
        "peak int, pos int, value double")
    dpdi = np.array([1 + 1j, 2 - 1j, 0.5 + 0j])
    for df in (P.subtract_template_means(means, np.arange(4.0)),
               P.dpdi_table(spark, dpdi)):
        qe = df._jdf.queryExecution()
        assert "LocalRelation" in qe.optimizedPlan().toString()
        assert "ExistingRDD" not in qe.executedPlan().toString()
    rows = P.dpdi_table(spark, dpdi, dpdi * 0.1).orderBy("freq_index")
    assert [(r.value_real, r.value_imag, r.err_real) for r in
            rows.collect()] == pytest.approx(
                [(1.0, 1.0, 0.1), (2.0, -1.0, 0.2), (0.5, 0.0, 0.05)])


def test_fit_spectrum_skips_null_amplitudes(calib, spark):
    """NULL amplitudes are not events of the spectrum: they stay out of
    every bin (they used to be counted in the last one)."""
    df, pdf = calib
    nulls = spark.createDataFrame([(-1, -1, None)] * 50,
                                  "event_id long, true_peak long, amp double")
    _, _, _, (_, counts) = P.fit_spectrum(
        df.unionByName(nulls), "amp", npeaks=NPEAKS,
        guess=P.default_guess(SPACING, 0.4, 2000.0, NPEAKS), bins=50)
    want, _ = np.histogram(pdf["amp"].to_numpy(), bins=50)
    np.testing.assert_array_equal(counts, want)


def test_save_obj_round_trip(spark):
    import json

    import numpy as np

    from detanalysis_spark.photon import PhotonCalibration

    rng = np.random.default_rng(23)
    amps = np.concatenate([rng.normal(k * 2.0, 0.1, 300)
                           for k in range(3)])
    ev = spark.createDataFrame([(float(a),) for a in amps], ["amp"])
    pc = PhotonCalibration(ev, "amp")
    pc.fit_spectrum(npeaks=3, bins=120)
    blob = json.dumps(pc.get_save_obj())

    back = PhotonCalibration.from_save_obj(ev, json.loads(blob))
    assert back.spacing == pytest.approx(pc.spacing)
    # derived surfaces work without refit and match the fitted object
    n = ev.filter(back.peak_expr(2.0).isNotNull()).count()
    assert n == ev.filter(pc.peak_expr(2.0).isNotNull()).count() and n > 0
    res, err = back.get_spectrum_energy_res(1.0)
    want_res, want_err = pc.spectrum_energy_res(1.0)
    assert res == pytest.approx(want_res)
    assert err == pytest.approx(want_err, nan_ok=True)


def test_fit_spectrum_grouped_parallel_channels(spark):
    """Two channels with different spacings, fitted in one distributed
    applyInPandas pass — each recovers its own planted spacing."""
    rng = np.random.default_rng(11)
    frames = []
    for ch, spacing in (("chanA", 4.0), ("chanB", 6.0)):
        peaks = rng.choice(NPEAKS, size=8000, p=WEIGHTS)
        amps = peaks * spacing + rng.standard_normal(8000) * \
            np.array(STDS)[peaks]
        frames.append(pd.DataFrame({"channel": ch, "amp": amps}))
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))

    fits = {r["group"]: r for r in
            P.fit_spectrum_grouped(df, "amp", "channel",
                                   npeaks=NPEAKS, bins=200).collect()}
    assert set(fits) == {"chanA", "chanB"}
    assert fits["chanA"]["popt"][0] == pytest.approx(4.0, rel=0.05)
    assert fits["chanB"]["popt"][0] == pytest.approx(6.0, rel=0.05)
    assert fits["chanA"]["n_events"] == 8000
    for r in fits.values():
        assert all(np.isfinite(r["pstds"]))
        assert r["fit_cost"] >= 0.0


# ----------------------------------------------------------------------
# 3/4-pole template families (photon_calibration.py:1497-1551): planted
# pulses round-trip through the weighted complex LM fit with near-zero
# residual, and the family-comparison table ranks the right model first
# ----------------------------------------------------------------------
def _planted_spectrum(spark, template, n, fs, rng, n_traces=80,
                      noise=0.01):
    rows = [(i, 0, [float(x) for x in
                    template + noise * rng.standard_normal(n)])
            for i in range(n_traces)]
    df = spark.createDataFrame(rows, ["event_id", "peak", "trace"])
    stats = P.fft_ensemble_stats(df, fs)
    return P.collect_peak_spectrum(
        stats, 0, re_col="mean_re", im_col="mean_im",
        sre_col="std_re", sim_col="std_im")


def test_threepole_fit_recovers_pulse(spark):
    rng = np.random.default_rng(44)
    n, fs = 256, 10000.0
    t = np.arange(n) / fs
    true = [1.5, 0.8, 3e-3, 8e-4, 1e-4]          # A, B, tf1, tf2, tr
    t0 = 5e-3
    template = P.template_threepole_t(t, *true, t0)
    mean_i, std_i = _planted_spectrum(spark, template, n, fs, rng)
    freqs = np.fft.rfftfreq(n, 1 / fs)

    guess = [1.0, 0.5, 2e-3, 5e-4, 2e-4]
    bounds = ([0.1, 0.05, 1e-3, 1e-4, 1e-5],
              [10.0, 5.0, 1e-2, 1e-3, 5e-4])
    popt, _, _ = P.fit_template(mean_i, std_i, freqs, fs, t, t0,
                                guess, bounds,
                                model=P.template_threepole_t)
    fit_t = P.template_threepole_t(t, *popt, t0)
    # parameter-level identity is not guaranteed (the two fall terms
    # can trade amplitude); the fitted PULSE must match the planted one
    resid = np.linalg.norm(fit_t - template) / np.linalg.norm(template)
    assert resid < 0.05
    assert P.template_energy(fit_t, fs) == pytest.approx(
        P.template_energy(template, fs), rel=0.05)


def test_fourpole_fit_recovers_pulse(spark):
    rng = np.random.default_rng(55)
    n, fs = 256, 10000.0
    t = np.arange(n) / fs
    true = [1.2, 0.7, 0.4, 4e-3, 1.2e-3, 4e-4, 1e-4]
    t0 = 5e-3
    template = P.template_fourpole_t(t, *true, t0)
    mean_i, std_i = _planted_spectrum(spark, template, n, fs, rng)
    freqs = np.fft.rfftfreq(n, 1 / fs)

    guess = [1.0, 0.5, 0.3, 3e-3, 1e-3, 5e-4, 2e-4]
    bounds = ([0.1, 0.05, 0.02, 1e-3, 2e-4, 1e-4, 1e-5],
              [10.0, 5.0, 3.0, 1e-2, 3e-3, 9e-4, 5e-4])
    popt, _, _ = P.fit_template(mean_i, std_i, freqs, fs, t, t0,
                                guess, bounds,
                                model=P.template_fourpole_t)
    fit_t = P.template_fourpole_t(t, *popt, t0)
    resid = np.linalg.norm(fit_t - template) / np.linalg.norm(template)
    assert resid < 0.05


def test_compare_template_fits_ranks_true_family_first(spark):
    rng = np.random.default_rng(66)
    n, fs = 256, 10000.0
    t = np.arange(n) / fs
    true = [1.5, 0.8, 3e-3, 8e-4, 1e-4]
    t0 = 5e-3
    template = P.template_threepole_t(t, *true, t0)
    mean_i, std_i = _planted_spectrum(spark, template, n, fs, rng)
    freqs = np.fft.rfftfreq(n, 1 / fs)

    table = P.compare_template_fits(
        mean_i, std_i, freqs, fs, t, t0,
        guesses={"twopole": [1.0, 2e-3, 2e-4],
                 "threepole": [1.0, 0.5, 2e-3, 5e-4, 2e-4]},
        bounds={"twopole": ([0.1, 1e-4, 1e-5], [10.0, 1e-2, 1e-3]),
                "threepole": ([0.1, 0.05, 1e-3, 1e-4, 1e-5],
                              [10.0, 5.0, 1e-2, 1e-3, 5e-4])})
    assert [r["model"] for r in table][0] == "threepole"
    assert table[0]["cost"] < table[1]["cost"]
    assert {"model", "n_params", "popt", "pstds", "cost", "aic"} \
        <= set(table[0])


def test_template_models_registry_arity():
    for name, (model, n_par) in P.TEMPLATE_MODELS.items():
        t = np.arange(64) / 1e4
        out = model(t, *([1.0] * n_par), 1e-3)
        assert out.shape == t.shape
        assert np.all(out[t < 1e-3] == 0.0)


# ----------------------------------------------------------------------
# dIdV-model dPdI (Irwin-Hilton small-signal formalism; the
# public-formula replacement for photon_calibration.py:1277-1299)
# ----------------------------------------------------------------------
def test_dpdi_from_didv_analytic_limits():
    freqs = np.array([0.0, 1e3, 1e4])
    # 1-pole: dVdI = A constant → dPdI = i0*(r0 + A - rl - jwL)
    res = {"params": {"A": 0.3}, "i0": 2e-6, "r0": 0.1, "rl": 0.02,
           "L": 1e-7}
    dpdi, err = P.dpdi_from_didv(freqs, res)
    assert err is None
    w = 2j * np.pi * freqs
    expect = 2e-6 * (0.1 + 0.3 - 0.02 - w * 1e-7)
    assert np.allclose(dpdi, expect)
    # DC limit is purely real
    assert dpdi[0].imag == 0.0


def test_dpdi_from_didv_two_pole_dc():
    # 2-pole at DC: dVdI(0) = A + B
    res = {"params": {"A": 0.3, "B": -0.1, "tau1": 1e-4, "tau2": 1e-6},
           "i0": 1e-6, "r0": 0.15, "rl": 0.03, "L": 0.0}
    dpdi, _ = P.dpdi_from_didv(np.array([0.0]), res)
    assert dpdi[0] == pytest.approx(1e-6 * (0.15 + 0.2 - 0.03))
    # 3-pole collapses to 2-pole when C=0
    res3 = {**res, "params": {**res["params"], "C": 0.0, "tau3": 1e-5}}
    d3, _ = P.dpdi_from_didv(np.array([0.0, 5e3]), res3)
    d2, _ = P.dpdi_from_didv(np.array([0.0, 5e3]), res)
    assert np.allclose(d3, d2)


def test_dpdi_uncertainty_scales_with_cov():
    freqs = np.linspace(0, 1e4, 16)
    base = {"params": {"A": 0.3, "B": -0.1, "tau1": 1e-4, "tau2": 1e-6},
            "i0": 1e-6, "r0": 0.15, "rl": 0.03, "L": 1e-7,
            "cov_labels": ["A", "B"]}
    small = {**base, "cov": np.diag([1e-6, 1e-6])}
    big = {**base, "cov": np.diag([4e-6, 4e-6])}
    _, e_small = P.dpdi_from_didv(freqs, small, n_mc=400)
    _, e_big = P.dpdi_from_didv(freqs, big, n_mc=400)
    assert e_small is not None and np.all(e_small.real >= 0)
    # 2x the parameter std → ~2x the dPdI std (MC tolerance)
    ratio = np.median(e_big.real[1:] / e_small.real[1:])
    assert ratio == pytest.approx(2.0, rel=0.25)
    # deterministic across calls (seeded)
    _, e_again = P.dpdi_from_didv(freqs, small, n_mc=400)
    assert np.allclose(e_small, e_again)


def test_calculate_dpdi_model_path_end_to_end(spark):
    rng = np.random.default_rng(7)
    n, fs = 64, 10000.0
    t = np.arange(n) / fs
    template = P.template_twopole_t(t, 2.0, 2e-3, 2e-4, 1e-3)
    rows = [(i, 0, [float(x) for x in
                    template + 0.01 * rng.standard_normal(n)])
            for i in range(20)]
    ev = spark.createDataFrame(rows, ["event_id", "peak", "amp"]) \
        .withColumnRenamed("amp", "trace")
    stats = P.fft_ensemble_stats(ev, fs)

    didv = {"params": {"A": 0.3, "B": -0.1, "tau1": 1e-4,
                       "tau2": 1e-6},
            "i0": 1e-6, "r0": 0.15, "rl": 0.03, "L": 1e-7}
    freqs = np.fft.rfftfreq(n, d=1.0 / fs)
    dpdi, _ = P.dpdi_from_didv(freqs, didv)
    table = P.dpdi_table(spark, dpdi)
    out = P.apply_dpdi(stats, table)
    got = {r["bin"]: r for r in out.collect()}
    # power-domain mean at a mid bin equals current-mean x dpdi
    s = {r["bin"]: r for r in stats.collect()}
    b = 5
    mi = s[b]["mean_re"] + 1j * s[b]["mean_im"]
    mp = got[b]["mean_p_re"] + 1j * got[b]["mean_p_im"]
    assert mp == pytest.approx(mi * dpdi[b], rel=1e-9)
