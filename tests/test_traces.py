"""Trace layer: key-join fetch + array kernels vs numpy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from detanalysis_spark import traces as T


N_SAMPLES = 64
FS = 1000.0


@pytest.fixture(scope="module")
def trace_df(spark):
    rng = np.random.default_rng(7)
    rows = []
    for s in (1, 2, 3):
        for e in range(4):
            for ch in ("chanA", "chanB"):
                rows.append((s, e, ch, [float(x) for x in rng.normal(5.0, 1.0, N_SAMPLES)]))
    return spark.createDataFrame(
        rows, "series_number long, event_number long, channel string, trace array<double>")


def test_get_traces_broadcast_join(spark, trace_df):
    keys = spark.createDataFrame([(1, 0), (1, 1), (2, 3)],
                                 "series_number long, event_number long")
    out = T.get_traces(trace_df, keys)
    assert out.count() == 6  # 3 keys x 2 channels
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    only_a = T.get_traces(trace_df, keys, channels=["chanA"])
    assert only_a.count() == 3


def test_get_traces_dedups_and_limits(spark, trace_df):
    keys = spark.createDataFrame([(1, 0), (1, 0), (1, 1)],
                                 "series_number long, event_number long")
    assert T.get_traces(trace_df, keys).count() == 4
    assert T.get_traces(trace_df, keys, nb_events_limit=1).count() == 2


def test_get_trace_point_lookup(spark, trace_df):
    assert T.get_trace(trace_df, 2, 3, channel="chanB").count() == 1
    assert T.get_trace(trace_df, 2, 3).count() == 2


def test_baseline_subtract_matches_numpy(spark, trace_df):
    k = 8
    got = (trace_df.orderBy("series_number", "event_number", "channel")
           .select("trace", T.baseline_subtract("trace", k).alias("out"))
           .collect())
    for row in got:
        arr = np.asarray(row["trace"])
        want = arr - arr[:k].mean()
        np.testing.assert_allclose(np.asarray(row["out"]), want, rtol=1e-12)


def test_trace_energy_matches_numpy(spark, trace_df):
    got = trace_df.select("trace", T.trace_energy("trace", FS).alias("e")).collect()
    for row in got:
        assert row["e"] == pytest.approx(np.sum(row["trace"]) / FS, rel=1e-12)


def test_lowpass_attenuates_and_matches_oracle(spark):
    t = np.arange(N_SAMPLES) / FS
    lo = np.sin(2 * np.pi * 20.0 * t)        # passband
    hi = 0.5 * np.sin(2 * np.pi * 400.0 * t)  # stopband
    sig = lo + hi
    df = spark.createDataFrame([([float(x) for x in sig],)], "trace array<double>")
    fc, order = 50.0, 2
    out = np.asarray(
        df.select(T.lowpass_filter_udf(FS, fc, order)("trace").alias("y"))
        .collect()[0]["y"])

    # independent oracle: explicit DFT-domain |H|^2 gain
    freqs = np.fft.rfftfreq(N_SAMPLES, d=1.0 / FS)
    gain = 1.0 / (1.0 + (freqs / fc) ** (2 * order))
    want = np.fft.irfft(np.fft.rfft(sig) * gain, n=N_SAMPLES)
    np.testing.assert_allclose(out, want, atol=1e-10)

    # physics: the 400 Hz component is ~64x down ((400/50)^4), 20 Hz kept
    hi_power_out = np.abs(np.fft.rfft(out)[np.argmin(np.abs(freqs - 400.0))])
    hi_power_in = np.abs(np.fft.rfft(sig)[np.argmin(np.abs(freqs - 400.0))])
    assert hi_power_out < 0.05 * hi_power_in
    lo_out = np.abs(np.fft.rfft(out)[np.argmin(np.abs(freqs - 20.0))])
    lo_in = np.abs(np.fft.rfft(sig)[np.argmin(np.abs(freqs - 20.0))])
    assert lo_out > 0.8 * lo_in


def test_rfft_udf_matches_numpy(spark, trace_df):
    out = T.with_fft(trace_df.limit(3), "trace", FS)
    for row in out.collect():
        spec = np.fft.rfft(np.asarray(row["trace"]))
        np.testing.assert_allclose(row["fft_re"], spec.real, atol=1e-9)
        np.testing.assert_allclose(row["fft_im"], spec.imag, atol=1e-9)


def test_rfft_onesided_norm(spark):
    rng = np.random.default_rng(3)
    sig = rng.normal(0, 1, N_SAMPLES)
    df = spark.createDataFrame([([float(x) for x in sig],)], "trace array<double>")
    row = T.with_fft(df, "trace", FS, onesided_psd_norm=True).collect()[0]
    spec = np.fft.rfft(sig)
    scale = np.full(spec.shape, np.sqrt(2.0 / (N_SAMPLES * FS)))
    scale[0] = scale[-1] = np.sqrt(1.0 / (N_SAMPLES * FS))
    np.testing.assert_allclose(row["fft_re"], (spec * scale).real, atol=1e-12)
    # Parseval: sum |onesided|^2 * fs/N ≈ mean square of signal
    psd2 = np.asarray(row["fft_re"]) ** 2 + np.asarray(row["fft_im"]) ** 2
    assert psd2.sum() * FS / N_SAMPLES == pytest.approx(np.mean(sig ** 2), rel=1e-9)


def test_rfft_udf_mixed_lengths_in_one_batch(spark):
    """Traces of different lengths in ONE Arrow batch: each row matches
    its own NumPy FFT under every scaling (one-sided PSD with
    DC/Nyquist at 1/(n·fs), flat 1/√(n·fs), none)."""
    rng = np.random.default_rng(9)
    sigs = [rng.normal(0, 1, n) for n in (N_SAMPLES, 50, 63, N_SAMPLES, 7)]
    df = spark.createDataFrame([(i, [float(x) for x in s])
                                for i, s in enumerate(sigs)],
                               "i int, trace array<double>").coalesce(1)

    def onesided(n):
        scale = np.full(n // 2 + 1, np.sqrt(2.0 / (n * FS)))
        scale[0] = np.sqrt(1.0 / (n * FS))
        if n % 2 == 0:
            scale[-1] = np.sqrt(1.0 / (n * FS))
        return scale

    for kw, scale in (({"onesided_psd_norm": True}, onesided),
                      ({"inv_sqrt_nfs": True},
                       lambda n: 1.0 / np.sqrt(n * FS)),
                      ({}, lambda n: 1.0)):
        rows = (df.select("i", T.rfft_udf(FS, **kw)("trace").alias("a"))
                .orderBy("i").collect())
        for row, sig in zip(rows, sigs):
            want = np.fft.rfft(sig) * scale(sig.size)
            np.testing.assert_allclose(row["a"]["re"], want.real,
                                       rtol=1e-12, atol=1e-15)
            np.testing.assert_allclose(row["a"]["im"], want.imag,
                                       rtol=1e-12, atol=1e-15)


def test_get_traces_array_shape_and_baseline(spark):
    from detanalysis_spark.traces import get_traces_array
    import numpy as np

    rows = []
    for ev in range(6):
        for ch in ("chA", "chB"):
            base = 2.0 if ch == "chA" else -1.0
            rows.append((1, ev, ch, [base + float(i) * 0.0 for i in range(8)]))
    traces = spark.createDataFrame(
        rows, ["series_number", "event_number", "channel", "trace"])
    keys = spark.createDataFrame([(1, 0), (1, 3)],
                                 ["series_number", "event_number"])
    arr, info = get_traces_array(traces, keys)
    assert arr.shape == (2, 2, 8)
    assert info == [{"series_number": 1, "event_number": 0},
                    {"series_number": 1, "event_number": 3}]
    assert arr[0, 0].mean() == 2.0 and arr[0, 1].mean() == -1.0

    arr2, _ = get_traces_array(traces, keys, baselinesub=True,
                               baselineinds=(0, 4))
    assert np.allclose(arr2, 0.0)     # constant traces null out

    # non-constant traces and a window off sample 0: catches a wrong
    # window or an off-by-one slice
    rng = np.random.default_rng(5)
    raw = {(ev, ch): rng.normal(3.0, 1.0, 12) for ev in range(3)
           for ch in ("chA", "chB")}
    noisy = spark.createDataFrame(
        [(1, ev, ch, [float(x) for x in t]) for (ev, ch), t in raw.items()],
        ["series_number", "event_number", "channel", "trace"])
    arr4, info4 = get_traces_array(noisy, keys, baselinesub=True,
                                   baselineinds=(2, 6))
    assert [d["event_number"] for d in info4] == [0]
    for c, ch in enumerate(("chA", "chB")):
        t = raw[(0, ch)]
        np.testing.assert_allclose(arr4[0, c], t - t[2:6].mean(),
                                   rtol=1e-12, atol=1e-12)

    empty_keys = spark.createDataFrame([(9, 9)],
                                       ["series_number", "event_number"])
    arr3, info3 = get_traces_array(traces, empty_keys)
    assert arr3.size == 0 and info3 == []


def test_analyzer_get_traces_method(spark, trace_df):
    """Reference entry point parity: analyzer.get_traces(channels,
    raw_path, cut=...) → (n_events, n_channels, n_samples) + info
    (analyzer.py:1006-1047)."""
    from detanalysis_spark.analyzer import Analyzer

    events = spark.createDataFrame(
        [(s, e, float(s * 10 + e)) for s in (1, 2, 3) for e in range(4)],
        "series_number long, event_number long, amp double")
    az = Analyzer(events, spark)
    az.register_cut("series_number = 1", "c_s1")

    arr, info = az.get_traces(["chanA", "chanB"], trace_df, cut="c_s1")
    assert arr.shape == (4, 2, N_SAMPLES)
    assert all(d["series_number"] == 1 for d in info)

    arr_s, info_s = az.get_traces(None, trace_df, cut="c_s1",
                                  nb_random_samples=2)
    assert arr_s.shape[0] == 2

    single, sinfo = az.get_trace(["chanB"], trace_df, 2, 3)
    assert single.shape == (1, N_SAMPLES)
    assert sinfo == [{"series_number": 2, "event_number": 3}]
