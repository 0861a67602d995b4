"""Semiautocut engine vs an independent NumPy oracle.

The oracle re-implements the reference math (semiautocuts.py:491-873)
directly on arrays: strict bounds, conditioned estimation, per-bin
exceptions, count-cut bin exclusion. Masks are compared as sorted
__event_index__ sets (FIXTURES.md expected-output convention).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from detanalysis_spark import Analyzer, EVENT_INDEX, Semiautocut, MasterSemiautocuts
from detanalysis_spark.analyzer import ensure_event_index

N = 4000
CH = "chanA"


@pytest.fixture(scope="module")
def arrays():
    rng = np.random.default_rng(42)
    t = np.sort(rng.uniform(0, 36000.0, N))
    amp = np.concatenate([rng.normal(0, 1e-8, N // 2),
                          rng.exponential(5e-8, N - N // 2)])
    rng.shuffle(amp)
    chi2 = rng.normal(100.0, 15.0, N) + amp * 2e8
    base = rng.normal(0.02, 0.004, N)
    return {"event_time": t, f"amp_of1x1_nodelay_{CH}": amp,
            f"lowchi2_of1x1_nodelay_{CH}": chi2, f"baseline_{CH}": base}


@pytest.fixture(scope="module")
def ana(spark, arrays):
    import pandas as pd
    pdf = pd.DataFrame(arrays)
    pdf[EVENT_INDEX] = np.arange(N, dtype=np.int64)
    df = spark.createDataFrame(pdf).repartition(8)
    return Analyzer(df)


def mask_ids(ana, name):
    return sorted(r[0] for r in ana._subset_df(ana.df, name)
                  .select(EVENT_INDEX).collect())


def np_sigma_bounds(values, k):
    med = np.percentile(values, 50)
    sig = abs(np.mean([np.percentile(values, 50 - 68.27 / 2.0) - med,
                       med - np.percentile(values, 50 + 68.27 / 2.0)]))
    return med - sig * k, med + sig * k


def test_simple_sigma_cut(ana, arrays):
    rq = arrays[f"baseline_{CH}"]
    sac = Semiautocut(ana, "baseline", CH, {"sigma": 2.0})
    sac.do_cut()
    lo, hi = np_sigma_bounds(rq, 2.0)
    want = np.where((rq > lo) & (rq < hi))[0]
    got = mask_ids(ana, sac.cut_name)
    np.testing.assert_array_equal(got, want)
    assert sac.values_lower[0] == pytest.approx(lo, rel=1e-12)
    assert sac.values_upper[0] == pytest.approx(hi, rel=1e-12)


def test_simple_percent_cut_conditioned(ana, arrays):
    """Thresholds estimated on rows passing a previous cut, applied to ALL."""
    chi2 = arrays[f"lowchi2_of1x1_nodelay_{CH}"]
    base = arrays[f"baseline_{CH}"]
    ana.register_cut(f"baseline_{CH} < 0.022", f"cut_pre_{CH}", overwrite=True)
    sac = Semiautocut(ana, "lowchi2_of1x1_nodelay", CH,
                      {"percent_upper": 0.9, "percent_lower": 0.1})
    sac.do_cut(include_previous_cuts=[f"cut_pre_{CH}"])
    cond = chi2[base < 0.022]
    lo = np.percentile(cond, 10.0)
    hi = np.percentile(cond, 90.0)
    want = np.where((chi2 > lo) & (chi2 < hi))[0]
    np.testing.assert_array_equal(mask_ids(ana, sac.cut_name), want)


def test_time_binned_cut_with_exception(ana, arrays):
    t = arrays["event_time"]
    chi2 = arrays[f"lowchi2_of1x1_nodelay_{CH}"]
    n_bins = 4
    sac = Semiautocut(ana, "lowchi2_of1x1_nodelay", CH,
                      {"percent_upper": 0.8}, time_bins=n_bins,
                      exceptions_dict={2: {"val_upper": 95.0}})
    sac.do_cut()
    lo_t, hi_t = t.min(), t.max()
    step = (hi_t - lo_t) / n_bins
    edges = [lo_t + step * i for i in range(n_bins + 1)]
    want = np.zeros(N, dtype=bool)
    for i in range(n_bins):
        in_bin = (t > edges[i]) & (t < edges[i + 1])
        if i == 2:
            cut = chi2 < 95.0
        else:
            cut = chi2 < np.percentile(chi2[in_bin], 80.0)
        want |= in_bin & cut
    np.testing.assert_array_equal(mask_ids(ana, sac.cut_name), np.where(want)[0])


def test_ofamp_binned_cut_last_bin_to_max(ana, arrays):
    amp = arrays[f"amp_of1x1_nodelay_{CH}"]
    chi2 = arrays[f"lowchi2_of1x1_nodelay_{CH}"]
    n = 5
    sac = Semiautocut(ana, "lowchi2_of1x1_nodelay", CH,
                      {"sigma_upper": 1.5}, ofamp_bins=n)
    sac.do_cut()
    spacing = amp.max() / (n - 2)
    edges = [amp.min(), 0.0] + [spacing * (i - 1) for i in range(2, n)]
    lims = [(edges[i], edges[i + 1]) for i in range(len(edges) - 1)]
    lims.append((edges[-1], amp.max()))
    want = np.zeros(N, dtype=bool)
    for lo_b, hi_b in lims:
        in_bin = (amp > lo_b) & (amp < hi_b)
        if not in_bin.any():
            continue
        med = np.percentile(chi2[in_bin], 50)
        sig = abs(np.mean([np.percentile(chi2[in_bin], 50 - 68.27 / 2.0) - med,
                           med - np.percentile(chi2[in_bin], 50 + 68.27 / 2.0)]))
        want |= in_bin & (chi2 < med + 1.5 * sig)
    np.testing.assert_array_equal(mask_ids(ana, sac.cut_name), np.where(want)[0])


def test_count_cut_excludes_busy_bins(ana, arrays):
    t = arrays["event_time"]
    base = arrays[f"baseline_{CH}"]
    edges_given = list(np.linspace(0, 36000.0, 13)[:-1])
    sac = Semiautocut(ana, "baseline", CH,
                      {"time_arr_num": [195, 0.018, 0.025]},
                      time_bins=edges_given)
    sac.do_cut()
    edges = edges_given + [t.max()]
    counts = np.zeros(len(edges) - 1)
    for i in range(len(edges) - 1):
        in_bin = (t > edges[i]) & (t < edges[i + 1])
        counts[i] = np.count_nonzero(in_bin & (base > 0.018) & (base < 0.025))
    want = np.ones(N, dtype=bool)
    for i in range(len(edges) - 1):
        if counts[i] > 195:
            want &= ~((t > edges[i]) & (t < edges[i + 1]))
    assert any(c > 195 for c in counts), "fixture should exclude some bins"
    np.testing.assert_array_equal(mask_ids(ana, sac.cut_name), np.where(want)[0])


def test_time_interval_cut(ana, arrays):
    t = arrays["event_time"]
    sac = Semiautocut(ana, "event_time", CH,
                      {"time_arr": [[1000.0, 5000.0], [20000.0, 30000.0]]})
    sac.do_cut()
    want = ((t > 1000.0) & (t < 5000.0)) | ((t > 20000.0) & (t < 30000.0))
    np.testing.assert_array_equal(mask_ids(ana, sac.cut_name), np.where(want)[0])


def test_cut_dict_json_round_trip(ana, arrays):
    sac = Semiautocut(ana, "baseline", CH, {"sigma": 1.5}, time_bins=3,
                      cut_name="cut_rt_orig")
    sac.do_cut()
    blob = sac.to_json(save_values=True)
    sac2 = Semiautocut.from_json(ana, blob)
    sac2.cut_name = "cut_rt_reload"
    sac2.do_cut()
    assert mask_ids(ana, "cut_rt_orig") == mask_ids(ana, "cut_rt_reload")


def test_master_combine_with_saturation(ana, arrays):
    amp = arrays[f"amp_of1x1_nodelay_{CH}"]
    chi2 = arrays[f"lowchi2_of1x1_nodelay_{CH}"]
    base = arrays[f"baseline_{CH}"]
    ana.register_cut(f"baseline_{CH} < 0.024", f"cut_b_{CH}", overwrite=True)
    ana.register_cut(f"lowchi2_of1x1_nodelay_{CH} < 120", f"cut_c_{CH}",
                     overwrite=True)
    msc = MasterSemiautocuts(ana, [f"cut_b_{CH}", f"cut_c_{CH}"], CH)
    msc.get_combined_cuts(sat_pass_threshold=1e-7)
    want = ((base < 0.024) & (chi2 < 120)) | (amp > 1e-7)
    np.testing.assert_array_equal(mask_ids(ana, msc.cut_name), np.where(want)[0])


def test_master_recipe_interpreter(ana, arrays):
    base = arrays[f"baseline_{CH}"]
    chi2 = arrays[f"lowchi2_of1x1_nodelay_{CH}"]
    amp = arrays[f"amp_of1x1_nodelay_{CH}"]
    master = {
        "creation": [{"cut_type": "difference", "new_rq_name": "dchi2",
                      "sub_rq_1": f"lowchi2_of1x1_nodelay_{CH}",
                      "sub_rq_2": f"baseline_{CH}"}],
        "cuts": [
            {"cut_name": "cut_m1", "cut_rq": f"baseline_{CH}",
             "time_bins": None, "time_bins_arr": None, "ofamp_bins": None,
             "ofamp_bins_arr": None, "ofamp_rq": f"amp_of1x1_nodelay_{CH}",
             "chi2_rq": f"lowchi2_of1x1_nodelay_{CH}",
             "values_lower": [0.015], "values_upper": [0.025]},
        ],
        "combo": {"cut_name": "cut_all_recipe", "sat_pass_threshold": 2e-7},
    }
    msc = MasterSemiautocuts(ana, [], CH)
    msc.create_load_combine_cuts(master)
    want = ((base > 0.015) & (base < 0.025)) | (amp > 2e-7)
    np.testing.assert_array_equal(mask_ids(ana, "cut_all_recipe"), np.where(want)[0])
    # the difference feature is queryable
    got = np.sort(ana.get_values("dchi2"))
    np.testing.assert_allclose(got, np.sort(chi2 - base), rtol=1e-12)


def test_diagnostics_frame_and_histograms(ana, arrays):
    rq = arrays[f"baseline_{CH}"]
    sac = Semiautocut(ana, "baseline", CH, {"sigma": 2.0},
                      cut_name="cut_diag")
    with pytest.raises(RuntimeError, match="do_cut"):
        sac.diagnostics_frame()
    sac.do_cut()

    diag = sac.diagnostics_frame().toPandas()
    assert set(diag.columns) == {"x", "value", "passed", "chi2"}
    assert len(diag) == N
    lo, hi = np_sigma_bounds(rq, 2.0)
    want_pass = int(((rq > lo) & (rq < hi)).sum())
    assert int(diag.passed.sum()) == want_pass

    thin = sac.diagnostics_frame(decimate=4).toPandas()
    assert 0 < len(thin) < N

    counts_all, counts_pass, edges = sac.histograms(shape=32)
    assert counts_all.sum() == N
    assert counts_pass.sum() == want_pass
    assert (counts_pass <= counts_all).all()
    assert len(edges) == 33


def test_histograms_one_aggregate_matches_two_pass(spark):
    """The fused histograms (one bucket aggregate of count and passing
    count) equal the two-pass result — all rows, then the passing rows
    over the same edges — with NULL RQ values and rows sitting exactly
    on edge values, under minmax, explicit and empty-range limits."""
    from detanalysis_spark.operators import hist1d
    vals = [0.0, 0.0, 2.0, 4.0, 4.0, 6.0, 8.0, 8.0, None, None, 1.0, 3.5,
            5.0, 7.0, 7.9, None, 2.0, 6.5]
    a = Analyzer(spark.createDataFrame(list(enumerate(vals)),
                                       f"`{EVENT_INDEX}` long, rq double"))
    sac = Semiautocut(a, "rq", cut_pars={"val_lower": 1.0,
                                         "val_upper": 7.0})
    sac.do_cut()
    for shape, limits in ((4, None), (8, (2.0, 6.0)), (3, (4.0, 4.0))):
        counts_all, counts_pass, edges = sac.histograms(shape, limits)
        want_all, want_edges = hist1d(a.df_full, "rq", shape=shape,
                                      limits=limits or "minmax")
        want_pass, _ = hist1d(a.df_full.filter(sac.column), "rq",
                              shape=shape,
                              limits=(want_edges[0], want_edges[-1]))
        np.testing.assert_array_equal(edges, want_edges)
        np.testing.assert_array_equal(counts_all, want_all)
        np.testing.assert_array_equal(counts_pass, want_pass)
        assert counts_all.dtype == counts_pass.dtype == np.int64
    assert counts_all.sum() == counts_pass.sum() == 3   # 4, 4, 5
    counts_all, counts_pass, _ = sac.histograms(4)
    assert counts_all.sum() == 15 and counts_pass.sum() == 8


def test_include_previous_cuts_auto_discovery(spark, arrays):
    """include_previous_cuts=True discovers registered `cut_*` names
    matching the channel AND boolean `cut_*` columns already on the
    frame (semiautocuts.py:384-409)."""
    import pandas as pd
    pdf = pd.DataFrame(arrays)
    pdf[EVENT_INDEX] = np.arange(N, dtype=np.int64)
    pdf[f"cut_stored_{CH}"] = pdf[f"lowchi2_of1x1_nodelay_{CH}"] < 110.0
    a = Analyzer(spark.createDataFrame(pdf).repartition(4))
    a.register_cut(F.col(f"baseline_{CH}") > 0.018, f"cut_reg_{CH}")

    sac = Semiautocut(a, "amp_of1x1_nodelay", CH, {"percent_upper": 0.8})
    sac.do_cut(include_previous_cuts=True)

    cond = (pdf[f"lowchi2_of1x1_nodelay_{CH}"] < 110.0) \
        & (pdf[f"baseline_{CH}"] > 0.018)
    amp = pdf[f"amp_of1x1_nodelay_{CH}"]
    cap = np.quantile(amp[cond], 0.8, method="linear")
    want = int((amp < cap).sum())
    assert a.count(sac.cut_name) == want


def test_operators_on_empty_frame(spark):
    """Empty-input smoke: core operators must not throw on zero rows."""
    empty = spark.createDataFrame(
        [], schema=f"event_time double, amp_of1x1_nodelay double, "
                   f"`{EVENT_INDEX}` long")
    a = Analyzer(empty)
    assert a.count() == 0
    sac = Semiautocut(a, "amp_of1x1_nodelay", "", {"sigma": 2.0},
                      cut_rq_name_override=True)
    sac.do_cut()
    assert a.count(sac.cut_name) == 0           # empty sample passes nothing
    counts, _ = a.hist("amp_of1x1_nodelay", shape=8, limits=(0.0, 1.0))
    assert counts.sum() == 0


def test_load_cut_dict_in_place_and_plot_providers(ana, arrays):
    sac = Semiautocut(ana, "baseline", CH, {"sigma": 1.5}, time_bins=3,
                      cut_name="cut_lcd_orig")
    sac.do_cut()
    d = sac.get_cut_dict(save_values=True)

    other = Semiautocut(ana, "baseline", CH, {"sigma": 99.0},
                        cut_name="cut_lcd_tmp")
    other.load_cut_dict(d)           # reference-name in-place reinit
    other.cut_name = "cut_lcd_reload"
    other.do_cut()
    assert mask_ids(ana, "cut_lcd_orig") == mask_ids(ana, "cut_lcd_reload")

    # headless plot providers return plot-ready data
    diag = sac.plot_vs_time().limit(5).collect()
    assert {"x", "value", "passed"} <= set(diag[0].asDict())
    counts_all, counts_pass, edges = sac.plot_histograms(shape=16)
    assert counts_all.sum() >= counts_pass.sum() and len(edges) == 17
