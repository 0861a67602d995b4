"""End-to-end replay of the reference's demo notebooks (SURVEY §5: the
demos ARE the reference's acceptance surface).

`test_analyzer_tutorial_workflow` mirrors demos/analyzer_example.ipynb
step by step on a ~1000-event synthetic table shaped like
features.hdf5 (FIXTURES.md §1): load → describe → expression stats →
register/combine cuts → Semiautocut → global-filter modes → derived
feature → hist/heatmap → event list → trace retrieval (+ legacy
column-name variant). Golden outputs are NumPy recomputations.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from detanalysis_spark import Analyzer, EVENT_INDEX, Semiautocut
from detanalysis_spark.traces import get_traces, get_trace

N = 1000
CH = "CPDv21Ge"


@pytest.fixture(scope="module")
def event_pdf():
    rng = np.random.default_rng(20)
    pdf = pd.DataFrame({
        "series_number": np.repeat([1001, 1002], N // 2).astype(np.int64),
        "event_number": np.tile(np.arange(N // 2), 2).astype(np.int64),
        "event_time": np.sort(rng.uniform(0, 7200.0, N)),
        f"amp_of1x1_nodelay_{CH}": rng.exponential(4e-8, N),
        f"lowchi2_of1x1_nodelay_{CH}": rng.normal(120.0, 18.0, N),
        f"baseline_{CH}": rng.normal(0.015, 0.003, N),
    })
    return pdf


@pytest.fixture(scope="module")
def ana(spark, event_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("demo") / "features"
    spark.createDataFrame(event_pdf).write.mode("overwrite") \
        .partitionBy("series_number").parquet(str(d))
    return Analyzer.from_parquet(
        spark, str(d), order_by=["event_time", "event_number"])


def test_analyzer_tutorial_workflow(spark, ana, event_pdf):
    amp = f"amp_of1x1_nodelay_{CH}"
    chi2 = f"lowchi2_of1x1_nodelay_{CH}"

    # --- load + introspection (demo cells 1-3) ---
    assert ana.nevents == N
    assert ana.nfiles >= 2          # one file per series partition
    desc = ana.describe([amp])
    assert desc[amp]["count"] == N
    assert desc[amp]["mean"] == pytest.approx(event_pdf[amp].mean())

    # --- expression stats (cell 4) ---
    vals = ana.get_values(f"{amp} * 1e9")
    assert np.sort(vals) == pytest.approx(np.sort(event_pdf[amp] * 1e9))

    # --- register + combine cuts (cells 5-7) ---
    ana.register_cut(f"{chi2} < 140", "cut_chi2")
    ana.register_cut(f"{amp} < 1e-7", "cut_amp")
    ana.combine_cuts(["cut_chi2", "cut_amp"], "cut_quality", mode="and")
    want_q = (event_pdf[chi2] < 140) & (event_pdf[amp] < 1e-7)
    assert ana.count("cut_quality") == int(want_q.sum())

    # --- Semiautocut conditioned on the quality cut (cell 8) ---
    sac = Semiautocut(ana, "baseline", CH, {"sigma": 2.5})
    sac.do_cut(include_previous_cuts=["cut_quality"])
    base = event_pdf[f"baseline_{CH}"]
    cond = base[want_q]
    med = np.percentile(cond, 50)
    sig = abs(np.mean([np.percentile(cond, 50 - 68.27 / 2) - med,
                       med - np.percentile(cond, 50 + 68.27 / 2)]))
    want_sac = (base > med - 2.5 * sig) & (base < med + 2.5 * sig)
    assert ana.count(sac.cut_name) == int(want_sac.sum())

    # --- global filter modes (cell 9) ---
    ana.apply_global_filter("cut_quality")
    assert ana.is_df_filtered and ana.nevents == int(want_q.sum())
    ana.apply_global_filter(sac.cut_name, mode="and")
    assert ana.nevents == int((want_q & want_sac).sum())
    ana.save_current_selection("golden_sel")
    ana.drop_global_filter()
    assert ana.count("golden_sel") == int((want_q & want_sac).sum())

    # --- derived feature (cell 10) ---
    ana.register_feature(f"log10({amp})", "log_amp", metadata={"unit": "dex"})
    assert ana.get_unit("log_amp") == "dex"
    got_mean = ana.get_values("log_amp").mean()
    assert got_mean == pytest.approx(np.log10(event_pdf[amp]).mean())

    # --- hist / heatmap (cells 11-12) ---
    counts, edges = ana.hist(amp, cut="cut_quality", shape=64)
    sub = event_pdf[amp][want_q]
    want_h, _ = np.histogram(sub, bins=64, range=(sub.min(), sub.max()))
    np.testing.assert_array_equal(counts, want_h)
    grid, _, _ = ana.heatmap(amp, chi2, shape=32)
    assert grid.sum() == N

    # --- event list + trace retrieval (cells 13-14) ---
    ev_list = ana.get_event_list("cut_quality", nb_events_limit=50)
    assert len(ev_list) == 50
    assert set(ev_list[0]) == {"series_number", "event_number"}

    rng = np.random.default_rng(1)
    traces_pdf = pd.DataFrame({
        "series_number": event_pdf.series_number,
        "event_number": event_pdf.event_number,
        "trace": [rng.standard_normal(32).tolist() for _ in range(N)],
    })
    traces = spark.createDataFrame(traces_pdf)
    sel = ana._subset_df(ana.df, "cut_quality")
    got = get_traces(traces, sel, nb_events_limit=20)
    assert got.count() == 20

    one = get_trace(traces, 1001, 3).collect()
    want_one = traces_pdf[(traces_pdf.series_number == 1001)
                          & (traces_pdf.event_number == 3)].trace.iloc[0]
    assert len(one) == 1
    assert list(one[0].trace) == pytest.approx(want_one)


def test_trace_fetch_legacy_column_names(spark):
    """analyzer.py:975-988 era schemas: `seriesnumber`/`eventnumber`."""
    traces = spark.createDataFrame(
        [(1, i, [float(i)] * 4) for i in range(10)],
        ["seriesnumber", "eventnumber", "trace"])
    keys = spark.createDataFrame([(1, 2), (1, 5)],
                                 ["series_number", "event_number"])
    got = get_traces(traces, keys).collect()
    assert sorted(r.event_number for r in got) == [2, 5]
    one = get_trace(traces, 1, 5).collect()
    assert [r.event_number for r in one] == [5]
