"""Core Analyzer semantics: cuts, features, global filter, views.

Oracles are NumPy/pandas on the same rows (SURVEY §5 implication (1)).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from detanalysis_spark import Analyzer, EVENT_INDEX
from detanalysis_spark.operators.stats import column_ranges, known_ranges
from tests.conftest import load


@pytest.fixture(scope="module")
def ana(spark, sf_dir):
    df = load(spark, sf_dir, "events")
    a = Analyzer.from_parquet(spark, f"{sf_dir}/events.parquet", order_by=["event_id"])
    return a


@pytest.fixture(scope="module")
def pdf(spark, sf_dir):
    return load(spark, sf_dir, "events").orderBy("event_id").toPandas()


def test_event_index_assigned(ana):
    idx = ana.get_values(EVENT_INDEX)
    assert idx.min() == 0
    assert len(np.unique(idx)) == len(idx)


def test_register_cut_sql_string(ana, pdf):
    ana.register_cut("value > 5.0", "c_hi", overwrite=True)
    n = ana.count("c_hi")
    assert n == int((pdf["value"] > 5.0).sum())


def test_register_cut_box(ana, pdf):
    ana.register_cut_box(["value"], [[2.0, 8.0]], "c_box", overwrite=True)
    n = ana.count("c_box")
    assert n == int(pdf["value"].between(2.0, 8.0).sum())


def test_combine_cuts_modes(ana, pdf):
    a = pdf["value"] > 5.0
    b = pdf["value"].between(2.0, 8.0)
    for mode, expect in [("and", a & b), ("or", a | b),
                         ("xor", a ^ b), ("subtract", a & ~b)]:
        ana.combine_cuts(["c_hi", "c_box"], f"c_{mode}", mode=mode)
        assert ana.count(f"c_{mode}") == int(expect.sum()), mode


def test_global_filter_modes(ana, pdf):
    total = len(pdf)
    ana.apply_global_filter("value > 5.0")
    assert ana.count() == int((pdf["value"] > 5.0).sum())
    ana.apply_global_filter("event_type = 'click'", mode="and")
    expect = (pdf["value"] > 5.0) & (pdf["event_type"] == "click")
    assert ana.count() == int(expect.sum())
    ana.apply_global_filter("event_type = 'error'", mode="or")
    expect = expect | (pdf["event_type"] == "error")
    assert ana.count() == int(expect.sum())
    ana.apply_global_filter("value > 9.0", mode="subtract")
    expect = expect & ~(pdf["value"] > 9.0)
    assert ana.count() == int(expect.sum())
    ana.drop_global_filter()
    assert ana.count() == total


def test_feature_virtual_column(ana, pdf):
    ana.register_feature("value * 2.0 + 1.0", "v2", overwrite=True)
    got = np.sort(ana.get_values("v2"))
    want = np.sort((pdf["value"] * 2.0 + 1.0).to_numpy())
    np.testing.assert_allclose(got, want, rtol=1e-12)


def test_cut_on_feature(ana, pdf):
    ana.register_feature("value - 5.0", "centered", overwrite=True)
    ana.register_cut("centered > 0", "c_feat", overwrite=True)
    assert ana.count("c_feat") == int((pdf["value"] > 5.0).sum())


def test_mask_cut_from_ids(ana, pdf):
    ids = pdf.loc[pdf["event_type"] == "purchase"].index[:50]
    # __event_index__ ordering == event_id ordering here
    id_vals = sorted(pdf.loc[pdf["event_type"] == "purchase", "event_id"].iloc[:50])
    sel = ana.df.filter(F.col("event_id").isin([int(v) for v in id_vals])) \
                .select(EVENT_INDEX)
    ana.cut_from_event_ids(sel, "c_ids")
    assert ana.count("c_ids") == len(id_vals)


def test_mask_cut_views_stay_bounded(spark, sf_dir):
    # fresh Analyzer: clean() below must not disturb the shared fixture
    ana = Analyzer.from_parquet(spark, f"{sf_dir}/events.parquet",
                                order_by=["event_id"])
    # overwriting the same mask cut many times (and clean()) must not
    # accumulate __cut_ids_*__ temp views in the catalog — a long-lived
    # session doing thousands of mask cuts would otherwise leak catalog
    # entries and pin every historical id frame's lineage
    def n_loop_views():
        return sum(1 for v in spark.catalog.listTables()
                   if v.name.startswith("__cut_ids_c_loop_"))

    sel = ana.df.filter("event_type = 'view'").select(EVENT_INDEX)
    for _ in range(25):
        ana.cut_from_event_ids(sel, "c_loop")
    assert n_loop_views() == 1             # only the live one remains
    assert ana.count("c_loop") > 0         # the surviving view works
    ana.clean()
    assert n_loop_views() == 0             # clean() drops them all


def test_subset_with_dataframe_semi_join(ana):
    sel = ana.df.filter("event_type = 'view'").select(EVENT_INDEX)
    n = ana._subset_df(ana.df, sel).count()
    assert n == ana.count("event_type = 'view'")


def test_passage_fraction(ana, pdf):
    frac = ana.passage_fraction("value > 5.0")
    want = (pdf["value"] > 5.0).mean()
    assert abs(frac - want) < 1e-12


def test_describe(ana, pdf):
    d = ana.describe(columns=["value"])
    assert abs(d["value"]["mean"] - pdf["value"].mean()) < 1e-9
    assert d["value"]["count"] == len(pdf)


def test_get_event_list_limit(spark, sf_dir):
    df = load(spark, sf_dir, "events").withColumnRenamed("event_id", "event_number") \
        .withColumn("series_number", F.lit(1).cast("long"))
    a = Analyzer(df)
    out = a.get_event_list(nb_events_limit=10)
    assert len(out) == 10
    assert set(out[0]) == {"series_number", "event_number"}


def test_analyzer_sql_surface(ana):
    """Analyzer.sql: the working view (global filter applied) and named
    cuts (as cut_<name> booleans) are queryable in ANSI SQL."""
    ana.register_cut("value > 400", "sql_hot", overwrite=True)
    got = ana.sql(
        "SELECT count(*) AS n, count_if(cut_sql_hot) AS n_hot FROM events"
    ).first()
    assert got.n == ana.count()
    assert got.n_hot == ana.count("sql_hot")


# ----------------------------------------------------------------------
# per-view range memo (operators.stats.column_ranges)
# ----------------------------------------------------------------------
MEMO_N = 400


def jobs_of(spark, fn):
    """(result, Spark jobs ``fn`` launched). The status store fills from
    the listener bus in order: once a marker job started after ``fn`` is
    visible, so is every job ``fn`` started."""
    import time
    import uuid

    sc = spark.sparkContext
    group, marker = (f"memo_{uuid.uuid4().hex[:8]}_{k}" for k in ("fn", "mk"))
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(marker, marker)
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(100):
        if tracker.getJobIdsForGroup(marker):
            break
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


@pytest.fixture
def memo_pdf():
    import pandas as pd
    rng = np.random.default_rng(11)
    return pd.DataFrame({
        EVENT_INDEX: np.arange(MEMO_N, dtype=np.int64),
        "event_time": np.sort(rng.uniform(0.0, 3600.0, MEMO_N)),
        "amp": rng.normal(1.0, 2.0, MEMO_N),
        "chi2": rng.normal(100.0, 10.0, MEMO_N)})


@pytest.fixture
def memo_ana(spark, memo_pdf):
    return Analyzer(spark.createDataFrame(memo_pdf).repartition(2))


def np_range(x):
    return float(np.min(x)), float(np.max(x))


def test_range_memo_repeat_runs_no_jobs(spark, memo_ana, memo_pdf):
    from detanalysis_spark import Semiautocut
    from detanalysis_spark.operators import hist1d
    from detanalysis_spark.operators.histogram import resolve_limits

    a = memo_ana
    assert a.df is a.df_full and a.df_full is a.df_full
    sac = Semiautocut(a, "chi2", cut_pars={"sigma": 3.0}, ofamp_bins=5,
                      ofamp_rq="amp")
    lo, hi = np_range(memo_pdf["amp"])
    assert sac.ofamp_bins_arr == [lo, 0.0] + [hi / 3 * (i - 1)
                                              for i in range(2, 5)]
    edges, jobs = jobs_of(spark, lambda: sac._build_ofamp_edges(5))
    assert jobs == 0 and edges == sac.ofamp_bins_arr
    # the miss that built the edges prefetched every stored column
    limits, jobs = jobs_of(spark, lambda: resolve_limits(a.df, "chi2",
                                                         "minmax"))
    assert jobs == 0 and limits == np_range(memo_pdf["chi2"])
    (counts, _), jobs = jobs_of(spark, lambda: hist1d(a.df, "chi2", 16))
    _, explicit = jobs_of(spark, lambda: hist1d(a.df, "chi2", 16,
                                                limits=limits))
    assert jobs == explicit and counts.sum() == MEMO_N
    # a frame that is not an Analyzer view pays its own aggregate
    plain = spark.createDataFrame(memo_pdf)
    assert known_ranges(plain) is None
    assert jobs_of(spark, lambda: resolve_limits(plain, "chi2",
                                                 "minmax"))[1] > 0


def test_range_memo_seeded_by_describe(spark, memo_ana, memo_pdf):
    memo_ana.describe()
    got, jobs = jobs_of(spark, lambda: column_ranges(memo_ana.df,
                                                     ["amp", "chi2"]))
    assert jobs == 0
    assert got == [np_range(memo_pdf["amp"]), np_range(memo_pdf["chi2"])]


def test_range_memo_register_feature_keeps_stored(spark, memo_ana,
                                                  memo_pdf):
    a = memo_ana
    old = a.df_full
    column_ranges(old, ["amp"])
    a.register_feature("amp * 2", "amp2")
    a.register_feature("chi2 + 1", "chi2")      # shadows a stored column
    new = a.df_full
    assert new is not old and new is a.df_full
    assert {"amp", "event_time"} <= set(known_ranges(new))
    assert not {"amp2", "chi2"} & set(known_ranges(new))
    assert jobs_of(spark, lambda: column_ranges(new, ["amp"]))[1] == 0
    (amp2, chi2), jobs = jobs_of(
        spark, lambda: column_ranges(new, ["amp2", "chi2"]))
    assert jobs > 0
    assert amp2 == pytest.approx(np_range(memo_pdf["amp"] * 2), rel=1e-12)
    assert chi2 == pytest.approx(np_range(memo_pdf["chi2"] + 1), rel=1e-12)


def test_range_memo_add_files_invalidates(spark, memo_pdf, tmp_path):
    first, second = str(tmp_path / "a"), str(tmp_path / "b")
    spark.createDataFrame(memo_pdf).write.parquet(first)
    spark.createDataFrame(memo_pdf.assign(amp=memo_pdf["amp"] + 100.0)) \
        .write.parquet(second)
    a = Analyzer.from_parquet(spark, first)
    before = a.df_full
    assert column_ranges(before, ["amp"])[0] == np_range(memo_pdf["amp"])
    a.add_files(second)
    assert a.df_full is not before and known_ranges(a.df_full) == {}
    lo, hi = column_ranges(a.df_full, ["amp"])[0]
    assert (lo, hi) == (np_range(memo_pdf["amp"])[0],
                        np_range(memo_pdf["amp"] + 100.0)[1])


def test_range_memo_global_filter_is_fresh(spark, memo_ana, memo_pdf):
    a = memo_ana
    column_ranges(a.df_full, ["amp"])
    a.apply_global_filter("amp > 1.0")
    view = a.df
    assert view is not a.df_full and view is a.df
    assert known_ranges(view) == {}
    sel = memo_pdf[memo_pdf["amp"] > 1.0]
    assert column_ranges(view, ["chi2"])[0] == np_range(sel["chi2"])
    assert jobs_of(spark, lambda: column_ranges(a.df, ["amp"]))[1] == 0
    a.apply_global_filter("chi2 < 100.0", mode="and")
    assert a.df is not view and known_ranges(a.df) == {}
    a.drop_global_filter()
    assert a.df is a.df_full


def test_range_memo_skips_nondeterministic_and_streaming(spark, memo_pdf):
    base = spark.createDataFrame(memo_pdf)
    for df in (base.sample(0.5, seed=3), base.withColumn("r", F.rand(1))):
        a = Analyzer(df)
        assert known_ranges(a.df_full) is None
        for _ in range(2):
            assert jobs_of(spark, lambda: column_ranges(a.df, ["amp"]))[1] > 0
    # a sampled id set reaches the view only through an IN-subquery
    a = Analyzer(base)
    a.cut_from_event_ids(base.sample(0.5, seed=3), "sampled")
    a.apply_global_filter("sampled")
    assert known_ranges(a.df_full) is not None and known_ranges(a.df) is None
    stream = Analyzer(spark.readStream.format("rate").load())
    assert known_ranges(stream.df_full) is None


def test_range_memo_prefetch_skips_udf_feature(spark, memo_ana, memo_pdf):
    def boom(v):
        raise RuntimeError("feature evaluated by a prefetch")

    memo_ana.register_feature(F.udf(boom, "double")(F.col("amp")), "boom")
    assert column_ranges(memo_ana.df_full, ["chi2"])[0] == \
        np_range(memo_pdf["chi2"])
    assert "boom" not in known_ranges(memo_ana.df_full)


def test_semiautocut_ofamp_do_cut_job_count(spark, memo_pdf, tmp_path):
    """Plan-shape guard: on a fresh Analyzer over parquet an ofamp-binned
    cut runs one range aggregate (the edges and the final bin's max
    share it) and one grouped-percentile aggregate, each 2 jobs under
    AQE — 4 jobs, where a min/max re-scan per caller made it 6."""
    from detanalysis_spark import Semiautocut
    spark.createDataFrame(memo_pdf).write.parquet(str(tmp_path / "ev"))
    a = Analyzer(spark.read.parquet(str(tmp_path / "ev")))
    _, jobs = jobs_of(spark, lambda: Semiautocut(
        a, "chi2", cut_pars={"sigma": 3.0}, ofamp_bins=5,
        ofamp_rq="amp").do_cut())
    assert jobs == 4
