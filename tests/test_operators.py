"""Histogram / stats / binning operators vs NumPy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from detanalysis_spark.operators import (
    hist1d, hist2d, basic_stats, percentiles, robust_sigma,
    equal_width_edges, equal_frequency_edges, ofamp_edges, assign_bin,
    passage_fraction_table,
)
from tests.conftest import load


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return load(spark, sf_dir, "lineitem")


@pytest.fixture(scope="module")
def vals(li):
    return li.select("l_extendedprice").toPandas()["l_extendedprice"].to_numpy()


def test_hist1d_matches_numpy(li, vals):
    counts, edges = hist1d(li, "l_extendedprice", shape=64)
    want, wedges = np.histogram(vals, bins=64, range=(vals.min(), vals.max()))
    np.testing.assert_allclose(edges, wedges, rtol=1e-9)
    np.testing.assert_array_equal(counts, want)


def test_hist1d_explicit_limits(li, vals):
    counts, edges = hist1d(li, "l_extendedprice", shape=10, limits=(0.0, 1000.0))
    want, _ = np.histogram(vals[(vals >= 0) & (vals <= 1000)], bins=10, range=(0.0, 1000.0))
    np.testing.assert_array_equal(counts, want)


def test_hist2d_matches_numpy(li):
    pdf = li.select("l_quantity", "l_discount").toPandas()
    grid, xe, ye = hist2d(li, "l_quantity", "l_discount", shape=(16, 8))
    want, _, _ = np.histogram2d(pdf["l_quantity"], pdf["l_discount"], bins=(16, 8),
                                range=((pdf["l_quantity"].min(), pdf["l_quantity"].max()),
                                       (pdf["l_discount"].min(), pdf["l_discount"].max())))
    np.testing.assert_array_equal(grid, want.astype(np.int64))


def test_exact_percentiles_match_numpy(li, vals):
    qs = [1.0, 15.865, 50.0, 84.135, 99.0]
    got = percentiles(li, "l_extendedprice", qs, exact=True)
    want = np.percentile(vals, qs)
    np.testing.assert_allclose(got, want, rtol=1e-9)


def test_robust_sigma_matches_reference_math(li, vals):
    med, sig = robust_sigma(li, "l_extendedprice")
    lo, m, hi = np.percentile(vals, [50 - 34.135, 50, 50 + 34.135])
    want = (abs(lo - m) + abs(m - hi)) / 2
    assert abs(med - m) < 1e-9 * max(1, abs(m))
    assert abs(sig - want) < 1e-9 * max(1, abs(want))


def test_basic_stats(li, vals):
    s = basic_stats(li, "l_extendedprice")
    assert s["count"] == len(vals)
    np.testing.assert_allclose(s["mean"], vals.mean(), rtol=1e-12)
    np.testing.assert_allclose(s["std"], vals.std(ddof=1), rtol=1e-9)


def test_equal_width_edges(li, vals):
    edges = equal_width_edges(li, "l_extendedprice", 10)
    want = np.linspace(vals.min(), vals.max(), 11)
    np.testing.assert_allclose(edges, want, rtol=1e-12)


def test_equal_frequency_edges_exact(li, vals):
    edges = equal_frequency_edges(li, "l_extendedprice", 4, exact=True)
    want = np.percentile(vals, [0, 25, 50, 75, 100])
    np.testing.assert_allclose(edges, want, rtol=1e-9)


def test_ofamp_edges_structure(li):
    # shift so data spans negative->positive like an OF amplitude
    shifted = li.withColumn("amp", F.col("l_discount") - 0.05)
    edges = ofamp_edges(shifted, "amp", 5)
    assert edges[1] == 0.0
    assert len(edges) == 6
    assert edges[0] < 0.0 < edges[-1]


def test_assign_bin_vs_digitize(li, vals):
    edges = [0.0, 500.0, 1500.0, 3000.0, 100000.0]
    got = (li.select(assign_bin(F.col("l_extendedprice"), edges).alias("b"))
             .groupBy("b").count().toPandas().set_index("b")["count"].to_dict())
    dig = np.digitize(vals, edges) - 1
    dig = dig[(vals >= edges[0]) & (vals <= edges[-1])]
    # np.digitize: right edge of last bin exclusive; assign_bin includes it
    for i in range(4):
        want = int((dig == i).sum()) + (int((vals == edges[-1]).sum()) if i == 3 else 0)
        assert got.get(i, 0) == want, i


def test_passage_fraction_table(li):
    pdf = li.select("l_quantity", "l_discount", "l_tax").toPandas()
    cuts = [F.col("l_quantity") > 25, F.col("l_discount") > 0.05, F.col("l_tax") > 0.04]
    masks = [pdf["l_quantity"] > 25, pdf["l_discount"] > 0.05, pdf["l_tax"] > 0.04]
    mat, names = passage_fraction_table(li, cuts, ["a", "b", "c"])
    for j in range(3):
        den = masks[0]
        for k in range(1, j + 1):
            den = den & masks[k]
        for i in range(3):
            want = (den & masks[i]).sum() / den.sum()
            np.testing.assert_allclose(mat[i, j], want, rtol=1e-12)


def test_approx_percentiles_close_to_exact(li, vals):
    # A4 scale path: percentile_approx sketch within its accuracy bound
    qs = [10, 50, 90]
    got = percentiles(li, "l_extendedprice", qs, exact=False,
                      accuracy=10000)
    want = np.percentile(vals, qs)
    span = vals.max() - vals.min()
    for g, w in zip(got, want):
        assert abs(g - w) < 0.01 * span
    med_a = robust_sigma(li, "l_extendedprice", exact=False)
    med_e = robust_sigma(li, "l_extendedprice", exact=True)
    assert med_a[0] == pytest.approx(med_e[0], rel=0.02)
    assert med_a[1] == pytest.approx(med_e[1], rel=0.05)


# ----------------------------------------------------------------------
# salted join (skew fallback): result parity with the plain join
# ----------------------------------------------------------------------
def test_salted_join_matches_plain(spark):
    from detanalysis_spark.operators.joins import salted_join
    from pyspark.sql import functions as F
    import pytest

    # pathological skew: 90% of rows share one key
    big = spark.range(0, 2000).select(
        F.when(F.col("id") < 1800, F.lit(7)).otherwise(F.col("id") % 5)
        .alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame([(7, "hot"), (1, "a"), (3, "b")],
                                  ["k", "name"])
    want = sorted((r.k, r.v, r.name)
                  for r in big.join(small, "k").collect())
    got = sorted((r.k, r.v, r.name)
                 for r in salted_join(big, small, "k", salt=4).collect())
    assert got == want

    wl = sorted((r.k, r.v, r.name)
                for r in big.join(small, "k", "left").collect())
    gl = sorted((r.k, r.v, r.name)
                for r in salted_join(big, small, "k", how="left").collect())
    assert gl == wl
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(big, small, "k", how="full")


# ----------------------------------------------------------------------
# as-of join vs pandas merge_asof
# ----------------------------------------------------------------------
def test_asof_join_matches_pandas(spark):
    from detanalysis_spark.operators.joins import asof_join
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(21)
    left = pd.DataFrame({
        "k": rng.choice(["a", "b"], 60),
        "t": np.sort(rng.integers(0, 1000, 60)).astype(np.int64),
        "x": np.arange(60, dtype=np.int64)})
    right = pd.DataFrame({
        "k": rng.choice(["a", "b"], 25),
        "t": np.sort(rng.integers(0, 1000, 25)).astype(np.int64),
        "status": [f"s{i}" for i in range(25)]})

    got = asof_join(spark.createDataFrame(left).repartition(4),
                    spark.createDataFrame(right).repartition(3),
                    on="t", by="k").toPandas() \
        .sort_values("x", ignore_index=True)
    want = pd.merge_asof(left.sort_values("t"),
                         right.sort_values("t"), on="t", by="k",
                         direction="backward") \
        .sort_values("x", ignore_index=True)
    assert list(got.status.fillna("-")) == list(want.status.fillna("-"))

    # tolerance: matches older than 50 ticks are nulled
    got_tol = asof_join(spark.createDataFrame(left),
                        spark.createDataFrame(right),
                        on="t", by="k", tolerance=50).toPandas() \
        .sort_values("x", ignore_index=True)
    want_tol = pd.merge_asof(left.sort_values("t"),
                             right.sort_values("t"), on="t", by="k",
                             direction="backward", tolerance=50) \
        .sort_values("x", ignore_index=True)
    assert list(got_tol.status.fillna("-")) == list(want_tol.status.fillna("-"))

    with pytest.raises(ValueError, match="by"):
        asof_join(spark.createDataFrame(left),
                  spark.createDataFrame(right), on="t", by=[])


def test_range_join_binned_matches_bruteforce(spark):
    from detanalysis_spark.operators.joins import range_join_binned
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(30)
    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(rng.uniform(0, 100, 300))],
        ["pid", "x"])
    ivs = spark.createDataFrame(
        [(j, float(lo), float(lo + w)) for j, (lo, w) in enumerate(
            zip(rng.uniform(0, 95, 40), rng.uniform(0.5, 8.0, 40)))],
        ["iid", "lo", "hi"])
    got = sorted((r.pid, r.iid) for r in
                 range_join_binned(pts, ivs, "x", "lo", "hi", 2.0).collect())
    want = sorted((r.pid, r.iid) for r in
                  pts.crossJoin(ivs)
                  .filter((F.col("x") >= F.col("lo"))
                          & (F.col("x") < F.col("hi"))).collect())
    assert got == want
    with pytest.raises(ValueError, match="bin_width"):
        range_join_binned(pts, ivs, "x", "lo", "hi", 0)


def test_trim_outliers_matches_numpy(spark):
    import numpy as np

    from detanalysis_spark.operators.stats import trim_outliers

    rng = np.random.default_rng(3)
    xs = rng.normal(0, 10, 500)
    df = spark.createDataFrame([(float(x),) for x in xs], ["x"])
    out = np.array([r.x for r in trim_outliers(df, "x", 5.0, 95.0).collect()])
    lo, hi = np.percentile(xs, [5.0, 95.0])
    want = xs[(xs >= lo) & (xs <= hi)]
    assert sorted(out.tolist()) == pytest.approx(sorted(want.tolist()))
    # approx path keeps a sane fraction too
    n_approx = trim_outliers(df, "x", 5.0, 95.0, exact=False).count()
    assert abs(n_approx - len(want)) <= 25


def test_hist1d_what_and_normalize(spark):
    import numpy as np

    from detanalysis_spark.operators.histogram import hist1d

    rng = np.random.default_rng(11)
    xs = rng.uniform(0, 10, 400)
    ys = rng.normal(5, 2, 400)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(xs, ys)], ["x", "y"])

    # density parity with np.histogram
    dens, edges = hist1d(df, "x", shape=8, limits=(0.0, 10.0),
                         normalize=True)
    want, _ = np.histogram(xs, bins=8, range=(0.0, 10.0), density=True)
    np.testing.assert_allclose(dens, want, rtol=1e-12)

    # binned mean parity with a numpy groupby
    means, _ = hist1d(df, "x", shape=8, limits=(0.0, 10.0),
                      what="mean(y)")
    idx = np.minimum((xs / 1.25).astype(int), 7)
    for b in range(8):
        sel = ys[idx == b]
        if len(sel):
            assert means[b] == pytest.approx(sel.mean(), rel=1e-12)
    with pytest.raises(ValueError):
        hist1d(df, "x", what="median(y)")
    with pytest.raises(ValueError):
        hist1d(df, "x", what="mean(y)", normalize=True)


def test_profile_table_exact_and_approx(spark):
    from detanalysis_spark.operators.stats import profile_table
    import pandas as pd
    pdf = pd.DataFrame({
        "k": list(range(500)) * 2,
        "s": (["x"] * 999) + [None],
        "v": [float(i % 37) for i in range(1000)],
    })
    df = spark.createDataFrame(pdf)
    exact = {r["column"]: r for r in
             profile_table(df, approx=False).collect()}
    assert exact["k"]["n_rows"] == 1000
    assert exact["k"]["n_distinct"] == 500
    assert exact["s"]["n_nulls"] == 1
    assert exact["s"]["n_distinct"] == 1
    assert exact["v"]["min_value"] == "0.0"
    assert exact["v"]["max_value"] == "36.0"
    # HLL path within its advertised relative error
    approx = {r["column"]: r for r in
              profile_table(df, approx=True, rsd=0.05).collect()}
    for c in ("k", "s", "v"):
        e, a = exact[c]["n_distinct"], approx[c]["n_distinct"]
        assert abs(a - e) <= max(2, 0.15 * e), (c, e, a)
        assert approx[c]["n_nulls"] == exact[c]["n_nulls"]


def test_profile_table_quoted_column_names(spark):
    from detanalysis_spark.operators.stats import profile_table
    df = spark.range(5).selectExpr("id AS `it's`", "id * 2 AS `a\\b`")
    out = {r["column"]: r for r in
           profile_table(df, approx=False).collect()}
    assert set(out) == {"it's", "a\\b"}
    assert out["it's"]["n_distinct"] == 5


def test_key_skew_profile(spark):
    from detanalysis_spark.operators.stats import key_skew_profile
    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("a",), ("b",), ("c",)]
    df = spark.createDataFrame(rows, ["k"])
    out = key_skew_profile(df, "k", top=3).collect()
    assert [(r["rank"], r["key"], r["cnt"]) for r in out] == [
        (1, "hot", 6), (2, "warm", 3), (3, "a", 1)]
    # 12 rows over 5 keys: mean 2.4 rows/key
    assert abs(out[0]["share"] - 6 / 12) < 1e-12
    assert abs(out[0]["skew"] - 6 / 2.4) < 1e-12
    # ties broke by key asc: "a" before "b"/"c"


# ----------------------------------------------------------------------
# incremental time-bucket rollup (continuous aggregate)
# ----------------------------------------------------------------------
def _rollup_rows(rollup):
    return sorted(
        ((r["bucket_us"],) + tuple(r[k] for k in ("n", "s", "s2", "mn", "mx"))
         for r in rollup.collect()))


def test_rollup_merge_equals_full_build(spark):
    import datetime as dt
    import random
    from detanalysis_spark.operators.rollup import (build_rollup,
                                                    merge_rollups,
                                                    finalize_rollup)
    rng = random.Random(11)
    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(minutes=rng.randrange(0, 5000)),
             "k%d" % rng.randrange(2), rng.uniform(0, 10))
            for _ in range(500)]
    df = spark.createDataFrame(rows, ["ts", "key", "v"])
    hour = 3_600_000_000
    full = build_rollup(df, "ts", "v", keys=["key"], width_us=hour)
    b1 = build_rollup(df.limit(200), "ts", "v", keys=["key"],
                      width_us=hour)
    b2 = build_rollup(df.subtract(df.limit(200)), "ts", "v",
                      keys=["key"], width_us=hour)
    # limit() order is deterministic on a local createDataFrame source;
    # the batches partition the input
    merged = merge_rollups(b1, b2, keys=["key"])
    a = {(r["bucket_us"], r["key"]): (r["n"], r["s"], r["mn"], r["mx"])
         for r in full.collect()}
    b = {(r["bucket_us"], r["key"]): (r["n"], r["s"], r["mn"], r["mx"])
         for r in merged.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k][0] == b[k][0]
        assert abs(a[k][1] - b[k][1]) < 1e-9
        assert a[k][2:] == b[k][2:]

    # finalize matches numpy on one group
    import numpy as np
    bucket, key = next(iter(a))
    vals = np.array([v for ts, kk, v in rows
                     if kk == key and
                     int(ts.replace(tzinfo=dt.timezone.utc).timestamp()
                         * 1e6) // hour * hour == bucket])
    fin = {(r["bucket_us"], r["key"]): (r["mean"], r["var_pop"])
           for r in finalize_rollup(full).collect()}
    got_mean, got_var = fin[(bucket, key)]
    # timestamps here are naive; Spark's unix_micros uses the session
    # zone (UTC in tests), matching the tz-replaced python epoch above
    assert abs(got_mean - vals.mean()) < 1e-9
    assert abs(got_var - vals.var()) < 1e-9


def test_update_rollup_touches_only_affected_partitions(spark, tmp_path):
    import datetime as dt
    import os
    from detanalysis_spark.operators.rollup import (build_rollup,
                                                    update_rollup,
                                                    read_rollup)
    hour = 3_600_000_000
    path = str(tmp_path / "rollup")
    d1 = dt.datetime(2024, 1, 1, 5)
    d2 = dt.datetime(2024, 1, 2, 6)
    d3 = dt.datetime(2024, 1, 3, 7)
    batch1 = spark.createDataFrame(
        [(d1, 1.0), (d1, 3.0), (d2, 5.0)], ["ts", "v"])
    batch2 = spark.createDataFrame(
        [(d2, 7.0), (d3, 9.0)], ["ts", "v"])

    update_rollup(path, build_rollup(batch1, "ts", "v", width_us=hour))
    parts1 = {p for p in os.listdir(path) if p.startswith("bucket_day=")}
    assert len(parts1) == 2  # days 1 and 2

    # capture day-1 partition file set; absorbing batch2 (days 2,3)
    # must leave day-1 files untouched
    day1 = sorted(parts1)[0]
    files_before = sorted(os.listdir(os.path.join(path, day1)))
    update_rollup(path, build_rollup(batch2, "ts", "v", width_us=hour))
    assert sorted(os.listdir(os.path.join(path, day1))) == files_before
    parts2 = {p for p in os.listdir(path) if p.startswith("bucket_day=")}
    assert len(parts2) == 3

    # and the merged content equals a from-scratch build
    full = build_rollup(batch1.unionByName(batch2), "ts", "v",
                        width_us=hour)
    assert _rollup_rows(read_rollup(spark, path)) == _rollup_rows(full)


def test_gapfill_locf(spark):
    import datetime as dt
    from detanalysis_spark.operators.rollup import (build_rollup,
                                                    gapfill_buckets)
    hour = 3_600_000_000
    t0 = dt.datetime(2024, 1, 1, 0, 30)
    t3 = dt.datetime(2024, 1, 1, 3, 30)   # hours 1 and 2 missing
    df = spark.createDataFrame(
        [(t0, "a", 2.0), (t3, "a", 8.0)], ["ts", "key", "v"])
    r = build_rollup(df, "ts", "v", keys=["key"], width_us=hour)
    dense = gapfill_buckets(r, hour, keys=["key"], locf_cols=["s"]) \
        .orderBy("bucket_us").collect()
    assert len(dense) == 4                       # dense hourly spine
    assert [x["n"] for x in dense] == [1, 0, 0, 1]
    assert [x["s"] for x in dense] == [2.0, 2.0, 2.0, 8.0]  # LOCF
    assert dense[1]["mx"] is None                # non-LOCF stays null


# ----------------------------------------------------------------------
# k-anonymity profile + suppression
# ----------------------------------------------------------------------
def test_k_anonymity_profile_and_suppression(spark):
    from detanalysis_spark.operators.privacy import (
        k_anonymity_profile, suppress_small_groups)
    rows = [("us", 30)] * 5 + [("us", 40)] * 2 + [("fr", 30)]
    df = spark.createDataFrame(rows, ["country", "age"])
    p = k_anonymity_profile(df, ["country", "age"]).collect()[0]
    assert p["k_min"] == 1 and p["n_groups"] == 3 and p["n_rows"] == 8
    assert p["n_unique_groups"] == 1 and p["n_unique_rows"] == 1

    kept = suppress_small_groups(df, ["country", "age"], k=2)
    assert kept.count() == 7                        # ("fr",30) dropped
    p2 = k_anonymity_profile(kept, ["country", "age"]).collect()[0]
    assert p2["k_min"] >= 2


def test_suppression_count_matches_profile_algebra(spark):
    """The identity the k_anonymity_events query relies on:
    suppress_small_groups(k=2).count() == n_rows - n_unique_rows."""
    from detanalysis_spark.operators.privacy import (
        k_anonymity_profile, suppress_small_groups)
    import random
    rng = random.Random(5)
    rows = [(rng.randrange(40), rng.choice("abc")) for _ in range(300)]
    df = spark.createDataFrame(rows, ["uid", "etype"])
    p = k_anonymity_profile(df, ["uid", "etype"]).collect()[0]
    kept = suppress_small_groups(df, ["uid", "etype"], k=2).count()
    assert kept == p["n_rows"] - p["n_unique_rows"]


def test_suppress_small_groups_null_safe(spark):
    """NULL quasi-identifier values form a group (groupBy semantics);
    suppression must keep them when the null group is large."""
    from detanalysis_spark.operators.privacy import (
        k_anonymity_profile, suppress_small_groups)
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame(
        {"country": [None, None, None, "fr"], "age": [30, 30, 30, 40]}))
    p = k_anonymity_profile(df, ["country", "age"]).collect()[0]
    assert p["k_min"] == 1 and p["n_groups"] == 2
    kept = suppress_small_groups(df, ["country", "age"], k=2)
    assert kept.count() == 3            # the null group survives
    assert kept.filter("country IS NULL").count() == 3


def test_gapfill_null_key_group(spark):
    """A null-keyed group's existing buckets must read back their own
    data, not n=0 (null-safe spine join)."""
    import datetime as dt
    from detanalysis_spark.operators.rollup import (build_rollup,
                                                    gapfill_buckets)
    import pandas as pd
    hour = 3_600_000_000
    t0 = dt.datetime(2024, 1, 1, 0, 30)
    pdf = pd.DataFrame({"ts": [t0, t0], "key": [None, "a"],
                        "v": [5.0, 7.0]})
    df = spark.createDataFrame(pdf)
    r = build_rollup(df, "ts", "v", keys=["key"], width_us=hour)
    dense = gapfill_buckets(r, hour, keys=["key"]).collect()
    by_key = {row["key"]: row for row in dense}
    assert by_key[None]["n"] == 1 and by_key[None]["s"] == 5.0
    assert by_key["a"]["n"] == 1 and by_key["a"]["s"] == 7.0


def test_merge_intervals_islands(spark):
    from detanalysis_spark.operators.joins import merge_intervals
    rows = [("a", 0.0, 5.0), ("a", 3.0, 8.0), ("a", 8.0, 9.0),
            ("a", 20.0, 25.0),
            ("b", 1.0, 2.0), ("b", 1.5, 1.8)]   # contained interval
    df = spark.createDataFrame(rows, ["k", "lo", "hi"])
    out = {(r["k"], r["lo"], r["hi"]): r["n_merged"] for r in
           merge_intervals(df, "lo", "hi", ["k"]).collect()}
    # touching endpoints merge: [0,5]+[3,8]+[8,9] -> [0,9] of 3
    assert out == {("a", 0.0, 9.0): 3, ("a", 20.0, 25.0): 1,
                   ("b", 1.0, 2.0): 2}


def test_merge_intervals_chain_through_containment(spark):
    """An interval that ends before an EARLIER one must not split the
    island (running-max semantics, not lag-of-hi)."""
    from detanalysis_spark.operators.joins import merge_intervals
    rows = [(0.0, 10.0), (1.0, 2.0), (3.0, 4.0), (9.5, 12.0)]
    import warnings
    df = spark.createDataFrame(rows, ["lo", "hi"])
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        out = merge_intervals(df, "lo", "hi").collect()
    assert [(r["lo"], r["hi"], r["n_merged"]) for r in out] \
        == [(0.0, 12.0, 4)]


def test_rank_normalize_per_group(spark):
    import warnings
    from detanalysis_spark.operators.stats import rank_normalize
    rows = [("a", 10.0), ("a", 20.0), ("a", 30.0),
            ("b", 5.0), ("b", 50.0), ("c", 7.0)]
    df = spark.createDataFrame(rows, ["k", "s"])
    out = {(r["k"], r["s"]): r["score_pct"] for r in
           rank_normalize(df, "s", ["k"]).collect()}
    assert out[("a", 10.0)] == 0.0
    assert out[("a", 20.0)] == 0.5
    assert out[("a", 30.0)] == 1.0
    assert out[("b", 5.0)] == 0.0 and out[("b", 50.0)] == 1.0
    assert out[("c", 7.0)] == 0.0          # singleton group
    with warnings.catch_warnings(record=True) as wlist:
        warnings.simplefilter("always")
        rank_normalize(df, "s")
        assert any("single partition" in str(x.message) for x in wlist)


def test_string_key_normalization_across_new_apis(spark):
    """A bare string for a Sequence[str] key parameter must mean ONE
    column, not its characters (the write_partitioned convention)."""
    import datetime as dt
    from detanalysis_spark.operators.rollup import (build_rollup,
                                                    gapfill_buckets,
                                                    merge_rollups)
    from detanalysis_spark.operators.joins import merge_intervals
    from detanalysis_spark.operators.privacy import (
        k_anonymity_profile, suppress_small_groups)
    from detanalysis_spark.operators.stats import rank_normalize
    from detanalysis_spark.sources.tables import table_diff

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame([(t0, "a", 1.0), (t0, "a", 3.0)],
                               ["ts", "key", "v"])
    r = build_rollup(df, "ts", "v", keys="key")
    assert r.count() == 1
    assert merge_rollups(r, keys="key").count() == 1
    assert gapfill_buckets(r, 3_600_000_000, keys="key",
                           locf_cols="s").count() == 1

    iv = spark.createDataFrame([("a", 0.0, 1.0)], ["k", "lo", "hi"])
    assert merge_intervals(iv, "lo", "hi", "k").count() == 1

    kdf = spark.createDataFrame([("x",), ("x",)], ["qc"])
    assert k_anonymity_profile(kdf, "qc").first()["k_min"] == 2
    assert suppress_small_groups(kdf, "qc", 2).count() == 2

    rn = rank_normalize(spark.createDataFrame(
        [("g", 1.0), ("g", 2.0)], ["lang", "s"]), "s", "lang")
    assert rn.count() == 2

    d = table_diff(spark.createDataFrame([(1, 2.0)], ["id", "value"]),
                   spark.createDataFrame([(1, 2.0)], ["id", "value"]),
                   "id", "value")
    assert d.first()["status"] == "unchanged"


def test_rank_normalize_nulls_rank_last(spark):
    """Null scores must take the TOP percent-ranks (ANSI ASC = NULLS
    LAST), matching the DuckDB oracle ordering."""
    import pandas as pd
    from detanalysis_spark.operators.stats import rank_normalize
    df = spark.createDataFrame(pd.DataFrame(
        {"k": ["a"] * 3, "s": [10.0, None, 20.0]}))
    out = {r["s"]: r["score_pct"] for r in
           rank_normalize(df, "s", ["k"]).collect()}
    assert out[10.0] == 0.0 and out[20.0] == 0.5
    assert out[None] == 1.0


def test_table_diff_rejects_reserved_id(spark):
    import pytest as _pytest
    from detanalysis_spark.sources.tables import table_diff
    df = spark.createDataFrame([(1, 2.0)], ["status", "v"])
    with _pytest.raises(ValueError, match="collides"):
        table_diff(df, df, "status")


# ----------------------------------------------------------------------
# Deequ-style data-quality validation
# ----------------------------------------------------------------------
def test_check_table_all_check_kinds(spark):
    import pandas as pd
    from detanalysis_spark.operators.quality import (
        check_table, not_null, in_range, matches, unique, foreign_key)
    df = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2, 2, 4],
        "v": [10.0, None, 500.0, 20.0],
        "code": ["A-1", "B-2", "zz", None]}))
    ref = spark.createDataFrame([(1,), (2,)], ["k"])
    out = {r["check"]: (r["n_violations"], r["passed"]) for r in
           check_table(df, [
               not_null("v"),
               in_range("v", 0.0, 100.0),
               matches("code", "^[A-Z]-[0-9]$"),
               unique("id"),
               foreign_key("id", ref, "k"),
           ]).collect()}
    assert out["not_null(v)"] == (1, False)
    assert out["in_range(v,0.0,100.0)"] == (1, False)   # 500; null ok
    assert out["matches(code)"] == (1, False)           # zz; null ok
    assert out["unique(id)"] == (2, False)              # both id=2 rows
    assert out["foreign_key(id)"] == (1, False)         # id=4 orphan
    # a clean suite passes
    clean = check_table(df.filter("id = 1"),
                        [not_null("id"), unique("id")])
    assert all(r["passed"] for r in clean.collect())


def test_interval_overlap_join_vs_brute_force(spark):
    # binned interval-overlap join equals the brute-force inequality
    # join on random intervals, for both half-open and closed
    # semantics, and never plans a nested loop
    import numpy as np
    from detanalysis_spark.operators.joins import interval_overlap_join
    rng = np.random.default_rng(17)
    lv = [(i, float(lo), float(lo + rng.uniform(0.1, 8)))
          for i, lo in enumerate(rng.uniform(0, 50, 60))]
    rv = [(100 + i, float(lo), float(lo + rng.uniform(0.1, 8)))
          for i, lo in enumerate(rng.uniform(0, 50, 60))]
    left = spark.createDataFrame(lv, "lid long, llo double, lhi double")
    right = spark.createDataFrame(rv, "rid long, rlo double, rhi double")
    for half_open in (True, False):
        got = {(r.lid, r.rid) for r in interval_overlap_join(
            left, right, "llo", "lhi", "rlo", "rhi",
            bin_width=4.0, half_open=half_open).collect()}
        if half_open:
            want = {(a[0], b[0]) for a in lv for b in rv
                    if a[1] < b[2] and b[1] < a[2]}
        else:
            want = {(a[0], b[0]) for a in lv for b in rv
                    if a[1] <= b[2] and b[1] <= a[2]}
        assert got == want and len(want) > 0
    plan = interval_overlap_join(
        left, right, "llo", "lhi", "rlo", "rhi", bin_width=4.0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    # duplicate input rows keep their multiplicity (the canonical-bin
    # rule dedups shared-bin pair copies WITHOUT a distinct)
    dup_left = left.limit(1).union(left.limit(1))
    hit = interval_overlap_join(dup_left, right, "llo", "lhi",
                                "rlo", "rhi", bin_width=4.0)
    one = interval_overlap_join(left.limit(1), right, "llo", "lhi",
                                "rlo", "rhi", bin_width=4.0)
    assert hit.count() == 2 * one.count() > 0
    with pytest.raises(ValueError, match="bin_width"):
        interval_overlap_join(left, right, "llo", "lhi", "rlo", "rhi", 0)
    with pytest.raises(ValueError, match="colliding"):
        interval_overlap_join(left, left, "llo", "lhi", "llo", "lhi", 1)


# ----------------------------------------------------------------------
# fuzzy (edit-distance) join via SymSpell deletion neighborhoods
# ----------------------------------------------------------------------
def test_delete_neighborhood_matches_python(spark):
    from detanalysis_spark.operators.joins import delete_neighborhood
    import itertools

    def py_nbhd(s, d):
        out = {s}
        frontier = {s}
        for _ in range(d):
            nxt = set()
            for v in frontier:
                for i in range(len(v)):
                    nxt.add(v[:i] + v[i + 1:])
            out |= nxt
            frontier = nxt
        return out

    for s, d in [("abc", 1), ("abc", 2), ("a", 1), ("", 1),
                 ("hello", 2)]:
        got = set(spark.createDataFrame([(s,)], "s string").select(
            delete_neighborhood(F.col("s"), d).alias("n")).first().n)
        assert got == py_nbhd(s, d), (s, d)
    # null -> empty (joins nothing)
    got = spark.createDataFrame([(None,)], "s string").select(
        delete_neighborhood(F.col("s"), 1).alias("n")).first().n
    assert got == []


def test_fuzzy_join_matches_brute_force(spark):
    """SymSpell blocking is lossless: equals all-pairs levenshtein
    filter at d=1 and d=2 on a vocabulary with typos."""
    from detanalysis_spark.operators.joins import fuzzy_join
    words = ["grey", "gray", "green", "greet", "great", "spark",
             "spank", "shark", "alpha", "alpna", "alphaa", "beta"]
    typos = ["gery", "grean", "spak", "sparky", "alpha", "betaa",
             "gamma"]
    L = spark.createDataFrame([(w,) for w in words], ["word"])
    R = spark.createDataFrame([(w,) for w in typos], ["typo"])

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    for d in (1, 2):
        want = {(a, b, lev(a, b)) for a in words for b in typos
                if lev(a, b) <= d}
        got = {(r.word, r.typo, r.edit_distance) for r in
               fuzzy_join(L, R, "word", "typo",
                          max_distance=d).collect()}
        assert got == want, f"d={d}"


def test_fuzzy_join_same_column_name_and_duplicates(spark):
    from detanalysis_spark.operators.joins import fuzzy_join
    # duplicate rows collapse to distinct value pairs; same col name
    # gets a _right suffix
    L = spark.createDataFrame([("cat",), ("cat",)], ["w"])
    R = spark.createDataFrame([("cut",), ("cut",)], ["w"])
    rows = fuzzy_join(L, R, "w", "w", max_distance=1).collect()
    assert len(rows) == 1
    assert rows[0].w == "cat" and rows[0].w_right == "cut"
    assert rows[0].edit_distance == 1


# ----------------------------------------------------------------------
# link-graph operators (operators/graph.py)
# ----------------------------------------------------------------------
def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np
    from detanalysis_spark.operators.graph import pagerank
    rng = np.random.default_rng(3)
    n, edges = 12, set()
    while len(edges) < 30:
        a, b = rng.integers(0, n, 2)
        if a != b:
            edges.add((int(a), int(b)))
    E = spark.createDataFrame(sorted(edges), ["src", "dst"])
    T, d = 12, 0.85
    got = {r.node: r["rank"] for r in
           pagerank(E, iterations=T, damping=d).collect()}

    # numpy replay with the same dangling redistribution
    out = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)
    nodes = sorted({x for e in edges for x in e})
    r = {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(T):
        contrib = {v: 0.0 for v in nodes}
        dangling = 0.0
        for v in nodes:
            if v in out:
                share = r[v] / len(out[v])
                for w in out[v]:
                    contrib[w] += share
            else:
                dangling += r[v]
        base = (1 - d) / len(nodes) + d * dangling / len(nodes)
        r = {v: base + d * contrib[v] for v in nodes}
    assert set(got) == set(r)
    for v in r:
        assert abs(got[v] - r[v]) < 1e-9, v
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_uniform_on_regular_graph(spark):
    """On a k-regular graph PageRank is exactly uniform at every
    iteration — the closed form the oracle leans on."""
    from detanalysis_spark.operators.graph import pagerank
    n = 10
    edges = [(i, (i + 1) % n) for i in range(n)] + \
            [(i, (i + 3) % n) for i in range(n)]
    E = spark.createDataFrame(edges, ["src", "dst"])
    got = [r["rank"] for r in pagerank(E, iterations=7).collect()]
    assert len(got) == n
    for v in got:
        assert abs(v - 1.0 / n) < 1e-12


def test_degree_profile_includes_one_sided_nodes(spark):
    from detanalysis_spark.operators.graph import degree_profile
    E = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], ["src", "dst"])
    got = {r.node: (r.out_degree, r.in_degree) for r in
           degree_profile(E).collect()}
    assert got == {1: (2, 0), 2: (1, 1), 3: (0, 2)}


def test_pagerank_validation(spark):
    import pytest as _pt
    from detanalysis_spark.operators.graph import pagerank
    E = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with _pt.raises(ValueError):
        pagerank(E, iterations=0)
    with _pt.raises(ValueError):
        pagerank(E, damping=1.0)
    with _pt.raises(ValueError):
        pagerank(E, tol=0.0)


def test_pagerank_tol_early_stop(spark):
    """tol early-stop converges to the same fixed point as a long
    fixed-iteration run, and on an already-converged input (k-regular
    graph: uniform is the exact fixed point after round 1) it stops
    without burning the full budget — the result still matches the
    fixed-iteration answer bit-for-bit in value terms."""
    from detanalysis_spark.operators.graph import pagerank
    n = 8
    edges = [(i, (i + 1) % n) for i in range(n)] + \
            [(i, (i + 3) % n) for i in range(n)]
    E = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r["rank"] for r in
           pagerank(E, iterations=50, tol=1e-12).collect()}
    ref = {r.node: r["rank"] for r in
           pagerank(E, iterations=3).collect()}
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-10

    # converging (non-regular, with a dangling node) graph: tol run ==
    # the fixed point of a long run, within tol-scale error
    E2 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)], ["src", "dst"])
    # node 5 dangling via an edge into it
    E2 = E2.union(spark.createDataFrame([(3, 5)], ["src", "dst"]))
    tol_run = {r.node: r["rank"] for r in
               pagerank(E2, iterations=200, tol=1e-10).collect()}
    long_run = {r.node: r["rank"] for r in
                pagerank(E2, iterations=80).collect()}
    assert set(tol_run) == set(long_run)
    for v in long_run:
        assert abs(tol_run[v] - long_run[v]) < 1e-8
    assert abs(sum(tol_run.values()) - 1.0) < 1e-9


def test_column_encryption_and_pseudonymization(spark):
    """Column-level protection (round 12): GCM round-trips and is
    RANDOMIZED (same plaintext, different ciphertexts), ECB
    round-trips and is DETERMINISTIC (joinable pseudonymization),
    pseudonymize is one-way keyed sha2 (exact python replay, distinct
    secrets give unlinkable tokens), NULLs survive everywhere, and
    bad keys/lengths raise."""
    import hashlib

    from detanalysis_spark.operators.privacy import (decrypt_columns,
                                                     encrypt_columns,
                                                     pseudonymize)
    key = "0123456789abcdef"
    df = spark.createDataFrame(
        [(1, "alice"), (2, "alice"), (3, None)], "id long, name string")

    # GCM: round trip + randomized ciphertexts
    g = encrypt_columns(df, ["name"], key)
    cs = {r.id: r.name for r in g.collect()}
    assert cs[3] is None
    assert bytes(cs[1]) != bytes(cs[2])          # semantic security
    back = {r.id: r.name for r in
            decrypt_columns(g, ["name"], key).collect()}
    assert back == {1: "alice", 2: "alice", 3: None}

    # ECB: round trip + deterministic (equal plaintexts join)
    e = encrypt_columns(df, ["name"], key, deterministic=True)
    es = {r.id: r.name for r in e.collect()}
    assert bytes(es[1]) == bytes(es[2]) and es[3] is None
    back = {r.id: r.name for r in
            decrypt_columns(e, ["name"], key,
                            deterministic=True).collect()}
    assert back == {1: "alice", 2: "alice", 3: None}

    # pseudonymize: exact sha2 replay, keyed, one-way, NULL-safe
    p = {r.id: r.name for r in
         pseudonymize(df, ["name"], "sec").collect()}
    want = hashlib.sha256("sec\x1falice".encode()).hexdigest()[:16]
    assert p == {1: want, 2: want, 3: None}
    p2 = {r.id: r.name for r in
          pseudonymize(df, ["name"], "other").collect()}
    assert p2[1] != p[1]                         # unlinkable secrets

    with pytest.raises(ValueError, match="16, 24, or 32"):
        encrypt_columns(df, ["name"], "short")
    with pytest.raises(ValueError, match="length"):
        pseudonymize(df, ["name"], "sec", length=4)


def test_decrypt_quarantine_flags_bad_ciphertexts(spark):
    """on_error='quarantine' (try_aes_decrypt): tampered/garbage
    ciphertexts come back NULL with a __corrupt flag instead of
    failing the job; valid rows decrypt; NULL inputs are not flagged."""
    from detanalysis_spark.operators.privacy import (decrypt_columns,
                                                     encrypt_columns)
    key = "0123456789abcdef"
    df = spark.createDataFrame(
        [(1, "good"), (2, "also good"), (3, None)],
        "id long, name string")
    enc = encrypt_columns(df, ["name"], key)
    rows = [(r.id, bytes(r.name) if r.name is not None else None)
            for r in enc.collect()]
    rows[1] = (2, b"\x00garbage-not-a-ciphertext")     # tamper row 2
    bad = spark.createDataFrame(rows, "id long, name binary")

    got = {r.id: (r.name, r.name__corrupt) for r in
           decrypt_columns(bad, ["name"], key,
                           on_error="quarantine").collect()}
    assert got[1] == ("good", False)
    assert got[2] == (None, True)
    assert got[3] == (None, False)               # NULL in, not corrupt

    # default mode raises on the same tampered frame
    with pytest.raises(Exception):
        decrypt_columns(bad, ["name"], key).collect()

    with pytest.raises(ValueError, match="on_error"):
        decrypt_columns(bad, ["name"], key, on_error="nope")


def test_bucket_top_edge_one_ulp_below_hi(spark):
    """A value one ulp below the top edge divides out to exactly
    ``shape`` and must land in the last bin, as in NumPy: hist1d used to
    drop it, hist2d raised IndexError, Semiautocut.histograms dropped
    it from both counts."""
    from detanalysis_spark.analyzer import EVENT_INDEX, Analyzer
    from detanalysis_spark.semiautocut import Semiautocut

    vals = [0.0, float(np.nextafter(1.0, 0.0)), 1.0]
    want, _ = np.histogram(vals, bins=3, range=(0.0, 1.0))
    assert list(want) == [1, 0, 2]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    counts, _ = hist1d(df, "x", shape=3, limits=(0.0, 1.0))
    np.testing.assert_array_equal(counts, want)
    grid, _, _ = hist2d(df, "x", "x", shape=3, limits_x=(0.0, 1.0),
                        limits_y=(0.0, 1.0))
    want2, _, _ = np.histogram2d(vals, vals, bins=3,
                                 range=((0.0, 1.0), (0.0, 1.0)))
    np.testing.assert_array_equal(grid, want2.astype(np.int64))

    ana = Analyzer(spark.createDataFrame(list(enumerate(vals)),
                                         f"`{EVENT_INDEX}` long, rq double"))
    sac = Semiautocut(ana, "rq", cut_pars={"val_lower": 0.5})
    sac.do_cut()
    c_all, c_pass, _ = sac.histograms(shape=3, limits=(0.0, 1.0))
    np.testing.assert_array_equal(c_all, want)
    np.testing.assert_array_equal(c_pass, [0, 0, 2])
