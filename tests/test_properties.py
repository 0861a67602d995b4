"""Property-based invariants (hypothesis) for the cut algebra, binning,
and dedup layers — shrinkable counterexamples over generated frames.

Spark round-trips are expensive per example, so each property uses a
small max_examples with deadline disabled (JVM warm-up skews timing)."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from detanalysis_spark.analyzer import Analyzer
from detanalysis_spark.operators import (assign_bin, equal_width_edges,
                                         polyval)
from detanalysis_spark.llm import dedup as D

SETTINGS = dict(max_examples=12, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


@pytest.fixture(scope="module")
def base(spark):
    rows = [(i, float(v)) for i, v in enumerate(
        np.random.default_rng(0).normal(50, 20, 400))]
    return spark.createDataFrame(rows, ["id", "x"])


@given(lo=st.floats(-50, 60), hi=st.floats(61, 200))
@settings(**SETTINGS)
def test_cut_algebra_partition_invariant(base, lo, hi):
    """cut + subtract(cut) partition the frame: |A| + |¬A| = |all|, and
    and/or/xor obey |A∧B| + |A⊻B| = |A∨B|."""
    ana = Analyzer(base)
    ana.register_cut(f"x > {lo}", "a", overwrite=True)
    ana.register_cut(f"x < {hi}", "b", overwrite=True)
    n = base.count()
    n_a = ana._subset_df(base, "a").count()
    n_not_a = base.filter(~ana.resolve_cut("a")).count()
    assert n_a + n_not_a == n
    ana.combine_cuts(["a", "b"], "and_", mode="and", overwrite=True)
    ana.combine_cuts(["a", "b"], "or_", mode="or", overwrite=True)
    ana.combine_cuts(["a", "b"], "xor_", mode="xor", overwrite=True)
    assert (ana._subset_df(base, "and_").count()
            + ana._subset_df(base, "xor_").count()
            == ana._subset_df(base, "or_").count())


@given(n_bins=st.integers(2, 12))
@settings(**SETTINGS)
def test_equal_width_bins_cover_all_rows(base, n_bins):
    """Every row falls in exactly one [lo, hi] equal-width bin."""
    edges = equal_width_edges(base, "x", n_bins)
    assert len(edges) == n_bins + 1
    binned = base.withColumn("b", assign_bin(F.col("x"), edges))
    assert binned.filter(F.col("b").isNull()).count() == 0
    counts = dict(binned.groupBy("b").count().collect())
    assert sum(counts.values()) == base.count()
    assert set(counts) <= set(range(n_bins))


@given(coeffs=st.lists(st.floats(-3, 3), min_size=1, max_size=5),
       x=st.floats(-4, 4))
@settings(**SETTINGS)
def test_polyval_property(spark, coeffs, x):
    got = spark.range(1).select(
        polyval(coeffs, F.lit(float(x))).alias("y")).first().y
    want = float(np.polyval(np.array(coeffs[::-1]), x))
    assert got == pytest.approx(want, rel=1e-9, abs=1e-9)


@given(texts=st.lists(
    st.text(alphabet="ab cd", min_size=0, max_size=30),
    min_size=1, max_size=8))
@settings(**SETTINGS)
def test_dedup_exact_idempotent_and_minimal(spark, texts):
    """dedup_exact keeps exactly one row per distinct text — the one
    with the smallest id — and is idempotent."""
    df = spark.createDataFrame(list(enumerate(texts)), ["id", "t"])
    kept = D.dedup_exact(df, ["t"], "id")
    rows = kept.collect()
    assert len(rows) == len(set(texts))
    by_text = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, i)
    assert sorted(r.id for r in rows) == sorted(by_text.values())
    assert D.dedup_exact(kept, ["t"], "id").count() == len(rows)


@given(ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=60,
                    unique=True),
       seed=st.integers(0, 100), bs=st.integers(1, 7))
@settings(**SETTINGS)
def test_assign_batches_is_dense_permutation(spark, ids, seed, bs):
    """Shuffle ranks are a dense 0..n-1 permutation for ANY id set,
    batches are contiguous rank blocks, and the same seed reproduces
    the exact assignment."""
    from detanalysis_spark.operators.sampling import assign_batches
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = assign_batches(df, "doc_id", bs, seed=seed).collect()
    ranks = sorted(r.shuffle_rank for r in out)
    assert ranks == list(range(len(ids)))
    for r in out:
        assert r.batch == r.shuffle_rank // bs
    again = {r.doc_id: r.shuffle_rank
             for r in assign_batches(df, "doc_id", bs, seed=seed).collect()}
    assert {r.doc_id: r.shuffle_rank for r in out} == again


@given(texts=st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1,
    max_size=12))
@settings(**SETTINGS)
def test_span_dup_stats_invariants(spark, texts):
    """For ANY corpus: every doc appears exactly once, 0 <= dup <=
    total spans, and total spans equals the per-doc positional gram
    count (len - n + 1, floored at 0, on whitespace tokens)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_spans, r.n_dup_spans)
           for r in D.span_dup_stats(df, span_tokens=3).collect()}
    assert set(out) == set(range(len(texts)))
    for i, t in rows:
        toks = t.strip().split()
        toks = [x for x in toks if x] or ([""] if not t.strip() else [])
        want = max(len(toks) - 2, 0) if toks else 0
        n_spans, n_dup = out[i]
        assert n_spans == want, (t, toks, n_spans, want)
        assert 0 <= n_dup <= n_spans


@given(min_docs=st.integers(1, 8),
       seed=st.integers(0, 10_000))
@settings(**SETTINGS)
def test_boilerplate_rebuild_invariants(spark, min_docs, seed):
    """remove_boilerplate_lines invariants over random corpora:
    (1) kept lines = lines whose doc-frequency < min_docs, in original
    order; (2) min_docs > n_docs is the identity; (3) per-doc
    n_lines_kept equals the rebuilt text's line count."""
    from detanalysis_spark.llm import remove_boilerplate_lines
    rng = np.random.default_rng(seed)
    pool = [f"line{j}" for j in range(6)]
    docs = []
    for i in range(6):
        k = int(rng.integers(1, 5))
        docs.append((i, "\n".join(rng.choice(pool, size=k, replace=True))))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    # oracle doc-frequency in plain python (distinct per doc)
    from collections import Counter
    freq = Counter()
    for _, t in docs:
        freq.update(set(t.split("\n")))

    out = {r["doc_id"]: r for r in
           remove_boilerplate_lines(df, min_docs=min_docs).collect()}
    assert len(out) == len(docs)
    for i, t in docs:
        expect = [ln for ln in t.split("\n") if freq[ln] < min_docs]
        got = out[i]["clean_text"].split("\n") if out[i]["clean_text"] \
            else []
        assert got == expect, (i, t, min_docs)
        assert out[i]["n_lines_kept"] == len(expect)

    ident = {r["doc_id"]: r["clean_text"] for r in
             remove_boilerplate_lines(df, min_docs=7).collect()}
    assert ident == {i: t for i, t in docs}


@given(seed=st.integers(0, 10**6))
@settings(**SETTINGS)
def test_bpe_merge_fold_matches_python(spark, seed):
    """The JVM-native merge fold (train_bpe's per-round projection)
    equals a plain left-to-right non-overlapping python merge on
    arbitrary symbol sequences — including overlap traps like
    (a, a) over 'a a a'."""
    from detanalysis_spark.llm.text import _merge_pair_expr
    rng = np.random.default_rng(seed)
    alphabet = ["a", "b", "ab", "c"]
    seqs = [[str(alphabet[j]) for j in
             rng.integers(0, len(alphabet), rng.integers(0, 9))]
            for _ in range(8)]
    a, b = (str(alphabet[rng.integers(0, len(alphabet))]),
            str(alphabet[rng.integers(0, len(alphabet))]))

    def py_merge(toks):
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    df = spark.createDataFrame([(i, s) for i, s in enumerate(seqs)],
                               "i int, syms array<string>")
    got = {r.i: r.m for r in df.select(
        "i", _merge_pair_expr(F.col("syms"), a, b).alias("m")).collect()}
    for i, s in enumerate(seqs):
        assert got[i] == py_merge(s), (s, a, b)


@given(seed=st.integers(0, 10**6), parts=st.integers(1, 7))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_semantic_dedup_invariants(spark, seed, parts):
    """SemDeDup keep rule: (1) the lowest-id point of every cluster is
    always kept; (2) every dropped point has a kept-or-dropped
    lower-id neighbor above threshold; (3) the kept set is invariant
    under repartitioning."""
    from detanalysis_spark.llm.similarity import semantic_dedup
    rng = np.random.default_rng(seed)
    n, d = 24, 4
    vecs = rng.standard_normal((n, d))
    # plant some duplicates so the threshold bites
    for j in range(0, n, 5):
        vecs[j] = vecs[(j + 7) % n] + 0.01 * rng.standard_normal(d)
    cl = rng.integers(0, 3, n)
    df = spark.createDataFrame(
        [(i, int(cl[i]), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, c long, embedding array<double>")
    kept = sorted(r.vec_id for r in
                  semantic_dedup(df, 0.98, cluster_col="c").collect())
    kept2 = sorted(r.vec_id for r in semantic_dedup(
        df.repartition(parts), 0.98, cluster_col="c").collect())
    assert kept == kept2
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for c in set(cl):
        ids = [i for i in range(n) if cl[i] == c]
        assert min(ids) in kept
    for i in range(n):
        if i not in kept:
            assert any(j < i and cl[j] == cl[i]
                       and unit[j] @ unit[i] >= 0.98 for j in range(i))


@given(splits=st.lists(st.integers(0, 2), min_size=6, max_size=6),
       width_h=st.integers(1, 48))
@settings(**SETTINGS)
def test_rollup_merge_associative_any_partitioning(spark, splits, width_h):
    """merge(build(parts)) == build(full) for EVERY way of splitting
    the rows into up to 3 batches and any bucket width — the mergeable
    sufficient-statistic invariant behind incremental rollups."""
    import datetime as dt
    from detanalysis_spark.operators.rollup import (build_rollup,
                                                    merge_rollups)
    base_t = dt.datetime(2024, 1, 1)
    rows = [(base_t + dt.timedelta(hours=3 * i), float(i * i % 17))
            for i in range(6)]
    df = spark.createDataFrame(rows, ["ts", "v"])
    width = width_h * 3_600_000_000
    full = build_rollup(df, "ts", "v", width_us=width)

    parts = []
    for p in range(3):
        idx = [i for i, s in enumerate(splits) if s == p]
        if idx:
            parts.append(build_rollup(
                spark.createDataFrame([rows[i] for i in idx],
                                      ["ts", "v"]),
                "ts", "v", width_us=width))
    merged = merge_rollups(*parts) if parts else None
    want = {r["bucket_us"]: (r["n"], r["s"], r["mn"], r["mx"])
            for r in full.collect()}
    got = {r["bucket_us"]: (r["n"], r["s"], r["mn"], r["mx"])
           for r in merged.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-9
        assert got[k][2:] == want[k][2:]


@given(xs=st.lists(st.integers(0, 255), min_size=1, max_size=8),
       ys=st.lists(st.integers(0, 255), min_size=1, max_size=8))
@settings(**SETTINGS)
def test_zorder_key_preserves_per_dim_order(spark, xs, ys):
    """Morton keys are monotone along each axis when the other axis is
    fixed — the property that makes z-range scans align with value
    ranges."""
    from detanalysis_spark.sources.layout import zorder_key
    rows = ([(float(x), 0.0) for x in xs]
            + [(0.0, float(y)) for y in ys])
    df = spark.createDataFrame(rows, ["x", "y"])
    out = df.withColumn("z", zorder_key(
        df, ["x", "y"], bits=8,
        ranges={"x": (0.0, 255.0), "y": (0.0, 255.0)})).collect()
    on_x = sorted((r["x"], r["z"]) for r in out if r["y"] == 0.0)
    assert all(z1 <= z2 for (_, z1), (_, z2) in zip(on_x, on_x[1:]))
    on_y = sorted((r["y"], r["z"]) for r in out if r["x"] == 0.0)
    assert all(z1 <= z2 for (_, z1), (_, z2) in zip(on_y, on_y[1:]))


@given(texts=st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=12),
    min_size=2, max_size=5))
@settings(**SETTINGS)
def test_bigram_scores_bounded_and_token_consistent(spark, texts):
    """Scoring the training corpus itself never exercises backoff, so
    every per-doc NLL is a mean of -ln(p) with p in (0, 1] — finite
    and >= 0; n_bigrams == max(tokens - 1, 0) per doc."""
    from detanalysis_spark.llm.text import (train_bigram_lm,
                                            bigram_logprob_scores)
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    lm = train_bigram_lm(df)
    out = {r["doc_id"]: r for r in
           bigram_logprob_scores(df, lm).collect()}
    for i, t in rows:
        n_tok = len(t.split())
        if n_tok < 2:
            assert i not in out
        else:
            assert out[i]["n_bigrams"] == n_tok - 1
            assert out[i]["nll"] >= -1e-12
            assert out[i]["nll"] < float("inf")


@given(texts=st.lists(
    st.text(alphabet="abc xyz", min_size=1, max_size=20),
    min_size=2, max_size=5),
    max_df=st.one_of(st.none(), st.integers(1, 4)))
@settings(**SETTINGS)
def test_token_cosine_matches_counter_cosine(spark, texts, max_df):
    """token_cosine_pairs equals the Counter-based cosine for every
    generated pair above threshold, and never emits a pair below it.
    With ``max_df`` the reference applies the same cut: only terms in
    at most ``max_df`` docs count toward the dot product (and make a
    pair a candidate), while norms keep every term."""
    import math
    from collections import Counter
    from detanalysis_spark.llm.dedup import token_cosine_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    thr = 0.4
    got = {(r["id_a"], r["id_b"]): r["sim"] for r in
           token_cosine_pairs(df, threshold=thr, max_df=max_df).collect()}

    bags = [Counter(w.lower() for w in t.split()) for t in texts]
    dfreq = Counter(t for b in bags for t in b)
    kept = {t for t, n in dfreq.items() if max_df is None or n <= max_df}

    def cos(a, b):
        shared = [t for t in a if t in b and t in kept]
        if not shared:
            return None
        dot = sum(a[t] * b[t] for t in shared)
        na = math.sqrt(sum(v * v for v in a.values()))
        nb = math.sqrt(sum(v * v for v in b.values()))
        return dot / (na * nb)

    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            want = cos(bags[i], bags[j])
            if want is not None and want >= thr:
                assert abs(got[(i, j)] - want) < 1e-12, (i, j)
            else:
                assert (i, j) not in got, (i, j)


@given(edges=st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=0, max_size=60))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_match_reference_unionfind(spark, edges):
    """The distributed star path and the bounded driver fast path
    produce the partition of an independent reference union-find on
    arbitrary random graphs — including self-loops, duplicate edges,
    and reversed duplicates."""
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], ["id_a", "id_b"])

    # reference: textbook union-find, min element as representative
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in (edges or [(0, 0)]):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    want = {(x, find(x)) for x in parent}

    fast = {(r.id, r.cluster_id)
            for r in D.near_dup_clusters(pairs).collect()}
    star = {(r.id, r.cluster_id)
            for r in D.near_dup_clusters(
                pairs, driver_max_edges=0).collect()}
    assert fast == want
    assert star == want


@given(rows=st.lists(
    st.tuples(
        st.one_of(st.none(), st.lists(
            st.floats(-10, 10, allow_nan=False), min_size=0, max_size=6)),
        st.one_of(st.none(), st.lists(
            st.floats(-10, 10, allow_nan=False), min_size=0, max_size=6))),
    min_size=1, max_size=40))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dot_rows_matches_numpy_with_nulls_and_ragged(spark, rows):
    """dot_rows (BLAS fast path + row-wise fallback) equals a per-row
    numpy dot on arbitrary batches mixing null vectors and ragged
    lengths — invalid pairs score null, valid pairs are exact."""
    from detanalysis_spark.llm.similarity import dot_rows

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "i long, a array<double>, b array<double>")
    got = {r.i: r.d for r in df.select(
        "i", dot_rows(F.col("a"), F.col("b")).alias("d")).collect()}
    for i, (a, b) in enumerate(rows):
        if a is None or b is None or len(a) != len(b):
            assert got[i] is None, i
        else:
            want = float(np.dot(a, b)) if a else 0.0
            assert got[i] == pytest.approx(want, abs=1e-9), i


@given(data=st.data())
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_matches_pandas_property(spark, data):
    """asof_join (union-window shape) equals pandas merge_asof on
    random frames — right (key, time) pairs kept unique so the
    backward match is well-defined in both engines."""
    import pandas as pd
    from detanalysis_spark.operators.joins import asof_join

    lt = data.draw(st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 50)),
        min_size=1, max_size=30))
    rt = data.draw(st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 50)),
        min_size=1, max_size=15, unique=True))
    tol = data.draw(st.one_of(st.none(), st.integers(1, 20)))

    left = pd.DataFrame({"k": [k for k, _ in lt],
                         "t": pd.array([t for _, t in lt], "int64"),
                         "x": pd.array(range(len(lt)), "int64")})
    right = pd.DataFrame({"k": [k for k, _ in rt],
                          "t": pd.array([t for _, t in rt], "int64"),
                          "v": pd.array(range(len(rt)), "int64")})
    got = asof_join(spark.createDataFrame(left),
                    spark.createDataFrame(right),
                    on="t", by="k", tolerance=tol).toPandas() \
        .sort_values("x", ignore_index=True)
    want = pd.merge_asof(left.sort_values(["t", "x"]),
                         right.sort_values("t"), on="t", by="k",
                         direction="backward", tolerance=tol) \
        .sort_values("x", ignore_index=True)
    assert list(got.v.fillna(-1)) == list(want.v.fillna(-1))


@given(data=st.data())
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_range_join_binned_matches_bruteforce_property(spark, data):
    """Binned point-in-interval join equals the brute-force O(n·m)
    answer on random inputs — including points exactly on lo/hi
    (half-open [lo, hi)), zero-width and inverted intervals, and
    negative coordinates that exercise floor-division bin ids."""
    from detanalysis_spark.operators.joins import range_join_binned

    pts = data.draw(st.lists(st.integers(-20, 20),
                             min_size=1, max_size=25))
    ivs = data.draw(st.lists(st.tuples(st.integers(-20, 20),
                                       st.integers(-20, 20)),
                             min_size=1, max_size=12))
    width = data.draw(st.sampled_from([1.0, 3.0, 7.5]))

    p = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(pts)], ["pid", "x"])
    iv = spark.createDataFrame(
        [(j, float(lo), float(hi)) for j, (lo, hi) in enumerate(ivs)],
        ["iid", "lo", "hi"])
    got = {(r.pid, r.iid) for r in range_join_binned(
        p, iv, "x", "lo", "hi", bin_width=width).collect()}
    want = {(i, j) for i, v in enumerate(pts)
            for j, (lo, hi) in enumerate(ivs) if lo <= v < hi}
    assert got == want


@given(data=st.data())
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_intervals_matches_reference_sweep(spark, data):
    """merge_intervals equals a reference sort+sweep per key on random
    interval sets — overlapping, touching (lo == running hi merges),
    nested, duplicated, and null-bound rows (dropped)."""
    from detanalysis_spark.operators.joins import merge_intervals

    ivs = data.draw(st.lists(
        st.tuples(st.sampled_from("ab"),
                  st.one_of(st.none(), st.integers(0, 30)),
                  st.one_of(st.none(), st.integers(0, 30))),
        min_size=1, max_size=25))
    rows = [(k, None if lo is None else float(lo),
             None if hi is None else float(max(lo, hi))
             if lo is not None and hi is not None else
             (None if hi is None else float(hi)))
            for k, lo, hi in ivs]
    df = spark.createDataFrame(rows, "k string, lo double, hi double")
    got = {(r.k, r.lo, r.hi, r.n_merged) for r in
           merge_intervals(df, "lo", "hi", ["k"]).collect()}

    want = set()
    for key in {k for k, *_ in rows}:
        ks = sorted([(lo, hi) for k, lo, hi in rows
                     if k == key and lo is not None and hi is not None])
        i = 0
        while i < len(ks):
            lo, hi, n = ks[i][0], ks[i][1], 1
            j = i + 1
            while j < len(ks) and ks[j][0] <= hi:
                hi = max(hi, ks[j][1]); n += 1; j += 1
            want.add((key, lo, hi, n))
            i = j
    assert got == want


@given(data=st.data())
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_documents_matches_reference_cumsum(spark, data):
    """pack_documents (window cumsum) equals the greedy reference:
    pack_id = floor(tokens-before / budget), offset = remainder —
    per stream, in order, including zero-token docs and docs larger
    than the budget."""
    from detanalysis_spark.llm.text import pack_documents

    docs = data.draw(st.lists(
        st.tuples(st.sampled_from("xy"), st.integers(0, 12)),
        min_size=1, max_size=25))
    budget = data.draw(st.sampled_from([1, 4, 9]))
    rows = [(i, k, n) for i, (k, n) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, src string, n long")
    got = {r.doc_id: (r.pack_id, r.pack_offset) for r in pack_documents(
        df, "n", budget, order_col="doc_id",
        partition_cols=["src"]).collect()}

    for key in "xy":
        cum = 0
        for i, k, n in rows:
            if k != key:
                continue
            assert got[i] == (cum // budget, cum % budget), i
            cum += n


@given(data=st.data())
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_take_token_budget_matches_greedy_prefix(spark, data):
    """take_token_budget keeps exactly the greedy per-stream prefix:
    a doc survives iff the tokens BEFORE it total less than the
    budget (overshoot by at most one doc), in order, per stream."""
    from detanalysis_spark.llm.text import take_token_budget

    docs = data.draw(st.lists(
        st.tuples(st.sampled_from("xy"), st.integers(0, 12)),
        min_size=1, max_size=25))
    budget = data.draw(st.sampled_from([1, 5, 11]))
    rows = [(i, k, n) for i, (k, n) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, src string, n long")
    got = {r.doc_id for r in take_token_budget(
        df, "n", budget, order_col="doc_id",
        partition_cols=["src"]).collect()}

    want = set()
    for key in "xy":
        cum = 0
        for i, k, n in rows:
            if k != key:
                continue
            if cum < budget:
                want.add(i)
            cum += n
    assert got == want


@given(ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=60,
                    unique=True),
       seed=st.integers(0, 3))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_assign_split_total_deterministic_and_stable(spark, ids, seed):
    """Every row gets exactly one split from the declared set; the
    assignment is a pure function of (seed, id) — identical across
    repeated runs and under repartitioning."""
    from detanalysis_spark.operators.sampling import assign_split

    fr = {"train": 0.7, "val": 0.2, "test": 0.1}
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    a = {r.doc_id: r.split for r in
         assign_split(df, "doc_id", fr, seed=seed).collect()}
    b = {r.doc_id: r.split for r in
         assign_split(df.repartition(7), "doc_id", fr,
                      seed=seed).collect()}
    assert set(a) == set(ids)
    assert all(v in fr for v in a.values())
    assert a == b


@given(words=st.lists(
    st.text(alphabet="abc", min_size=1, max_size=4),
    min_size=1, max_size=30),
    num_merges=st.integers(1, 6))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_train_bpe_matches_reference(spark, words, num_merges):
    """train_bpe equals a reference Python BPE on random corpora: same
    merge sequence under the documented tie-break (count desc, a asc,
    b asc), same left-to-right non-overlapping merge scan, same
    min_freq early stop."""
    from collections import Counter
    from detanalysis_spark.llm.text import BPE_EOW, train_bpe

    df = spark.createDataFrame([(" ".join(words),)], ["text"])
    got, _ = train_bpe(df, num_merges, min_freq=2)

    wf = Counter(words)
    syms = {w: [*w, BPE_EOW] for w in wf}
    want = []
    for _ in range(num_merges):
        counts = Counter()
        for w, s in syms.items():
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += wf[w]
        if not counts:
            break
        best = min(counts.items(),
                   key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if best[1] < 2:
            break
        (a, b), _n = best
        want.append((a, b))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(s[i]); i += 1
            syms[w] = out
    assert got == want


@given(texts=st.lists(
    st.text(alphabet="abcTHE the.,;!?09 \t\n'\"-()", min_size=0,
            max_size=60),
    min_size=1, max_size=20))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quality_struct_matches_python_reference(spark, texts):
    """The bound-lambda quality struct (this round's rewrite) equals a
    plain Python reference on arbitrary ASCII text — whitespace runs,
    empty/blank docs, punctuation clusters, stopword casing."""
    import re
    from detanalysis_spark.llm.text import (LANG_STOPWORDS,
                                            quality_struct)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = {r.i: r.q.asDict() for r in df.select(
        "i", quality_struct(F.col("text")).alias("q")).collect()}

    punct = re.compile(r"[.,;:!?'\"()\[\]{}<>/@#$%^&*_+=~`|\\-]")
    stops = set(LANG_STOPWORDS["en"])
    for i, t in enumerate(texts):
        toks = re.split(r"\s+", t.strip()) if t.strip() else []
        n_tok = len(toks)
        want = {
            "n_chars": len(t),
            "n_tokens": n_tok,
            "mean_token_len": sum(map(len, toks)) / max(n_tok, 1),
            "punct_ratio": len(punct.findall(t)) / max(len(t), 1),
            "digit_ratio": len(re.findall(r"[0-9]", t)) / max(len(t), 1),
            "upper_ratio": len(re.findall(r"[A-Z]", t)) / max(len(t), 1),
            "stopword_ratio":
                sum(w.lower() in stops for w in toks) / max(n_tok, 1),
        }
        for k, v in want.items():
            assert got[i][k] == pytest.approx(v, abs=1e-12), (i, k, t)


@given(texts=st.lists(
    st.text(alphabet="ab x\n\t", min_size=0, max_size=40),
    min_size=1, max_size=15),
    n=st.sampled_from([2, 3]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_repetition_struct_matches_python_reference(spark, texts, n):
    """dup-token / dup-ngram / max-token ratios equal a Counter-based
    reference under str.split() tokenization — repeated runs,
    whitespace-only docs, fewer-than-n-token docs."""
    from collections import Counter
    from detanalysis_spark.llm.cleaning import repetition_struct

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = {r.i: r.q.asDict() for r in df.select(
        "i", repetition_struct(F.col("text"), n=n).alias("q")).collect()}
    for i, t in enumerate(texts):
        toks = t.split()
        grams = [" ".join(toks[j:j + n])
                 for j in range(max(len(toks) - n + 1, 0))]
        want = {
            "dup_token_ratio":
                1 - len(set(toks)) / len(toks) if toks else 0.0,
            "dup_ngram_ratio":
                1 - len(set(grams)) / len(grams) if grams else 0.0,
            "max_token_ratio":
                max(Counter(toks).values()) / len(toks) if toks else 0.0,
        }
        for key, v in want.items():
            assert got[i][key] == pytest.approx(v, abs=1e-12), (i, key, t)


@given(texts=st.lists(st.text(alphabet="abc", min_size=0, max_size=30),
                      min_size=1, max_size=10),
       k=st.sampled_from([3, 5]), w=st.sampled_from([2, 4]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_winnow_fingerprints_matches_windowed_min_reference(
        spark, texts, k, w):
    """Winnowing equals the reference window-min-then-distinct over
    the SAME k-gram hash array (computed natively, so the property
    isolates the windowing/dedup logic) — short docs collapse to a
    single gram/window by contract."""
    from detanalysis_spark.llm.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["i", "text"])
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(
            F.length("text") - (k - 1), F.lit(1))),
        lambda i: F.col("text").substr(i, F.lit(k)))
    rows = df.select(
        "i",
        F.transform(grams, lambda g: F.xxhash64(g)).alias("hashes"),
        winnow_fingerprints(F.col("text"), k=k, w=w).alias("fp")
    ).collect()
    for r in rows:
        hs = r.hashes
        mins = [min(hs[j:j + w])
                for j in range(max(len(hs) - w + 1, 1))]
        want = sorted(set(mins))
        assert sorted(r.fp) == want, (r.i, texts[r.i])


@given(vals=st.lists(st.floats(-1e6, 1e6, allow_nan=False,
                               allow_infinity=False),
                     min_size=1, max_size=50),
       qs=st.lists(st.floats(0, 100), min_size=1, max_size=4))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_exact_percentiles_match_numpy(spark, vals, qs):
    """Exact-mode percentiles equal np.percentile (linear
    interpolation) for arbitrary data and quantiles — the definition
    the semiauto threshold semantics depend on (SURVEY hard part 1)."""
    from detanalysis_spark.operators.stats import (percentiles,
                                                   robust_sigma)
    df = spark.createDataFrame([(float(v),) for v in vals], ["x"])
    got = percentiles(df, "x", qs, exact=True)
    want = np.percentile(vals, qs)
    for g, w in zip(got, want):
        assert g == pytest.approx(w, rel=1e-12, abs=1e-9), (qs, vals)
    med, sig = robust_sigma(df, "x")
    p = np.percentile(vals, [15.865, 50.0, 84.135])
    assert med == pytest.approx(p[1], rel=1e-12, abs=1e-9)
    assert sig == pytest.approx(
        (abs(p[0] - p[1]) + abs(p[1] - p[2])) / 2, rel=1e-12, abs=1e-9)


# ----------------------------------------------------------------------
# registered_domain vs a python replay of the eTLD+1 rule
# ----------------------------------------------------------------------
_LABEL = st.text(alphabet="abcxyz019", min_size=1, max_size=6)


def _py_registered_domain(host, suffixes):
    if host is None:
        return None
    parts = host.split(".")
    if len(parts) <= 2:
        return host
    last2 = ".".join(parts[-2:])
    if last2 in suffixes:
        return ".".join(parts[-3:])
    return last2


@given(hosts=st.lists(
    st.one_of(st.none(),
              st.lists(_LABEL, min_size=1, max_size=5).map(".".join),
              st.lists(_LABEL, min_size=1, max_size=3)
              .map(lambda ls: ".".join(ls + ["co", "uk"]))),
    min_size=1, max_size=25))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_registered_domain_matches_python_reference(spark, hosts):
    from detanalysis_spark.llm.cleaning import (SECOND_LEVEL_SUFFIXES,
                                                registered_domain)
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hosts)], "i long, host string")
    got = {r.i: r.d for r in df.select(
        "i", registered_domain("host").alias("d")).collect()}
    sfx = set(SECOND_LEVEL_SUFFIXES)
    for i, h in enumerate(hosts):
        assert got[i] == _py_registered_domain(h, sfx), (h, got[i])


# ----------------------------------------------------------------------
# strip_html vs a python re replay of the exact documented chain
# ----------------------------------------------------------------------
def _py_strip_html(s):
    import re
    out = re.sub(r"(?is)<script[^>]*>.*?</script>", " ", s)
    out = re.sub(r"(?is)<style[^>]*>.*?</style>", " ", out)
    out = re.sub(r"(?s)<!--.*?-->", " ", out)
    out = re.sub(r"(?i)<[^>]*>", " ", out)
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
                    ("&amp;", "&")):
        out = out.replace(ent, ch)
    return re.sub(r"\s+", " ", out).strip()


_HTMLISH = st.lists(st.sampled_from(
    ["plain", "words here", "<p>", "</p>", "<script>", "</script>",
     "<style>", "</style>", "<!--", "-->", "<b attr='x'>", "&amp;",
     "&lt;", "&nbsp;", "a & b", "<", ">", "  ", "\n", "\t",
     "<SCRIPT>", "</SCRIPT>", "x=1;"]), min_size=0, max_size=20) \
    .map(" ".join)


@given(docs=st.lists(_HTMLISH, min_size=1, max_size=20))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_strip_html_matches_python_reference(spark, docs):
    # the chain is order-sensitive (script blocks before generic tags,
    # &amp; decoded last); the python replay pins Java-regex semantics
    # against re's on adversarial tag-soup compositions
    from detanalysis_spark.llm.cleaning import strip_html
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "i long, html string")
    got = {r.i: r.t for r in df.select(
        "i", strip_html("html").alias("t")).collect()}
    for i, d in enumerate(docs):
        assert got[i] == _py_strip_html(d), (d, got[i])


# ----------------------------------------------------------------------
# Bloom filter: no false negatives + merge == union-build, over
# generated value sets (shrinkable)
# ----------------------------------------------------------------------
_VAL = st.text(alphabet="abcdef0123456789-", min_size=1, max_size=12)


@given(ins=st.lists(_VAL, min_size=1, max_size=60, unique=True),
       split=st.integers(1, 59))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bloom_no_false_negatives_and_merge_property(spark, ins, split):
    from detanalysis_spark.llm.bloom import build_bloom
    split = min(split, len(ins))
    df = spark.createDataFrame([(i, v) for i, v in enumerate(ins)],
                               "id long, v string")
    bl = build_bloom(df, "v", m_bits=1 << 10, k=3)
    hits = df.select(bl.contains("v").alias("h")).collect()
    assert all(r.h for r in hits)            # membership NEVER misses
    a = build_bloom(df.filter(F.col("id") < split), "v",
                    m_bits=1 << 10, k=3)
    b = build_bloom(df.filter(F.col("id") >= split), "v",
                    m_bits=1 << 10, k=3)
    assert np.array_equal(a.merge(b).words, bl.words)


# ----------------------------------------------------------------------
# temperature fractions: closed-form invariants
# ----------------------------------------------------------------------
@given(counts=st.dictionaries(st.text(alphabet="xyz", min_size=1,
                                      max_size=3),
                              st.integers(1, 10_000),
                              min_size=1, max_size=6),
       alpha=st.floats(0.05, 1.0))
@settings(max_examples=30, deadline=None)
def test_temperature_fractions_invariants(counts, alpha):
    import math
    from detanalysis_spark.llm.dedup import temperature_fractions
    fr = temperature_fractions(counts, alpha)
    n_min = min(counts.values())
    assert fr[min(counts, key=counts.get)] == 1.0       # smallest whole
    for s, n in counts.items():
        assert 0.0 < fr[s] <= 1.0
        assert fr[s] == math.pow(n_min / n, 1.0 - alpha)
    # kept shares follow the n^alpha law: kept_s = n_s * fr_s
    # proportional to n_s^alpha
    kept = {s: counts[s] * fr[s] for s in counts}
    base = next(iter(counts))
    for s in counts:
        lhs = kept[s] / kept[base]
        rhs = (counts[s] / counts[base]) ** alpha
        assert abs(lhs - rhs) < 1e-9 * max(1.0, rhs)


# ----------------------------------------------------------------------
# BM25 vs an independent python reference over generated corpora
# ----------------------------------------------------------------------
_WORD = st.sampled_from(["cat", "dog", "fox", "spark", "joins", "the"])
_DOC = st.lists(_WORD, min_size=0, max_size=8).map(" ".join)


@given(docs=st.lists(_DOC, min_size=1, max_size=12),
       qs=st.lists(_DOC, min_size=1, max_size=3))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bm25_matches_reference_property(spark, docs, qs):
    import math
    from collections import Counter
    from detanalysis_spark.llm.text import bm25_scores
    ddf = spark.createDataFrame(list(enumerate(docs)),
                                "doc_id long, text string")
    qdf = spark.createDataFrame([(100 + i, q) for i, q in enumerate(qs)],
                                "query_id long, query_text string")
    got = {(r.query_id, r.doc_id): r.score
           for r in bm25_scores(ddf, qdf).collect()}
    k1, b = 1.2, 0.75
    toks = {i: t.split() for i, t in enumerate(docs)}
    tf = {i: Counter(ts) for i, ts in toks.items() if ts}
    if not tf:
        assert got == {}
        return
    N = len(tf)
    avgdl = sum(len(toks[i]) for i in tf) / N
    dfreq = Counter(t for c in tf.values() for t in c)
    want = {}
    for qi, q in enumerate(qs):
        for t in set(q.split()):
            for d, c in tf.items():
                if t in c:
                    idf = math.log(1 + (N - dfreq[t] + 0.5)
                                   / (dfreq[t] + 0.5))
                    s = idf * c[t] * (k1 + 1) / (
                        c[t] + k1 * (1 - b + b * len(toks[d]) / avgdl))
                    want[(100 + qi, d)] = want.get((100 + qi, d), 0) + s
    assert set(got) == set(want)
    for key in want:
        assert got[key] == pytest.approx(want[key], rel=1e-12)


# ----------------------------------------------------------------------
# interval-overlap join == brute force over generated intervals
# ----------------------------------------------------------------------
_IVL = st.tuples(st.floats(0, 40, allow_nan=False),
                 st.floats(0.1, 12, allow_nan=False))


@given(ls=st.lists(_IVL, min_size=1, max_size=20),
       rs=st.lists(_IVL, min_size=1, max_size=20),
       bw=st.sampled_from([1.0, 3.0, 7.5]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_interval_overlap_join_matches_brute_force(spark, ls, rs, bw):
    from detanalysis_spark.operators.joins import interval_overlap_join
    lv = [(i, lo, lo + w) for i, (lo, w) in enumerate(ls)]
    rv = [(100 + i, lo, lo + w) for i, (lo, w) in enumerate(rs)]
    left = spark.createDataFrame(lv, "lid long, llo double, lhi double")
    right = spark.createDataFrame(rv, "rid long, rlo double, rhi double")
    got = sorted((r.lid, r.rid) for r in interval_overlap_join(
        left, right, "llo", "lhi", "rlo", "rhi",
        bin_width=bw).collect())
    want = sorted((a[0], b[0]) for a in lv for b in rv
                  if a[1] < b[2] and b[1] < a[2])
    assert got == want


# ----------------------------------------------------------------------
# PSL matcher: Spark plan == pure-Python spec implementation on
# generated hosts (labels drawn from PSL rule fragments + noise,
# so wildcard/exception/second-level paths are all reachable)
# ----------------------------------------------------------------------
_PSL_LABELS = ["com", "uk", "co", "jp", "kobe", "city", "ck", "www",
               "example", "a", "b", "io", "github", "us", "ak", "k12",
               "mm", "c", "xn--p1ai"]


@given(hosts=st.lists(
    st.lists(st.sampled_from(_PSL_LABELS), min_size=1, max_size=5)
    .map(".".join), min_size=1, max_size=24))
@settings(**SETTINGS)
def test_psl_spark_matches_python_spec(spark, hosts):
    from detanalysis_spark.llm import psl
    rules = psl.default_psl()
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {r["host"]: r["reg"] for r in
           psl.registered_domain_psl(df, "host", out_col="reg")
           .collect()}
    for h in set(hosts):
        assert got[h] == psl.registered_domain_py(h, rules), h


# ----------------------------------------------------------------------
# normalize_url: idempotence (canonicalizing a canonical URL is a
# no-op) and tracking-param insensitivity on generated URLs
# ----------------------------------------------------------------------
@given(us=st.lists(st.tuples(
    st.sampled_from(["http", "https", "HTTP", "HttpS"]),
    st.sampled_from(["a.com", "WWW.B.org", "x.co.uk", "h.io."]),
    st.sampled_from(["", "/", "/p", "//p//q/", "/p/q/r/"]),
    st.sampled_from(["", "b=2&a=1", "utm_source=t&k=v", "gclid=1",
                     "z=9&utm_medium=m&a"]),
    st.sampled_from(["", "#frag", "#a/b"])), min_size=1, max_size=16))
@settings(**SETTINGS)
def test_normalize_url_idempotent(spark, us):
    from detanalysis_spark.llm.cleaning import normalize_url
    urls = [f"{s}://{h}{p}{'?' + q if q else ''}{f}"
            for s, h, p, q, f in us]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = df.select(normalize_url("u").alias("n"))
    twice = once.select(F.col("n").alias("u")) \
        .select(normalize_url("u").alias("n"))
    a = [r.n for r in once.collect()]
    b = [r.n for r in twice.collect()]
    assert a == b
    # canonical output never carries fragments or tracking params
    for n in a:
        assert n is not None
        assert "#" not in n and "utm_" not in n and "gclid" not in n


# ----------------------------------------------------------------------
# WET record framing: write_wet → read_wet is the identity on payloads
# (multi-line, blank-line, trailing-newline payloads included) as long
# as no payload LINE is itself a WARC version line — the documented
# text-mode framing caveat.
# ----------------------------------------------------------------------
_WET_CHARS = st.text(
    alphabet=st.sampled_from(list("ab XY.!\n\t-:/=")), max_size=60)


@given(payloads=st.lists(
    _WET_CHARS.filter(
        lambda s: not any(ln.startswith("WARC/")
                          for ln in s.split("\n"))),
    min_size=1, max_size=12))
@settings(**SETTINGS)
def test_wet_round_trip_property(spark, tmp_path_factory, payloads):
    from detanalysis_spark.sources.textio import read_wet, write_wet
    d = str(tmp_path_factory.mktemp("wet_prop"))
    df = spark.createDataFrame(
        [(i, f"https://h.test/{i}", p) for i, p in enumerate(payloads)],
        "doc_id long, uri string, text string")
    write_wet(df.coalesce(1), d, "uri", "text")
    got = {r.target_uri: (r.payload, r.content_length)
           for r in read_wet(spark, d).collect()}
    assert len(got) == len(payloads)
    for i, p in enumerate(payloads):
        pay, n = got[f"https://h.test/{i}"]
        assert pay == p, (i, repr(p), repr(pay))
        assert n == len(p)


def _py_shingles(t: str, n: int = 3) -> set:
    tk = [x for x in t.split() if x]
    return {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}


@given(texts=st.lists(
    st.text(alphabet="abc ", min_size=0, max_size=50), min_size=2,
    max_size=10),
    t=st.sampled_from([0.3, 0.5, 0.8]))
@settings(**SETTINGS)
def test_jaccard_index_pairs_property(spark, texts, t):
    """For ANY corpus and threshold: the inverted-index join returns
    exactly the brute-force qualifying pairs, and the prefix-filter
    tier agrees with it (lossless)."""
    rows = [(i, x) for i, x in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = set()
    for i, a in rows:
        for j, b in rows[i + 1:]:
            sa, sb = _py_shingles(a), _py_shingles(b)
            u = len(sa | sb)
            if u and len(sa & sb) / u >= t:
                want.add((i, j))
    got = {(r.id_a, r.id_b) for r in
           D.jaccard_index_pairs(df, threshold=t).collect()}
    assert got == want
    pre = {(r.id_a, r.id_b) for r in
           D.jaccard_index_pairs(df, threshold=t,
                                 prefix_filter=True).collect()}
    assert pre == want


@given(texts=st.lists(
    st.text(alphabet="xy ", min_size=0, max_size=40), min_size=2,
    max_size=8))
@settings(**SETTINGS)
def test_containment_pairs_property(spark, texts):
    """Containment == brute force |A∩B|/min over non-degenerate pairs
    (min_shingles=2 mirrored in the replay)."""
    rows = [(i, x) for i, x in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = set()
    for i, a in rows:
        for j, b in rows[i + 1:]:
            sa, sb = _py_shingles(a), _py_shingles(b)
            m = min(len(sa), len(sb))
            if m >= 2 and len(sa & sb) / m >= 0.9:
                want.add((i, j))
    got = {(r.id_a, r.id_b) for r in
           D.containment_pairs(df, threshold=0.9,
                               min_shingles=2).collect()}
    assert got == want


@given(vals=st.lists(st.integers(0, 6), min_size=1, max_size=300),
       phi=st.sampled_from([0.05, 0.2, 0.4]),
       cap_extra=st.integers(0, 6),
       parts=st.sampled_from([1, 3, 16]))
@settings(**SETTINGS)
def test_heavy_hitters_property(spark, vals, phi, cap_extra, parts):
    """For ANY value stream, legal capacity, and partitioning: exact
    equality with the plain count>phi*N filter — the MG union can
    produce extra CANDIDATES but never wrong RESULTS. (Capacities
    below ceil(1/phi) are rejected up front — covered separately.)"""
    import math
    from collections import Counter
    from detanalysis_spark.operators.sketches import heavy_hitters
    cap = math.ceil(1.0 / phi) + cap_extra
    df = spark.createDataFrame([(f"v{v}",) for v in vals], ["k"]) \
              .repartition(parts)
    got = {r.k: r["count"] for r in
           heavy_hitters(df, "k", phi, capacity=cap,
                         strategy="mg").collect()}
    n = len(vals)
    want = {f"v{v}": c for v, c in Counter(vals).items()
            if c > phi * n}
    assert got == want
