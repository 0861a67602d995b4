"""Structured Streaming layer (ST1-ST3) vs the batch engine.

The same continuous fixture is processed twice: batch
(vibration.continuous_moments / rechunk_traces) and streaming
(readStream → stateful rechunk → incremental aggregation, drained
with AvailableNow). Results must agree exactly."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from detanalysis_spark import vibration as V
from detanalysis_spark.streaming import (read_continuous_stream,
                                         rechunk_stream,
                                         streaming_psd_moments,
                                         run_available_now)

FS = 1000.0
CHUNK = 64


@pytest.fixture(scope="module")
def cont_dir(spark, tmp_path_factory):
    rng = np.random.default_rng(21)
    lengths = [50, 45, 55, 48, 52, 47, 53, 50] * 3
    rows = []
    for eid, ln in enumerate(lengths):
        for ch in ["g", "s1"]:
            tr = np.sin(2 * np.pi * 125.0 * np.arange(ln) / FS) \
                + 0.1 * rng.standard_normal(ln)
            rows.append((eid, ch, [float(x) for x in tr]))
    df = spark.createDataFrame(rows, ["event_id", "channel", "trace"])
    d = str(tmp_path_factory.mktemp("cont"))
    # single file per channel-interleaved frame → deterministic order
    df.coalesce(1).write.mode("overwrite").parquet(d)
    return d, df


def test_stream_rechunk_matches_batch(spark, cont_dir):
    d, df = cont_dir
    want = {(r.channel, r.chunk_id): list(r.trace)
            for r in V.rechunk_traces(df, CHUNK).collect()}

    sdf = read_continuous_stream(spark, d)
    assert sdf.isStreaming
    chunks = rechunk_stream(sdf, CHUNK)
    got_df = run_available_now(chunks, "chunks_t1", output_mode="append")
    got = {(r.channel, r.chunk_id): list(r.trace)
           for r in got_df.collect()}
    assert set(got) == set(want)
    for k in want:
        np.testing.assert_allclose(got[k], want[k])


def test_stream_psd_moments_match_batch(spark, cont_dir):
    d, df = cont_dir
    sdf = read_continuous_stream(spark, d)
    agg = streaming_psd_moments(rechunk_stream(sdf, CHUNK), FS)
    got = {(r.channel, r.bin): r for r in
           run_available_now(agg, "mom_t2", output_mode="complete")
           .collect()}

    mom = V.continuous_moments(df, ["g", "s1"], FS, chunk_samples=CHUNK)
    batch = {r.frequency_hz: r for r in mom.collect()}
    assert len(got) == 2 * (CHUNK // 2 + 1)
    for (ch, b), r in got.items():
        f = b * FS / CHUNK
        w = batch[f]
        key = f"S_re__{ch}__{ch}"
        assert r.s_ii == pytest.approx(w[key], rel=1e-9)
        assert r.r_ii == pytest.approx(w[f"R__{ch}__{ch}"], rel=1e-9)
        assert r.n == w.n


def test_stream_state_carries_across_batches(spark, cont_dir):
    d, df = cont_dir
    # one file per micro-batch → the remainder must cross batches.
    # re-write as several files with disjoint, ordered event ranges
    multi = str(d) + "_multi"
    pdf = df.toPandas().sort_values("event_id")
    n = len(pdf)
    spark.createDataFrame(pdf.iloc[:n // 3]).coalesce(1) \
        .write.mode("overwrite").parquet(multi)
    spark.createDataFrame(pdf.iloc[n // 3:2 * n // 3]).coalesce(1) \
        .write.mode("append").parquet(multi)
    spark.createDataFrame(pdf.iloc[2 * n // 3:]).coalesce(1) \
        .write.mode("append").parquet(multi)

    sdf = read_continuous_stream(spark, multi, max_files_per_trigger=1)
    chunks = rechunk_stream(sdf, CHUNK)
    got_df = run_available_now(chunks, "chunks_t3", output_mode="append")
    want = {(r.channel, r.chunk_id): list(r.trace)
            for r in V.rechunk_traces(df, CHUNK).collect()}
    got = {(r.channel, r.chunk_id): list(r.trace)
           for r in got_df.collect()}
    # chunk COUNT must match even across micro-batch boundaries; values
    # match when files arrive in event order (ordering contract)
    assert set(got) == set(want)


def test_streaming_dedup_exact(spark, tmp_path):
    from detanalysis_spark.streaming.continuous import streaming_dedup_exact
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType, TimestampType)
    import pandas as pd

    d = str(tmp_path / "docs_stream")
    pdf = pd.DataFrame({
        "doc_id": range(10),
        "text": ["alpha", "beta", "alpha", "gamma", "beta",
                 "delta", "alpha", "epsilon", "zeta", "gamma"],
        "ts": pd.to_datetime("2026-01-01") + pd.to_timedelta(range(10), "s"),
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(d)

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType()),
                         StructField("ts", TimestampType())])
    sdf = spark.readStream.schema(schema).parquet(d)

    got = run_available_now(streaming_dedup_exact(sdf, ["text"]),
                            "dedup_t1", output_mode="append").collect()
    texts = sorted(r.text for r in got)
    assert texts == ["alpha", "beta", "delta", "epsilon", "gamma", "zeta"]

    # watermarked variant: same result on this bounded drain, but the
    # plan carries the state-eviction operator
    sdf2 = spark.readStream.schema(schema).parquet(d)
    got2 = run_available_now(
        streaming_dedup_exact(sdf2, ["text"], watermark_col="ts"),
        "dedup_t2", output_mode="append").collect()
    assert sorted(r.text for r in got2) == texts


def test_streaming_windowed_counts_with_watermark(spark, tmp_path):
    from detanalysis_spark.streaming.continuous import (
        streaming_windowed_counts)
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType, TimestampType)
    import pandas as pd

    d = str(tmp_path / "ev_stream")
    base = pd.Timestamp("2026-01-01 00:00:00")
    pdf = pd.DataFrame({
        "event_id": range(12),
        "kind": ["a", "b"] * 6,
        "ts": [base + pd.Timedelta(seconds=10 * i) for i in range(12)],
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(d)
    schema = StructType([StructField("event_id", LongType()),
                         StructField("kind", StringType()),
                         StructField("ts", TimestampType())])
    sdf = spark.readStream.schema(schema).parquet(d)
    agg = streaming_windowed_counts(sdf, "ts", "1 minute", "5 minutes",
                                    group_cols=["kind"])
    got = run_available_now(agg, "win_t1", output_mode="complete").collect()
    # 120s of events -> two 1-min windows, 3 of each kind per window
    out = {(r.window_start.minute, r.kind): r.n for r in got}
    assert out == {(0, "a"): 3, (0, "b"): 3, (1, "a"): 3, (1, "b"): 3}


def test_stateless_curation_ops_stream_unchanged(spark, tmp_path):
    """The stateless curation operators (PII redaction, quality gates,
    split assignment, token counting) are pure projections, so the SAME
    functions run on a readStream frame and agree with batch exactly —
    streaming curation needs no parallel implementation."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    import pandas as pd
    from detanalysis_spark.llm.cleaning import redact_pii, repetition_scores
    from detanalysis_spark.llm.text import token_count
    from detanalysis_spark.operators.sampling import assign_split

    d = str(tmp_path / "cur_stream")
    pdf = pd.DataFrame({
        "doc_id": range(8),
        "text": ["mail me at a@b.co now", "plain text here",
                 "x x x x x x", "call 555-123-4567 ok",
                 "", "one two three", "dup dup dup dup", "tail words"],
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(d)

    def curate(df):
        rep = repetition_scores(F.col("text"))
        return (assign_split(df, "doc_id",
                             {"train": 0.75, "val": 0.25}, seed=3)
                .withColumn("clean", redact_pii(F.col("text")))
                .withColumn("n_tok", token_count(F.col("text")))
                .withColumn("dup_ratio", rep["dup_token_ratio"]))

    batch = {r["doc_id"]: r for r in
             curate(spark.read.parquet(d)).collect()}

    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    sdf = spark.readStream.schema(schema).parquet(d)
    got = {r["doc_id"]: r for r in
           run_available_now(curate(sdf), "curation_t1",
                             output_mode="append").collect()}
    assert set(got) == set(batch)
    for i in batch:
        for c in ("split", "clean", "n_tok", "dup_ratio"):
            assert got[i][c] == batch[i][c], (i, c)
    assert "[PII]" in got[0]["clean"] and "[PII]" in got[3]["clean"]


def test_streaming_near_dup_hits_matches_batch(spark, tmp_path):
    """The streaming LSH screen must flag exactly the ids the batch
    cross-corpus screen (lsh_candidate_pairs_between) flags."""
    from detanalysis_spark.llm.dedup import (lsh_band_buckets,
                                             lsh_candidate_pairs_between,
                                             minhash_signatures)
    from detanalysis_spark.streaming.continuous import (
        run_available_now, streaming_near_dup_hits)
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today"),
         (101, "pack my box with five dozen liquor jugs right now"),
         (102, "sphinx of black quartz judge my vow please kindly")],
        ["doc_id", "text"])
    new = [(0, "the quick brown fox jumps over the lazy dog today"),
           (1, "a completely different document about sparkly engines"),
           (2, "pack my box with five dozen liquor jugs right now"),
           (3, "nothing like anything else in the corpus at all humph")]

    sigs = minhash_signatures(corpus, "text", 64, 3, id_col="doc_id")
    buckets = lsh_band_buckets(sigs, "doc_id", "minhash", 16, 4)

    batch_new = spark.createDataFrame(new, ["doc_id", "text"])
    expect = sorted(
        r.id_a for r in lsh_candidate_pairs_between(
            minhash_signatures(batch_new, "text", 64, 3, id_col="doc_id")
            .withColumnRenamed("doc_id", "id"),
            sigs.withColumnRenamed("doc_id", "id"), "id")
        .select("id_a").distinct().collect())

    d = str(tmp_path / "new_docs")
    batch_new.coalesce(2).write.mode("overwrite").parquet(d)
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    sdf = spark.readStream.schema(schema).parquet(d)
    got = run_available_now(
        streaming_near_dup_hits(sdf, buckets),
        "ndscreen_t1", output_mode="append").collect()
    assert sorted(r.doc_id for r in got) == expect
    assert expect == [0, 2]   # the two planted near-dups

    # emit="pairs" must reproduce the batch cross-corpus candidate
    # PAIR set exactly (same signatures → same band buckets), so a
    # downstream verify can consume the drain without re-signing
    expect_pairs = sorted(
        (r.id_a, r.id_b) for r in lsh_candidate_pairs_between(
            minhash_signatures(batch_new, "text", 64, 3,
                               id_col="doc_id")
            .withColumnRenamed("doc_id", "id"),
            sigs.withColumnRenamed("doc_id", "id"), "id").collect())
    got_pairs = run_available_now(
        streaming_near_dup_hits(sdf, buckets, emit="pairs"),
        "ndscreen_t2", output_mode="append").collect()
    assert sorted((r.doc_id, r.corpus_id) for r in got_pairs) \
        == expect_pairs
    assert expect_pairs == [(0, 100), (2, 101)]

    # persisted-index composition (round 12): the same stream probed
    # against an on-disk write_lsh_index of the corpus — family params
    # come from the _lsh_meta sidecar, results identical to the
    # in-memory screen above (non-default family proves the pinning)
    from detanalysis_spark.llm.dedup import write_lsh_index
    from detanalysis_spark.streaming import streaming_lsh_index_hits
    idx = str(tmp_path / "lshidx")
    write_lsh_index(corpus, idx, num_hashes=64, bands=16)
    got_idx = run_available_now(
        streaming_lsh_index_hits(sdf, idx, emit="pairs"),
        "ndscreen_t3", output_mode="append").collect()
    assert sorted((r.doc_id, r.corpus_id) for r in got_idx) \
        == expect_pairs


def test_streaming_session_counts(spark, tmp_path):
    """Native session_window sessionization agrees with the planted
    session structure (and with the batch lag+running-sum sessionize)."""
    from detanalysis_spark.streaming import streaming_session_counts
    from detanalysis_spark.operators.sampling import sessionize
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType, TimestampType)
    import pandas as pd

    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = []
    # user a: events at 0/60/120s (one session), then 1000/1060s (second)
    for s in [0, 60, 120, 1000, 1060]:
        rows.append(("a", base + pd.Timedelta(seconds=s)))
    # user b: 30s, then 2000s -> two singleton sessions
    for s in [30, 2000]:
        rows.append(("b", base + pd.Timedelta(seconds=s)))
    pdf = pd.DataFrame(rows, columns=["user", "ts"])
    d = str(tmp_path / "sess_stream")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(d)

    schema = StructType([StructField("user", StringType()),
                         StructField("ts", TimestampType())])
    sdf = spark.readStream.schema(schema).parquet(d)
    agg = streaming_session_counts(sdf, "ts", gap="5 minutes",
                                   group_cols=["user"])
    got = run_available_now(agg, "sess_t1", output_mode="complete").collect()
    out = sorted((r.user, r.n_events) for r in got)
    assert out == [("a", 2), ("a", 3), ("b", 1), ("b", 1)]
    # session extents: gap extends 5 min past the last event
    a3 = [r for r in got if r.user == "a" and r.n_events == 3][0]
    assert a3.session_start == base
    assert a3.session_end == base + pd.Timedelta(seconds=120 + 300)

    # batch sessionize sees the same session sizes
    bdf = spark.createDataFrame(pdf).withColumn(
        "t", F.col("ts").cast("double"))
    sess = sessionize(bdf, "user", "t", 300.0)
    batch = sorted((r.user, r.n) for r in sess.groupBy("user", "session_id")
                   .agg(F.count(F.lit(1)).alias("n")).collect())
    assert batch == out

    # global (keyless) session windows are unsupported on streams —
    # clear error instead of a start-time Spark failure
    import pytest as _pytest
    with _pytest.raises(ValueError, match="group column"):
        streaming_session_counts(sdf, "ts")


def test_stream_to_parquet_idempotent_restart(spark, tmp_path):
    """Checkpointed parquet sink: re-draining an unchanged source
    appends nothing; new source files append exactly once; the
    foreachBatch transform hook filters in-flight."""
    from detanalysis_spark.streaming import stream_to_parquet
    from pyspark.sql.types import LongType, StructField, StructType

    src = tmp_path / "sink_src"
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    schema = StructType([StructField("v", LongType())])

    spark.range(0, 10).withColumnRenamed("id", "v").coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "f1"))

    def read_stream():
        return spark.readStream.schema(schema) \
            .option("recursiveFileLookup", "true").parquet(str(src))

    stream_to_parquet(read_stream(), out, ckpt, query_name="sink_t1")
    assert spark.read.parquet(out).count() == 10

    # unchanged source + same checkpoint -> no duplicate rows
    stream_to_parquet(read_stream(), out, ckpt, query_name="sink_t2")
    assert spark.read.parquet(out).count() == 10

    # new file -> exactly the new rows land
    spark.range(100, 110).withColumnRenamed("id", "v").coalesce(1) \
        .write.mode("append").parquet(str(src / "f2"))
    stream_to_parquet(read_stream(), out, ckpt, query_name="sink_t3")
    vals = sorted(r.v for r in spark.read.parquet(out).collect())
    assert vals == list(range(10)) + list(range(100, 110))

    # foreachBatch transform hook (its own checkpoint: a checkpoint is
    # bound to ONE sink kind) filters in-flight and is likewise
    # restart-idempotent
    import shutil
    out2 = str(tmp_path / "sink_out2")
    ckpt2 = str(tmp_path / "sink_ckpt2")
    filt = lambda df, _bid: df.filter("v % 2 = 0")  # noqa: E731
    stream_to_parquet(read_stream(), out2, ckpt2, transform=filt,
                      query_name="sink_t4")
    stream_to_parquet(read_stream(), out2, ckpt2, transform=filt,
                      query_name="sink_t5")
    want2 = [v for v in list(range(10)) + list(range(100, 110))
             if v % 2 == 0]
    vals2 = sorted(r.v for r in spark.read.parquet(out2).collect())
    assert vals2 == want2

    # replay idempotency: losing the checkpoint replays the batch with
    # the same batch id — the __batch_id__-keyed dynamic overwrite
    # REPLACES the partition instead of appending duplicates
    shutil.rmtree(ckpt2)
    stream_to_parquet(read_stream(), out2, ckpt2, transform=filt,
                      query_name="sink_t6")
    vals3 = sorted(r.v for r in spark.read.parquet(out2).collect())
    assert vals3 == want2


def test_streaming_ann_topk_matches_batch_ivf(spark, tmp_path):
    """Streamed probes against a static IVF-celled corpus return the
    same (probe, rank, neighbor) sets as the batch IVFIndex.topk."""
    import numpy as np
    from detanalysis_spark.llm.similarity import IVFIndex
    from detanalysis_spark.streaming import streaming_ann_topk
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)

    rng = np.random.default_rng(9)
    centers = rng.standard_normal((4, 12)) * 10.0
    vecs = np.vstack([c + 0.1 * rng.standard_normal((20, 12))
                      for c in centers])
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"])
    ivf = IVFIndex(n_centroids=4, n_probe=2, seed=2).fit(corpus)

    probes = corpus.filter("vec_id IN (3, 25, 47, 69)")
    want = sorted((r.probe_id, r.rank, r.neighbor_id)
                  for r in ivf.topk(corpus, probes, k=4).collect())

    d = str(tmp_path / "probe_stream")
    probes.coalesce(1).write.mode("overwrite").parquet(d)
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding",
                                     ArrayType(DoubleType()))])
    sdf = spark.readStream.schema(schema).parquet(d)
    got_df = run_available_now(
        streaming_ann_topk(sdf, ivf, corpus, k=4),
        "ann_t1", output_mode="complete", shuffle_partitions=4)
    got = sorted((r.probe_id, r.rank, r.neighbor_id)
                 for r in got_df.collect())
    assert got == want


def test_streaming_ann_topk_microbatch_zero_state(spark, tmp_path):
    """The foreachBatch micro-batch ranker: a two-batch probe drain
    equals the batch IVFIndex.topk exactly, with zero aggregation
    state (each batch ranks and lands independently)."""
    import numpy as np
    from detanalysis_spark.llm.similarity import IVFIndex
    from detanalysis_spark.streaming import streaming_ann_topk_microbatch
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((4, 12)) * 10.0
    vecs = np.vstack([c + 0.1 * rng.standard_normal((20, 12))
                      for c in centers])
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"])
    ivf = IVFIndex(n_centroids=4, n_probe=2, seed=2).fit(corpus)

    probes = corpus.filter("vec_id IN (3, 25, 47, 69)")
    want = sorted((r.probe_id, r.rank, r.neighbor_id)
                  for r in ivf.topk(corpus, probes, k=4).collect())

    # TWO source files -> maxFilesPerTrigger=1 forces two micro-batches
    d = str(tmp_path / "probe_stream_mb")
    probes.filter("vec_id IN (3, 25)").coalesce(1) \
          .write.mode("overwrite").parquet(f"{d}/a")
    probes.filter("vec_id IN (47, 69)").coalesce(1) \
          .write.mode("overwrite").parquet(f"{d}/b")
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding",
                                     ArrayType(DoubleType()))])
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1)
           .option("recursiveFileLookup", "true").parquet(d))
    out = str(tmp_path / "ann_hits")
    ck = str(tmp_path / "ann_ck")
    q = streaming_ann_topk_microbatch(sdf, ivf, corpus, out, ck, k=4)
    assert q.lastProgress is None or \
        not q.lastProgress.get("stateOperators")   # zero streaming state
    got_df = spark.read.parquet(out)
    assert set(r["__batch_id__"] for r in
               got_df.select("__batch_id__").distinct().collect()) \
        == {0, 1}                                   # two batches landed
    got = sorted((r.probe_id, r.rank, r.neighbor_id)
                 for r in got_df.collect())
    assert got == want


def test_curate_corpus_stream_matches_batch(spark, tmp_path):
    """Streaming curation (PII → quality → decontaminate → streaming
    exact dedup → split) produces the same surviving TEXT SET as the
    batch pipeline with matching config (dedup keeps first-arrival vs
    min-id — identical sets when files arrive in id order)."""
    from detanalysis_spark.llm.pipeline import (CurationConfig,
                                                curate_corpus,
                                                curate_corpus_stream)
    from detanalysis_spark.streaming import stream_to_parquet
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),
        (1, base.upper()),                       # exact dup after normalize
        (2, "tiny"),                             # min_tokens gate
        (3, "dup dup dup dup dup dup dup dup"),  # repetition gate
        (4, "mail x@y.io " + " ".join(f"w{i}" for i in range(12))),
        (5, "the quick brown fox jumps over the lazy dog today"),
        (6, "wholly novel content streaming through the pipe now"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(99, "quick brown fox jumps over the lazy")], ["doc_id", "text"])
    cfg = CurationConfig(min_tokens=5, bench=bench, decontaminate_ngram=4,
                         near_dup_threshold=None,
                         split_fractions={"train": 0.5, "val": 0.5},
                         split_seed=3)

    want_df, _ = curate_corpus(docs, cfg)
    want = sorted((r.text, r.split) for r in want_df.collect())

    d = str(tmp_path / "curate_src")
    docs.coalesce(1).write.mode("overwrite").parquet(d)
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    sdf = spark.readStream.schema(schema).parquet(d)
    out = str(tmp_path / "curate_out")
    ckpt = str(tmp_path / "curate_ckpt")
    stream_to_parquet(curate_corpus_stream(sdf, cfg), out, ckpt,
                      query_name="curate_s1")
    got = sorted((r.text, r.split)
                 for r in spark.read.parquet(out).collect())
    assert got == want


def test_streaming_rollup_deltas_exactly_once(spark, tmp_path):
    """Streaming continuous aggregate: micro-batches land as
    batch-id-keyed rollup deltas; the merged read equals a batch
    build over everything seen, and re-draining an unchanged source
    changes nothing."""
    import datetime as dt
    from detanalysis_spark.streaming import (streaming_rollup_deltas,
                                             read_rollup_from_deltas)
    from detanalysis_spark.operators.rollup import build_rollup
    from pyspark.sql.types import (DoubleType, StructField, StructType,
                                   TimestampType)

    src = tmp_path / "roll_src"
    out = str(tmp_path / "roll_out")
    ckpt = str(tmp_path / "roll_ckpt")
    hour = 3_600_000_000
    t1 = dt.datetime(2024, 3, 1, 10, 15)
    t2 = dt.datetime(2024, 3, 1, 11, 45)
    schema = StructType([StructField("ts", TimestampType()),
                         StructField("v", DoubleType())])

    spark.createDataFrame([(t1, 2.0), (t1, 4.0)], schema).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "f1"))

    def read_stream():
        return spark.readStream.schema(schema) \
            .option("recursiveFileLookup", "true").parquet(str(src))

    def merged():
        return {(r["bucket_us"],): (r["n"], r["s"], r["mn"], r["mx"])
                for r in read_rollup_from_deltas(spark, out).collect()}

    streaming_rollup_deltas(read_stream(), out, ckpt, "ts", "v",
                            width_us=hour, query_name="r1")
    first = merged()
    assert sum(v[0] for v in first.values()) == 2

    # unchanged source: no double counting
    streaming_rollup_deltas(read_stream(), out, ckpt, "ts", "v",
                            width_us=hour, query_name="r2")
    assert merged() == first

    # a second file lands exactly once and merges with history
    spark.createDataFrame([(t1, 6.0), (t2, 10.0)], schema).coalesce(1) \
        .write.mode("append").parquet(str(src / "f2"))
    streaming_rollup_deltas(read_stream(), out, ckpt, "ts", "v",
                            width_us=hour, query_name="r3")
    batch_equiv = build_rollup(
        spark.createDataFrame([(t1, 2.0), (t1, 4.0), (t1, 6.0),
                               (t2, 10.0)], schema),
        "ts", "v", width_us=hour)
    want = {(r["bucket_us"],): (r["n"], r["s"], r["mn"], r["mx"])
            for r in batch_equiv.collect()}
    assert merged() == want


def test_stream_jsonl_quarantine_equals_batch(spark, tmp_path):
    # the streaming JSONL front door shares the batch reader's parse
    # plan (pure projections/filters), so draining the stream must
    # reproduce the batch split row-for-row — good AND quarantine
    from detanalysis_spark.sources.textio import (read_jsonl_quarantine,
                                                  stream_jsonl_quarantine)
    from detanalysis_spark.streaming.continuous import run_available_now
    path = str(tmp_path / "jl")
    rows = [(i, f"text {i}", "en") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    from detanalysis_spark.sources.textio import write_jsonl
    write_jsonl(df, path)
    spark.createDataFrame([("{nope",), ("garbage",), ("  ",)],
                          "value string") \
        .write.mode("append").text(path)
    ddl = "doc_id long, text string, lang string"
    bg, bb = read_jsonl_quarantine(spark, path, ddl)
    sg, sb = stream_jsonl_quarantine(spark, path, ddl,
                                     max_files_per_trigger=1)
    got_g = run_available_now(sg, "jl_good", output_mode="append")
    got_b = run_available_now(sb, "jl_bad", output_mode="append")
    assert {tuple(r) for r in got_g.collect()} \
        == {tuple(r) for r in bg.collect()}
    assert sorted(r.line for r in got_b.collect()) \
        == sorted(r.line for r in bb.collect()) == ["garbage", "{nope"]


def test_stream_wet_matches_batch(spark, tmp_path):
    """The streaming WET reader drains to exactly the batch reader's
    rows on the same shards (shared projections-only parse)."""
    from detanalysis_spark.sources.textio import (read_wet, stream_wet,
                                                  write_wet)
    from detanalysis_spark.streaming.continuous import run_available_now

    df = spark.createDataFrame(
        [(i, f"https://s.com/{i}", f"payload text number {i}")
         for i in range(9)], "doc_id long, uri string, text string")
    p = str(tmp_path / "wet_stream")
    write_wet(df.coalesce(3), p, "uri", "text", compression="gzip")

    batch = sorted((r.target_uri, r.payload, r.content_length)
                   for r in read_wet(spark, p).collect())
    got = run_available_now(
        stream_wet(spark, p, max_files_per_trigger=1),
        "wet_stream_t", output_mode="append", shuffle_partitions=4)
    stream = sorted((r.target_uri, r.payload, r.content_length)
                    for r in got.collect())
    assert stream == batch and len(batch) == 9


def test_stream_wet_shard_size_guard(spark, tmp_path):
    """An over-cap shard must abort with a clear resource error naming
    the file (NOT an executor OOM), for gzipped and plain shards; a
    cap above the decompressed size passes untouched."""
    import pytest
    from detanalysis_spark.sources.textio import stream_wet, write_wet
    from detanalysis_spark.streaming.continuous import run_available_now

    df = spark.createDataFrame(
        [(1, "https://s.com/big", "x" * 100_000)],
        "doc_id long, uri string, text string")
    p = str(tmp_path / "wet_guard")
    write_wet(df.coalesce(1), p, "uri", "text", compression="gzip")

    # cap below the ~100 KB decompressed shard → abort, path in message
    with pytest.raises(Exception, match="max_shard_bytes"):
        run_available_now(
            stream_wet(spark, p, max_shard_bytes=50_000),
            "wet_guard_t1", output_mode="append", shuffle_partitions=2
        ).collect()
    # generous cap → full drain
    ok = run_available_now(
        stream_wet(spark, p, max_shard_bytes=10_000_000),
        "wet_guard_t2", output_mode="append", shuffle_partitions=2)
    assert ok.count() == 1

    # uncompressed over-cap shard hits the plain-bytes branch
    p2 = str(tmp_path / "wet_guard_plain")
    write_wet(df.coalesce(1), p2, "uri", "text")
    with pytest.raises(Exception, match="max_shard_bytes"):
        run_available_now(
            stream_wet(spark, p2, max_shard_bytes=50_000),
            "wet_guard_t3", output_mode="append", shuffle_partitions=2
        ).collect()


def test_stream_warc_matches_batch(spark, tmp_path):
    """The streaming full-WARC reader drains to exactly the batch
    reader's rows (shared projections-only parse incl. the HTTP
    envelope strip)."""
    from detanalysis_spark.sources.textio import (read_warc,
                                                  stream_warc,
                                                  write_warc)
    from detanalysis_spark.streaming.continuous import run_available_now

    df = spark.createDataFrame(
        [(i, f"https://s.com/{i}", f"<p>body {i}</p>", 200 + i % 2)
         for i in range(9)],
        "doc_id long, uri string, html string, code int")
    p = str(tmp_path / "warc_stream")
    write_warc(df.coalesce(3), p, "uri", "html", status_col="code",
               compression="gzip")

    batch = sorted((r.target_uri, r.body, r.http_status,
                    r.content_length)
                   for r in read_warc(spark, p).collect())
    got = run_available_now(
        stream_warc(spark, p, max_files_per_trigger=1),
        "warc_stream_t", output_mode="append", shuffle_partitions=4)
    stream = sorted((r.target_uri, r.body, r.http_status,
                     r.content_length)
                    for r in got.collect())
    assert stream == batch and len(batch) == 9


def test_streaming_cm_sketch_equals_batch_sketch(spark, tmp_path):
    """The CM sketch built as a streaming aggregate drains to exactly
    the batch sketch on the same rows — the mergeable state is the
    streaming state."""
    from detanalysis_spark.operators.sketches import cm_sketch
    from detanalysis_spark.streaming.continuous import run_available_now

    df = spark.createDataFrame(
        [(i, f"t{i % 5}") for i in range(300)], "i long, k string")
    p = str(tmp_path / "cms_rows")
    df.coalesce(3).write.parquet(p)
    sdf = spark.readStream.schema("i long, k string").parquet(p)
    drained = run_available_now(cm_sketch(sdf, "k", 128, 3),
                                "cms_t", output_mode="complete",
                                shuffle_partitions=4)
    batch = cm_sketch(spark.read.parquet(p), "k", 128, 3)
    a = {(r.depth, r.bucket): r["count"] for r in drained.collect()}
    b = {(r.depth, r.bucket): r["count"] for r in batch.collect()}
    assert a == b and len(a) <= 128 * 3


def test_streaming_upsert_matches_batch_and_is_idempotent(spark,
                                                          tmp_path):
    """streaming_upsert == batch MERGE of the same updates, picks one
    deterministic winner per key within a batch, and a re-drain (same
    input, fresh checkpoint — the crash-replay shape) leaves the table
    unchanged."""
    from detanalysis_spark.sources.layout import (cow_write, read_cow,
                                                  upsert_parquet)
    from detanalysis_spark.streaming import streaming_upsert

    base = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(60)],
        "k long, s string, x double")
    t_stream = str(tmp_path / "scow")
    t_batch = str(tmp_path / "bcow")
    cow_write(base, t_stream, "k", num_buckets=8)
    cow_write(base, t_batch, "k", num_buckets=8)

    # duplicate keys inside the batch: ver=2 row must win (dedupe_order)
    ups = spark.createDataFrame(
        [(3, "old", -1.0, 1), (3, "new", -3.0, 2),
         (7, "upd", -7.0, 1), (100, "ins", 100.0, 1)],
        "k long, s string, x double, ver int")
    updir = str(tmp_path / "updates")
    ups.coalesce(1).write.parquet(updir)

    sdf = spark.readStream.schema(ups.schema).parquet(updir)
    streaming_upsert(sdf.select("k", "s", "x", "ver"), t_stream,
                     str(tmp_path / "ckpt1"), dedupe_order="ver",
                     query_name="sup_test")
    # batch reference: same winners applied via upsert_parquet
    winners = spark.createDataFrame(
        [(3, "new", -3.0, 2), (7, "upd", -7.0, 1),
         (100, "ins", 100.0, 1)], ups.schema)
    upsert_parquet(spark, t_batch, winners)

    def snap(p):
        return sorted((r.k, r.s, r.x) for r in
                      read_cow(spark, p).select("k", "s", "x").collect())

    first = snap(t_stream)
    assert first == snap(t_batch)
    assert (3, "new", -3.0) in first and len(first) == 61

    # re-drain with a FRESH checkpoint (worst-case replay: the batch
    # re-applies from scratch) — replace-by-key + the batch-id sidecar
    # make it a no-op
    sdf2 = spark.readStream.schema(ups.schema).parquet(updir)
    streaming_upsert(sdf2.select("k", "s", "x", "ver"), t_stream,
                     str(tmp_path / "ckpt2"), dedupe_order="ver",
                     query_name="sup_test2")
    assert snap(t_stream) == first


def test_streaming_upsert_new_checkpoint_applies_new_data(spark,
                                                          tmp_path):
    """Batch ids are checkpoint-scoped (ADVICE r10): a NEW query
    (fresh checkpoint) over a GROWN input restarts batch ids at 0.
    The sidecar guard must not veto those batches — the new rows have
    to land, not be silently dropped."""
    from detanalysis_spark.sources.layout import cow_write, read_cow
    from detanalysis_spark.streaming import streaming_upsert

    base = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(20)], "k long, s string, ver int")
    table = str(tmp_path / "cow")
    cow_write(base, table, "k", num_buckets=4)

    updir = tmp_path / "updates"
    updir.mkdir()
    u1 = spark.createDataFrame([(5, "first", 2)], base.schema)
    u1.coalesce(1).write.parquet(str(updir / "b0"))

    schema = base.schema

    def drain(ckpt, name):
        sdf = spark.readStream.schema(schema).option(
            "pathGlobFilter", "*.parquet").parquet(str(updir) + "/*")
        streaming_upsert(sdf, table, str(tmp_path / ckpt),
                         dedupe_order="ver", query_name=name)

    drain("ck_a", "lineage_a")
    got = {r.k: r.s for r in read_cow(spark, table).collect()}
    assert got[5] == "first"

    # input grows, and a NEW checkpoint lineage drains it: its batch 0
    # carries the new row — the stale last_batch=0 from lineage A must
    # not suppress it
    u2 = spark.createDataFrame([(9, "second", 2)], base.schema)
    u2.coalesce(1).write.parquet(str(updir / "b1"))
    drain("ck_b", "lineage_b")
    got = {r.k: r.s for r in read_cow(spark, table).collect()}
    assert got[9] == "second" and got[5] == "first"
    assert len(got) == 20


def test_streaming_upsert_equal_ties_deterministic(spark, tmp_path):
    """Equal dedupe_order values: the docstring promises the greatest
    full-row struct wins. Verify the winner is the same across
    different partition layouts of the same batch."""
    from detanalysis_spark.sources.layout import cow_write, read_cow
    from detanalysis_spark.streaming import streaming_upsert

    base = spark.createDataFrame(
        [(1, "orig", 0)], "k long, s string, ver int")
    rows = [(1, s, 7) for s in
            ["mm", "zz", "aa", "qq", "bb", "yy", "cc"]]  # all ver=7 ties
    winners = []
    for n_parts in (1, 3, 7):
        table = str(tmp_path / f"cow{n_parts}")
        cow_write(base, table, "k", num_buckets=2)
        updir = str(tmp_path / f"up{n_parts}")
        ups = spark.createDataFrame(rows, base.schema).repartition(n_parts)
        ups.write.parquet(updir)
        sdf = spark.readStream.schema(base.schema).parquet(updir)
        streaming_upsert(sdf, table, str(tmp_path / f"ck{n_parts}"),
                         dedupe_order="ver", query_name=f"tie{n_parts}")
        winners.append({r.k: r.s for r in
                        read_cow(spark, table).collect()}[1])
    # deterministic AND equal to the greatest struct (k,s,ver) → "zz"
    assert winners == ["zz", "zz", "zz"]


def test_streaming_cross_moments_match_batch(spark, tmp_path):
    """CROSS-spectral streaming twin (round 11): the delta-merged
    moments equal continuous_moments (same chunking, same FFT) on a
    multi-batch drain, and a channel-misaligned batch raises instead
    of silently dropping ensemble rows."""
    import numpy as np
    from detanalysis_spark import vibration as V
    from detanalysis_spark.streaming import (
        read_cross_moments_from_deltas, rechunk_stream,
        streaming_cross_deltas)

    FS2, CHUNK2 = 1000.0, 32
    rng = np.random.default_rng(5)
    channels = ["g", "s1"]
    # two parquet files = two micro-batches; each file carries BOTH
    # channels' samples for its event range (the DAQ layout the strict
    # contract requires), equal totals per channel
    srcdir = tmp_path / "src"
    srcdir.mkdir()
    eid = 0
    for part in range(2):
        rows = []
        for _ in range(6):
            for ch in channels:
                tr = rng.standard_normal(48)
                rows.append((eid, ch, [float(x) for x in tr]))
            eid += 1
        spark.createDataFrame(rows, ["event_id", "channel", "trace"]) \
            .coalesce(1).write.parquet(str(srcdir / f"b{part}"))

    static = spark.read.parquet(str(srcdir) + "/*")
    want = {int(r["frequency_hz"] / (FS2 / CHUNK2) + 0.5):
            r.asDict() for r in V.continuous_moments(
                static, channels, FS2, chunk_samples=CHUNK2).collect()}

    schema = "event_id long, channel string, trace array<double>"
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(srcdir) + "/*"))
    sink = str(tmp_path / "deltas")
    streaming_cross_deltas(rechunk_stream(sdf, CHUNK2), channels, FS2,
                           sink, str(tmp_path / "ck"),
                           query_name="cross_t")
    got = {int(r["frequency_hz"] / (FS2 / CHUNK2) + 0.5): r.asDict()
           for r in read_cross_moments_from_deltas(
               spark, sink, channels, FS2, CHUNK2).collect()}
    assert set(got) == set(want)
    flds = V.cross_moment_fields(channels)
    for b in want:
        assert got[b]["n"] == want[b]["n"]
        for f in flds:
            np.testing.assert_allclose(got[b][f], want[b][f],
                                       rtol=1e-9)

    # strict alignment: a batch carrying only ONE channel's samples
    # must raise, not silently drop the pair rows
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    rows = [(100 + i, "g", [float(x) for x in rng.standard_normal(48)])
            for i in range(4)]
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.parquet(str(bad_dir / "b0"))
    sdf_bad = (spark.readStream.schema(schema)
               .parquet(str(bad_dir) + "/*"))
    with pytest.raises(Exception, match="incomplete channel gather"):
        streaming_cross_deltas(rechunk_stream(sdf_bad, CHUNK2),
                               channels, FS2,
                               str(tmp_path / "deltas_bad"),
                               str(tmp_path / "ck_bad"),
                               query_name="cross_bad")


def test_streaming_cross_deltas_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: applying the SAME batch id twice
    (the crash-replay shape — parquet write committed, checkpoint not)
    must leave the merged moments unchanged, not double-weight the
    batch (VERDICT r11 #1). The per-batch write is stream_to_parquet's
    sink: the batch's own __batch_id__ partition, dynamic overwrite.
    The replays below call that sink's foreachBatch function."""
    import numpy as np
    from detanalysis_spark import vibration as V
    from detanalysis_spark.streaming import read_cross_moments_from_deltas
    from detanalysis_spark.streaming.continuous import (
        _cross_delta_batch, _partitioned_batch_writer)

    FS2, CHUNK2 = 1000.0, 32
    rng = np.random.default_rng(11)
    channels = ["g", "s1"]

    def chunk_frame(seed_offset, n_chunks):
        rows = []
        for i in range(n_chunks):
            for ch in channels:
                tr = rng.standard_normal(CHUNK2)
                rows.append((ch, seed_offset + i,
                             [float(x) for x in tr]))
        return spark.createDataFrame(
            rows, "channel string, chunk_id long, trace array<double>")

    b0, b1 = chunk_frame(0, 4), chunk_frame(4, 4)
    sink = str(tmp_path / "deltas")
    apply_batch = _partitioned_batch_writer(
        lambda b, _id: _cross_delta_batch(b, channels, FS2), sink)
    apply_batch(b0, 0)
    apply_batch(b1, 1)
    merged = read_cross_moments_from_deltas(spark, sink, channels,
                                            FS2, CHUNK2)
    key = lambda r: int(r["frequency_hz"] / (FS2 / CHUNK2) + 0.5)
    before = {key(r): r.asDict() for r in merged.collect()}

    # replay batch 1 (same id, same data) — merged moments unchanged
    apply_batch(b1, 1)
    after = {key(r): r.asDict()
             for r in read_cross_moments_from_deltas(
                 spark, sink, channels, FS2, CHUNK2).collect()}
    assert set(after) == set(before)
    flds = V.cross_moment_fields(channels)
    for b in before:
        assert after[b]["n"] == before[b]["n"]
        for f in flds:
            np.testing.assert_allclose(after[b][f], before[b][f],
                                       rtol=1e-12)

    # and an append-mode write WOULD have doubled n — sanity-check the
    # partition count stayed at two batches
    import os
    parts = [d for d in os.listdir(sink) if d.startswith("__batch_id__=")]
    assert sorted(parts) == ["__batch_id__=0", "__batch_id__=1"]


def test_drain_timeout_stops_query(spark, tmp_path):
    """The shared AvailableNow drain's fallback: a backlog that does not
    drain within timeout_sec raises TimeoutError naming the query, and
    the query is stopped (not left running to race its reader)."""
    import time

    from pyspark.sql.types import LongType

    src = str(tmp_path / "in")
    spark.range(4).coalesce(1).write.parquet(src)

    @F.udf(LongType())
    def slow(x):
        time.sleep(4)
        return x

    sdf = spark.readStream.schema("id long").parquet(src)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(TimeoutError, match="drain_timeout_t"):
        run_available_now(sdf.select(slow("id").alias("id")),
                          "drain_timeout_t", output_mode="append",
                          timeout_sec=1, shuffle_partitions=3)
    assert all(q.name != "drain_timeout_t" for q in spark.streams.active)
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_suite_scratch_queries_leave_no_dir(spark, sf_dir):
    """Suite queries that stage files in a scratch dir detach their
    result (eager local checkpoint) and remove the dir before
    returning: calling them leaves nothing behind in the temp dir."""
    import glob
    import os
    import tempfile

    from detanalysis_spark.suite import QUERIES

    tmp = tempfile.gettempdir()

    def scratch():
        return set(glob.glob(os.path.join(tmp, "det_*"))
                   + glob.glob(os.path.join(
                       tmp, f"detanalysis_spark_{os.getpid()}", "*")))

    before = scratch()
    for name in ("ann_ivf_pq_topk", "streaming_cross_stats"):
        assert QUERIES[name](spark, sf_dir).collect(), name
    assert scratch() == before


def test_lineage_id_uri_and_relative_paths(tmp_path, monkeypatch):
    """streaming_upsert's checkpoint lineage key (ADVICE r11 low):
    URI locations must not be joined onto the local cwd, and relative
    local paths must resolve to the same lineage regardless of cwd."""
    from detanalysis_spark.streaming.continuous import _lineage_id

    # URIs: stable, never abspath'd, trailing slash & case normalized
    assert _lineage_id("hdfs://nn:8020/ck/q1") == "hdfs://nn:8020/ck/q1"
    assert _lineage_id("hdfs://nn:8020/ck/q1/") == "hdfs://nn:8020/ck/q1"
    assert _lineage_id("HDFS://NN:8020/ck/q1") == "hdfs://nn:8020/ck/q1"
    assert _lineage_id("s3a://bucket/ck") == "s3a://bucket/ck"
    assert not _lineage_id("s3a://bucket/ck").startswith("/")

    # file: URIs and plain paths agree
    assert _lineage_id("file:///tmp/ck") == "/tmp/ck"
    assert _lineage_id("/tmp/ck") == "/tmp/ck"

    # relative local paths: cwd-independent only in the sense that the
    # SAME absolute location yields the same key from any cwd
    d = tmp_path / "sub"
    d.mkdir()
    monkeypatch.chdir(tmp_path)
    from_parent = _lineage_id("sub/ck")
    monkeypatch.chdir(d)
    from_child = _lineage_id("ck")
    assert from_parent == from_child == str(d / "ck")


def test_stream_tar_shards_matches_batch(spark, tmp_path):
    """Streaming tar-shard ingest drains to exactly the batch reader's
    member rows (same parse function by construction), across
    multi-shard micro-batches."""
    from detanalysis_spark.sources.wds import (read_tar_shards,
                                               stream_tar_shards,
                                               write_tar_shards)
    from detanalysis_spark.streaming.continuous import run_available_now

    df = spark.createDataFrame(
        [(f"{i:04d}", f"doc {i}", bytes([i % 13, 7]))
         for i in range(23)], "k string, text string, payload binary")
    p = str(tmp_path / "wds_stream")
    write_tar_shards(df, p, "k", {"text": "txt", "payload": "bin"},
                     n_shards=4)

    want = sorted((r.key, r.ext, bytes(r.payload), r.shard)
                  for r in read_tar_shards(spark, p).collect())
    got = run_available_now(
        stream_tar_shards(spark, p, max_files_per_trigger=1),
        "wds_stream_t", output_mode="append").collect()
    assert sorted((r.key, r.ext, bytes(r.payload), r.shard)
                  for r in got) == want
    assert len(want) == 46
