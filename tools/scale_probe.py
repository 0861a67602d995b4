"""Scale probe: run the engine's heaviest paths at ~10× bench scale
(sf0.1 inputs unioned with shifted keys) and report wall-clock vs the
1× run. A scale-safe operator should grow ≲ linearly; anything
superlinear here would be catastrophic at 100 TB.

Usage: python tools/scale_probe.py [multiplier] [probe_name ...]
(default multiplier 10; with probe names given, only those probes run
— e.g. the 100x spine run:
  python tools/scale_probe.py 100 ensure_event_index near_dup_pairs \
      cc_chain semantic_dedup curate_corpus token_cosine_maxdf)
Prints one JSON line: {"probe": {...}, "multiplier": N}.

Measurement hygiene: at large multipliers run ONE probe per process
(`for p in ...; do python tools/scale_probe.py 100 $p; done`) — a
long-lived probe session accumulates JVM/GC state from earlier 100×
runs that inflates later 1× timings (observed: curate_corpus t1 62.9 s
in a combined run vs 10.3 s isolated), corrupting the ratios.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from detanalysis_spark.session import get_spark
from detanalysis_spark.analyzer import Analyzer, ensure_event_index
from detanalysis_spark.llm import dedup as D
from detanalysis_spark.sources import load_table
from detanalysis_spark import vibration as V

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def amplify(df: DataFrame, key_cols: list[str], k: int) -> DataFrame:
    """k copies with shifted keys (same value distribution, distinct
    identities) — a cheap stand-in for a larger scale factor."""
    out = None
    for i in range(k):
        c = df
        for col in key_cols:
            c = c.withColumn(col, F.col(col) + F.lit(i * 1_000_000_000))
        out = c if out is None else out.unionByName(c)
    return out


def timed(fn):
    t0 = time.time()
    n = fn()
    return round(time.time() - t0, 2), n


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = set(sys.argv[2:])
    spark = get_spark("scale-probe")
    li1 = load_table(spark, SF_DIR, "lineitem")
    ev1 = load_table(spark, SF_DIR, "events")
    docs1 = load_table(spark, SF_DIR, "documents")
    lik = amplify(li1, ["l_orderkey"], k)
    evk = amplify(ev1.withColumn("ts", F.col("ts").cast("double")),
                  ["event_id"], k)
    docsk = amplify(docs1, ["doc_id"], k)
    li1.count(), lik.count()                      # warm the scans

    results = {}

    def probe(name, f1, fk):
        if only and name not in only:
            return
        t1, n1 = timed(f1)
        tk, nk = timed(fk)
        results[name] = {"t1": t1, "tk": tk,
                         "ratio": round(tk / max(t1, 1e-9), 1),
                         "rows_1x": n1, "rows_kx": nk}

    # groupBy agg (map-side combine): should scale ~linearly
    def q1(df):
        return lambda: (df.filter("l_quantity > 10")
                        .groupBy("l_returnflag", "l_linestatus")
                        .agg(F.sum("l_quantity"), F.count(F.lit(1)))
                        .count())
    probe("tpch_like_agg", q1(li1), q1(lik))

    # ingest row-id assignment: two-pass, no global sort
    def idx(df):
        return lambda: ensure_event_index(
            df.drop("__event_index__")).agg(
            F.max("__event_index__")).collect()[0][0] + 1
    probe("ensure_event_index", idx(ev1), idx(evk))

    # semi-join mask cut through the Analyzer spine
    def mask(df):
        def run():
            ana = Analyzer(ensure_event_index(df))
            ids = ana.df.filter("value > 400").select("__event_index__")
            ana.cut_from_event_ids(ids, "hot")
            return ana._subset_df(ana.df, "hot").count()
        return run
    probe("semi_join_mask_cut", mask(ev1), mask(evk))

    # MinHash near-dup pipeline (banded LSH — the candidate count, not
    # n², must drive the cost)
    def nd(df):
        return lambda: D.near_dup_pairs(df, "doc_id", "text",
                                        threshold=0.5).count()
    probe("near_dup_pairs", nd(docs1), nd(docsk))

    # sweep-moment aggregation over a derived frame
    def mom(df):
        d = df.select((F.col("event_id") % 40).cast("double")
                      .alias("frequency_hz"),
                      (F.col("value") / 100).alias("amp_real_a"),
                      (F.col("value") / 200).alias("amp_imag_a"))
        return lambda: V.sweep_moments(
            d, ["a"], trace_length_msec=1000.0).count()
    probe("sweep_moments", mom(ev1), mom(evk))

    # benchmark decontamination: broadcast gram set, corpus never
    # shuffles — cost must track corpus size, not corpus × benchmark
    def decon(df):
        from detanalysis_spark.llm import cleaning as C
        bench = df.filter(F.col("doc_id") % 25 == 0)
        corpus = df.filter(F.col("doc_id") % 25 != 0)
        grams = C.benchmark_ngrams(bench, n=3)
        return lambda: C.contamination_overlap(corpus, grams, n=3).count()
    probe("decontamination", decon(docs1), decon(docsk))

    # sequence packing: one window shuffle keyed by source
    def pack(df):
        from detanalysis_spark.llm.text import pack_documents, token_count
        d = df.select("doc_id", "source",
                      token_count(F.col("text")).cast("long").alias("n_tok"))
        return lambda: pack_documents(
            d, "n_tok", budget=256,
            partition_cols=["source"]).agg(F.max("pack_id")).collect()[0][0]
    probe("sequence_packing", pack(docs1), pack(docsk))

    # span dedup: explode + gram-keyed shuffle; amplified copies make
    # every span a cross-doc duplicate, so output grows k× — wall-clock
    # should track the exploded row count, not the pair space
    def span(df):
        from detanalysis_spark.llm.dedup import span_dup_stats
        return lambda: span_dup_stats(df, "doc_id", "text").agg(
            F.sum("n_dup_spans")).collect()[0][0]
    probe("span_dedup", span(docs1), span(docsk))

    # batch assignment: range exchange + two-pass rank — one pass over
    # the corpus regardless of size
    def batches(df):
        from detanalysis_spark.operators.sampling import assign_batches
        return lambda: assign_batches(df, "doc_id", 256, seed=7).agg(
            F.max("batch")).collect()[0][0]
    probe("assign_batches", batches(docs1), batches(docsk))

    # boilerplate removal: line-keyed count + broadcast anti-join +
    # per-doc rebuild — frequent-line set is bounded, corpus shuffles
    # once by doc id
    def boiler(df):
        from detanalysis_spark.llm.cleaning import remove_boilerplate_lines
        d = df.select("doc_id", F.concat_ws(
            "\n", F.lit("HDR"), F.col("text"), F.lit("FOOT")).alias("t"))
        return lambda: remove_boilerplate_lines(
            d, text_col="t", min_docs=50).agg(
            F.sum("n_lines_kept")).collect()[0][0]
    probe("boilerplate_removal", boiler(docs1), boiler(docsk))

    # as-of join: union-window strategy — one shuffle keyed by
    # (user_id), never a nested loop over the time axis
    def asof(df):
        from detanalysis_spark.operators.joins import asof_join
        left = df.filter("event_type = 'purchase'") \
                 .select("user_id", F.col("ts").alias("t"), "value")
        right = df.filter("event_type = 'error'") \
                  .select("user_id", F.col("ts").alias("t"),
                          F.col("event_id").alias("err_id"))
        return lambda: asof_join(left, right, on="t",
                                 by="user_id").count()
    ev1d = ev1.withColumn("ts", F.col("ts").cast("double"))
    probe("asof_join", asof(ev1d), asof(evk))

    # IVF ANN: probe cost must track (cells probed × rows/cell), not
    # the full corpus
    def ivf(df):
        from detanalysis_spark.llm.similarity import IVFIndex
        def run():
            idx = IVFIndex(n_centroids=32, n_probe=4, seed=7).fit(df)
            probes = df.orderBy("vec_id").limit(8)
            return idx.topk(df, probes, k=5).count()
        return run
    emb1 = load_table(spark, SF_DIR, "embeddings")
    embk = amplify(emb1, ["vec_id"], k)
    probe("ivf_topk", ivf(emb1), ivf(embk))

    # connected components on a planted CHAIN — the worst case for
    # plain label propagation (O(diameter) rounds). The distributed
    # star alternation must make rounds — and wall — grow with
    # log(chain length), so the k× chain should cost ~log2(k) extra
    # rounds, far below k×.
    def cc(n):
        def run():
            pairs = spark.range(n).select(
                F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
            return D.near_dup_clusters(pairs, max_iter=40,
                                       driver_max_edges=0).filter(
                F.col("cluster_id") == 0).count()
        return run
    probe("cc_chain", cc(1000), cc(1000 * k))

    # one-call curation capstone: the cleaned frame is checkpointed
    # before near-dedup, so the cleaning stack runs ONCE — wall must
    # track corpus size, not corpus × stages re-run
    def capstone(df):
        from detanalysis_spark.llm.pipeline import (CurationConfig,
                                                    curate_corpus)
        def run():
            bench = df.filter(F.col("doc_id") % 25 == 0)
            corpus = df.filter(F.col("doc_id") % 25 != 0)
            out, _ = curate_corpus(corpus, CurationConfig(
                min_tokens=5, bench=bench, decontaminate_ngram=3,
                near_dup_threshold=0.5))
            return out.count()
        return run
    probe("curate_corpus", capstone(docs1), capstone(docsk))

    # SemDeDup semantic dedup: pairwise work is bounded by the largest
    # cluster, so k× the corpus with k× the clusters (amplified labels
    # stay distinct) must cost ~k× the pairs, never (k·n)² — wall should
    # grow ≲ linearly
    def semded(df):
        from detanalysis_spark.llm.similarity import semantic_dedup
        return lambda: semantic_dedup(
            df, 0.30, cluster_col="label").count()
    embk_lbl = amplify(emb1, ["vec_id", "label"], k)
    probe("semantic_dedup", semded(emb1), semded(embk_lbl))

    # BPE training: the merge loop runs on the DISTINCT-WORD table, so
    # k× the corpus (same vocabulary) leaves per-round cost flat — only
    # the one word-count pass sees the extra rows
    def bpe(df):
        from detanalysis_spark.llm.text import train_bpe
        return lambda: len(train_bpe(df, 5, min_freq=1)[0])
    probe("bpe_train_5_merges", bpe(docs1), bpe(docsk))

    # corpus-wide first-occurrence line dedup: one line-keyed min
    # aggregate + rebuild; k× the docs with the same line vocabulary
    # keeps the first-occurrence table constant
    def ldedup(df):
        from detanalysis_spark.llm.cleaning import remove_duplicate_lines
        d = df.withColumn("text", F.regexp_replace(
            F.trim(F.col("text")), r"\s+", " "))
        return lambda: remove_duplicate_lines(d, delim=" ") \
            .agg(F.sum("n_lines_kept")).collect()[0][0]
    probe("line_dedup_first_occ", ldedup(docs1), ldedup(docsk))

    # bigram LM: LM tables are vocabulary-bound, so k× the corpus with
    # the same vocabulary grows only the scoring side — wall ≲ linear
    def bigram(df):
        from detanalysis_spark.llm.text import (train_bigram_lm,
                                                bigram_logprob_scores)
        def run():
            lm = train_bigram_lm(df.filter(F.col("doc_id") % 2 == 0))
            return bigram_logprob_scores(
                df.filter(F.col("doc_id") % 2 == 1), lm).count()
        return run
    probe("bigram_lm_score", bigram(docs1), bigram(docsk))

    # hashed linear classifier: pure projection + id-keyed rollup
    def clf(df):
        from detanalysis_spark.llm.classifier import score_hashed_linear
        return lambda: score_hashed_linear(df, dim=256).count()
    probe("hashed_classifier", clf(docs1), clf(docsk))

    # incremental rollup: build two batch rollups + merge + finalize —
    # the merge re-aggregates rollup rows (buckets × keys), so k× the
    # raw rows cost only the build pass
    evr1 = ev1
    evrk = amplify(ev1, ["event_id"], k)

    def roll(df):
        from detanalysis_spark.operators.rollup import (
            build_rollup, merge_rollups, finalize_rollup)
        def run():
            b1 = build_rollup(df.filter(F.col("event_id") % 2 == 0),
                              "ts", "value", keys=["event_type"],
                              width_us=3_600_000_000)
            b2 = build_rollup(df.filter(F.col("event_id") % 2 == 1),
                              "ts", "value", keys=["event_type"],
                              width_us=3_600_000_000)
            return finalize_rollup(
                merge_rollups(b1, b2, keys=["event_type"])).count()
        return run
    probe("rollup_build_merge", roll(evr1), roll(evrk))

    # z-order write + footer manifest + pruned read: write cost tracks
    # data size (one range exchange); the manifest is footer-only and
    # pruning must keep the filtered read correct at any layout
    def zorder(df, tag):
        from detanalysis_spark.sources.layout import (zorder_write,
                                                      pruned_parquet)
        path = f"/tmp/detanalysis_spark_probe_z_{tag}"
        def run():
            zorder_write(df.select("event_id", "user_id", "value"),
                         ["value", "user_id"], path, n_files=16)
            return (pruned_parquet(spark, path, {"value": (20.0, 40.0)})
                    .filter("value >= 20 and value <= 40").count())
        return run
    probe("zorder_manifest_scan", zorder(evr1, "1x"), zorder(evrk, "kx"))

    # inverted-index token-cosine join with frequent-term pruning:
    # candidate cost is Σ df(term)², so amplified copies would square
    # without max_df — the cap must keep wall growth ≈ linear
    def tcos(df):
        from detanalysis_spark.llm.dedup import token_cosine_pairs
        return lambda: token_cosine_pairs(
            df, threshold=0.8, max_df=30).count()
    probe("token_cosine_maxdf", tcos(docs1), tcos(docsk))

    # Deequ-style constraint suite: scalar checks share ONE aggregate;
    # uniqueness + FK add bounded jobs — wall ≈ scan cost
    def dq(df):
        from detanalysis_spark.operators.quality import (
            check_table, foreign_key, in_range, not_null, unique)
        ref = df.select("l_orderkey").distinct()
        return lambda: check_table(df, [
            not_null("l_partkey"),
            in_range("l_quantity", 0.0, 100.0),
            unique("l_orderkey", "l_linenumber"),
            foreign_key("l_orderkey", ref),
        ]).count()
    probe("data_quality_suite", dq(li1), dq(lik))

    # IVF cell-balance auto-split: sizes are one aggregate, subquantizer
    # training reads a BOUNDED sample per fat cell in one job, and
    # reassignment is one vectorized pass — wall must track corpus size
    def balance(df):
        from detanalysis_spark.llm.similarity import (IVFIndex,
                                                      balance_cells)
        def run():
            idx = IVFIndex(n_centroids=4, n_probe=1, seed=7).fit(df)
            out = balance_cells(df, idx, max_cell_size=max(
                df.count() // 16, 50), max_rounds=2)
            return out.groupBy("ivf_cell").count().count()
        return run
    probe("ivf_balance_cells", balance(emb1), balance(embk))

    # baseline-JPEG decode through image_features: per-row Arrow-batched
    # codec work — embarrassingly parallel, wall ≈ linear in rows
    def jpeg(df):
        from detanalysis_spark.llm import multimodal as MM
        from detanalysis_spark.llm.jpeg import encode_jpeg
        import numpy as np
        img = np.tile(np.linspace(0.1, 0.9, 16)[None, :, None], (8, 1, 1))
        payload = bytearray(encode_jpeg(img, quality=90))
        def run():
            d = df.limit(2000 * (k if df is docsk else 1)).select(
                "doc_id",
                F.lit(payload).alias("payload"),
                F.lit(16).alias("width"), F.lit(8).alias("height"),
                F.lit(1).alias("channels"), F.lit("JPEG").alias("format"))
            return MM.image_features(d, "doc_id", out_w=2, out_h=2) \
                     .agg(F.count(F.lit(1))).collect()[0][0]
        return run
    probe("jpeg_image_features", jpeg(docs1), jpeg(docsk))

    # Bloom-prefiltered incremental dedup: corpus build is one linear
    # pass + bounded bitmap merge; the batch screen is a projection,
    # and only filter-accepted rows pay the anti-join — wall must
    # track corpus size, never batch × corpus
    def bloom(df):
        from detanalysis_spark.llm.bloom import dedup_incremental_bloom
        def run():
            seen = df.filter(F.col("doc_id") % 3 != 0)
            batch = df.filter(F.col("doc_id") % 2 == 0)
            return dedup_incremental_bloom(
                batch, seen, ["text"], "doc_id",
                m_bits=1 << 20, k=5).count()
        return run
    probe("bloom_incremental_dedup", bloom(docs1), bloom(docsk))

    # JSONL ingest round trip: shard out as text, parse back through
    # from_json with quarantine — pure per-row codec work, linear
    def jsonl(df, tag):
        from detanalysis_spark.sources.textio import (
            read_jsonl_quarantine, write_jsonl)
        def run():
            path = f"/tmp/det_probe_jsonl_{os.getpid()}_{tag}"
            write_jsonl(df.select("doc_id", "text", "lang", "source"),
                        path)
            good, _ = read_jsonl_quarantine(
                spark, path,
                "doc_id long, text string, lang string, source string")
            return good.count()
        return run
    probe("jsonl_round_trip", jsonl(docs1, "1"), jsonl(docsk, "k"))

    # PQ encode + ADC search: encode is one matmul per subspace per
    # Arrow batch (pure projection), ADC streams the coded corpus
    # against broadcast tables — both must track corpus size linearly
    def pq_path(df):
        from detanalysis_spark.llm.similarity import PQCodebook
        def run():
            pq = PQCodebook(m=8, k=64, seed=3).fit(df)
            coded = pq.encode(df)
            probes = df.filter(F.col("vec_id") < 4) \
                .withColumnRenamed("vec_id", "probe_id")
            return pq.adc_topk(coded, probes, k=10).count()
        return run
    probe("pq_encode_adc", pq_path(emb1), pq_path(embk))

    # interval-overlap join: bin-exploded equi-join with canonical-bin
    # dedup (no BroadcastNestedLoop). Interval positions derive from
    # the shifted event_id, so amplified copies occupy disjoint ranges
    # — the OUTPUT grows linearly and the wall must track it, not the
    # cross product of bin populations
    def iovl(df):
        from detanalysis_spark.operators.joins import \
            interval_overlap_join
        lo = F.col("event_id").cast("double")
        left = df.select(lo.alias("l_lo"),
                         (lo + F.col("value") % 50 + 1).alias("l_hi"))
        right = df.select((lo + F.col("value") % 20).alias("r_lo"),
                          (lo + F.col("value") % 20 + 30).alias("r_hi"))
        return lambda: interval_overlap_join(
            left, right, "l_lo", "l_hi", "r_lo", "r_hi",
            bin_width=32.0).count()
    probe("interval_overlap_join", iovl(ev1), iovl(evk))

    # exact n-gram-Jaccard inverted-index join: cost must track
    # Σ df(gram)² (bounded by max_df), not corpus²
    def jidx(df):
        return lambda: D.jaccard_index_pairs(
            df, "doc_id", "text", threshold=0.5, max_df=200).count()
    probe("jaccard_index_pairs", jidx(docs1), jidx(docsk))

    # two-pass Misra-Gries heavy hitters: candidate set is ≤ k·P rows
    # regardless of corpus size — wall must track the two scans
    def hh(df):
        from detanalysis_spark.operators.sketches import heavy_hitters
        toks = (df.select(F.explode(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
                    .alias("tok"))
                .filter(F.col("tok") != ""))
        return lambda: heavy_hitters(toks, "tok", 0.003).count()
    if not only or "heavy_hitters" in only:
        # warm the executor-side Python worker pool AND the plan
        # (codegen) once, untimed: the one-off spin-up (~10 s across
        # 32 cores) otherwise lands entirely in t1 and inverts the
        # ratio — this probe reports steady-state walls
        spark.range(64).repartition(32) \
             .mapInPandas(lambda it: it, "id long").count()
        hh(docs1)()
    probe("heavy_hitters", hh(docs1), hh(docsk))

    # PageRank on a mega-hub power-law graph (VERDICT r9 #8): node 0
    # receives an edge from EVERY other node (in-degree N-1 — the
    # worst reduce-key skew a link graph can have) plus a uniform
    # rewiring edge per node. The per-dst contribution aggregate is
    # map-side combined, so the hub key receives at most one partial
    # row per map partition regardless of N — wall must track edge
    # count, not the hub's in-degree
    def prhub(n):
        from detanalysis_spark.operators.graph import pagerank
        def run():
            ids = spark.range(1, n).select(F.col("id").alias("src"))
            hub = ids.select("src", F.lit(0).alias("dst"))
            ring = ids.select(
                "src", ((F.col("src") * 7 + 1) % n).alias("dst"))
            e = hub.unionByName(ring).filter(
                F.col("src") != F.col("dst"))
            return pagerank(e, iterations=3).count()
        return run
    probe("pagerank_megahub", prhub(20_000), prhub(20_000 * k))

    # blocked kNN graph: per-block gram matmuls; k× data in the SAME
    # number of blocks is the worst case (block size grows k×, cost
    # per block k²×/shared across cores) — probe uses k× blocks of
    # constant size instead, the intended scale shape (more cells)
    def knng(df, tag):
        from detanalysis_spark.llm.similarity import knn_graph
        emb = df.select("doc_id",
                        F.array(*[F.pmod(F.col("doc_id") * (i + 3)
                                         + F.length("text") * (i + 1),
                                         F.lit(97)).cast("double")
                                  for i in range(8)]).alias("v"),
                        F.pmod(F.col("doc_id"), F.lit(
                            40 if tag == "1x" else 40 * k))
                        .alias("cell"))
        return lambda: knn_graph(emb, k=5, id_col="doc_id",
                                 vec_col="v",
                                 block_col="cell").count()
    probe("knn_graph_blocked", knng(docs1, "1x"), knng(docsk, "kx"))

    # copy-on-write upsert: the timed section is the MERGE only (the
    # initial table write is setup) — wall must track the touched
    # buckets' data, never the whole table; with a 16-key update into
    # 64 buckets, ≥75% of the lake is provably untouched at any k
    if not only or "cow_upsert" in only:
        from detanalysis_spark.sources.layout import (cow_write,
                                                      upsert_parquet)

        def cow(df, tag):
            path = f"/tmp/detanalysis_probe_cow_{os.getpid()}_{tag}"
            cow_write(df.select("doc_id", "source", "n_chars"), path,
                      "doc_id", num_buckets=64)
            ups = (df.filter(F.col("doc_id") % 40_000 == 1)
                   .select("doc_id", F.lit("upd").alias("source"),
                           F.col("n_chars")))

            def run():
                st = upsert_parquet(df.sparkSession, path, ups)
                return len(st["buckets_touched"])
            return run
        probe("cow_upsert", cow(docs1, "1x"), cow(docsk, "kx"))

    print(json.dumps({"probe": results, "multiplier": k}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
