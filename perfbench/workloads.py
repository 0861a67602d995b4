"""The perfbench workloads.

Each workload generates its inputs from the seed (``generate``),
registers them with a fresh session (``register``), and yields the ops
of one pass (``ops``). An op is one public call into one library
module; a check compares its output against the generator's reference.
Only the library's public functions are called.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import gen


class CheckFailed(Exception):
    pass


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@dataclass
class Op:
    name: str
    layer: str
    fn: Callable[[Any], Any]          # fn(sub) -> value | DataFrame | query
    action: str | None = None         # "collect" | "count" on a DataFrame
    check: Callable[[Any], None] | None = None
    latency: bool = True              # counts in op_p50 / op_tail


# ======================================================================
# rq_session
# ======================================================================
class RqSession:
    """The analyzer demo scripted as an analyst session: HDF5 load,
    cuts, semiautocuts, histograms, photon fit and trace lookups."""

    name = "rq_session"
    N_LOOKUPS, N_PICKS = 2, 1

    def __init__(self, sizes=None):
        self.sizes = dict(gen.RQ_SIZES, **(sizes or {}))

    def generate(self, seed: int, root: str) -> dict:
        self.root = root
        self.g = gen.gen_rq(seed, root, **self.sizes)
        self.rng_seed = seed
        return self.g["sizes"]

    @property
    def rows_per_pass(self) -> int:
        return self.g["sizes"]["n_events"]

    def register(self, spark, sub) -> dict:
        with sub("sources.read_traces", "sources"):
            traces = spark.read.parquet(self.g["trace_dir"])
        return {"spark": spark, "traces": traces}

    def before_pass(self, st: dict, pass_no: int) -> None:
        old = st.get("pq_dir")
        if old:
            shutil.rmtree(old, ignore_errors=True)
        st["pq_dir"] = os.path.join(self.root, f"rq_parquet_{pass_no}")

    # ------------------------------------------------------------------
    def ops(self, st: dict) -> list[Op]:
        from pyspark.sql import functions as F
        import detanalysis_spark as D
        from detanalysis_spark import operators as O
        from detanalysis_spark import photon as P
        from detanalysis_spark import traces as T
        from detanalysis_spark.sources import load_hdf5

        pdf, spark, g = self.g["pdf"], st["spark"], self.g
        n = len(pdf)
        rng = np.random.default_rng(self.rng_seed + 7)
        c0 = gen.PHOTON_CH
        amp0, chi20, base0 = (f"amp_of1x1_nodelay_{c0}",
                              f"lowchi2_of1x1_nodelay_{c0}", f"baseline_{c0}")
        col = {c: pdf[c].to_numpy() for c in pdf.columns}
        ser, evn = col["series_number"], col["event_number"]
        key_index = {(int(s), int(e)): i for i, (s, e) in
                     enumerate(zip(ser, evn))}
        masks: dict = {}
        ops: list[Op] = []

        def ana():
            return st["ana"]

        # --- load ----------------------------------------------------
        def load(sub):
            st["df"] = load_hdf5(spark, g["hdf5_dir"], st["pq_dir"])
            return st["df"]
        ops.append(Op("sources.load_hdf5", "sources", load, "count",
                      lambda c: expect(c == n, f"loaded {c} rows")))

        # --- cuts: register, then count -------------------------------
        def cut_op(layer, kind, name, register, mask_fn):
            def fn(sub):
                register()
                return ana().count(name)

            def chk(c):
                masks[name] = mask_fn()
                expect(c == int(masks[name].sum()),
                       f"{name}: {c} != {int(masks[name].sum())}")
            return Op(f"{layer}.{kind}", layer, fn, None, chk)

        amp_hi = float(np.percentile(col[amp0], 90))
        q0 = f"cut_quality_{c0}"

        def cuts(sub):
            st["ana"] = D.Analyzer(st["df"], spark)
            ana().register_cut(f"{chi20} < 150", "cut_chi2")
            ana().register_cut(f"{amp0} < {amp_hi!r}", "cut_amp")
            ana().combine_cuts(["cut_chi2", "cut_amp"], q0, mode="and")
            return ana().count(q0)

        def chk_cuts(c):
            masks["cut_chi2"] = col[chi20] < 150
            masks[q0] = masks["cut_chi2"] & (col[amp0] < amp_hi)
            expect(c == int(masks[q0].sum()), f"{q0}: {c}")
        ops.append(Op("analyzer.cuts", "analyzer", cuts, None, chk_cuts))

        # --- semiautocuts: sigma, time-binned, ofamp-binned, master ---
        t = col["event_time"]

        def ref_time():
            lo, hi = float(t.min()), float(t.max())
            e = [lo + (hi - lo) / 8 * i for i in range(9)]
            return gen.np_binned_sigma_cut(
                col[chi20], t, masks[q0],
                [(e[i], e[i + 1]) for i in range(8)], 3.0)

        def ref_ofamp():
            a = col[amp0]
            lo, hi = float(a.min()), float(a.max())
            e = [lo, 0.0] + [hi / 3 * (i - 1) for i in range(2, 5)]
            lims = [(e[i], e[i + 1]) for i in range(len(e) - 1)]
            return gen.np_binned_sigma_cut(col[chi20], a, masks[q0],
                                           lims + [(e[-1], hi)], 3.0)

        def ref_sigma():
            lo, hi = gen.np_sigma_bounds(col[base0][masks[q0]], 2.5)
            return (col[base0] > lo) & (col[base0] < hi)

        ops += [
            cut_op("semiautocut", "sigma_cut", f"cut_{base0}",
                   lambda: D.Semiautocut(ana(), "baseline", c0,
                                         {"sigma": 2.5}).do_cut(
                                             include_previous_cuts=[q0]),
                   ref_sigma),
            cut_op("semiautocut", "time_binned_cut", "cut_chi2_time",
                   lambda: D.Semiautocut(
                       ana(), "lowchi2_of1x1_nodelay", c0, {"sigma": 3.0},
                       time_bins=8, cut_name="cut_chi2_time").do_cut(
                           include_previous_cuts=[q0]),
                   ref_time),
            cut_op("semiautocut", "ofamp_binned_cut", "cut_chi2_ofamp",
                   lambda: D.Semiautocut(
                       ana(), "lowchi2_of1x1_nodelay", c0, {"sigma": 3.0},
                       ofamp_bins=5, cut_name="cut_chi2_ofamp").do_cut(
                           include_previous_cuts=[q0]),
                   ref_ofamp),
        ]
        sacs = [f"cut_{base0}", "cut_chi2_time", "cut_chi2_ofamp"]

        def master(sub):
            m = D.MasterSemiautocuts(ana(), sacs, c0)
            m.get_combined_cuts(cut_name="cut_all")
            return m.get_passage_fraction()

        def chk_master(frac):
            masks["cut_all"] = np.logical_and.reduce([masks[c] for c in sacs])
            want = masks["cut_all"].mean()
            expect(math.isclose(frac, want, rel_tol=1e-12),
                   f"master passage {frac} != {want}")
        ops.append(Op("semiautocut.master_combine", "semiautocut", master,
                      None, chk_master))

        # --- global filter, derived feature, histogram ---------------
        def gf_hist(sub):
            ana().apply_global_filter("cut_all")
            ana().apply_global_filter(q0, mode="and")
            ana().register_feature(f"{chi20} / 120.0", "chi2_norm",
                                   overwrite=True)
            out = ana().hist("chi2_norm", shape=64)
            ana().drop_global_filter()
            return out

        def chk_gf_hist(r):
            sel = masks["cut_all"] & masks[q0]
            expect(np.array_equal(r[0], gen.np_hist(col[chi20][sel] / 120.0,
                                                    64)),
                   "filtered feature histogram")
        ops.append(Op("analyzer.filtered_hist", "analyzer", gf_hist, None,
                      chk_gf_hist))

        names = [q0, "cut_all", "cut_chi2"]

        def pft(sub):
            return O.passage_fraction_table(
                ana().df_full, [ana().resolve_cut(nm) for nm in names],
                names)

        def chk_pft(r):
            for j in range(len(names)):
                pre = np.logical_and.reduce([masks[nm]
                                             for nm in names[:j + 1]])
                for i, nm in enumerate(names):
                    want = (pre & masks[nm]).sum() / pre.sum()
                    expect(math.isclose(r[0][i, j], want, rel_tol=1e-12),
                           f"passage table ({i},{j})")
        ops.append(Op("operators.passage_fraction_table", "operators", pft,
                      None, chk_pft))

        # --- photon calibration ---------------------------------------
        npk = len(gen.PEAK_STDS)

        def fit(sub):
            guess = P.default_guess(gen.SPACING * 1.03, 0.4, n * 0.02, npk)
            return P.fit_spectrum(ana().df, amp0, npeaks=npk, guess=guess,
                                  bins=200)

        def chk_fit(r):
            popt, counts = r[0], r[3][1]
            expect(int(counts.sum()) == n, "spectrum count")
            expect(abs(popt[0] - gen.SPACING) < 0.02 * gen.SPACING,
                   f"fitted spacing {popt[0]}")
        ops.append(Op("photon.fit_spectrum", "photon", fit, None, chk_fit))

        def avg(sub):
            tagged = ana().df.select(
                "series_number", "event_number",
                P.photon_peak_expr(amp0, gen.SPACING, list(gen.PEAK_STDS),
                                   2.0).alias("peak")) \
                .filter(F.col("peak").isNotNull())
            with sub("traces.get_traces", "traces"):
                tr = T.get_traces(st["traces"], tagged, nb_events_limit=None)
            tr = tr.join(tagged, ["series_number", "event_number"])
            return P.average_pulses(tr, baseline_samples=4)

        def chk_avg(rows):
            a, peak = col[amp0], np.full(n, -1)
            for k in range(npk - 1, -1, -1):
                peak = np.where(np.abs(a - k * gen.SPACING)
                                < 2.0 * gen.PEAK_STDS[k], k, peak)
            got = {(r["peak"], r["pos"]): r["value"] for r in rows}
            for k in range(npk):
                mean = g["traces"][peak == k].mean(axis=0)
                mean -= mean[:4].mean()
                for pos in range(gen.TRACE_LEN):
                    expect(math.isclose(got[(k, pos)], mean[pos],
                                        rel_tol=1e-7, abs_tol=1e-9),
                           f"average pulse peak {k} pos {pos}")
        ops.append(Op("photon.average_pulses", "photon", avg, "collect",
                      chk_avg))

        # --- raw-trace lookups ----------------------------------------
        def chk_traces(rows, count):
            expect(len(rows) == count, f"{len(rows)} traces")
            for r in rows:
                i = key_index[(int(r["series_number"]),
                               int(r["event_number"]))]
                expect(np.array_equal(np.asarray(r["trace"]),
                                      g["traces"][i]), "trace data")

        for i in rng.choice(n, self.N_LOOKUPS, replace=False):
            ops.append(Op("traces.get_trace", "traces",
                          lambda sub, i=i: T.get_trace(
                              st["traces"], int(ser[i]), int(evn[i])),
                          "collect", lambda rows: chk_traces(rows, 1)))

        a0, y0 = col[amp0], col[chi20]

        def pick(sub, x, y):
            if "picker" not in st or st["picker_df"] is not ana().df:
                st["picker"] = D.TracePicker(
                    ana().df, amp0, chi20, traces=st["traces"],
                    tiebreak=["series_number", "event_number"])
                st["picker_df"] = ana().df
            return st["picker"].pick_traces(x, y, n=3)

        def chk_pick(rows, x, y):
            dx = (a0 - x) / (a0.max() - a0.min())
            dy = (y0 - y) / (y0.max() - y0.min())
            want = np.lexsort((evn, ser, np.sqrt(dx * dx + dy * dy)))[:3]
            chk_traces(rows, 3)
            got = {key_index[(int(r["series_number"]),
                              int(r["event_number"]))] for r in rows}
            expect(got == {int(i) for i in want}, "picked events")

        for x, y in rng.uniform([a0.min(), y0.min()], [a0.max(), y0.max()],
                                (self.N_PICKS, 2)):
            ops.append(Op("traces.pick_traces", "traces",
                          lambda sub, x=x, y=y: pick(sub, float(x),
                                                     float(y)),
                          "collect",
                          lambda rows, x=x, y=y: chk_pick(rows, x, y)))

        return ops


# ======================================================================
# corpus_curation
# ======================================================================
class CorpusCuration:
    """One batch curation pass: scores, exact dedup, MinHash/LSH near-dup
    pairs and clusters, the exact prefix-filter join, semantic dedup.
    Its ops count in the per-pass rate, not in op latency."""

    name = "corpus_curation"

    def __init__(self, sizes=None):
        self.sizes = dict(gen.CORPUS_SIZES, **(sizes or {}))

    def generate(self, seed: int, root: str) -> dict:
        self.root = root
        self.g = gen.gen_corpus(seed, root, **self.sizes)
        kept, scored, margin = gen.semdedup_reference(
            self.g["emb"], self.g["topics"], gen.SEMDEDUP_T)
        if margin < 1e-6:
            raise RuntimeError("generated embeddings sit on the semantic "
                               "dedup threshold; choose another seed")
        self.g.update(sem_kept=kept, sem_scored=scored)
        return dict(self.g["sizes"], semdedup_pairs_scored=scored)

    @property
    def rows_per_pass(self) -> int:
        return self.g["sizes"]["n_docs"]

    def register(self, spark, sub) -> dict:
        with sub("sources.read_corpus", "sources"):
            docs = spark.read.parquet(self.g["docs_dir"])
            emb = spark.read.parquet(self.g["emb_dir"])
        return {"spark": spark, "docs": docs, "emb": emb}

    def before_pass(self, st: dict, pass_no: int) -> None:
        pass

    def after_traced_op(self, st, op, res, counters) -> None:
        """Waste ratios, probed outside the op's span on traced passes."""
        if op.name == "llm.dedup.near_dup_pairs":
            counters["candidate_pairs"] = (counters.get("candidate_pairs", 0)
                                           + st["cand"].count())
            counters["verified_pairs"] = (counters.get("verified_pairs", 0)
                                          + len(res))
        elif op.name == "llm.similarity.semantic_dedup":
            counters["semdedup_scored"] = (counters.get("semdedup_scored", 0)
                                           + self.g["sem_scored"])
            counters["semdedup_dropped"] = (
                counters.get("semdedup_dropped", 0)
                + self.g["sizes"]["n_docs"] - len(res))

    def _check_pairs(self, rows, recall_floor: float) -> None:
        sh, t = self.g["shingles"], gen.JACCARD_T
        got = set()
        for r in rows:
            a, b, j = int(r["id_a"]), int(r["id_b"]), float(r["jaccard"])
            expect(a < b, "pair order")
            want = gen.jaccard(sh[a], sh[b])
            expect(math.isclose(j, want, rel_tol=1e-9),
                   f"pair ({a},{b}) jaccard {j} != {want}")
            expect(want >= t, f"pair ({a},{b}) below threshold")
            got.add((a, b))
        missed = [p for p, j in self.g["planted"].items()
                  if j >= recall_floor and p not in got]
        expect(not missed, f"{len(missed)} planted pairs missed")

    def ops(self, st: dict) -> list[Op]:
        from pyspark.sql import functions as F
        from detanalysis_spark import llm as L
        from detanalysis_spark.llm import dedup as LD

        g, n = self.g, self.g["sizes"]["n_docs"]
        docs = st["docs"]

        def scores(sub):
            txt = F.col("text")
            cols = {**L.quality_scores(txt),
                    **{f"rep_{k}": v
                       for k, v in L.repetition_scores(txt).items()},
                    **{f"pii_{k}": v for k, v in L.pii_counts(txt).items()}}
            return docs.agg(F.count(F.lit(1)).alias("n"),
                            *[F.sum(c).alias(k) for k, c in cols.items()])

        def chk_scores(rows):
            r = rows[0]
            expect(r["n"] == n, "scored rows")
            expect(r["pii_email"] == g["n_email"],
                   f"emails {r['pii_email']} != {g['n_email']}")
            expect(all(v is not None for v in r.asDict().values()),
                   "null score sum")

        def exact(sub):
            return L.dedup_exact(docs, ["text"], "doc_id")

        def near(sub):
            sigs = L.minhash_signatures(docs, "text", id_col="doc_id")
            cand = L.lsh_candidate_pairs(sigs, "doc_id")
            st["cand"] = cand
            st["verified"] = LD.verify_candidates(
                docs, cand, "doc_id", threshold=gen.JACCARD_T)
            return st["verified"]

        def clusters(sub):
            return L.near_dup_clusters(st["verified"])

        def chk_clusters(rows):
            want = gen.components(st["verified_pairs"])
            got = {int(r["id"]): int(r["cluster_id"]) for r in rows}
            expect(got == want, "near-dup components")

        def chk_near(rows):
            st["verified_pairs"] = [(int(r["id_a"]), int(r["id_b"]))
                                    for r in rows]
            self._check_pairs(rows, gen.LSH_RECALL_FLOOR)

        def jac(sub):
            return LD.jaccard_index_pairs(docs, "doc_id", "text",
                                         threshold=gen.JACCARD_T,
                                         prefix_filter=True)

        def sem(sub):
            return L.semantic_dedup(st["emb"], gen.SEMDEDUP_T,
                                    cluster_col="topic").select("vec_id")

        def chk_sem(rows):
            got = {int(r["vec_id"]) for r in rows}
            expect(got == g["sem_kept"],
                   f"semantic dedup kept {len(got)} != {len(g['sem_kept'])}")

        ops = [
            Op("llm.text.scores", "llm.text", scores, "collect", chk_scores),
            Op("llm.dedup.dedup_exact", "llm.dedup", exact, "count",
               lambda c: expect(c == g["n_distinct"],
                                f"distinct {c} != {g['n_distinct']}")),
            Op("llm.dedup.near_dup_pairs", "llm.dedup", near, "collect",
               chk_near),
            Op("llm.dedup.near_dup_clusters", "llm.dedup", clusters,
               "collect", chk_clusters),
            Op("llm.dedup.jaccard_index_pairs", "llm.dedup", jac, "collect",
               lambda rows: self._check_pairs(rows, gen.JACCARD_T)),
            Op("llm.similarity.semantic_dedup", "llm.similarity", sem,
               "collect", chk_sem),
        ]
        # steps of one batch pass, not calls a user waits on one by one
        for op in ops:
            op.latency = False
        return ops


# ======================================================================
# stream_ingest
# ======================================================================
class StreamIngest:
    """R rounds of landed RQ updates and trace chunks, drained through
    three checkpointed streams, then read back."""

    name = "stream_ingest"
    RQ_SCHEMA = "key long, seq long, amp double, baseline double"
    TR_SCHEMA = "event_id long, channel string, trace array<double>"

    def __init__(self, sizes=None):
        self.sizes = dict(gen.STREAM_SIZES, **(sizes or {}))
        self.instance = 0

    def generate(self, seed: int, root: str) -> dict:
        self.root = root
        self.g = gen.gen_stream(seed, root, **self.sizes)
        self.next_round = 0
        return self.g["sizes"]

    @property
    def rows_per_pass(self) -> int:
        return self.g["sizes"]["batch_rows"]

    def register(self, spark, sub) -> dict:
        """A fresh stream instance: landing dirs, sinks, checkpoints and
        the initial copy-on-write table."""
        from detanalysis_spark.sources.layout import cow_write

        self.instance += 1
        d = os.path.join(self.root, f"inst{self.instance}")
        st = {"spark": spark, "dir": d, "rounds": []}
        for k in ("land_rq", "land_tr"):
            st[k] = os.path.join(d, k)
            os.makedirs(st[k])
        for k in ("sink", "table", "deltas", "ck_sink", "ck_up", "ck_x"):
            st[k] = os.path.join(d, k)
        with sub("sources.cow_write", "sources"):
            cow_write(spark.createDataFrame(self.g["initial"]), st["table"],
                      "key", num_buckets=self.g["sizes"]["num_buckets"])
        return st

    def before_pass(self, st: dict, pass_no: int) -> None:
        """Land the next staged round (copy, then rename into place, so a
        drain never lists a half-written file; not timed)."""
        r = self.next_round
        if r >= self.g["sizes"]["rounds_staged"]:
            raise StopIteration
        self.next_round += 1
        for sub_dir, land in (("rq", "land_rq"), ("tr", "land_tr")):
            src = os.path.join(self.g["stage"], sub_dir, f"r{r:05d}.parquet")
            dst = os.path.join(st[land], f"r{r:05d}.parquet")
            shutil.copyfile(src, dst + ".tmp")
            os.rename(dst + ".tmp", dst)
        st["rounds"].append(r)
        st["landed_bytes"] = os.path.getsize(
            os.path.join(st["land_rq"], f"r{r:05d}.parquet"))

    @staticmethod
    def _files(path: str) -> dict:
        out = {}
        for d, _, files in os.walk(path):
            for f in files:
                p = os.path.join(d, f)
                s = os.stat(p)
                out[p] = (s.st_size, s.st_mtime_ns, s.st_ino)
        return out

    def before_traced_op(self, st, op, counters) -> None:
        if op.name == "streaming.streaming_upsert":
            st["files_before"] = self._files(st["table"])

    def after_traced_op(self, st, op, res, counters) -> None:
        """Write amplification of the copy-on-write upsert: bytes of
        new or rewritten files under the table per landed byte."""
        if op.name != "streaming.streaming_upsert":
            return
        before, after = st.pop("files_before"), self._files(st["table"])
        new = [p for p, v in after.items() if before.get(p) != v]
        for k, v in (("files_rewritten", len(new)),
                     ("written_bytes", sum(after[p][0] for p in new)),
                     ("landed_bytes", st["landed_bytes"])):
            counters[k] = counters.get(k, 0) + v

    def ops(self, st: dict) -> list[Op]:
        from detanalysis_spark import operators as O
        from detanalysis_spark import streaming as S
        from detanalysis_spark import vibration as V
        from detanalysis_spark.sources.layout import read_cow

        spark, g = st["spark"], self.g
        sz = g["sizes"]
        chunk = sz["chunk_samples"]
        chans = list(gen.STREAM_CHANNELS)
        rounds = list(st["rounds"])

        def rq_stream():
            return spark.readStream.schema(self.RQ_SCHEMA) \
                .parquet(st["land_rq"])

        def sink(sub):
            return S.stream_to_parquet(rq_stream(), st["sink"],
                                       st["ck_sink"],
                                       query_name="pb_sink")

        def upsert(sub):
            return S.streaming_upsert(rq_stream(), st["table"], st["ck_up"],
                                      dedupe_order="seq",
                                      query_name="pb_upsert")

        def cross(sub):
            tr = S.read_continuous_stream(spark, st["land_tr"])
            return S.streaming_cross_deltas(
                S.rechunk_stream(tr, chunk), chans, gen.STREAM_FS,
                st["deltas"], st["ck_x"], query_name="pb_cross")

        def rows_in(q):
            return sum(p["numInputRows"] for p in progress(q))

        def read(sub):
            df = read_cow(spark, st["table"])
            hist = O.hist1d(df, "amp", shape=32)
            return df.toPandas(), hist

        def chk_read(res):
            got, (counts, _) = res
            want = gen.last_writer_wins(
                g["initial"], [g["batches"][r] for r in rounds])
            got = got[want.columns].sort_values("key") \
                .reset_index(drop=True)
            expect(len(got) == len(want), "upserted row count")
            expect(got.equals(want.astype(got.dtypes.to_dict())),
                   "upserted table != last-writer-wins")
            expect(np.array_equal(counts,
                                  gen.np_hist(want["amp"].to_numpy(), 32)),
                   "histogram of upserted table")

        def merged(sub):
            return S.read_cross_moments_from_deltas(
                spark, st["deltas"], chans, gen.STREAM_FS, chunk)

        def batch_moments(sub):
            static = spark.read.schema(self.TR_SCHEMA).parquet(st["land_tr"])
            return V.continuous_moments(static, chans, gen.STREAM_FS,
                                        chunk_samples=chunk)

        def chk_moments(rows):
            key = (lambda r: int(r["frequency_hz"] /
                                 (gen.STREAM_FS / chunk) + 0.5))
            want = {key(r): r.asDict() for r in rows}
            got = {key(r): r.asDict() for r in st["merged"]}
            expect(set(got) == set(want), "moment bins")
            n_chunks = (len(rounds) * sz["trace_events_per_round"]
                        * sz["trace_samples"]) // chunk
            for b, w in want.items():
                expect(w["n"] == n_chunks, f"batch chunk count {w['n']}")
                for f, v in w.items():
                    if f == "frequency_hz":
                        continue
                    expect(math.isclose(got[b][f], v, rel_tol=1e-9,
                                        abs_tol=1e-12),
                           f"cross moment {f} bin {b}")

        return [
            Op("streaming.stream_to_parquet", "streaming", sink, None,
               lambda q: expect(rows_in(q) == sz["batch_rows"],
                                "sink rows this round")),
            # foreachBatch re-reads its batch, so numInputRows counts the
            # round several times; the read op checks the table itself
            Op("streaming.streaming_upsert", "streaming", upsert, None,
               lambda q: expect(sum(p["numInputRows"] > 0
                                    for p in progress(q)) == 1,
                                "upsert drained one batch")),
            Op("streaming.streaming_cross_deltas", "streaming", cross, None,
               None),
            Op("sources.read_cow_hist", "sources", read, None, chk_read),
            Op("streaming.read_cross_moments", "streaming", merged,
               "collect", lambda rows: st.__setitem__("merged", rows)),
            # the batch recompute the merged moments are checked against:
            # it counts in the per-pass rate, not in op latency
            Op("vibration.continuous_moments", "vibration", batch_moments,
               "collect", chk_moments, latency=False),
        ]


def progress(q) -> list[dict]:
    """The query's recent progress entries as plain dicts."""
    import json
    out = []
    for p in q.recentProgress:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out


# ======================================================================
# curation_ingest: corpus_curation and stream_ingest in one process
# ======================================================================
class CurationIngest:
    """The engine's pipeline side in one workload: each pass is one
    corpus curation pass followed by one stream-ingest round. Together
    they exercise every llm, streaming and vibration layer while the
    analyst layers stay idle; as one workload they share a JVM launch
    and set-up, which keeps a full benchmark campaign within budget."""

    name = "curation_ingest"
    def __init__(self, sizes=None):
        sizes = sizes or {}
        self.parts = [
            CorpusCuration({k: v for k, v in sizes.items()
                            if k in gen.CORPUS_SIZES}),
            StreamIngest({k: v for k, v in sizes.items()
                          if k in gen.STREAM_SIZES})]

    def generate(self, seed: int, root: str) -> dict:
        return {p.name: p.generate(seed, os.path.join(root, p.name))
                for p in self.parts}

    @property
    def rows_per_pass(self) -> int:
        return sum(p.rows_per_pass for p in self.parts)

    def register(self, spark, sub) -> dict:
        return {p.name: p.register(spark, sub) for p in self.parts}

    def before_pass(self, st: dict, pass_no: int) -> None:
        for p in self.parts:
            p.before_pass(st[p.name], pass_no)

    def ops(self, st: dict) -> list[Op]:
        return [op for p in self.parts for op in p.ops(st[p.name])]

    def _hook(self, hook: str, st, op, *args) -> None:
        for p in self.parts:
            fn = getattr(p, hook, None)
            if fn is not None:
                fn(st[p.name], op, *args)

    def before_traced_op(self, st, op, counters) -> None:
        self._hook("before_traced_op", st, op, counters)

    def after_traced_op(self, st, op, res, counters) -> None:
        self._hook("after_traced_op", st, op, res, counters)


WORKLOADS = {w.name: w for w in (RqSession, CorpusCuration, StreamIngest,
                                 CurationIngest)}
