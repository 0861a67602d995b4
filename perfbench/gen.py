"""Seeded input generators and the references the checks compare to.

Each generator writes files only; the library never sees the
generator's in-memory copy. References are computed here with NumPy,
pandas or plain Python from that copy.
"""

from __future__ import annotations

import os
import string

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------------
# rq_session: vaex-layout HDF5 RQ files plus a raw-trace table
# ----------------------------------------------------------------------
CHANNELS = ("CPDv21Ge", "Melange4pc1ch")
PHOTON_CH = CHANNELS[0]
SPACING = 4.0
PEAK_STDS = (0.30, 0.32, 0.35, 0.40, 0.45)
PEAK_WEIGHTS = (0.35, 0.30, 0.18, 0.10, 0.07)
TRACE_LEN = 32
RQ_SIZES = {"n_events": 20_000, "n_series": 4}


def _h5():
    try:
        import h5py
        return h5py
    except ImportError:
        from detanalysis_spark.sources import minihdf5
        return minihdf5


def pulse_template(n: int = TRACE_LEN) -> np.ndarray:
    t = np.arange(n, dtype=np.float64)
    return np.where(t >= 8, np.exp(-(t - 8) / 6.0) - np.exp(-(t - 8) / 1.5),
                    0.0)


def gen_rq(seed: int, root: str, n_events: int, n_series: int) -> dict:
    rng = np.random.default_rng(seed)
    per = n_events // n_series
    n = per * n_series
    series = np.repeat(np.arange(n_series) + 2024_0001, per).astype(np.int64)
    pdf = pd.DataFrame({
        "series_number": series,
        "event_number": np.tile(np.arange(per), n_series).astype(np.int64),
        "event_time": np.sort(rng.uniform(0.0, 7200.0, n)),
        "trigger_type": np.where(rng.random(n) < 0.1, 3.0, 4.0),
    })
    peaks = rng.choice(len(PEAK_WEIGHTS), size=n, p=PEAK_WEIGHTS)
    for ch in CHANNELS:
        if ch == PHOTON_CH:
            amp = peaks * SPACING + rng.standard_normal(n) * \
                np.asarray(PEAK_STDS)[peaks]
        else:
            amp = rng.exponential(3.0, n)
        pdf[f"amp_of1x1_nodelay_{ch}"] = amp
        pdf[f"lowchi2_of1x1_nodelay_{ch}"] = (rng.normal(120.0, 18.0, n)
                                               + 2.0 * amp)
        drift = 0.002 * pdf["event_time"].to_numpy() / 7200.0
        pdf[f"baseline_{ch}"] = rng.normal(0.015, 0.003, n) + drift

    h5py = _h5()
    hdf5_dir = os.path.join(root, "rq_hdf5")
    os.makedirs(hdf5_dir)
    for s in np.unique(series):
        part = pdf[pdf.series_number == s]
        with h5py.File(os.path.join(hdf5_dir, f"rq_{s}.hdf5"), "w") as f:
            cols = f.create_group("table").create_group("columns")
            for c in pdf.columns:
                cols.create_group(c).create_dataset(
                    "data", data=part[c].to_numpy())

    # raw traces of the photon channel, one hive partition per series
    tmpl = pulse_template()
    traces = (peaks[:, None] * tmpl[None, :]
              + rng.normal(0.0, 0.05, (n, TRACE_LEN)))
    trace_dir = os.path.join(root, "traces")
    for s in np.unique(series):
        m = (series == s)
        d = os.path.join(trace_dir, f"series_number={s}")
        os.makedirs(d)
        flat = pa.array(traces[m].ravel())
        tbl = pa.table({
            "event_number": pa.array(pdf.event_number.to_numpy()[m]),
            "channel": pa.array([PHOTON_CH] * int(m.sum())),
            "trace": pa.ListArray.from_arrays(
                pa.array(np.arange(0, m.sum() * TRACE_LEN + 1, TRACE_LEN,
                                   dtype=np.int32)), flat),
        })
        pq.write_table(tbl, os.path.join(d, "part-0.parquet"))
    return {"pdf": pdf, "traces": traces, "peaks": peaks,
            "hdf5_dir": hdf5_dir, "trace_dir": trace_dir,
            "sizes": {"n_events": n, "n_series": n_series,
                      "n_columns": len(pdf.columns),
                      "trace_len": TRACE_LEN}}


def np_bucket(x: np.ndarray, lo: float, hi: float, shape: int) -> np.ndarray:
    """The engine's documented bucketing: floor((x-lo)/w), top edge
    inclusive in the last bin."""
    w = (hi - lo) / shape
    b = np.floor((x - lo) / w).astype(np.int64)
    return np.where(x == hi, shape - 1, b)


def np_hist(x: np.ndarray, shape: int) -> np.ndarray:
    lo, hi = float(x.min()), float(x.max())
    if hi == lo:
        hi = lo + 1.0
    b = np_bucket(x, lo, hi, shape)
    return np.bincount(b[(b >= 0) & (b < shape)], minlength=shape)


_SIG_LO, _SIG_HI = 50.0 - 68.27 / 2.0, 50.0 + 68.27 / 2.0


def np_sigma_bounds(v: np.ndarray, nsig: float) -> tuple[float, float]:
    """Robust sigma interval as tests/test_demo_workflows.py computes it."""
    med = np.percentile(v, 50)
    sig = abs(np.mean([np.percentile(v, _SIG_LO) - med,
                       med - np.percentile(v, _SIG_HI)]))
    return med - nsig * sig, med + nsig * sig


def np_binned_sigma_cut(x: np.ndarray, b: np.ndarray, cond: np.ndarray,
                        lims, nsig: float) -> np.ndarray:
    """Binned sigma cut: bounds estimated per strict bin on the
    conditioned rows, applied to all rows of that bin."""
    keep = np.zeros(len(x), dtype=bool)
    for lo, hi in lims:
        in_bin = (b > lo) & (b < hi)
        sample = x[in_bin & cond]
        if sample.size == 0:
            continue
        vlo, vhi = np_sigma_bounds(sample, nsig)
        keep |= in_bin & (x > vlo) & (x < vhi)
    return keep


# ----------------------------------------------------------------------
# corpus_curation: documents with planted near-dup pairs, exact copies,
# a boilerplate footer (hot grams), PII and embeddings
#
# The gram-frequency shape is the one SCALING.md (PPJoin prefix tier)
# and suite._longtail_corpus record for web text: word trigrams of
# shared boilerplate with document frequency ~N/10 over a tail of
# trigrams with df <= 2. Every document ends with a run of
# ``boiler_run`` consecutive tokens of a cyclic ``boiler_pool``-token
# pool from a random offset, so each pool trigram is in
# (boiler_run - 2) / boiler_pool = 1/10 of the documents; bodies are
# random words, near-duplicates are pairs and exact copies are taken
# from unpaired documents, so no body trigram has df > 2.
# near_dup_share and exact_copy_share have no measured source: they
# are assumptions, and the record carries the shares as generated.
# ----------------------------------------------------------------------
CORPUS_SIZES = {"n_docs": 600, "words_per_doc": (45, 75),
                "vocab": 6_000, "near_dup_share": 0.12,
                "exact_copy_share": 0.04, "boiler_pool": 100,
                "boiler_run": 12, "pii_share": 0.05, "emb_dim": 32,
                "topic_size": 40}
JACCARD_T = 0.7
LSH_RECALL_FLOOR = 0.9
SEMDEDUP_T = 0.95


def shingles(text: str, n: int = 3) -> set:
    """Distinct word n-grams, split like the engine's word_shingles."""
    tk = text.strip().split()
    return {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def boilerplate(offset: int, pool: int, run: int) -> list:
    return [f"bp{(offset + i) % pool}" for i in range(run)]


def _is_bp(token: str) -> bool:
    """Body words are letters only, so a digit marks a pool token."""
    return token.startswith("bp") and token[2:].isdigit()


def gram_df(shingle_sets) -> dict:
    df: dict = {}
    for sh in shingle_sets:
        for g in sh:
            df[g] = df.get(g, 0) + 1
    return df


def gen_corpus(seed: int, root: str, n_docs: int, words_per_doc,
               vocab: int, near_dup_share: float, exact_copy_share: float,
               boiler_pool: int, boiler_run: int, pii_share: float,
               emb_dim: int, topic_size: int) -> dict:
    rng = np.random.default_rng(seed)
    letters = np.array(list(string.ascii_lowercase))
    words = np.array(["".join(rng.choice(letters, rng.integers(3, 10)))
                      for _ in range(vocab)])
    n_topics = max(1, n_docs // topic_size)
    centers = rng.standard_normal((n_topics, emb_dim))
    n_copy = int(exact_copy_share * n_docs)
    n_orig = n_docs - n_copy

    texts, topics, embs, cluster_of = [], [], [], []
    n_email = 0
    cluster_id = 0
    while len(texts) < n_orig:
        base = list(rng.choice(words, rng.integers(*words_per_doc)))
        if rng.random() < pii_share:
            base[rng.integers(len(base))] = f"user{len(texts)}@example.org"
        tail = boilerplate(int(rng.integers(boiler_pool)), boiler_pool,
                           boiler_run)
        topic = int(rng.integers(n_topics))
        emb = centers[topic] + 0.6 * rng.standard_normal(emb_dim)
        members = [base]
        if rng.random() < near_dup_share:
            var = list(base)
            for _ in range(int(rng.integers(1, 3))):
                var[rng.integers(len(var))] = words[rng.integers(vocab)]
            members.append(var)
        for i, m in enumerate(members):
            if len(texts) >= n_orig:
                break
            n_email += sum("@" in w for w in m)
            texts.append(" ".join(m + tail))
            topics.append(topic)
            embs.append(emb + (0.0 if i == 0
                               else 0.01 * rng.standard_normal(emb_dim)))
            cluster_of.append(cluster_id)
        cluster_id += 1
    # exact copies of documents that have no near-duplicate
    size = np.bincount(cluster_of)
    single = [i for i, c in enumerate(cluster_of) if size[c] == 1]
    for src in rng.choice(single, n_copy, replace=False):
        n_email += sum("@" in w for w in texts[src].split())
        texts.append(texts[src])
        topics.append(topics[src])
        embs.append(embs[src])
        cluster_of.append(cluster_of[src])

    ids = np.arange(n_docs, dtype=np.int64)
    emb = np.asarray(embs)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    docs_dir = os.path.join(root, "docs")
    os.makedirs(docs_dir)
    pq.write_table(pa.table({"doc_id": ids, "text": texts,
                             "topic": np.asarray(topics, dtype=np.int64)}),
                   os.path.join(docs_dir, "part-0.parquet"))
    emb_dir = os.path.join(root, "emb")
    os.makedirs(emb_dir)
    pq.write_table(pa.table({
        "vec_id": ids, "topic": np.asarray(topics, dtype=np.int64),
        "embedding": pa.array(list(emb))}),
        os.path.join(emb_dir, "part-0.parquet"))

    # ground truth: planted pairs and their exact Jaccard
    sh = [shingles(t) for t in texts]
    groups: dict = {}
    for i, c in enumerate(cluster_of):
        groups.setdefault(c, []).append(i)
    planted = {}
    for mem in groups.values():
        for x in range(len(mem)):
            for y in range(x + 1, len(mem)):
                a, b = mem[x], mem[y]
                planted[(a, b)] = jaccard(sh[a], sh[b])
    # the gram-frequency shape as generated
    df = gram_df(sh)
    n_bp = {g: sum(map(_is_bp, g.split())) for g in df}
    hot = [v for g, v in df.items() if n_bp[g] == 3]
    tail_df = [v for g, v in df.items() if n_bp[g] == 0]
    return {"texts": texts, "shingles": sh, "emb": emb,
            "topics": np.asarray(topics), "docs_dir": docs_dir,
            "emb_dir": emb_dir, "planted": planted,
            "n_distinct": len(set(texts)), "n_email": n_email,
            "sizes": {"n_docs": n_docs, "n_clusters_planted":
                      sum(len(m) > 1 for m in groups.values()),
                      "near_dup_doc_share": sum(
                          len(m) for m in groups.values()
                          if len(m) > 1) / n_docs,
                      "planted_pairs_above_t":
                      sum(j >= JACCARD_T for j in planted.values()),
                      "exact_copies": n_copy,
                      "distinct_texts": len(set(texts)),
                      "hot_grams": len(hot),
                      "hot_gram_df_median_over_n":
                      float(np.median(hot)) / n_docs,
                      "tail_gram_df_max": max(tail_df),
                      "tail_gram_share_df_le_2":
                      sum(v <= 2 for v in tail_df) / len(tail_df)}}


def semdedup_reference(emb: np.ndarray, topics: np.ndarray,
                       threshold: float) -> tuple[set, int, float]:
    """Kept ids under SemDeDup's keep-lowest-id rule within each topic,
    the number of same-topic pairs scored, and the smallest distance
    of any pair's cosine from the threshold."""
    kept, scored, margin = set(), 0, np.inf
    for t in np.unique(topics):
        mem = np.flatnonzero(topics == t)
        cos = emb[mem] @ emb[mem].T
        iu = np.triu_indices(len(mem), 1)
        scored += len(iu[0])
        if len(iu[0]):
            margin = min(margin, float(np.abs(cos[iu] - threshold).min()))
        drop = (np.triu(cos >= threshold, 1)).any(axis=0)
        kept.update(int(i) for i in mem[~drop])
    return kept, scored, margin


def components(pairs) -> dict:
    """Connected components as {id: min id of its component}."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# ----------------------------------------------------------------------
# stream_ingest: per-round keyed RQ update batches and trace chunks
#
# Each round lands new events (fresh keys) plus re-processed ones: a
# share ``overwrite_share`` of the rows rewrite keys drawn uniformly
# from every key written before the round. That share has no measured
# source; it is an assumption, and the record carries the shares as
# generated.
# ----------------------------------------------------------------------
STREAM_SIZES = {"n_keys": 4_000, "batch_rows": 1_500, "rounds": 64,
                "overwrite_share": 0.25, "trace_events_per_round": 8,
                "trace_samples": 256, "chunk_samples": 128,
                "num_buckets": 16}
STREAM_CHANNELS = ("ax", "ay")
STREAM_FS = 1000.0


def gen_stream(seed: int, root: str, n_keys: int, batch_rows: int,
               rounds: int, overwrite_share: float,
               trace_events_per_round: int, trace_samples: int,
               chunk_samples: int, num_buckets: int) -> dict:
    rng = np.random.default_rng(seed)
    stage = os.path.join(root, "stage")
    os.makedirs(os.path.join(stage, "rq"))
    os.makedirs(os.path.join(stage, "tr"))
    initial = pd.DataFrame({
        "key": np.arange(n_keys, dtype=np.int64),
        "seq": np.zeros(n_keys, dtype=np.int64),
        "amp": rng.exponential(3.0, n_keys),
        "baseline": rng.normal(0.015, 0.003, n_keys)})
    batches, seq, next_key = [], 1, n_keys
    n_over = int(round(overwrite_share * batch_rows))
    for r in range(rounds):
        fresh = np.arange(next_key, next_key + batch_rows - n_over,
                          dtype=np.int64)
        key = np.concatenate([rng.integers(0, next_key, n_over), fresh])
        next_key += len(fresh)
        b = pd.DataFrame({
            "key": rng.permutation(key).astype(np.int64),
            "seq": np.arange(seq, seq + batch_rows, dtype=np.int64),
            "amp": rng.exponential(3.0, batch_rows),
            "baseline": rng.normal(0.015, 0.003, batch_rows)})
        seq += batch_rows
        pq.write_table(pa.Table.from_pandas(b, preserve_index=False),
                       os.path.join(stage, "rq", f"r{r:05d}.parquet"))
        batches.append(b)
        ev = np.arange(r * trace_events_per_round,
                       (r + 1) * trace_events_per_round, dtype=np.int64)
        rows_ev, rows_ch, rows_tr = [], [], []
        for e in ev:
            for ch in STREAM_CHANNELS:
                rows_ev.append(e)
                rows_ch.append(ch)
                rows_tr.append(rng.standard_normal(trace_samples))
        pq.write_table(pa.table({"event_id": np.asarray(rows_ev),
                                 "channel": rows_ch,
                                 "trace": pa.array(rows_tr)}),
                       os.path.join(stage, "tr", f"r{r:05d}.parquet"))
    first = batches[0]["key"].to_numpy()
    return {"initial": initial, "batches": batches, "stage": stage,
            "sizes": {"n_keys": n_keys, "batch_rows": batch_rows,
                      "rounds_staged": rounds,
                      "overwrite_share": float((first < n_keys).mean()),
                      "rows_sharing_key_in_batch": float(
                          pd.Series(first).duplicated(keep=False).mean()),
                      "trace_events_per_round": trace_events_per_round,
                      "trace_samples": trace_samples,
                      "chunk_samples": chunk_samples,
                      "num_buckets": num_buckets,
                      "channels": len(STREAM_CHANNELS)}}


def last_writer_wins(initial: pd.DataFrame, batches) -> pd.DataFrame:
    allrows = pd.concat([initial] + list(batches), ignore_index=True)
    return (allrows.sort_values("seq").groupby("key", as_index=False)
            .last().sort_values("key").reset_index(drop=True))
