"""Similarity search over an embedding column (``array<float|double>``).

Two paths, per the standard ANN playbook:

- **Brute-force cosine top-k** — the correctness baseline. The probe
  set is broadcast; cosine is one BLAS batch op per Arrow block
  (:func:`dot_rows`; the native ``zip_with``/``aggregate`` fold is
  kept for scalar use — HOFs evaluate interpreted, ~100× slower per
  pair); ranking is a window partitioned by probe. Cost is one full
  corpus scan per probe batch — exact, and the right tool when the
  probe set is small.
- **Random-hyperplane LSH** — the scale path. Each vector gets L
  b-bit signatures (sign of projections onto seeded random
  hyperplanes); candidates are corpus rows sharing a (table, bucket)
  with a probe, so the expensive exact cosine runs only inside
  buckets. Candidate generation is an equi-join on (table, bucket) —
  shuffle keyed by bucket, never all-pairs.

Scale notes (100 TB): brute force shuffles |probes|×|corpus| score
rows through the per-probe window — acceptable only for small probe
sets; the LSH path's join output is ~|corpus|·L/2^b per probe bucket
on average, tunable via (bits, tables). Signatures are computed once
and can be persisted alongside the embeddings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .dedup import _posting_list_pairs


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def dot_rows(a: Column, b: Column) -> Column:
    """Row-wise dot product of two ``array<double>`` columns as ONE
    numpy matrix op per Arrow batch (``np.einsum`` over the stacked
    batch) — the vectorized scorer for pair tables.

    Higher-order-function folds (:func:`_dot`) are interpreted
    per-element on the JVM (HOFs are outside whole-stage codegen), so
    scoring a candidate-pair table that way costs ~100× more per pair
    than a BLAS batch; every bucketed/cell-keyed refine join uses this
    instead. Exact float64 like the fold, differing only in summation
    order (BLAS pairwise vs sequential) — bounded by the usual 1-ulp
    reassociation error. Null or length-mismatched vector pairs score
    null (NaN → Arrow null on return), matching the fold's null-padding
    semantics, instead of crashing the stack fast path."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot_udf(xa: pd.Series, xb: pd.Series) -> pd.Series:
        n = len(xa)
        if n == 0:
            return pd.Series([], dtype="float64")
        va, vb = xa.to_numpy(), xb.to_numpy()
        try:
            A = np.stack(va).astype(np.float64, copy=False)
            B = np.stack(vb).astype(np.float64, copy=False)
            if A.shape == B.shape and A.ndim == 2:
                return pd.Series(np.einsum("ij,ij->i", A, B))
        except (ValueError, TypeError):
            pass  # nulls or ragged lengths in this batch: row-wise path
        out = np.full(n, np.nan)
        for i in range(n):
            p, q = va[i], vb[i]
            if p is None or q is None or len(p) != len(q):
                continue
            try:
                out[i] = np.asarray(p, dtype=np.float64) @ \
                    np.asarray(q, dtype=np.float64)
            except (ValueError, TypeError):
                pass  # null element inside the array → null, like the fold
        return pd.Series(out)

    return _dot_udf(a, b)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _unit(vec: Column) -> Column:
    """Cast to double and scale to unit L2 norm (zero vectors pass
    through unscaled so cosine against them is 0, not NaN).

    The norm is bound as a lambda variable via a one-element-array
    transform — dividing inside a plain ``transform`` lambda would
    re-run the norm fold once per element.
    """
    vd = _as_double(vec)
    return F.flatten(F.transform(
        F.array(F.nullif(_norm(vd), F.lit(0.0))),
        lambda nrm: F.transform(vd, lambda x: x / F.coalesce(nrm, F.lit(1.0)))))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Native cosine: zip_with product fold / norms — whole-stage codegen."""
    a, b = _as_double(a), _as_double(b)
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                probe_id_col: str | None = None,
                exclude_self: bool = True) -> DataFrame:
    """Exact brute-force cosine top-k per probe.

    Returns ``(probe_id, rank, neighbor_id, sim)`` with a deterministic
    tie-break (similarity desc, neighbor id asc). Probes are broadcast:
    the corpus is scanned once, scores stay partition-local until the
    per-probe top-k window (shuffle keyed by probe id).
    """
    pid = probe_id_col or id_col
    # unit-normalize each side ONCE before the pair join: per-pair work
    # is then a single dot fold instead of dot + two norm folds
    p = probes.select(F.col(pid).alias("probe_id"),
                      _unit(F.col(vec_col)).alias("probe_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _unit(F.col(vec_col)).alias("vec"))
    pairs = c.join(F.broadcast(p))
    if exclude_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("probe_id"))
    sim = dot_rows(F.col("vec"), F.col("probe_vec"))
    scored = pairs.select("probe_id", "neighbor_id", sim.alias("sim"))
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "rank", "neighbor_id", "sim"))


class RandomHyperplaneLSH:
    """Seeded random-hyperplane (SimHash-style) LSH for cosine distance.

    ``tables`` independent signatures of ``bits`` hyperplanes each.
    A pandas UDF computes all signatures with one matmul per Arrow
    batch — vectorized, no per-row Python.
    """

    def __init__(self, dim: int, bits: int = 16, tables: int = 4,
                 seed: int = 42, planes: "np.ndarray | None" = None):
        self.dim, self.bits, self.tables, self.seed = dim, bits, tables, seed
        if planes is not None:
            # explicit hyperplanes (tables, bits, dim) — lets callers
            # pin a deterministic projection (e.g. axis-aligned planes
            # make the bucket id a plain sign-bit sum any SQL engine
            # can replay — the oracle hook); the bucketing/probe/topk
            # machinery is identical either way
            planes = np.asarray(planes, dtype=np.float64)
            if planes.shape != (tables, bits, dim):
                raise ValueError(
                    f"planes shape {planes.shape} != "
                    f"{(tables, bits, dim)}")
            self._planes = planes
            return
        rng = np.random.default_rng(seed)
        # (tables, bits, dim) — regenerated identically from the seed on
        # every executor via closure capture (a few KB, broadcast-safe)
        self._planes = rng.standard_normal((tables, bits, dim))

    def signature_udf(self):
        planes = self._planes
        tables, bits, dim = self.tables, self.bits, self.dim
        pow2 = (1 << np.arange(bits)).astype(np.int64)

        @F.pandas_udf(ArrayType(LongType()))
        def _sig(vecs: pd.Series) -> pd.Series:
            if vecs.empty:
                return pd.Series([], dtype=object)
            mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
            out = np.empty((mat.shape[0], tables), dtype=np.int64)
            for t in range(tables):
                bits_mat = (mat @ planes[t].T) > 0          # (n, bits)
                out[:, t] = bits_mat.astype(np.int64) @ pow2
            return pd.Series(list(out))

        return _sig

    def with_buckets(self, df: DataFrame, vec_col: str = "embedding",
                     out_col: str = "lsh_buckets") -> DataFrame:
        """Attach the per-table bucket array (compute once, persistable)."""
        return df.withColumn(out_col, self.signature_udf()(F.col(vec_col)))

    def explode_buckets(self, df: DataFrame, id_col: str = "vec_id",
                        bucket_col: str = "lsh_buckets") -> DataFrame:
        """(id, table, bucket) rows — the join key space."""
        return df.select(
            F.col(id_col),
            F.posexplode(F.col(bucket_col)).alias("table", "bucket"))

    def probe_buckets_udf(self, n_flip: int):
        """Multi-probe bucket lists (Lv et al., VLDB'07): per table, the
        exact bucket PLUS the buckets reached by flipping each of the
        ``n_flip`` least-confident bits (smallest |projection| — the
        hyperplanes the vector sits closest to, where a true neighbor
        most likely landed on the other side). Returns
        ``array<array<long>>`` indexed by table. Costs ``1 + n_flip``
        probe buckets per table instead of more tables — same recall
        lever, no extra corpus-side signatures or storage."""
        planes = self._planes
        tables, bits = self.tables, self.bits
        pow2 = (1 << np.arange(bits)).astype(np.int64)

        @F.pandas_udf(ArrayType(ArrayType(LongType())))
        def _probe(vecs: pd.Series) -> pd.Series:
            if vecs.empty:
                return pd.Series([], dtype=object)
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            out = []
            for i in range(mat.shape[0]):
                per_table = []
                for t in range(tables):
                    proj = mat[i] @ planes[t].T            # (bits,)
                    base = int((proj > 0).astype(np.int64) @ pow2)
                    flips = np.argsort(np.abs(proj),
                                       kind="stable")[:n_flip]
                    per_table.append([base] + [base ^ int(pow2[j])
                                               for j in flips])
                out.append(per_table)
            return pd.Series(out)

        return _probe

    def _probe_bucket_rows(self, probes: DataFrame, pid: str,
                           vec_col: str, n_flip: int) -> DataFrame:
        """(probe_id, table, bucket) — exact buckets, plus flipped
        neighbors when ``n_flip > 0``."""
        p = probes.withColumnRenamed(pid, "probe_id")
        if n_flip <= 0:
            return self.explode_buckets(self.with_buckets(p, vec_col),
                                        id_col="probe_id")
        sig = self.probe_buckets_udf(n_flip)(F.col(vec_col))
        return (p.select("probe_id",
                         F.posexplode(sig).alias("table", "bl"))
                .select("probe_id", "table",
                        F.explode("bl").alias("bucket")))

    def candidates(self, corpus: DataFrame, probes: DataFrame,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   probe_id_col: str | None = None,
                   n_flip: int = 0) -> DataFrame:
        """Distinct (probe_id, neighbor_id) candidate pairs via bucket
        join; ``n_flip`` enables multi-probe (see
        :meth:`probe_buckets_udf`)."""
        pid = probe_id_col or id_col
        cb = self.explode_buckets(
            self.with_buckets(corpus, vec_col), id_col=id_col
        ).withColumnRenamed(id_col, "neighbor_id")
        pb = self._probe_bucket_rows(probes, pid, vec_col, n_flip)
        return (cb.join(F.broadcast(pb), ["table", "bucket"])
                .select("probe_id", "neighbor_id").distinct())

    def topk(self, corpus: DataFrame, probes: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             probe_id_col: str | None = None,
             exclude_self: bool = True, n_flip: int = 0) -> DataFrame:
        """Approximate top-k: exact cosine, but only on bucket
        candidates; ``n_flip`` > 0 turns on multi-probe."""
        pid = probe_id_col or id_col
        cand = self.candidates(corpus, probes, id_col=id_col,
                               vec_col=vec_col, probe_id_col=pid,
                               n_flip=n_flip)
        if exclude_self:
            cand = cand.filter(F.col("neighbor_id") != F.col("probe_id"))
        c = corpus.select(F.col(id_col).alias("neighbor_id"),
                          _unit(F.col(vec_col)).alias("vec"))
        p = probes.select(F.col(pid).alias("probe_id"),
                          _unit(F.col(vec_col)).alias("probe_vec"))
        scored = (cand.join(c, "neighbor_id").join(F.broadcast(p), "probe_id")
                  .select("probe_id", "neighbor_id",
                          dot_rows(F.col("vec"),
                                   F.col("probe_vec")).alias("sim")))
        w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(),
                                                   F.col("neighbor_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("probe_id", "rank", "neighbor_id", "sim"))


def _blocked_probe_scores(cc: DataFrame, d: DataFrame, threshold: float,
                          out_schema: str,
                          require_id_lt: bool) -> DataFrame:
    """Shared blocked-BLAS probe-vs-corpus scoring kernel: ``cc`` is
    the (small, guard-checked) probe frame (id_a, va unit vectors),
    ``d`` the streaming corpus frame (id_b, vb). The probe matrices
    (grouped by dimension) are collected once and broadcast; the
    corpus streams through mapInPandas with one matmul per
    (corpus-block × probe-chunk); only pairs ≥ threshold materialize.
    ``require_id_lt`` applies the within-frame ``id_a < id_b``
    canonical-pair mask (self-join near-dup); cross-frame callers
    (decontamination — probe and corpus id spaces are unrelated)
    disable it.
    """
    pm = cc.toPandas()
    lens = pm["va"].map(len).to_numpy()
    groups = []
    for dim in np.unique(lens):
        sub = pm[lens == dim]
        groups.append((int(dim),
                       np.stack(sub["va"].to_numpy()).astype(
                           np.float64, copy=False),
                       sub["id_a"].to_numpy()))
    # ship the probe matrices as an explicit broadcast: one
    # torrent-distributed copy per executor instead of a closure
    # capture serialized with (and held by) every task
    bc = d.sparkSession.sparkContext.broadcast(groups)
    thr = float(threshold)
    lt = bool(require_id_lt)
    BLK = 2048  # bounds each score block to ≤ 32 MB

    def gen(batches):
        grps = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # null corpus vectors score null under the fold →
            # below threshold; -1 never matches a probe dimension
            blens = pdf["vb"].map(
                lambda v: -1 if v is None else len(v)).to_numpy()
            for dim, P, ids_a in grps:
                sel = pdf[blens == dim]
                if len(sel) == 0:
                    continue
                X = np.stack(sel["vb"].to_numpy()).astype(
                    np.float64, copy=False)
                ids_b = sel["id_b"].to_numpy()
                for i in range(0, len(ids_b), BLK):
                    Xi, bi_ids = X[i:i + BLK], ids_b[i:i + BLK]
                    for j in range(0, len(ids_a), BLK):
                        S = Xi @ P[j:j + BLK].T
                        ai_ids = ids_a[j:j + BLK]
                        mask = S >= thr
                        if lt:
                            mask &= ai_ids[None, :] < bi_ids[:, None]
                        bi, ai = np.nonzero(mask)
                        if len(bi):
                            yield pd.DataFrame(
                                {"id_a": ai_ids[ai],
                                 "id_b": bi_ids[bi],
                                 "cosine": S[bi, ai]})

    return d.mapInPandas(gen, out_schema)


def cosine_near_dup_pairs(df: DataFrame, threshold: float,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          lsh: "RandomHyperplaneLSH | None" = None,
                          probes: DataFrame | None = None
                          ) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos ≥ t).

    With ``lsh``, candidates come from shared (table, bucket) posting
    lists (the same upper-triangle kernel as ``lsh_candidate_pairs``)
    and exact cosine runs only inside buckets — the 100 TB path (recall
    depends on (bits, tables) vs the threshold; near-identical vectors
    collide with probability ≈ 1). Without it, an exact broadcast join
    scores pairs directly: pass ``probes`` (a small slice of ``df``;
    same schema) to bound the product to |probes| × |corpus| — the
    SMALL probe side is broadcast and the corpus streams through it
    once. Without ``probes`` the whole corpus is broadcast against
    itself — all-pairs exact, only for modest corpora and oracle
    baselines (``probes`` is ignored when ``lsh`` is given: buckets
    already bound the candidate space). To make that misuse
    impossible at scale, the unbounded path refuses corpora above
    100k rows — pass ``lsh`` or ``probes`` there.
    """
    if lsh is None and probes is None:
        # limit+count bounds the guard scan: stop at the first 100k+1
        # rows instead of counting the whole corpus
        n = df.limit(100_001).count()
        if n > 100_000:
            raise ValueError(
                "cosine_near_dup_pairs: all-pairs over >100000 rows — "
                "this exact path is an oracle baseline; pass lsh= "
                "(bucketed candidates) or probes= (bounded product) "
                "for corpora above 100k rows")
    probe_df = df if probes is None else probes
    c = probe_df.select(F.col(id_col).alias("id_a"),
                        _unit(F.col(vec_col)).alias("va"))
    d = df.select(F.col(id_col).alias("id_b"),
                  _unit(F.col(vec_col)).alias("vb"))
    if lsh is None:
        # exact bounded-probe scoring as one BLAS matmul per
        # (corpus-block × probe-chunk): the probe matrix — small by
        # contract (the all-pairs guard above, or a caller-bounded
        # ``probes`` slice; the previous shape broadcast the same rows)
        # — is collected once, the corpus streams through mapInPandas,
        # and only pairs above threshold are ever materialized. This
        # replaces a per-pair interpreted zip_with/aggregate fold
        # (~100× slower than the batch matmul) AND skips building the
        # |probes|×|corpus| joined pair rows entirely.
        cc = c.filter(F.col("va").isNotNull())
        id_type = df.schema[id_col].dataType.simpleString()
        out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"
        # size-guard BEFORE collecting (one cheap aggregate), so an
        # oversized probe set — ≤100k rows but very wide vectors —
        # raises instead of OOMing the driver inside toPandas
        # (ADVICE r9). Null probes are dropped above (the fold scored
        # null-vector pairs null → below threshold); mixed-dimension
        # probes are grouped by length and each group gets its own
        # matmul against the same-length corpus rows — the fold scored
        # length-MISMATCHED pairs null but DID score same-length
        # minority-dimension pairs, so those must survive here too.
        g = cc.agg(F.count(F.lit(1)).alias("n"),
                   F.coalesce(F.sum(F.size("va")),
                              F.lit(0)).alias("elems")).collect()[0]
        if int(g["elems"]) > 10_000_000:
            raise ValueError(
                f"cosine_near_dup_pairs: probe matrix too large to "
                f"hold per executor ({int(g['n'])} rows, "
                f"{int(g['elems'])} elements > 10M) — pass lsh= for "
                f"this scale")
        if int(g["n"]) == 0:
            return df.sparkSession.createDataFrame([], out_schema)
        return _blocked_probe_scores(cc, d, threshold, out_schema,
                                     require_id_lt=True)

    bb = lsh.explode_buckets(lsh.with_buckets(df, vec_col),
                             id_col=id_col)
    cand = (_posting_list_pairs(bb.filter(F.col(id_col).isNotNull()),
                                ["table", "bucket"], [id_col])
            .select(F.col(f"__x__.{id_col}").alias("id_a"),
                    F.col(f"__y__.{id_col}").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct())
    pairs = cand.join(c, "id_a").join(d, "id_b")
    sim = dot_rows(F.col("va"), F.col("vb"))
    return (pairs.select("id_a", "id_b", sim.alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def semantic_contamination_hits(corpus: DataFrame, benchmark: DataFrame,
                                threshold: float,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                bench_id_col: str | None = None,
                                bench_vec_col: str | None = None
                                ) -> DataFrame:
    """(corpus_id, bench_id, cosine) rows where a corpus embedding
    scores ≥ ``threshold`` against ANY benchmark embedding — the
    SEMANTIC counterpart of the n-gram ``contamination_overlap`` gate
    (paraphrased eval leakage that shares no 8-gram still lands near
    the benchmark in embedding space).

    The benchmark side is small by contract (eval sets are thousands
    of rows, the corpus is the 100 TB side): its unit-normalized
    matrix is guard-checked (≤10M elements), collected once and
    broadcast; the corpus STREAMS through one blocked BLAS matmul per
    Arrow batch (the shared :func:`_blocked_probe_scores` kernel, no
    ordering mask — the two id spaces are unrelated) and never
    shuffles. NULL embeddings on either side never match.
    """
    bid = bench_id_col or id_col
    bvc = bench_vec_col or vec_col
    c = (benchmark.select(F.col(bid).alias("id_a"),
                          _unit(F.col(bvc)).alias("va"))
         .filter(F.col("va").isNotNull()))
    d = corpus.select(F.col(id_col).alias("id_b"),
                      _unit(F.col(vec_col)).alias("vb"))
    bt = benchmark.schema[bid].dataType.simpleString()
    ct = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {bt}, id_b {ct}, cosine double"
    g = c.agg(F.count(F.lit(1)).alias("n"),
              F.coalesce(F.sum(F.size("va")), F.lit(0)).alias("elems")
              ).collect()[0]
    if int(g["elems"]) > 10_000_000:
        raise ValueError(
            f"semantic_contamination_hits: benchmark matrix too large "
            f"to broadcast ({int(g['n'])} rows, {int(g['elems'])} "
            f"elements > 10M) — pre-cluster the benchmark or screen "
            f"through an IVFIndex instead")
    if int(g["n"]) == 0:
        hits = corpus.sparkSession.createDataFrame([], out_schema)
    else:
        hits = _blocked_probe_scores(c, d, threshold, out_schema,
                                     require_id_lt=False)
    return hits.select(F.col("id_b").alias("corpus_id"),
                       F.col("id_a").alias("bench_id"), "cosine")


def semantic_decontaminate(corpus_docs: DataFrame, hits: DataFrame,
                           id_col: str = "doc_id",
                           corpus_id_col: str = "corpus_id"
                           ) -> DataFrame:
    """Drop every corpus row flagged by
    :func:`semantic_contamination_hits` — one anti-join keyed by id
    (the flagged set is bounded by the hit count, tiny next to the
    corpus)."""
    flagged = (hits.select(F.col(corpus_id_col).alias(id_col))
               .distinct())
    return corpus_docs.join(flagged, id_col, "left_anti")


def semantic_dedup(df: DataFrame, threshold: float,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   cluster_col: str | None = None,
                   ivf: "IVFIndex | None" = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then inside each
    cluster drop every point that has cosine ≥ ``threshold`` with a
    LOWER-id point of the same cluster (the paper's keep-lowest-index
    rule — deterministic, no graph pass needed).

    Clusters come from ``cluster_col`` (any precomputed assignment:
    class labels, k-means cells, ...) or from ``ivf`` (an
    :class:`IVFIndex`, whose ``with_cell`` adds a per-row projection —
    the scale path). One of the two is required: an unclustered corpus
    would mean all-pairs cosine, which is exactly what SemDeDup's
    clustering exists to avoid.

    Returns ``df`` minus the dropped rows (all original columns).

    Scale shape (100 TB): the pairwise join is an equi-join keyed by
    the cluster id, so candidate pairs are bounded by the largest
    cluster (choose k ≈ n/target_cluster_size when fitting the IVF);
    the final filter is one anti-join on ``id_col``. Nothing is ever
    all-pairs across clusters and nothing collects to the driver.
    """
    if cluster_col is None:
        if ivf is None:
            raise ValueError(
                "semantic_dedup needs cluster_col or ivf: without a "
                "clustering the pairwise step would be all-pairs")
        original_cols = df.columns
        df = ivf.with_cell(df, vec_col=vec_col)
        cluster_col = "ivf_cell"
    else:
        original_cols = df.columns
    a = df.select(F.col(cluster_col).alias("__c__"),
                  F.col(id_col).alias("id_a"),
                  _unit(F.col(vec_col)).alias("va"))
    b = df.select(F.col(cluster_col).alias("__c__"),
                  F.col(id_col).alias("id_b"),
                  _unit(F.col(vec_col)).alias("vb"))
    dropped = (a.join(b, "__c__")
               .filter(F.col("id_a") < F.col("id_b"))
               .filter(dot_rows(F.col("va"), F.col("vb"))
                       >= F.lit(threshold))
               .select(F.col("id_b").alias(id_col))
               .distinct())
    # select the caller's columns: the ivf path's helper ivf_cell
    # column must not leak into the result
    return df.join(dropped, id_col, "left_anti").select(*original_cols)


# ----------------------------------------------------------------------
# IVF (inverted-file) index — the second standard ANN scale path
# ----------------------------------------------------------------------
class IVFIndex:
    """IVF ANN: a spherical k-means coarse quantizer partitions the
    corpus into cells; a probe searches only its ``n_probe`` nearest
    cells.

    Training runs driver-side on a deterministic sample (a coarse
    quantizer needs only a sketch of the distribution); assignment and
    probing are vectorized pandas UDFs — one matmul per Arrow batch
    against the (small) centroid matrix, which ships to executors via
    closure capture.

    Scale shape (100 TB): ``with_cell`` is a per-row projection (no
    shuffle); persisting the corpus bucketed/partitioned by ``ivf_cell``
    makes probe-time reads partition-pruned — each query touches
    ``n_probe`` cells ≈ ``n_probe/n_centroids`` of the data. The
    candidate join is an equi-join on the cell id, never all-pairs.
    With ``n_probe == n_centroids`` the search is exhaustive and exactly
    matches brute force — the oracle path.
    """

    def __init__(self, n_centroids: int = 64, n_probe: int = 4,
                 seed: int = 42, max_iter: int = 25):
        if n_probe > n_centroids:
            raise ValueError("n_probe cannot exceed n_centroids")
        self.n_centroids, self.n_probe = n_centroids, n_probe
        self.seed, self.max_iter = seed, max_iter
        self.centroids: np.ndarray | None = None  # (k, dim), unit rows
        # absorb() maintenance state: per-cell running raw means +
        # counts over every absorbed batch (None until first absorb)
        self.cell_counts: np.ndarray | None = None
        self.cell_means: np.ndarray | None = None

    @staticmethod
    def _unit_rows(mat: np.ndarray) -> np.ndarray:
        n = np.linalg.norm(mat, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        return mat / n

    def fit(self, df: DataFrame, vec_col: str = "embedding",
            id_col: str = "vec_id", sample_size: int = 100_000) -> "IVFIndex":
        """Train the quantizer on the ``sample_size`` lowest-id vectors
        (deterministic across runs; any fixed subset is adequate for a
        coarse quantizer). Lloyd iterations with cosine assignment;
        empty cells are re-seeded from the least-covered points."""
        pdf = (df.orderBy(id_col).limit(sample_size)
               .select(vec_col).toPandas())
        X = self._unit_rows(np.stack(pdf[vec_col].to_numpy())
                            .astype(np.float64))
        # farthest-point init (deterministic k-means++ analog) + Lloyd
        # with cosine assignment; dead cells re-seed from the
        # worst-covered point (shared with the cell auto-splitter)
        self.centroids = _fit_numpy_kmeans(
            X, min(self.n_centroids, X.shape[0]), self.max_iter)
        return self

    def fit_distributed(self, df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id", n_iter: int = 5,
                        init_sample: int = 10_000) -> "IVFIndex":
        """Distributed Lloyd refinement — the 100 TB training path.

        Initialization still uses the driver sample (``fit``), but each
        refinement iteration runs over the FULL corpus: cell assignment
        is the vectorized pandas UDF (one matmul per Arrow batch), the
        M-step is ``embedding_centroids`` (posexplode + groupBy —
        map-side combined), and only the k×dim centroid table returns
        to the driver per iteration. Dead cells keep their previous
        centroid.
        """
        self.fit(df, vec_col=vec_col, id_col=id_col,
                 sample_size=init_sample)
        k, dim = self.centroids.shape
        for _ in range(n_iter):
            assigned = self.with_cell(df.select(vec_col), vec_col)
            cents = embedding_centroids(assigned, "ivf_cell", vec_col,
                                        normalize=True).collect()
            newC = self.centroids.copy()
            by_cell: dict[int, np.ndarray] = {}
            for r in cents:
                by_cell.setdefault(int(r["group"]),
                                   np.zeros(dim))[int(r["pos"])] = r["mean"]
            for c, vec in by_cell.items():
                newC[c] = vec
            newC = self._unit_rows(newC)
            if np.allclose(newC, self.centroids, atol=1e-9):
                self.centroids = newC
                break
            self.centroids = newC
        return self

    def _require_fit(self) -> np.ndarray:
        if self.centroids is None:
            raise RuntimeError("call fit() first")
        return self.centroids

    def absorb(self, df: DataFrame, vec_col: str = "embedding"
               ) -> "IVFIndex":
        """Index MAINTENANCE: update centroids from a new vector batch
        without refitting — the companion of :meth:`write_corpus`'s
        incremental append.

        One mini-batch spherical-k-means M-step over mergeable per-cell
        sufficient statistics: assign the batch (per-row projection),
        aggregate per-cell ``(count, Σx)`` in ONE map-side-combined
        pass (``posexplode → groupBy``), blend with the running
        per-cell counts accumulated by previous ``absorb`` calls
        (``new_mean = (N·c + Σx) / (N + n)``), and re-project to the
        unit sphere. Cells the batch never hits keep their centroid.

        Counts start at zero after ``fit`` (the sample sketched the
        distribution; the first absorbed batch IS the corpus statistic)
        and persist through :meth:`save`/:meth:`load`. The per-cell
        blend itself is associative (raw running means), so absorb(A)
        then absorb(B) equals absorb(A ∪ B) **given stable
        assignments** — batch B is assigned against the centroids
        already moved by A, so exact order-independence breaks
        whenever that movement flips an argmax assignment (the usual
        mini-batch k-means caveat; small for the tiny per-batch drift
        this maintenance path is meant for).

        At 100 TB: only the k×dim centroid table and k counts return
        to the driver; the batch is read once. Re-run
        :meth:`fit_distributed` instead when drift is so large that
        ASSIGNMENTS of old data would change materially — absorb
        updates the quantizer, not historical cell placement.
        """
        C = self._require_fit()
        k, dim = C.shape
        if self.cell_counts is None:
            self.cell_counts = np.zeros(k, dtype=np.int64)
            self.cell_means = np.zeros((k, dim))
        assigned = self.with_cell(df.select(vec_col), vec_col)
        vd = _as_double(F.col(vec_col))
        stats = (assigned.select(F.col("ivf_cell").alias("cell"),
                                 F.posexplode(vd).alias("pos", "x"))
                 .groupBy("cell", "pos")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("x").alias("s"))
                 .collect())
        sums = np.zeros((k, dim))
        counts = np.zeros(k, dtype=np.int64)
        for r in stats:
            sums[int(r["cell"]), int(r["pos"])] = r["s"]
            counts[int(r["cell"])] = r["n"]     # same n for every pos
        # blend RAW running means (the blend step is associative);
        # centroids are their unit projections — normalizing the blend
        # input instead would lose even assignment-stable equality of
        # absorb(A); absorb(B) with absorb(A ∪ B)
        hit = counts > 0
        denom = (self.cell_counts[hit] + counts[hit])[:, None]
        self.cell_means[hit] = (
            self.cell_counts[hit][:, None] * self.cell_means[hit]
            + sums[hit]) / denom
        self.cell_counts = self.cell_counts + counts
        newC = C.copy()
        seen = self.cell_counts > 0
        newC[seen] = self.cell_means[seen]
        self.centroids = self._unit_rows(newC)
        return self

    def save(self, spark, path: str) -> None:
        """Persist the trained quantizer as a tiny parquet table
        (cell, pos, value) plus the index config — an index trained
        once on the corpus is reused by every probe job."""
        C = self._require_fit()
        rows = [(int(c), int(p), float(v))
                for c, row in enumerate(C) for p, v in enumerate(row)]
        meta = [(-1, -1, float(self.n_centroids)),
                (-1, -2, float(self.n_probe))]
        if self.cell_counts is not None:
            # absorb() maintenance state: counts at pos -3, raw means
            # at pos offset 1_000_000 (disjoint from centroid rows)
            meta += [(int(c), -3, float(n))
                     for c, n in enumerate(self.cell_counts)]
            rows += [(int(c), 1_000_000 + int(p), float(v))
                     for c, row in enumerate(self.cell_means)
                     for p, v in enumerate(row)]
        from ..util import write_small_parquet
        write_small_parquet(spark, rows + meta, path,
                            "cell int, pos int, value double")

    @classmethod
    def load(cls, spark, path: str, n_probe: int | None = None
             ) -> "IVFIndex":
        """Rebuild a saved quantizer; ``n_probe`` may be overridden at
        load time (recall/latency knob, no retraining needed)."""
        rows = spark.read.parquet(path).collect()
        meta = {r["pos"]: r["value"] for r in rows if r["cell"] == -1}
        k = int(meta[-1])
        data = [r for r in rows if r["cell"] >= 0 and 0 <= r["pos"]
                < 1_000_000]
        dim = max(r["pos"] for r in data) + 1
        C = np.zeros((k, dim))
        for r in data:
            C[r["cell"], r["pos"]] = r["value"]
        idx = cls(n_centroids=k,
                  n_probe=int(n_probe if n_probe is not None
                              else meta[-2]))
        idx.centroids = C
        cnt = [r for r in rows if r["cell"] >= 0 and r["pos"] == -3]
        if cnt:
            idx.cell_counts = np.zeros(k, dtype=np.int64)
            idx.cell_means = np.zeros((k, dim))
            for r in cnt:
                idx.cell_counts[r["cell"]] = int(r["value"])
            for r in rows:
                if r["cell"] >= 0 and r["pos"] >= 1_000_000:
                    idx.cell_means[r["cell"],
                                   r["pos"] - 1_000_000] = r["value"]
        return idx

    def cell_udf(self, n_cells: int = 1):
        """pandas UDF: ``n_cells`` nearest centroid ids per vector
        (one matmul per Arrow batch)."""
        C = self._require_fit()

        @F.pandas_udf(ArrayType(LongType()))
        def _cells(vecs: pd.Series) -> pd.Series:
            if vecs.empty:
                return pd.Series([], dtype=object)
            mat = IVFIndex._unit_rows(np.stack(vecs.to_numpy())
                                      .astype(np.float64))
            sims = mat @ C.T
            if n_cells == 1:
                return pd.Series(list(sims.argmax(axis=1)
                                      .astype(np.int64)[:, None]))
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n_cells]
            return pd.Series(list(top.astype(np.int64)))

        return _cells

    def write_corpus(self, df: DataFrame, path: str,
                     vec_col: str = "embedding",
                     mode: str = "append") -> None:
        """Persist (or incrementally APPEND) corpus vectors into the
        cell-partitioned layout: one directory per ``ivf_cell``.

        This is how an IVF index grows at 100 TB: new vectors are
        cell-assigned (per-row projection) and appended to their cell
        partitions — no rebuild, no touch of existing data. Probes read
        through :meth:`read_corpus` with partition PRUNING: a probe
        visiting ``n_probe`` cells opens ``n_probe/n_centroids`` of the
        directories, never the whole corpus.
        """
        (self.with_cell(df, vec_col)
         .write.mode(mode).partitionBy("ivf_cell").parquet(path))

    @staticmethod
    def read_corpus(spark, path: str) -> DataFrame:
        """Read a cell-partitioned corpus back; ``ivf_cell`` comes from
        the directory layout, so a filter on it prunes at planning
        time (check ``PartitionFilters`` in the scan)."""
        return spark.read.parquet(path)

    def _celled_probes(self, probes: DataFrame, pid: str,
                       vec_col: str) -> DataFrame:
        """(probe_id, probe_vec, cells) — the probe side of every IVF
        search path."""
        return probes.select(
            F.col(pid).alias("probe_id"),
            self.cell_udf(self.n_probe)(F.col(vec_col)).alias("cells"),
            _unit(F.col(vec_col)).alias("probe_vec"))

    @staticmethod
    def _score_and_rank(c: DataFrame, p_exploded: DataFrame, k: int,
                        exclude_self: bool = True) -> DataFrame:
        """Shared tail of the batch IVF search: cell equi-join (small
        probe side broadcast), exact cosine inside the matched cells,
        per-probe window rank. ``c`` = (neighbor_id, cell, vec);
        ``p_exploded`` = (probe_id, probe_vec, cell)."""
        pairs = c.join(F.broadcast(p_exploded), "cell")
        if exclude_self:
            pairs = pairs.filter(F.col("neighbor_id") != F.col("probe_id"))
        scored = pairs.select(
            "probe_id", "neighbor_id",
            dot_rows(F.col("vec"), F.col("probe_vec")).alias("sim"))
        w = Window.partitionBy("probe_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("probe_id", "rank", "neighbor_id", "sim"))

    def topk_from_corpus(self, spark, path: str, probes: DataFrame,
                         k: int = 10, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         probe_id_col: str | None = None,
                         exclude_self: bool = True) -> DataFrame:
        """`topk` against a persisted cell-partitioned corpus, reading
        ONLY the probes' cells: the probe cells are computed driver-side
        from the (in-memory) probe vectors, turned into an `isin`
        partition filter, and the scan prunes every other directory —
        the I/O shape that makes IVF pay off on disk, not just in the
        join. The celled probe frame is checkpointed so the cell UDF
        runs ONCE (shared by the driver-side cell collect and the
        join)."""
        pid = probe_id_col or id_col
        pc = self._celled_probes(probes, pid, vec_col) \
            .localCheckpoint(eager=True)
        rows = (pc.select(F.explode("cells").alias("c"))
                .distinct().collect())
        cells = sorted({int(r["c"]) for r in rows})
        corpus = self.read_corpus(spark, path).filter(
            F.col("ivf_cell").isin(cells))
        c = corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col("ivf_cell").alias("cell"),
                          _unit(F.col(vec_col)).alias("vec"))
        p = pc.select("probe_id", "probe_vec",
                      F.explode("cells").alias("cell"))
        return self._score_and_rank(c, p, k, exclude_self)

    def with_cell(self, df: DataFrame, vec_col: str = "embedding",
                  out_col: str = "ivf_cell") -> DataFrame:
        """Attach the home-cell id (projection only — persist the table
        partitioned by this column for probe-time partition pruning)."""
        return df.withColumn(
            out_col, self.cell_udf(1)(F.col(vec_col)).getItem(0))

    def topk(self, corpus: DataFrame, probes: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             probe_id_col: str | None = None,
             exclude_self: bool = True) -> DataFrame:
        """Approximate top-k: exact cosine over the probes' ``n_probe``
        nearest cells only. Same output contract as ``cosine_topk``."""
        pid = probe_id_col or id_col
        c = (self.with_cell(corpus, vec_col)
             .select(F.col(id_col).alias("neighbor_id"),
                     F.col("ivf_cell").alias("cell"),
                     _unit(F.col(vec_col)).alias("vec")))
        p = (self._celled_probes(probes, pid, vec_col)
             .select("probe_id", "probe_vec",
                     F.explode("cells").alias("cell")))
        return self._score_and_rank(c, p, k, exclude_self)


def cell_size_profile(df: DataFrame, ivf: "IVFIndex | None" = None,
                      cluster_col: str | None = None,
                      vec_col: str = "embedding") -> DataFrame:
    """Cell-population audit for a clustered embedding corpus:
    (cell, n, share, skew) where ``skew`` = n / mean-cell-size.

    Why it matters: every cluster-keyed pairwise step (``semantic_dedup``,
    IVF probing) is bounded by the LARGEST cell — pairs grow as the
    square of the fat cell, not of the corpus. Run this before a big
    dedup; cells with skew >> 1 are the 100 TB failure mode. One
    map-side-combined groupBy over the assignment; k result rows.
    """
    if cluster_col is None:
        if ivf is None:
            raise ValueError("cell_size_profile needs ivf or cluster_col")
        df = ivf.with_cell(df, vec_col=vec_col)
        cluster_col = "ivf_cell"
    counts = (df.groupBy(F.col(cluster_col).alias("cell"))
              .agg(F.count(F.lit(1)).alias("n")))
    tot = counts.agg(F.sum("n").alias("t"), F.count(F.lit(1)).alias("k"))
    return (counts.crossJoin(F.broadcast(tot))
            .select("cell", "n",
                    (F.col("n") / F.col("t")).alias("share"),
                    (F.col("n") * F.col("k") / F.col("t")).alias("skew"))
            .orderBy(F.col("n").desc()))


def balance_cells(df: DataFrame, ivf: "IVFIndex",
                  max_cell_size: int, vec_col: str = "embedding",
                  id_col: str = "vec_id", out_col: str = "ivf_cell",
                  sample_per_cell: int = 5_000,
                  max_rounds: int = 3) -> DataFrame:
    """Auto-split over-populated IVF cells: re-fit a small spherical
    k-means WITHIN each cell whose population exceeds
    ``max_cell_size`` (k = ceil(n / cap)) and reassign its members to
    the subcells. Returns ``df`` plus ``out_col`` — a balanced cluster
    id usable as ``semantic_dedup(cluster_col=...)``, which turns that
    operator's pair bound from (fat cell)² into ≈ cap².

    Scale shape: cell sizes are one tiny aggregate; subquantizer
    training reads ``sample_per_cell`` rows per fat cell in ONE job
    (row_number window over only the fat cells' rows); reassignment is
    one vectorized pandas-UDF pass (per-row matmul against the row's
    own cell's subcentroids, broadcast as a dict of small matrices).
    k-means gives no hard cap, so up to ``max_rounds`` split rounds run
    until every cell fits (data with no internal structure may still
    exceed the cap — the profile tells you).
    """
    assigned = ivf.with_cell(df, vec_col=vec_col, out_col=out_col)
    # composite ids stay unique across rounds: parent*SUB + sub
    SUB = 1_000
    for _ in range(max_rounds):
        sizes = {int(r["cell"]): int(r["n"])
                 for r in (assigned.groupBy(F.col(out_col).alias("cell"))
                           .agg(F.count(F.lit(1)).alias("n")).collect())}
        fat = {c: n for c, n in sizes.items() if n > max_cell_size}
        if not fat:
            break
        w = Window.partitionBy(out_col).orderBy(id_col)
        samples = (assigned
                   .filter(F.col(out_col).isin(list(fat)))
                   .select(out_col, id_col, vec_col)
                   .withColumn("__rn__", F.row_number().over(w))
                   .filter(F.col("__rn__") <= sample_per_cell)
                   .select(out_col, vec_col).collect())
        by_cell: dict[int, list] = {}
        for r in samples:
            by_cell.setdefault(int(r[out_col]), []).append(r[vec_col])
        sub_cents: dict[int, np.ndarray] = {}
        for c, vecs in by_cell.items():
            k_sub = min(-(-fat[c] // max_cell_size), len(vecs))
            X = IVFIndex._unit_rows(
                np.stack([np.asarray(v, dtype=np.float64)
                          for v in vecs]))
            sub_cents[c] = _fit_numpy_kmeans(X, k_sub, ivf.max_iter)

        @F.pandas_udf(LongType())
        def _recell(cells: pd.Series, vecs: pd.Series) -> pd.Series:
            out = np.empty(len(cells), dtype=np.int64)
            for i, (c, v) in enumerate(zip(cells, vecs)):
                C = sub_cents.get(int(c))
                if C is None:
                    out[i] = int(c) * SUB
                else:
                    x = np.asarray(v, dtype=np.float64)
                    n = np.linalg.norm(x)
                    x = x / n if n else x
                    out[i] = int(c) * SUB + int((C @ x).argmax())
            return pd.Series(out)

        assigned = assigned.withColumn(
            out_col, _recell(F.col(out_col), F.col(vec_col)))
    return assigned


def _fit_numpy_kmeans(X: np.ndarray, k: int, max_iter: int) -> np.ndarray:
    """Driver-side spherical k-means on a sample (farthest-point init +
    Lloyd with cosine assignment) — shared by IVFIndex.fit's logic and
    the cell auto-splitter."""
    k = min(k, X.shape[0])
    chosen = [0]
    sims = (X @ X[0])[:, None]
    for _ in range(k - 1):
        nxt = int(sims.max(axis=1).argmin())
        chosen.append(nxt)
        sims = np.concatenate([sims, (X @ X[nxt])[:, None]], axis=1)
    C = X[chosen]
    for _ in range(max_iter):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        newC = np.zeros_like(C)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                newC[c] = members.sum(axis=0)
            else:
                newC[c] = X[sims.max(axis=1).argmin()]
        newC = IVFIndex._unit_rows(newC)
        if np.allclose(newC, C, atol=1e-9):
            return newC
        C = newC
    return C


def embedding_centroids(df: DataFrame, group_col: str,
                        vec_col: str = "embedding",
                        normalize: bool = False) -> DataFrame:
    """Per-group mean vector: (group, pos, mean) long frame.

    ``posexplode → groupBy(group, pos).avg`` — one shuffle keyed by
    (group, pos), map-side combined; the classic distributed centroid
    step (also the M-step of k-means). ``normalize`` projects each
    group's mean back to the unit sphere (spherical k-means).
    """
    vd = _as_double(F.col(vec_col))
    ex = df.select(F.col(group_col).alias("group"),
                   F.posexplode(vd).alias("pos", "x"))
    out = ex.groupBy("group", "pos").agg(F.avg("x").alias("mean"))
    if not normalize:
        return out
    nrm = (out.withColumn("sq", F.col("mean") * F.col("mean"))
           .groupBy("group").agg(F.sqrt(F.sum("sq")).alias("__n__")))
    return (out.join(F.broadcast(nrm), "group")
            .select("group", "pos",
                    F.when(F.col("__n__") > 0,
                           F.col("mean") / F.col("__n__"))
                    .otherwise(F.col("mean")).alias("mean")))


# ---------------------------------------------------------------------------
# distributed covariance / PCA over the embedding column
# ---------------------------------------------------------------------------
def embedding_outliers(df: DataFrame, group_col: str,
                       vec_col: str = "embedding",
                       z_threshold: float = 2.0) -> DataFrame:
    """Per-group embedding outlier detection: distance of each vector
    to its group centroid, z-scored within the group — the standard
    screen for mislabeled / off-distribution examples in a training
    corpus (and the per-cluster dispersion audit of a SemDeDup run).

    Adds ``dist`` (L2 to the group centroid), ``z`` and ``is_outlier``
    (z > ``z_threshold``) to ``df``.

    Scale shape: the centroid table is (groups × dim) small — it
    broadcasts as per-group ARRAYS and the distance is a JVM-native
    zip_with fold per row (no per-dimension explode of the corpus);
    the group mean/std of distances is one more map-side-combined
    aggregate, also broadcast back. The corpus is never shuffled.
    """
    cents = embedding_centroids(df, group_col, vec_col)
    # alias the centroid key: a caller's column literally named "group"
    # must neither collide in the join nor be dropped afterwards
    cent_arr = (cents.groupBy("group")
                .agg(F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("pos"), F.col("mean")))),
                    lambda s: s["mean"]).alias("__cent__"))
                .withColumnRenamed("group", "__grp__"))
    vd = _as_double(F.col(vec_col))
    j = (df.join(F.broadcast(cent_arr),
                 F.col(group_col) == F.col("__grp__")).drop("__grp__"))
    dist = F.sqrt(F.aggregate(
        F.zip_with(vd, F.col("__cent__"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x))
    d = j.withColumn("dist", dist).drop("__cent__")
    stats = d.groupBy(group_col).agg(
        F.avg("dist").alias("__mu__"),
        F.stddev_samp("dist").alias("__sd__"))
    # singleton groups (sd NULL) and zero-variance groups (sd 0, or NaN
    # under the legacy statisticalAggregate conf) have no outliers by
    # definition: z pins to 0 so is_outlier is a real false, never NULL
    sd_ok = F.col("__sd__").isNotNull() & ~F.isnan("__sd__") \
        & (F.col("__sd__") > 0)
    z = F.when(sd_ok, (F.col("dist") - F.col("__mu__")) / F.col("__sd__")) \
        .otherwise(F.lit(0.0))
    return (d.join(F.broadcast(stats), group_col)
            .withColumn("z", z)
            .withColumn("is_outlier", F.col("z") > F.lit(z_threshold))
            .drop("__mu__", "__sd__"))


def embedding_moments(df: DataFrame, vec_col: str = "embedding"):
    """Distributed second moments of an embedding column: returns
    ``(n, sum_vec[d], gram[d, d])`` as numpy, from ONE pass.

    Each partition computes its local count / column sum / Gram matrix
    ``XᵀX`` inside an Arrow batch (``mapInPandas`` — numpy matmul, no
    per-row Python), and only the tiny ``d×d`` partials cross to the
    driver. This is the standard scale-out pattern for covariance/PCA:
    at 1000 executors the driver combines 1000 matrices of ``d²``
    floats, independent of row count.
    """
    import pandas as pd  # noqa: F811 (local for the udf closure)

    sub = df.select(_as_double(F.col(vec_col)).alias("v")).filter(
        F.col("v").isNotNull())

    def partial(batches):
        n = 0
        s = None
        g = None
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            n += mat.shape[0]
            s = mat.sum(axis=0) if s is None else s + mat.sum(axis=0)
            gg = mat.T @ mat
            g = gg if g is None else g + gg
        if n:
            yield pd.DataFrame({"n": [n],
                                "s": [s.tolist()],
                                "g": [g.reshape(-1).tolist()]})

    parts = sub.mapInPandas(
        partial, "n long, s array<double>, g array<double>").collect()
    if not parts:
        raise ValueError("embedding_moments: empty input")
    n = sum(p["n"] for p in parts)
    s = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    d = s.shape[0]
    g = np.sum([np.asarray(p["g"]).reshape(d, d) for p in parts], axis=0)
    return n, s, g


def embedding_covariance(df: DataFrame, vec_col: str = "embedding"):
    """Population covariance matrix ``E[xxᵀ] − E[x]E[x]ᵀ`` (numpy
    ``d×d``) of the embedding column — one distributed pass."""
    n, s, g = embedding_moments(df, vec_col)
    mu = s / n
    return g / n - np.outer(mu, mu)


def pca_fit(df: DataFrame, vec_col: str = "embedding",
            n_components: int = 8):
    """PCA of the embedding column: ``(components[d, k], explained
    variance[k], mean[d])``.

    Covariance is the one-pass distributed reduction above; the
    eigendecomposition runs on the driver's ``d×d`` matrix (trivial
    for embedding dims). Components are sign-canonicalized (largest
    |loading| positive) so results are deterministic.
    """
    n, s, g = embedding_moments(df, vec_col)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_components]
    w = evecs[:, order]
    for j in range(w.shape[1]):
        i = int(np.argmax(np.abs(w[:, j])))
        if w[i, j] < 0:
            w[:, j] = -w[:, j]
    return w, evals[order], mu


def pca_project(df: DataFrame, components: np.ndarray, mean: np.ndarray,
                vec_col: str = "embedding",
                out_col: str = "pca") -> DataFrame:
    """Project embeddings onto fitted components: adds ``out_col`` =
    ``Wᵀ(x − μ)`` (array<double>, length k). The ``d×k`` matrix ships
    to executors in the UDF closure (a broadcast-sized constant);
    projection is one numpy matmul per Arrow batch."""
    import pandas as pd  # noqa: F811
    from pyspark.sql.types import DoubleType

    w = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _proj(vecs: pd.Series) -> pd.Series:
        mat = np.asarray(vecs.tolist(), dtype=np.float64)
        out = (mat - mu) @ w
        return pd.Series(list(out))

    return df.withColumn(out_col, _proj(_as_double(F.col(vec_col))))


# ----------------------------------------------------------------------
# int8 embedding quantization — the storage/bandwidth path for ANN at
# corpus scale (4x smaller vectors; exact rescale is one multiply)
# ----------------------------------------------------------------------
def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        out_col: str = "q", scale_col: str = "scale"
                        ) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale). Pure per-row projection (native array
    ops, no shuffle, no Python); an all-zero vector gets scale 0 and an
    all-zero code. Dequantization is ``q_i · scale``.
    """
    v = _as_double(F.col(vec_col))
    amax = F.array_max(F.transform(v, F.abs))
    scale = (amax / F.lit(127.0)).alias(scale_col)
    q = F.when(amax > 0,
               F.transform(v, lambda x: F.round(x / (amax / 127.0))
                           .cast("int"))) \
         .otherwise(F.transform(v, lambda x: F.lit(0))).alias(out_col)
    return df.withColumns({scale_col: scale, out_col: q})


def dequantize_expr(q_col: Column | str, scale_col: Column | str) -> Column:
    """Reconstruct the float vector from (int8 codes, per-vector scale)."""
    q = F.col(q_col) if isinstance(q_col, str) else q_col
    s = F.col(scale_col) if isinstance(scale_col, str) else scale_col
    return F.transform(q, lambda x: x.cast("double") * s)


def quantization_error(df: DataFrame, vec_col: str = "embedding",
                       ) -> DataFrame:
    """Per-row quantization audit: (…, scale, max_abs_err, cos_sim) of
    the int8 round-trip against the original vector — the acceptance
    gate before swapping a corpus to quantized storage."""
    qdf = quantize_embeddings(df, vec_col)
    deq = dequantize_expr("q", "scale")
    orig = _as_double(F.col(vec_col))
    err = F.array_max(F.zip_with(orig, deq, lambda a, b: F.abs(a - b)))
    # try_divide: an all-zero vector has no defined cosine → NULL
    # (plain / raises under ANSI mode)
    cos = F.try_divide(_dot(orig, deq), _norm(orig) * _norm(deq))
    return (qdf.withColumn("max_abs_err", err)
            .withColumn("cos_sim", cos))


# ---------------------------------------------------------------------------
# product quantization (Jégou, Douze & Schmid, "Product Quantization
# for Nearest Neighbor Search", IEEE TPAMI 2011) — the memory-scale
# path for ANN: m subspace codebooks of 256 centroids compress each
# vector to m BYTES (32× smaller than float32 at dim=64, m=8), and
# asymmetric-distance (ADC) scoring ranks candidates from one small
# per-probe lookup table without ever reconstructing the corpus.
# At 100 TB of raw embeddings the PQ-coded corpus is the difference
# between an index that fits in cluster memory and one that doesn't.
# ---------------------------------------------------------------------------
def _fit_euclidean_kmeans(X: np.ndarray, k: int,
                          max_iter: int, seed: int) -> np.ndarray:
    """Plain-L2 Lloyd on a sample (PQ quantizes subvector GEOMETRY, so
    euclidean — not spherical — k-means; deterministic seeded init from
    distinct sample rows, dead cells re-seed from the worst-fit point).
    """
    k = min(k, X.shape[0])
    rng = np.random.default_rng(seed)
    C = X[rng.choice(X.shape[0], size=k, replace=False)].copy()
    for _ in range(max_iter):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2) \
            if X.shape[0] * k * X.shape[1] <= 50_000_000 else None
        if d2 is None:   # blockwise for big samples
            d2 = np.empty((X.shape[0], k))
            for j in range(k):
                d2[:, j] = ((X - C[j]) ** 2).sum(axis=1)
        assign = d2.argmin(axis=1)
        newC = C.copy()
        worst = d2.min(axis=1).argmax()
        for c in range(k):
            members = X[assign == c]
            newC[c] = members.mean(axis=0) if len(members) else X[worst]
        if np.allclose(newC, C, atol=1e-12):
            return newC
        C = newC
    return C


class PQCodebook:
    """Product quantizer: the vector splits into ``m`` contiguous
    subvectors, each quantized by its own ``k``-centroid codebook;
    a vector's code is the ``m`` centroid ids (one byte each at the
    ``k=256`` default).

    ``normalize=True`` (default) unit-normalizes before encoding, so
    ADC's L2² ranking equals cosine ranking (L2² = 2 − 2·cos on unit
    vectors) and results line up with the cosine ANN stack. Training
    is driver-side on a deterministic sample (codebooks, like the IVF
    coarse quantizer, need only a sketch of the distribution);
    encoding is a vectorized pandas UDF (one distance matmul per
    subspace per Arrow batch); ADC search broadcasts a per-probe
    (m × k) table — 8 KB at the defaults — and scores each coded row
    with ``m`` table lookups, no reconstruction, no shuffle beyond the
    final bounded top-k.
    """

    def __init__(self, m: int = 8, k: int = 256, seed: int = 42,
                 max_iter: int = 25, normalize: bool = True):
        if k > 65536:
            raise ValueError("PQCodebook: k above 65536 is pointless "
                             "(codes store as shorts)")
        self.m, self.k, self.seed = int(m), int(k), int(seed)
        self.max_iter, self.normalize = int(max_iter), bool(normalize)
        self.codebooks: np.ndarray | None = None  # (m, k, dim//m)

    # -- training -----------------------------------------------------
    def fit(self, df: DataFrame, vec_col: str = "embedding",
            id_col: str = "vec_id",
            sample_size: int = 100_000) -> "PQCodebook":
        pdf = (df.orderBy(id_col).limit(sample_size)
               .select(vec_col).toPandas())
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        if self.normalize:
            X = IVFIndex._unit_rows(X)
        dim = X.shape[1]
        if dim % self.m != 0:
            raise ValueError(
                f"PQCodebook: dim {dim} not divisible by m={self.m}")
        sub = dim // self.m
        self.codebooks = np.stack([
            _fit_euclidean_kmeans(
                np.ascontiguousarray(X[:, s * sub:(s + 1) * sub]),
                self.k, self.max_iter, self.seed + s)
            for s in range(self.m)])
        return self

    def _require_fit(self) -> np.ndarray:
        if self.codebooks is None:
            raise RuntimeError("call fit() first")
        return self.codebooks

    # -- encode / decode ----------------------------------------------
    def encode(self, df: DataFrame, vec_col: str = "embedding",
               code_col: str = "pq_code") -> DataFrame:
        """Append ``code_col`` (array<int>, length m, values < k) —
        per-row projection, no shuffle."""
        cb = self._require_fit()
        norm = self.normalize
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(cb)

        def _enc(vecs: pd.Series) -> pd.Series:
            C = bc.value
            m, k, sub = C.shape
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            X = np.stack(vecs.to_numpy()).astype(np.float64)
            if norm:
                X = IVFIndex._unit_rows(X)
            codes = np.empty((X.shape[0], m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * sub:(s + 1) * sub]
                # argmin ||x - c||² = argmax x·c − ||c||²/2
                scores = Xs @ C[s].T - 0.5 * (C[s] ** 2).sum(axis=1)
                codes[:, s] = scores.argmax(axis=1)
            return pd.Series(list(codes))

        _enc.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
        enc = F.pandas_udf(_enc, "array<int>")
        return df.withColumn(code_col, enc(F.col(vec_col)))

    def decode_rows(self, codes: np.ndarray) -> np.ndarray:
        """Reconstruct (n, dim) float vectors from (n, m) int codes —
        the audit surface for quantization error."""
        cb = self._require_fit()
        m, k, sub = cb.shape
        return np.concatenate(
            [cb[s][codes[:, s]] for s in range(m)], axis=1)

    # -- ADC search -----------------------------------------------------
    def adc_topk(self, coded: DataFrame, probes: DataFrame, k: int = 10,
                 id_col: str = "vec_id", code_col: str = "pq_code",
                 probe_id_col: str = "probe_id",
                 vec_col: str = "embedding",
                 max_probes: int = 10_000) -> DataFrame:
        """Asymmetric-distance top-k: (probe_id, vec_id, approx_dist)
        with the k SMALLEST approximate L2² per probe (== cosine
        ranking when ``normalize``). Probes collect to the driver
        (bounded by ``max_probes``), their (m × k) distance tables
        broadcast, and each Arrow batch of codes scores via m table
        lookups; per-batch top-k bounds the final exact rank window to
        ``batches × k`` rows per probe.
        """
        cb = self._require_fit()
        pm = probes.select(probe_id_col, vec_col).toPandas()
        if len(pm) > max_probes:
            raise ValueError(
                f"adc_topk: {len(pm)} probes exceed max_probes="
                f"{max_probes} — chunk the probe set")
        if len(pm) == 0:
            pid_t = probes.schema[probe_id_col].dataType.simpleString()
            id_t = coded.schema[id_col].dataType.simpleString()
            return coded.sparkSession.createDataFrame(
                [], f"{probe_id_col} {pid_t}, {id_col} {id_t}, "
                    f"approx_dist double")
        Q = np.stack(pm[vec_col].to_numpy()).astype(np.float64)
        if self.normalize:
            Q = IVFIndex._unit_rows(Q)
        m, kk, sub = cb.shape
        # tables[p, s, c] = ||q_p[s] - cb[s, c]||²
        tables = np.stack([
            ((Q[:, s * sub:(s + 1) * sub][:, None, :]
              - cb[s][None, :, :]) ** 2).sum(axis=2)
            for s in range(m)], axis=1)          # (P, m, k)
        pids = pm[probe_id_col].to_numpy()
        spark = coded.sparkSession
        bc = spark.sparkContext.broadcast((tables, pids))
        topk = int(k)
        pid_t = probes.schema[probe_id_col].dataType.simpleString()
        id_t = coded.schema[id_col].dataType.simpleString()
        out_schema = (f"{probe_id_col} {pid_t}, {id_col} {id_t}, "
                      f"approx_dist double")

        def gen(batches):
            T, ids_p = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.stack(pdf[code_col].to_numpy()).astype(np.int64)
                ids_v = pdf[id_col].to_numpy()
                n = len(ids_v)
                take = min(topk, n)
                sel = np.arange(m)[None, :]
                out_p, out_i, out_d = [], [], []
                for p in range(len(ids_p)):
                    # sum of m table lookups per row
                    d = T[p][sel, codes].sum(axis=1)    # (n,)
                    # deterministic in-batch tie-break by id: PQ makes
                    # exact distance ties COMMON (same-code rows), and
                    # an argpartition cut would keep an arbitrary,
                    # partitioning-dependent subset that the final
                    # (dist, id) window could never repair
                    part = np.lexsort((ids_v, d))[:take]
                    out_p.append(np.repeat(ids_p[p], take))
                    out_i.append(ids_v[part])
                    out_d.append(d[part])
                # ONE frame per input batch: a yield per probe would
                # pay pandas/Arrow batch overhead x |probes|
                yield pd.DataFrame({
                    probe_id_col: np.concatenate(out_p),
                    id_col: np.concatenate(out_i),
                    "approx_dist": np.concatenate(out_d)})

        cand = coded.select(id_col, code_col).mapInPandas(gen, out_schema)
        w = Window.partitionBy(probe_id_col).orderBy(
            F.col("approx_dist").asc(), F.col(id_col).asc())
        return (cand.withColumn("__rk__", F.row_number().over(w))
                .filter(F.col("__rk__") <= topk).drop("__rk__"))

    # -- persistence ----------------------------------------------------
    def save(self, spark, path: str) -> None:
        cb = self._require_fit()
        m, k, sub = cb.shape
        from ..util import local_frame
        local_frame(
            spark, [(int(m), int(k), int(sub), int(self.seed),
                     bool(self.normalize),
                     bytearray(cb.astype("<f8").tobytes()))],
            "m int, k int, sub int, seed int, normalize boolean, "
            "data binary").write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark, path: str) -> "PQCodebook":
        r = spark.read.parquet(path).collect()[0]
        pq = cls(m=r.m, k=r.k, seed=r.seed, normalize=r.normalize)
        pq.codebooks = np.frombuffer(
            bytes(r.data), dtype="<f8").reshape(r.m, r.k, r.sub).copy()
        return pq


def write_pq_corpus(df: DataFrame, ivf: "IVFIndex", pq: PQCodebook,
                    path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    mode: str = "overwrite") -> None:
    """Persist the PQ-coded twin of an IVF corpus: (id, ivf_cell,
    pq_code) partitioned by cell — the memory-scale index layout
    (m bytes per vector instead of dim floats; 32× smaller at dim=64,
    m=8). Query it with :func:`ivf_pq_topk_from_corpus`; keep the raw
    corpus (``IVFIndex.write_corpus``) alongside for the exact
    re-rank."""
    (pq.encode(ivf.with_cell(df, vec_col), vec_col=vec_col)
     .select(id_col, "ivf_cell", "pq_code")
     .write.mode(mode).partitionBy("ivf_cell").parquet(path))


def ivf_pq_topk_from_corpus(spark, ivf: "IVFIndex", pq: PQCodebook,
                            coded_path: str, raw_path: str,
                            probes: DataFrame, k: int = 10,
                            shortlist: int | None = None,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            probe_id_col: str | None = None,
                            exclude_self: bool = True) -> DataFrame:
    """IVFADC with exact re-rank — the standard three-stage on-disk
    ANN compose, end to end in one call (VERDICT r10 #6):

    1. **Prune**: the probes' ``n_probe`` cells become a partition
       filter on BOTH the coded and the raw corpus — untouched cell
       directories are never listed or read (``PartitionFilters`` in
       the scan).
    2. **Shortlist**: ADC over the pruned m-byte codes keeps the
       ``shortlist`` (default ``50·k``) approximate-nearest candidates
       per probe. Pure ADC RANKING is not enough — quantized
       distances can't separate dense near-ties (measured ~0.55
       recall@10 at m=8 on a 200k corpus) — but as a recall-oriented
       shortlist builder it is (≥0.95 after re-rank, ANN_RECALL.json).
    3. **Re-rank**: exact cosine on the shortlist's TRUE vectors only
       — an id-keyed join against the pruned raw corpus (the
       probes×shortlist side broadcasts), distributed, no driver
       loop.

    Output contract matches ``cosine_topk``:
    (probe_id, rank, neighbor_id, sim), deterministic ties.
    """
    pid = probe_id_col or id_col
    n_short = int(shortlist) if shortlist is not None else 50 * int(k)
    pc = ivf._celled_probes(probes, pid, vec_col) \
        .localCheckpoint(eager=True)
    cells = sorted({int(r["c"]) for r in
                    pc.select(F.explode("cells").alias("c"))
                      .distinct().collect()})
    coded = (spark.read.parquet(coded_path)
             .filter(F.col("ivf_cell").isin(cells)))
    sl = pq.adc_topk(
        coded,
        probes.select(F.col(pid).alias("probe_id"), vec_col),
        k=n_short, id_col=id_col, probe_id_col="probe_id",
        vec_col=vec_col)
    raw = (IVFIndex.read_corpus(spark, raw_path)
           .filter(F.col("ivf_cell").isin(cells)))
    nb = raw.select(F.col(id_col).alias("neighbor_id"),
                    _unit(F.col(vec_col)).alias("__nvec__"))
    scored = (sl.withColumnRenamed(id_col, "neighbor_id")
              .join(nb, "neighbor_id")
              .join(F.broadcast(pc.select("probe_id", "probe_vec")),
                    "probe_id")
              .select("probe_id", "neighbor_id",
                      dot_rows(F.col("__nvec__"),
                               F.col("probe_vec")).alias("sim")))
    if exclude_self:
        scored = scored.filter(
            F.col("neighbor_id") != F.col("probe_id"))
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(k))
            .select("probe_id", "rank", "neighbor_id", "sim"))


def knn_graph(df: DataFrame, k: int, id_col: str = "vec_id",
              vec_col: str = "embedding",
              block_col: str | None = None,
              max_block_rows: int = 200_000) -> DataFrame:
    """k-nearest-neighbor GRAPH over an embedding corpus — exact top-k
    cosine neighbors for EVERY row → (id, rank, neighbor_id, cosine),
    rank 1..k with deterministic ties (cosine desc, neighbor id asc).
    The build step behind SemDeDup-style pruning, graph-ANN seeding,
    and label propagation; distinct from :func:`cosine_topk`, which
    ranks a SMALL probe set against the corpus — here every row is a
    probe, so the all-pairs product must be broken up by construction.

    Two tiers, same contract split as the rest of this module:

    - ``block_col`` given (the 100 TB path): neighbors are searched
      WITHIN blocks — IVF cell (``IVFIndex.with_cell``), cluster id,
      language, any partitioner. One ``applyInPandas`` group per
      block: unit-normalize once, one BLAS gram chunk per 2048 rows
      (bounds the score matrix to ≤ ~3 GB only if the block itself is
      huge — hence ``max_block_rows``, raise-don't-spill; split fat
      cells first with :func:`balance_cells`). The only shuffle is the
      hash exchange on ``block_col``; nothing crosses blocks, so
      recall at block boundaries is the partitioner's property, as
      with every cell-probed ANN.
    - no ``block_col`` (exact tier / oracle baseline): the corpus is
      collected ONCE into a broadcast matrix (same 10M-element guard
      as ``cosine_near_dup_pairs``) and the corpus streams through it
      with ``mapInPandas`` — distributed over the stream side, exact
      GLOBAL top-k per row, for corpora small enough to broadcast.
      The broadcast lives until the SparkContext ends (it must: the
      returned frame is lazy) — sessions looping over many corpora on
      this tier accumulate ~8 bytes/element per call; use the blocked
      tier there.

    Null vectors are dropped from both roles (they can't score);
    within a block, neighbors are searched among SAME-DIMENSION
    vectors (mixed-dimension groups score no cross pairs, matching the
    null-on-mismatch fold semantics elsewhere).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    kk = int(k)
    sel_cols = [F.col(id_col).alias("__kid__"),
                _as_double(F.col(vec_col)).alias("__kv__")]
    if block_col is not None:
        sel_cols.append(F.col(block_col).alias("__kblk__"))
    base = df.select(*sel_cols).filter(F.col("__kv__").isNotNull())
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (f"id {id_type}, rank int, neighbor_id {id_type}, "
                  f"cosine double")

    def _topk_rows(ids, X, ids_nbr, Xn, self_mask_fn):
        """ids/X: probe rows; ids_nbr/Xn: candidate rows (unit)."""
        out = []
        BLK = 2048
        for i in range(0, len(ids), BLK):
            S = X[i:i + BLK] @ Xn.T
            pids = ids[i:i + BLK]
            mask = self_mask_fn(pids)
            if mask is not None:
                S[mask] = -np.inf
            kcap = min(kk, S.shape[1] - (0 if mask is None else 1))
            if kcap <= 0:
                continue
            # deterministic: sort candidates by (-cos, neighbor id)
            order = np.lexsort((np.broadcast_to(ids_nbr, S.shape),
                                -S), axis=-1)[:, :kcap]
            rows = np.repeat(np.arange(S.shape[0]), kcap)
            cols = order.ravel()
            sims = S[rows, cols]
            keep = np.isfinite(sims)
            out.append(pd.DataFrame({
                "id": np.repeat(pids, kcap)[keep],
                "rank": np.tile(np.arange(1, kcap + 1),
                                S.shape[0])[keep],
                "neighbor_id": ids_nbr[cols][keep],
                "cosine": sims[keep]}))
        return out

    if block_col is None:
        # size-guard BEFORE collecting: one cheap aggregate so an
        # oversized corpus raises instead of OOMing the driver in
        # toPandas (ADVICE r9 — the guard must precede the collect)
        g = base.agg(F.count(F.lit(1)).alias("n"),
                     F.coalesce(F.sum(F.size("__kv__")),
                                F.lit(0)).alias("elems")).collect()[0]
        if int(g["elems"]) > 10_000_000:
            raise ValueError(
                f"knn_graph: corpus matrix too large to broadcast "
                f"({int(g['n'])} rows, {int(g['elems'])} elements > "
                f"10M) — pass block_col= (e.g. an IVF cell) at this "
                f"scale")
        if int(g["n"]) == 0:
            return df.sparkSession.createDataFrame([], out_schema)
        pm = base.toPandas()
        lens = pm["__kv__"].map(len).to_numpy()
        groups = []
        for dim in np.unique(lens):
            sub = pm[lens == dim]
            M = np.stack(sub["__kv__"].to_numpy()).astype(np.float64,
                                                          copy=False)
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            groups.append((int(dim), M / nrm,
                           sub["__kid__"].to_numpy()))
        bc = df.sparkSession.sparkContext.broadcast(groups)

        def gen(batches):
            grps = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                blens = pdf["__kv__"].map(
                    lambda v: -1 if v is None else len(v)).to_numpy()
                for dim, P, nbr_ids in grps:
                    sub = pdf[blens == dim]
                    if len(sub) == 0:
                        continue
                    X = np.stack(sub["__kv__"].to_numpy()).astype(
                        np.float64, copy=False)
                    nrm = np.linalg.norm(X, axis=1, keepdims=True)
                    nrm[nrm == 0] = 1.0
                    X = X / nrm
                    ids = sub["__kid__"].to_numpy()

                    def self_mask(pids, _nbr=nbr_ids):
                        return pids[:, None] == _nbr[None, :]

                    yield from _topk_rows(ids, X, nbr_ids, P,
                                          self_mask)

        return base.mapInPandas(gen, out_schema)

    def per_block(pdf):
        if len(pdf) > max_block_rows:
            raise ValueError(
                f"knn_graph: block of {len(pdf)} rows exceeds "
                f"max_block_rows={max_block_rows} — split fat cells "
                f"(balance_cells) or raise the bound explicitly")
        out = []
        lens = pdf["__kv__"].map(len).to_numpy()
        for dim in np.unique(lens):
            sub = pdf[lens == dim]
            if len(sub) < 2:
                continue
            M = np.stack(sub["__kv__"].to_numpy()).astype(np.float64,
                                                          copy=False)
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            M = M / nrm
            ids = sub["__kid__"].to_numpy()

            def self_mask(pids, _ids=ids):
                return pids[:, None] == _ids[None, :]

            out.extend(_topk_rows(ids, M, ids, M, self_mask))
        if not out:
            return pd.DataFrame(
                {"id": [], "rank": [], "neighbor_id": [],
                 "cosine": []})
        return pd.concat(out, ignore_index=True)

    return base.groupBy("__kblk__").applyInPandas(per_block,
                                                  out_schema)
