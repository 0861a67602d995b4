"""Hashed bag-of-words linear text classifier — fasttext-style quality
probe, built Spark-first.

The standard model-based quality gate of a training-data pipeline
(e.g. the public CCNet / GPT-3 "quality classifier" recipe) is a
LINEAR model over hashed token features: cheap enough to score every
document of a 100 TB corpus, good enough to rank them. This module
provides both halves:

- :func:`score_hashed_linear` — score = mean token weight under a
  weight vector indexed by a PORTABLE token hash (md5-derived, so the
  identical bucketing runs in any engine, same trick as the
  Efraimidis-Spirakis sampling keys in ``operators/sampling.py``).
  Scoring is pure Catalyst expressions: hash, bucket, weight lookup,
  one (id)-keyed rollup. No Python in the hot path.
- :func:`train_linear_probe` — ridge regression on the same features
  via distributed NORMAL EQUATIONS: the corpus folds to the d×d Gram
  matrix XᵀX and the d-vector Xᵀy (both vocabulary-free, bounded by
  the hash dimension), and the driver solves the d×d system. One pass
  over the corpus, one bounded shuffle; the same
  sufficient-statistics shape as ``llm/similarity.py``'s embedding
  covariance.

Scale notes: scoring shuffles once, keyed by id (the per-doc rollup).
Training's Gram build is a per-document self-join on the (id, bucket)
feature table — ≤ L² pairs per doc for L distinct buckets, bounded by
dim², so keep ``dim`` in the hundreds (the published classifiers use
2^8-2^21; normal-equation training wants the low end, SGD the high).

Reference parity: the reference has no text models — this extends the
registry's cut/feature surface (reference ``analyzer.py:1102-1165``)
with a learned scalar feature.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import term_frequencies

__all__ = ["hashed_token_features", "portable_bucket", "hashed_embedding",
           "score_hashed_linear", "train_linear_probe",
           "save_probe", "load_probe", "DEFAULT_WEIGHT_MOD"]

# deterministic pseudo-weights for weight-free exhibits:
# w[b] = (b % MOD)/(MOD-1) - 0.5  — uniform in [-0.5, 0.5], portable
# to any SQL engine without shipping an array
DEFAULT_WEIGHT_MOD = 997


def portable_bucket(term: Column, dim: int) -> Column:
    """Engine-portable hash bucket of a term: the first 15 hex digits
    of md5 (60 bits, fits a signed long) mod ``dim``. DuckDB spells
    the identical value ``('0x' || substr(md5(t),1,15))::UBIGINT %
    dim`` — both sides bucket every token identically."""
    return F.conv(F.substring(F.md5(term), 1, 15), 16, 10) \
            .cast("long") % int(dim)


def hashed_token_features(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          dim: int = 256) -> DataFrame:
    """Sparse hashed bag-of-words: (id, bucket, x) with x = term
    frequency folded into ``dim`` buckets. One (id, term) aggregate
    then one (id, bucket) aggregate — both map-side combined."""
    tf = term_frequencies(df, id_col, text_col)
    return (tf.withColumn("bucket", portable_bucket(F.col("term"), dim))
            .groupBy(id_col, "bucket")
            .agg(F.sum("tf").cast("double").alias("x")))


def score_hashed_linear(df: DataFrame, dim: int = 256,
                        weights: Sequence[float] | np.ndarray | None = None,
                        id_col: str = "doc_id", text_col: str = "text",
                        bias: float = 0.0) -> DataFrame:
    """Per-document linear score: (id, n_tokens, score) with
    score = bias + Σ_t w[bucket(t)] / n_tokens — the mean token weight,
    the exact fasttext scoring rule for a bag-of-words linear model.

    ``weights`` is a length-``dim`` trained vector (broadcast as an
    array literal — a few KB); ``None`` selects the deterministic
    formula weights w[b] = (b % 997)/996 − 0.5, which keeps the whole
    computation expressible in portable SQL for oracle checking.

    Plan: tokens explode → bucket (JVM md5) → per-doc rollup. ONE
    shuffle keyed by (id, term) then (id); the weight lookup is an
    ``element_at`` against the broadcast literal — no join, no UDF.
    """
    tf = term_frequencies(df, id_col, text_col)
    b = portable_bucket(F.col("term"), dim)
    if weights is None:
        mod = DEFAULT_WEIGHT_MOD
        w = (b % mod).cast("double") / float(mod - 1) - 0.5
    else:
        ws = [float(v) for v in weights]
        if len(ws) != dim:
            raise ValueError(f"weights must have length {dim}")
        w = F.element_at(F.lit(ws), (b + 1).cast("int"))
    return (tf.groupBy(id_col)
            .agg(F.sum("tf").alias("n_tokens"),
                 (F.lit(float(bias))
                  + F.sum(F.col("tf") * w) / F.sum("tf")).alias("score")))


def train_linear_probe(df: DataFrame, label_col: str,
                       id_col: str = "doc_id", text_col: str = "text",
                       dim: int = 256, reg: float = 1e-3,
                       normalize: bool = True) -> np.ndarray:
    """Ridge-regression weights for :func:`score_hashed_linear`, via
    distributed normal equations.

    Features are per-doc bucket frequencies (L1-normalized when
    ``normalize`` — matching the mean-token-weight scoring rule);
    label is any numeric column (0/1 for a quality classifier, a
    teacher score for distillation). The corpus reduces to
    XᵀX (≤ dim² values) and Xᵀy (dim values); the driver solves
    (XᵀX + reg·I)w = Xᵀy. Returns the length-``dim+1`` vector with the
    intercept LAST (callers pass ``w[:-1]`` and ``bias=w[-1]``).

    Plan: feature build (two map-side-combined aggregates) → per-doc
    self-join on id for the Gram cross-products (≤ L² rows per doc,
    L ≤ dim) → one (b1, b2)-keyed aggregate. Only d² + d values ever
    reach the driver, regardless of corpus size.
    """
    feats = hashed_token_features(df, id_col, text_col, dim)
    if normalize:
        tot = feats.groupBy(id_col).agg(F.sum("x").alias("__n__"))
        feats = (feats.join(tot, id_col)
                 .select(id_col, "bucket",
                         (F.col("x") / F.col("__n__")).alias("x")))
    labels = df.select(F.col(id_col),
                       F.col(label_col).cast("double").alias("__y__"))
    # the feature pipeline (tokenize -> explode -> two aggregates ->
    # label join) feeds BOTH driver actions below; persist so the
    # corpus is scanned once, not once per action
    fl = feats.join(labels, id_col).persist()
    try:
        a = fl.select(F.col(id_col), F.col("bucket").alias("b1"),
                      F.col("x").alias("x1"))
        bside = fl.select(F.col(id_col), F.col("bucket").alias("b2"),
                          F.col("x").alias("x2"))
        gram = (a.join(bside, id_col)
                .groupBy("b1", "b2").agg(F.sum(F.col("x1") * F.col("x2"))
                                         .alias("g"))
                .collect())
        # Xᵀy and the intercept's Gram row (per-bucket feature sums)
        # fuse into ONE bucket-keyed aggregate
        xty_sums = (fl.groupBy("bucket")
                    .agg(F.sum(F.col("x") * F.col("__y__")).alias("v"),
                         F.sum("x").alias("s"))
                    .collect())
        nd_ysum = labels.agg(F.count(F.lit(1)).alias("n"),
                             F.sum("__y__").alias("ys")).collect()[0]
    finally:
        fl.unpersist()

    d = int(dim)
    A = np.zeros((d + 1, d + 1))
    bvec = np.zeros(d + 1)
    for r in gram:
        A[int(r["b1"]), int(r["b2"])] = r["g"]
    for r in xty_sums:
        A[int(r["bucket"]), d] = r["s"]
        A[d, int(r["bucket"])] = r["s"]
        bvec[int(r["bucket"])] = r["v"]
    A[d, d] = float(nd_ysum["n"])
    bvec[d] = float(nd_ysum["ys"] or 0.0)
    A += float(reg) * np.eye(d + 1)
    return np.linalg.solve(A, bvec)


def hashed_embedding(text: Column, dim: int = 64,
                     normalize: bool = True) -> Column:
    """Dense hashed bag-of-words vector (``array<double>``, length
    ``dim``) from raw text — the model-free bridge that lets the whole
    embedding stack (IVF ANN, SemDeDup, outlier screens) run on a text
    corpus with no external encoder. Token buckets use the same
    portable md5 hash as :func:`score_hashed_linear`; ``normalize``
    L2-normalizes so dot products are cosine similarities (hashed
    cosine ≈ token Jaccard-weighted overlap — the classic
    feature-hashing trick, Weinberger et al. 2009).

    Entirely native expressions: tokens → ``aggregate`` fold into a
    dim-length array — a per-row projection, no shuffle, no UDF.
    """
    from .text import _clean_tokens

    tk = _clean_tokens(text)
    b = F.transform(tk, lambda t: portable_bucket(t, dim))
    zero = F.array_repeat(F.lit(0.0), int(dim))
    counts = F.aggregate(
        b, zero,
        lambda acc, i: F.transform(
            acc, lambda v, j: F.when(j == i.cast("int"), v + 1.0)
            .otherwise(v)))
    if not normalize:
        return counts
    norm = F.sqrt(F.aggregate(counts, F.lit(0.0),
                              lambda a, x: a + x * x))
    return F.when(norm > 0.0,
                  F.transform(counts, lambda v: v / norm)) \
            .otherwise(counts)


def save_probe(weights: np.ndarray, path: str, dim: int | None = None,
               spark=None) -> None:
    """Persist trained probe weights (the length-dim+1 vector from
    :func:`train_linear_probe`) as a tiny (index, weight) parquet —
    Spark writers, so any session filesystem works. ``spark`` is
    required (there is no DataFrame to borrow a session from);
    ``dim`` optionally validates the vector length (``dim`` for a
    bias-free vector, ``dim+1`` with the trained intercept)."""
    if spark is None:
        raise ValueError("save_probe needs the SparkSession")
    if dim is not None and len(weights) not in (dim, dim + 1):
        raise ValueError(
            f"weights has length {len(weights)}, expected {dim} "
            f"(no bias) or {dim + 1} (trained intercept last)")
    rows = [(i, float(w)) for i, w in enumerate(weights)]
    from ..util import write_small_parquet
    write_small_parquet(spark, rows, path, "idx int, w double")


def load_probe(spark, path: str) -> np.ndarray:
    """Load :func:`save_probe` weights back as a numpy vector (ordered
    by index)."""
    rows = spark.read.parquet(path).collect()
    out = np.zeros(len(rows))
    for r in rows:
        out[int(r["idx"])] = r["w"]
    return out
