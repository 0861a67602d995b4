"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB regime:

- **Exact dedup** is one shuffle keyed by content hash (a window over
  the hash partition, not a groupBy + join-back — half the shuffles).
- **Near-dup candidate generation is banded LSH**: shingle → MinHash
  signature → per-band bucket hash → one sorted posting list per
  (band, bucket), expanded to its within-bucket pairs. Cost tracks the
  number of *colliding* pairs, never the n² all-pairs space. Every
  self-pair generator here shares that kernel
  (:func:`_posting_list_pairs`).
- **Verification** (exact n-gram Jaccard) runs only on candidates.
- Everything up to the final verify join is native Spark SQL
  (``transform``/``aggregate``/``xxhash64`` — whole-stage codegen);
  there are no Python UDFs in the hot path.

SimHash uses one vectorized pandas UDF for the per-bit majority vote
(token hashing stays JVM-side); Hamming distance is native
``bit_count(a ^ b)``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..util import fan_out_small

__all__ = [
    "content_hash", "dedup_exact", "exact_dup_groups",
    "word_shingles", "char_shingles", "minhash_signatures",
    "lsh_band_buckets", "lsh_candidate_pairs", "ngram_jaccard",
    "verify_candidates", "near_dup_pairs", "near_dup_clusters",
    "simhash", "hamming_distance", "token_cosine_pairs",
    "positional_ngrams", "duplicated_spans", "span_dup_stats",
    "dedup_incremental", "lsh_candidate_pairs_between",
    "apply_near_dedup", "hash_band_explode", "simhash_near_dup_pairs",
    "temperature_fractions",
    "temperature_mixture_sample",
    "jaccard_index_pairs", "containment_pairs",
    "sorted_neighborhood_pairs",
    "write_lsh_index", "append_lsh_index", "read_lsh_meta",
    "lsh_index_probe", "update_near_dup_clusters",
]


# ----------------------------------------------------------------------
# exact dedup
# ----------------------------------------------------------------------
def content_hash(*cols: Column | str) -> Column:
    """md5 of the concatenated columns (md5 exists in every SQL oracle)."""
    parts = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.md5(F.concat_ws("\x1f", *[p.cast("string") for p in parts]))


def dedup_exact(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one row per distinct ``cols`` content: the lowest ``id_col``.

    One shuffle keyed by the content hash (well-distributed → no skew),
    rank-1 within each hash group. No driver collect, no join-back.
    """
    w = Window.partitionBy(content_hash(*cols)).orderBy(F.col(id_col).asc())
    return (df.withColumn("__dup_rank__", F.row_number().over(w))
            .filter(F.col("__dup_rank__") == 1)
            .drop("__dup_rank__"))


def exact_dup_groups(df: DataFrame, cols: list[str],
                     id_col: str) -> DataFrame:
    """(content_hash, keep_id, n_copies) per distinct content group."""
    return (df.groupBy(content_hash(*cols).alias("content_hash"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


# ----------------------------------------------------------------------
# shingling (native — no Python)
# ----------------------------------------------------------------------
def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def _gram_positions(count: Column) -> Column:
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — guard
    # short inputs explicitly
    return F.when(count >= 1, F.sequence(F.lit(1), count)) \
            .otherwise(F.array().cast("array<int>"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column, JVM-side.

    Texts shorter than n tokens yield an empty set (they can only
    near-dup against other empty-set texts).

    The token array is bound as a lambda variable (via a one-element
    array transform) so the regex split evaluates once per row; a
    lambda that referenced the split expression directly would
    re-tokenize the text at every gram position — O(tokens²) per row.
    """
    def per_row(tk: Column) -> Column:
        return F.transform(
            _gram_positions(F.size(tk) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tk, i, n)))
    grams = F.flatten(F.transform(F.array(_tokens(text)), per_row))
    return F.array_distinct(grams)


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-gram shingles (for short / CJK text)."""
    grams = F.transform(
        _gram_positions(F.length(text) - (n - 1)),
        lambda i: text.substr(i, F.lit(n)))
    return F.array_distinct(grams)


# ----------------------------------------------------------------------
# substring-level (span) dedup — the distributed analog of
# suffix-array exact-substring dedup over a training corpus: find
# fixed-length token spans repeated across documents and measure how
# much of each document is covered by cross-document duplicated text
# ----------------------------------------------------------------------
def positional_ngrams(text: Column, n: int = 5) -> Column:
    """All overlapping word n-grams of a text, one per token position
    (unlike ``word_shingles``, NOT deduplicated) — the unit of
    substring-level duplication analysis. Same single-tokenize lambda
    binding as ``word_shingles``."""
    def per_row(tk: Column) -> Column:
        return F.transform(
            _gram_positions(F.size(tk) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tk, i, n)))
    return F.flatten(F.transform(F.array(_tokens(text)), per_row))


def duplicated_spans(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", span_tokens: int = 5,
                     min_docs: int = 2) -> DataFrame:
    """(gram, n_docs, n_occurrences) for every ``span_tokens``-word span
    that occurs in at least ``min_docs`` distinct documents.

    One explode + one shuffle keyed by the span text; the per-(gram,
    doc) pre-aggregate is map-side combined, so the shuffle carries at
    most one row per distinct (gram, doc) — never one per occurrence.
    At 100 TB the gram key space is huge but uniformly distributed (no
    skew beyond genuinely viral spans, which is the signal itself).
    """
    pos = fan_out_small(docs.select(F.col(id_col), F.col(text_col))) \
        .select(F.col(id_col).alias("__id__"),
                F.explode(positional_ngrams(F.col(text_col),
                                            span_tokens)).alias("gram"))
    per_doc = pos.groupBy("gram", "__id__").agg(F.count(F.lit(1)).alias("n"))
    return (per_doc.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n").alias("n_occurrences"))
            .filter(F.col("n_docs") >= min_docs))


def span_dup_stats(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", span_tokens: int = 5,
                   min_docs: int = 2) -> DataFrame:
    """Per-document substring-duplication profile:
    (id, n_spans, n_dup_spans) where ``n_dup_spans`` counts the span
    positions whose gram also appears in ≥ ``min_docs`` documents.

    Docs shorter than ``span_tokens`` have zero spans and are kept
    (n_spans = 0). The corpus is exploded and pre-aggregated to
    (gram, doc, n) exactly once (``localCheckpoint`` barrier shares it
    between the dup-gram aggregate and the per-doc rollup — without it
    both sides would re-scan and re-explode the corpus); the dup-gram
    table joins back keyed by gram (AQE picks broadcast when small).
    dup fraction = n_dup_spans / n_spans is left to the caller so
    aggregates can stay exact-integer.
    """
    pos = fan_out_small(docs.select(F.col(id_col), F.col(text_col))) \
        .select(F.col(id_col),
                F.explode(positional_ngrams(F.col(text_col),
                                            span_tokens)).alias("gram"))
    pdg = (pos.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("n"))
           .localCheckpoint(eager=True))
    dup = (pdg.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
           .filter(F.col("n_docs") >= min_docs)
           .select("gram", F.lit(1).alias("__dup__")))
    per_doc = (pdg.join(dup, "gram", "left")
               .groupBy(id_col)
               .agg(F.sum("n").alias("n_spans"),
                    F.sum(F.when(F.col("__dup__").isNotNull(), F.col("n"))
                           .otherwise(F.lit(0))).alias("n_dup_spans")))
    return (docs.select(id_col).join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
                    F.coalesce(F.col("n_dup_spans"), F.lit(0))
                     .alias("n_dup_spans")))


# ----------------------------------------------------------------------
# MinHash + banded LSH
# ----------------------------------------------------------------------
def minhash_signatures(df: DataFrame, text_col: str = "text",
                       num_hashes: int = 64, shingle_n: int = 3,
                       out_col: str = "minhash", id_col: str = "doc_id",
                       shingle_fn=word_shingles) -> DataFrame:
    """(id, minhash array<long>) MinHash signatures, one row per doc.

    Pure per-row projection — NO explode, NO shuffle: each shingle
    string is hashed to a long ONCE (``xxhash64``); hash family i is
    then ``xxhash64(base_hash, i)`` — seeded, deterministic, JVM-native,
    hashing a fixed 12 bytes instead of re-hashing the string. The
    shingle-hash array is bound as a lambda variable (one-element-array
    transform) so Catalyst evaluates the shingle construction exactly
    once per row even though ``num_hashes`` inner expressions reference
    it. Embarrassingly parallel at any scale — the signature stage adds
    zero exchanges to the plan.

    Docs whose shingle set is empty (shorter than the shingle width)
    get an all-MAX_LONG sentinel signature: they bucket only with each
    other and can never pass a Jaccard-threshold verify.

    The input is first spread via :func:`fan_out_small` (guide §2.5):
    a corpus arriving as one unsplittable file would otherwise compute
    EVERY signature in a single task. At scale the input is already
    wide and the spread is a no-op; the signature projection itself
    still adds zero exchanges.
    """
    df = fan_out_small(df.select(F.col(id_col), F.col(text_col)))
    sentinel = F.lit((1 << 63) - 1).cast("long")
    shash = F.transform(shingle_fn(F.col(text_col), shingle_n),
                        lambda s: F.xxhash64(s))

    def per_row(hs: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.coalesce(
                F.array_min(F.transform(hs, lambda h: F.xxhash64(h, i))),
                sentinel))

    sig = F.flatten(F.transform(F.array(shash), per_row))
    return df.select(F.col(id_col), sig.alias(out_col))


def lsh_band_buckets(df: DataFrame, id_col: str, sig_col: str = "minhash",
                     bands: int = 16, rows_per_band: int = 4) -> DataFrame:
    """(id, band, bucket) rows: bucket = xxhash64 of the band's slice.

    This is the LSH key space — two ids are candidates iff they share a
    (band, bucket). Output is ``bands`` rows per input row.

    The signature column is bound as a lambda variable so that when the
    signature is itself an unmaterialized projection (the zero-shuffle
    ``minhash_signatures`` shape), Catalyst evaluates it once per row —
    referencing it directly inside the band lambda would recompute the
    whole MinHash expression per band.
    """
    def per_row(sig: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.xxhash64(F.slice(sig, b * rows_per_band + 1,
                                         rows_per_band)))
    band_hashes = F.flatten(F.transform(F.array(F.col(sig_col)), per_row))
    return df.select(
        F.col(id_col),
        F.posexplode(band_hashes).alias("band", "bucket"))


def lsh_collision_probability(jaccard: float, bands: int,
                              rows_per_band: int) -> float:
    """P(≥1 shared band bucket) for a pair at similarity ``jaccard``
    under (bands, rows) MinHash LSH — the S-curve
    ``1 - (1 - j^r)^b`` (Broder / Mining of Massive Datasets ch.3)."""
    return 1.0 - (1.0 - jaccard ** rows_per_band) ** bands


def lsh_plan(threshold: float, num_hashes: int = 64,
             fn_weight: float = 1.0, fp_weight: float = 1.0
             ) -> tuple[int, int]:
    """Pick ``(bands, rows_per_band)`` for a target Jaccard
    ``threshold`` — the knob every near-dup deployment has to set.

    Among factorizations ``b·r = num_hashes``, minimizes the S-curve's
    integrated error around the threshold: false-negative mass
    ``∫ₜ¹ (1 - P(j)) dj`` (true dups the screen misses — weighted by
    ``fn_weight``) plus false-positive mass ``∫₀ᵗ P(j) dj`` (pairs the
    exact-Jaccard verify stage must reject — ``fp_weight``; raise it
    when verification dominates cost, raise ``fn_weight`` when recall
    is contractual). Driver-side arithmetic over ≤ a few dozen
    factorizations — call once, pass the result to
    ``minhash_signatures`` / ``lsh_band_buckets`` / ``near_dup_pairs``.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best, best_cost = None, float("inf")
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        n = 512                                    # trapezoid grid
        fn = sum((1.0 - lsh_collision_probability(
            threshold + (1.0 - threshold) * (i + 0.5) / n, b, r))
            for i in range(n)) * (1.0 - threshold) / n
        fp = sum(lsh_collision_probability(
            threshold * (i + 0.5) / n, b, r)
            for i in range(n)) * threshold / n
        cost = fn_weight * fn + fp_weight * fp
        if cost < best_cost:
            best, best_cost = (b, r), cost
    return best


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str,
                        sig_col: str = "minhash", bands: int = 16,
                        rows_per_band: int = 4,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Distinct candidate (id_a < id_b) pairs via the banded bucket join.

    One (band, bucket)-keyed aggregate builds each bucket's sorted
    member list; a streaming upper-triangle expansion
    (:func:`_posting_list_pairs`) emits only within-bucket pairs —
    never the n² cross product, and never the double sort of the
    former bucket self-join. The bucket table feeds exactly ONE
    aggregate, so each text is shingled and MinHashed once with no
    materialization barrier (the eager ``localCheckpoint`` the
    self-join layout needed is gone — one fewer job per screen).

    ``max_bucket_size`` is the hot-bucket guard for the 100 TB regime:
    one degenerate bucket of m members (boilerplate-heavy shingle
    patterns, template farms) emits m² pairs and makes a single
    expansion task quadratic. Buckets larger than the cap are
    DROPPED — standard practice in production MinHash dedup: members
    of a huge bucket still collide in their other ``bands − 1`` bands
    unless they are exactly the template-collision case the cap
    exists to bound. The cap is now a plain ``size(list)`` filter on
    the bucket aggregate — the former window count over the bucket
    key is gone from the plan.
    """
    bb = lsh_band_buckets(sig_df, id_col, sig_col, bands, rows_per_band)
    return (_posting_list_pairs(bb.filter(F.col(id_col).isNotNull()),
                                ["band", "bucket"], [id_col],
                                max_group=max_bucket_size)
            .select(F.col(f"__x__.{id_col}").alias("id_a"),
                    F.col(f"__y__.{id_col}").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct())


# ----------------------------------------------------------------------
# incremental / cross-corpus dedup — the growing-corpus stages: new
# batches are dropped against what the corpus already holds, exactly
# (hash anti-join) and near (asymmetric LSH bucket join), without ever
# re-deduplicating the existing corpus
# ----------------------------------------------------------------------
def dedup_incremental(new_docs: DataFrame, seen: DataFrame,
                      cols: list[str], id_col: str,
                      seen_is_hashes: bool = False) -> DataFrame:
    """New-batch exact dedup against an existing corpus: rows of
    ``new_docs`` whose content hash is NOT already present in ``seen``
    (a docs frame with the same columns, or — ``seen_is_hashes`` — a
    1-column frame of precomputed ``content_hash`` values, the compact
    thing a pipeline persists between batches).

    Within-batch duplicates are also collapsed (keep-min-id), so the
    output is ingestible as-is. Two hash-keyed operations: the
    within-batch window and one left-anti join; the corpus side moves
    only its hash column.
    """
    batch = dedup_exact(new_docs, cols, id_col) \
        .withColumn("__h__", content_hash(*cols))
    seen_h = (seen.select(F.col("content_hash").alias("__h__"))
              if seen_is_hashes
              else seen.select(content_hash(*cols).alias("__h__")))
    return batch.join(seen_h, "__h__", "left_anti").drop("__h__")


def lsh_candidate_pairs_between(a_sigs: DataFrame, b_sigs: DataFrame,
                                id_col: str, sig_col: str = "minhash",
                                bands: int = 16, rows_per_band: int = 4
                                ) -> DataFrame:
    """Cross-corpus LSH candidates: (id_a from ``a_sigs``, id_b from
    ``b_sigs``) pairs sharing a band bucket — the near-dup screen of an
    incremental ingest (new batch vs existing corpus) without the n²
    pair space or re-bucketing corpus×corpus.

    Both sides must carry signatures from the same MinHash family
    (same num_hashes/shingles — ``minhash_signatures`` defaults). The
    join is shuffle-keyed by (band, bucket); the small new-batch side
    broadcasts when AQE sees it fit.
    """
    a = lsh_band_buckets(a_sigs, id_col, sig_col, bands, rows_per_band) \
        .withColumnRenamed(id_col, "id_a")
    b = lsh_band_buckets(b_sigs, id_col, sig_col, bands, rows_per_band) \
        .withColumnRenamed(id_col, "id_b")
    return (a.join(b, ["band", "bucket"])
            .select("id_a", "id_b").distinct())


# ----------------------------------------------------------------------
# exact n-gram Jaccard (verification)
# ----------------------------------------------------------------------
def ngram_jaccard(sh_a: Column, sh_b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over two distinct-shingle arrays (native).

    The union is never materialized: for distinct sets |A ∪ B| =
    |A| + |B| - |A ∩ B| (inclusion-exclusion), so one hash-set
    intersection plus O(1) ``size`` calls replaces the two O(|A|+|B|)
    set constructions the naive intersect+union form pays — half the
    per-pair verify cost, exactly equal values (the arrays are
    distinct by the documented contract; ``word_shingles``/
    ``char_shingles`` guarantee it)."""
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(sh_a) + F.size(sh_b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def verify_candidates(docs: DataFrame, pairs: DataFrame, id_col: str,
                      text_col: str = "text", shingle_n: int = 3,
                      threshold: float = 0.5,
                      shingle_fn=word_shingles) -> DataFrame:
    """Exact Jaccard on candidate pairs only → (id_a, id_b, jaccard).

    Docs are first pruned with a semi-join against the candidate id
    set, so only candidate docs are shingled and shuffled — without it
    the equi-joins would shuffle every doc's shingle array even though
    only candidates match. The expensive set ops then run once per
    *candidate pair*, not per pair of documents.

    EAGER: the candidate pair table is evaluated and pinned
    (``localCheckpoint``) at CALL time. The plan below references
    ``pairs`` three times (both sides of the id-set union plus the
    scoring join) and the shingled candidate
    frame twice — without a barrier Catalyst EXPANDS the upstream
    candidate-generation subtree at every reference (measured on the
    PPJoin tier: 44 scans of the corpus / 82 Exchanges in one plan,
    the window + self-join + distinct executed ~5×). Candidate pairs
    are two ids per row and bounded by the screen's output — exactly
    the "decide with small rows" proxy the optimization guide's §8
    tells you to materialize once — and the shingled frame is bounded
    by the candidate doc set.
    """
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    cand_ids = (pairs.select(F.col("id_a").alias(id_col))
                .union(pairs.select(F.col("id_b").alias(id_col)))
                .distinct())
    sh = (fan_out_small(docs.select(F.col(id_col), F.col(text_col))
                        .join(cand_ids, id_col, "left_semi"))
          .select(F.col(id_col),
                  shingle_fn(F.col(text_col), shingle_n).alias("__sh__"))
          .localCheckpoint(eager=True))
    scored = (pairs
              .join(sh.withColumnRenamed(id_col, "id_a")
                      .withColumnRenamed("__sh__", "sh_a"), "id_a")
              .join(sh.withColumnRenamed(id_col, "id_b")
                      .withColumnRenamed("__sh__", "sh_b"), "id_b")
              .select("id_a", "id_b",
                      ngram_jaccard(F.col("sh_a"), F.col("sh_b"))
                      .alias("jaccard")))
    return scored.filter(F.col("jaccard") >= threshold)


def near_dup_pairs(docs: DataFrame, id_col: str, text_col: str = "text",
                   threshold: float = 0.5, shingle_n: int = 3,
                   num_hashes: int = 64, bands: int = 16,
                   shingle_fn=word_shingles,
                   max_bucket_size: int | None = None) -> DataFrame:
    """End-to-end near-dup detection: MinHash → LSH buckets → verify.

    (id_a, id_b, jaccard) for pairs with exact Jaccard ≥ threshold that
    collide in ≥1 LSH band. With (bands=16, rows=4), a 0.9-Jaccard pair
    is missed with probability (1-0.9⁴)¹⁶ ≈ 4e-8. ``max_bucket_size``
    forwards to :func:`lsh_candidate_pairs` (hot-bucket guard).
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs.select(id_col, text_col), text_col,
                              num_hashes, shingle_n, id_col=id_col,
                              shingle_fn=shingle_fn)
    cand = lsh_candidate_pairs(sigs, id_col, bands=bands,
                               rows_per_band=rows_per_band,
                               max_bucket_size=max_bucket_size)
    return verify_candidates(docs, cand, id_col, text_col, shingle_n,
                             threshold, shingle_fn)


def apply_near_dedup(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", threshold: float = 0.5,
                     keep_by: str | None = None, keep: str = "max",
                     **near_dup_kw) -> DataFrame:
    """End-to-end near-dedup of a corpus: MinHash → LSH → verify →
    connected components → keep ONE doc per cluster. Docs in no
    near-dup pair pass through untouched.

    Default keep rule: the minimum id — every cluster label IS its
    minimum member id, so the keep rule is a single left-anti join of
    non-canonical members, no extra aggregate. With ``keep_by`` (e.g. a
    quality-score column) the survivor is instead the cluster member
    with the ``keep``-most (``max``/``min``) score, ties broken by
    minimum id — one extra small aggregate over cluster members only
    (the clustered subset, not the corpus)."""
    # no eager checkpoint here: under the common driver fast path the
    # pair table's ONLY consumer is near_dup_clusters' bounded probe
    # collect (one evaluation — verify_candidates already truncated
    # the expensive subtrees), so a checkpoint job bought nothing
    # (measured round 12, ~0.3-0.5 s/job); the distributed fallback
    # checkpoints inside near_dup_clusters instead
    pairs = near_dup_pairs(docs, id_col, text_col, threshold,
                           **near_dup_kw)
    cl = near_dup_clusters(pairs, checkpoint_fallback=True)
    if keep_by is None:
        drop = cl.filter(F.col("id") != F.col("cluster_id")) \
                 .select(F.col(id_col) if id_col == "id"
                         else F.col("id").alias(id_col))
        return docs.join(drop, id_col, "left_anti")
    if keep not in ("max", "min"):
        raise ValueError(f"keep must be 'max' or 'min', got {keep!r}")
    members = cl.join(
        docs.select(F.col(id_col).alias("id"), F.col(keep_by)), "id")
    # null scores must lose, not win: a null first struct field sorts
    # BEFORE every non-null value under min(), so coalesce to the worst
    # score for the chosen direction
    worst = float("-inf") if keep == "max" else float("inf")
    scored = F.coalesce(F.col(keep_by).cast("double"), F.lit(worst))
    score = scored if keep == "max" else -scored
    best = (members
            .groupBy("cluster_id")
            .agg(F.min(F.struct((-score).alias("s"),
                                F.col("id"))).alias("b"))
            .select(F.col("b.id").alias("keep_id")))
    drop = (cl.join(best, cl["id"] == best["keep_id"], "left_anti")
            .select(F.col("id").alias(id_col)))
    return docs.join(drop, id_col, "left_anti")


def _unionfind_clusters(pairs: DataFrame, edge_rows) -> DataFrame:
    """Driver-side union-find over an already-collected, BOUNDED edge
    list (the small-graph fast path of :func:`near_dup_clusters`).
    Min-root union + path compression: the smaller root always wins,
    so every root is its component's minimum id — the same
    (id, cluster_id = component min) contract as the distributed
    path, exactly."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edge_rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    from pyspark.sql.types import StructField, StructType
    out = [(x, find(x)) for x in parent]
    id_t = pairs.schema["id_a"].dataType
    schema = StructType([StructField("id", id_t),
                         StructField("cluster_id", id_t)])
    from ..util import local_frame
    return local_frame(pairs.sparkSession, out, schema)


def near_dup_clusters(pairs: DataFrame, max_iter: int = 20,
                      driver_max_edges: int = 200_000,
                      checkpoint_fallback: bool = False) -> DataFrame:
    """Connected components over (id_a, id_b) edges → (id, cluster_id).
    EAGER: it runs one bounded ``limit(driver_max_edges + 1).collect()``
    probe job at CALL time (not at first action), and when the table
    exceeds the bound the pair plan is evaluated again by the
    distributed run — callers with an expensive un-checkpointed
    upstream should either checkpoint the pairs first or pass
    ``checkpoint_fallback=True`` (as :func:`apply_near_dedup` does), or
    pass ``driver_max_edges=0`` to stay fully lazy/distributed.

    If the pair table fits the bound, union-find on the driver
    (microseconds, ≤ ~3 MB) replaces several distributed rounds — the
    same small-side economics as broadcasting a join. Near-dup pair
    tables are tiny relative to the corpus (they hold only candidate
    duplicates), so this is the common case. Anything larger runs the
    alternating large/small-star algorithm
    (:func:`near_dup_clusters_star`, at most ``max_iter`` rounds),
    whose per-round edge set SHRINKS as components collapse. Both give
    the identical (id, cluster_id = component min) output.

    ``checkpoint_fallback=True`` localCheckpoints the pair table just
    before entering the distributed path — for callers that skipped
    their own eager barrier because the fast path consumes the pairs
    exactly once (``apply_near_dedup``); the barrier is then paid only
    when the graph actually exceeds ``driver_max_edges``.
    """
    if driver_max_edges > 0:
        head = (pairs.select("id_a", "id_b")
                .limit(driver_max_edges + 1).collect())
        if len(head) <= driver_max_edges:
            return _unionfind_clusters(pairs, head)
    if checkpoint_fallback:
        # star consumes the pair plan once per round
        pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    return near_dup_clusters_star(pairs, max_iter=max_iter)


def near_dup_clusters_star(pairs: DataFrame,
                           max_iter: int = 30) -> DataFrame:
    """Connected components by alternating Large-Star/Small-Star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    ACM SoCC 2014) — same (id, cluster_id = component min) contract as
    :func:`near_dup_clusters`.

    Large-star hangs every neighbor LARGER than u off the minimum of
    u's closed neighborhood; small-star re-parents the smaller ones.
    Each half-round is one groupBy(min) + join + distinct; the edge set
    it rewrites SHRINKS as components collapse into stars, so later
    rounds get cheaper — on planted power-law pair graphs and a
    1000-link chain it measured up to ~2x faster than pointer-jumping
    min-label propagation, with identical partitions (STATUS.md, "CC
    algorithm probe"). This is the distributed path of
    :func:`near_dup_clusters`.
    """
    def _large(edges: DataFrame) -> DataFrame:
        sym = edges.union(edges.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        m = (sym.groupBy("u")
             .agg(F.least(F.min("v"), F.first("u")).alias("m")))
        return (sym.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct())

    def _small(edges: DataFrame) -> DataFrame:
        canon = edges.select(F.greatest("u", "v").alias("u"),
                             F.least("u", "v").alias("v"))
        m = canon.groupBy("u").agg(F.min("v").alias("m"))
        nbr = (canon.join(m, "u")
               .filter(F.col("v") != F.col("m"))
               .select(F.col("v").alias("u"), F.col("m").alias("v")))
        return nbr.union(m.select("u", F.col("m").alias("v"))).distinct()

    edges = pairs.select(F.col("id_a").alias("u"),
                         F.col("id_b").alias("v"))
    prev = None
    for _ in range(max_iter):
        edges = _small(_large(edges)).localCheckpoint(eager=True)
        # converged when the canonical edge set is stable: count plus
        # an exact order-insensitive hash-sum (decimal keeps it exact)
        chk = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h")
        ).collect()[0]
        if prev is not None and (chk["n"], chk["h"]) == prev:
            break
        prev = (chk["n"], chk["h"])
    else:
        raise RuntimeError(
            f"near_dup_clusters_star: no convergence in {max_iter} rounds")
    labels = edges.select(F.col("u").alias("id"),
                          F.col("v").alias("cluster_id"))
    roots = (edges.select(F.col("v").alias("id")).distinct()
             .join(labels.select("id").distinct(), "id", "left_anti")
             .withColumn("cluster_id", F.col("id")))
    out = labels.union(roots)
    # vertices whose component collapsed out of the edge set entirely
    # (self-loop-only nodes: star rewrites drop u==v edges) are their
    # own singleton clusters — the union-find path keeps them, so the
    # star contract must too
    verts = (pairs.select(F.col("id_a").alias("id"))
             .union(pairs.select(F.col("id_b").alias("id"))).distinct())
    lost = (verts.join(out.select("id"), "id", "left_anti")
            .withColumn("cluster_id", F.col("id")))
    return out.union(lost)


# ----------------------------------------------------------------------
# SimHash
# ----------------------------------------------------------------------
def _simhash_vote_udf(bits: int):
    pow2 = (1 << np.arange(bits, dtype=np.uint64))

    @F.pandas_udf(LongType())
    def _vote(hash_lists: pd.Series) -> pd.Series:
        # one flat (total_tokens, bits) uint8 vote matrix for the whole
        # Arrow batch (unpackbits on the little-endian byte view — 1/8
        # the memory of a shifted-int matrix) + segmented int64 sums
        # (reduceat) — no per-row Python loop
        lens = np.array([0 if hl is None else len(hl)
                         for hl in hash_lists], dtype=np.int64)
        out = np.zeros(len(hash_lists), dtype=np.uint64)
        nz = lens > 0
        if nz.any():
            flat = np.ascontiguousarray(np.concatenate(
                [np.asarray(hl, dtype=np.int64)
                 for hl in hash_lists if hl is not None and len(hl) > 0]
            ).astype("<u8"))  # explicit little-endian: stable byte view
            votes = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1,
                bitorder="little")[:, :bits]
            starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
            sums = np.add.reduceat(votes, starts, axis=0,
                                   dtype=np.int64)
            maj = sums * 2 > lens[nz, None]
            out[nz] = (pow2[None, :] * maj).sum(axis=1)
        return pd.Series(out.astype(np.int64))

    return _vote


def simhash(text: Column, bits: int = 64, token_hash=None) -> Column:
    """SimHash fingerprint (long): per-token xxhash64 stays JVM-side;
    only the per-bit majority vote runs in a vectorized pandas UDF.

    ``token_hash`` (Column → Column) replaces xxhash64 as the
    per-token hash — e.g. ``lambda t: t.cast("long")`` over numeric
    tokens pins the bit pattern so the majority vote is replayable by
    any SQL engine (for three tokens a, b, c the fingerprint is
    exactly the bitwise median ``(a&b)|(a&c)|(b&c)`` — the oracle
    hook). The vote kernel is identical either way."""
    hash_fn = token_hash or (lambda t: F.xxhash64(t))
    token_hashes = F.transform(_tokens(text), hash_fn)
    return _simhash_vote_udf(bits)(token_hashes)


def hamming_distance(a: Column, b: Column) -> Column:
    """Native popcount of the XOR — whole-stage codegen."""
    return F.bit_count(a.bitwiseXOR(b))


# ----------------------------------------------------------------------
# deterministic stratified sampling (training-data mixture weighting)
# ----------------------------------------------------------------------
def stratified_sample_mod(df: DataFrame, strata_col: str,
                          fractions: dict, id_col: str,
                          modulus: int = 10_000) -> DataFrame:
    """Keep a per-stratum fraction of rows by the deterministic rule
    ``pmod(id, modulus) < fraction·modulus`` — the data-mixing step of
    a training pipeline (downsample over-represented sources by
    weight).

    Unlike ``sample()``, the decision is a pure row-local predicate:
    reproducible across runs/partitionings, pushdown-eligible, and
    exactly re-computable by any other engine (the oracle property).
    Strata absent from ``fractions`` are kept whole.
    """
    expr = F.lit(True)
    ticket = F.pmod(F.col(id_col), F.lit(modulus))
    for stratum, frac in fractions.items():
        keep = ticket < int(round(float(frac) * modulus))
        expr = F.when(F.col(strata_col) == stratum, keep).otherwise(expr)
    return df.filter(expr)


def token_cosine_pairs(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", threshold: float = 0.8,
                       max_df: int | None = None) -> DataFrame:
    """TF-weighted token cosine similarity join via an INVERTED INDEX:
    (id_a, id_b, sim) for every pair with cosine >= ``threshold``
    (id_a < id_b). The n-gram-free sibling of the MinHash path —
    exact scores, candidate generation keyed by shared TERMS, never an
    all-pairs product.

    Plan: one (id, term) tf aggregate → per-doc norms (id-keyed
    aggregate) → one term-keyed aggregate builds each term's sorted
    ``(id, tf)`` posting list (the inverted index,
    :func:`_posting_list_pairs`), whose upper-triangle expansion emits
    a tf product per shared term per pair, folded to per-pair dot
    products in one map-side-combined aggregate → two norm joins +
    threshold filter.

    Scale: pair-generation cost is Σ_term df(term)² — the frequent
    terms dominate, so ``max_df`` drops terms seen in more than that
    many docs from CANDIDATE GENERATION (the standard frequent-term
    pruning of similarity joins; norms still use every term, so
    reported sims are true-cosine lower bounds and a pair sharing only
    ultra-common terms is the recall traded away). ``term_frequencies``
    has one row per (id, term), so a term's posting-list size IS its
    df and the cap is a filter on that list. With ``max_df`` unset the
    join is exact.
    """
    from .text import term_frequencies

    tf = term_frequencies(docs, id_col, text_col)
    norms = tf.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("__nrm__"))
    # NULL-id postings stay in the list so its size is the exact df;
    # the strict id filter below drops any pair they would form
    dots = (_posting_list_pairs(tf, ["term"], [id_col, "tf"],
                                max_group=max_df)
            .select(F.col(f"__x__.{id_col}").alias("id_a"),
                    F.col(f"__y__.{id_col}").alias("id_b"),
                    (F.col("__x__.tf") * F.col("__y__.tf"))
                    .alias("__p__"))
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum("__p__").alias("__dot__")))
    na = norms.select(F.col(id_col).alias("id_a"),
                      F.col("__nrm__").alias("__na__"))
    nb = norms.select(F.col(id_col).alias("id_b"),
                      F.col("__nrm__").alias("__nb__"))
    return (dots.join(na, "id_a").join(nb, "id_b")
            .withColumn("sim", F.col("__dot__")
                        / (F.col("__na__") * F.col("__nb__")))
            .filter(F.col("sim") >= float(threshold))
            .select("id_a", "id_b", "sim"))


def _posting_list_pairs(posts: DataFrame, keys: list[str],
                        fields: list[str],
                        max_group: int | None = None) -> DataFrame:
    """Upper-triangle within-group pairs — (keys..., __x__, __y__)
    struct rows with ``__x__ < __y__`` by struct order (first field
    must be a unique-within-group id) — via ONE hash aggregate
    (sorted posting list per group) plus two streaming Generate
    levels (posexplode picks the left element, slice + explode the
    strictly-later right elements).

    This is the one self-pair generator of the dedup layer: gram
    postings (exact/containment Jaccard, the prefix filter), MinHash
    LSH band buckets, token-cosine term postings, the 64-bit hash
    bands of :func:`_hamming_band_pairs` (SimHash, image and audio
    hashes) and the embedding-LSH tier of
    ``similarity.cosine_near_dup_pairs``. Against the keyed self-join
    it replaced it keeps the pair multiset, but does no double sort of
    the join sides and only a single pass over the posting table —
    measured ~2x faster end-to-end on the exact-Jaccard tier. Max
    in-flight memory is ONE group's O(m) posting list (never the
    O(m²) pair array): the m ranges where O(m) bytes hurt are
    already beyond the Σ m² compute bound that makes the hot-group
    guards (``max_group`` / ``max_df`` / ``max_bucket_size``)
    mandatory at web scale. Groups of one — which cannot form a
    pair — are dropped before expansion; NULL-id postings must be
    filtered by the caller (a NULL id never formed a pair under the
    strict ``<`` predicate this replaces)."""
    gl = (posts.groupBy(*keys)
          .agg(F.array_sort(F.collect_list(F.struct(*fields)))
               .alias("__L__"))
          .filter(F.size("__L__") > 1))
    if max_group is not None:
        gl = gl.filter(F.size("__L__") <= int(max_group))
    lvl1 = gl.select(*keys, "__L__",
                     F.posexplode("__L__").alias("__i__", "__x__"))
    return (lvl1.select(
        *keys, "__x__",
        F.explode(F.slice(
            F.col("__L__"), F.col("__i__") + 2,
            F.greatest(F.size(F.col("__L__")) - F.col("__i__") - 1,
                       F.lit(0)))).alias("__y__")))


def _shingle_cooccurrence(docs: DataFrame, id_col: str, text_col: str,
                          shingle_n: int, shingle_fn,
                          max_df: int | None,
                          pair_filter=None) -> DataFrame:
    """Shared inverted-index kernel behind :func:`jaccard_index_pairs`
    and :func:`containment_pairs`: (id_a, id_b, co, sz_a, sz_b) with
    id_a < id_b, where ``co`` = |A ∩ B| over distinct shingle sets and
    ``sz_*`` are the set sizes.

    Plan shape: shingle each doc once (native lambda exprs), attach
    the SET SIZE to every exploded (gram, id) posting so the pair
    aggregate carries both sizes for free — no join back to a per-doc
    sizes frame. One gram-keyed aggregate builds each gram's sorted
    posting list; a streaming upper-triangle expansion emits one row
    per shared gram per pair; a single map-side-combined aggregate
    folds them to per-pair intersection counts. Shingle sets
    are distinct by construction, so the fold is exactly |A ∩ B|.

    Scale: cost is Σ_gram df(gram)² — ``max_df`` drops grams shared by
    more than that many docs from candidate generation (frequency
    pruning, the standard similarity-join guard: a shingle in >max_df
    docs is boilerplate). With ``max_df`` set, ``co`` counts only the
    SURVIVING shared grams while sizes stay full, so downstream scores
    are LOWER BOUNDS (the same contract as ``token_cosine_pairs``):
    pairs sharing only pruned grams vanish entirely, and a pair whose
    score dips below threshold once pruned grams stop counting is also
    traded away — use ``prefix_filter`` on :func:`jaccard_index_pairs`
    when the join must stay lossless at scale. The df aggregate also
    drops df == 1 grams, which cannot form a pair. ``pair_filter``,
    when given, prunes pair rows BEFORE the pair shuffle (e.g. the
    Jaccard size-ratio bound).
    """
    sh = fan_out_small(docs.select(F.col(id_col), F.col(text_col))) \
        .select(F.col(id_col).alias("__id__"),
                shingle_fn(F.col(text_col), shingle_n).alias("__sh__"))
    posts = sh.select("__id__", F.size("__sh__").alias("__sz__"),
                      F.explode("__sh__").alias("__gram__"))
    # posting-LIST grouping replaces the former gram-keyed SELF-JOIN
    # (a ⋈ b on __gram__): one hash aggregate instead of sorting both
    # join sides, measured 2.1x faster end-to-end on the exact tier
    # with an identical pair multiset (see :func:`_posting_list_pairs`
    # for the shape and the memory argument). A NULL id never formed a
    # pair under the old strict `id_a < id_b` join predicate — drop
    # those postings up front so the expansion can't emit them either.
    # Ids are unique within a gram (shingle sets are distinct per
    # doc); the strict filter below only guards duplicated corpus ids.
    joined = (_posting_list_pairs(
        posts.filter(F.col("__id__").isNotNull()),
        ["__gram__"], ["__id__", "__sz__"], max_group=max_df)
        .select(F.col("__x__.__id__").alias("id_a"),
                F.col("__x__.__sz__").alias("sz_a"),
                F.col("__y__.__id__").alias("id_b"),
                F.col("__y__.__sz__").alias("sz_b"))
        .filter(F.col("id_a") < F.col("id_b")))
    if pair_filter is not None:
        joined = joined.filter(pair_filter)
    return (joined
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("co"),
                 F.first("sz_a").alias("sz_a"),
                 F.first("sz_b").alias("sz_b")))


def jaccard_index_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", threshold: float = 0.5,
                        shingle_n: int = 3, shingle_fn=word_shingles,
                        max_df: int | None = None,
                        prefix_filter: bool = False) -> DataFrame:
    """EXACT n-gram-Jaccard similarity join via an inverted shingle
    index — (id_a, id_b, jaccard) for every pair with Jaccard >=
    ``threshold`` (id_a < id_b), no MinHash approximation and no
    all-pairs product.

    The deterministic sibling of :func:`near_dup_pairs` (reference
    analog: the same near-dup semantics detanalysis expresses through
    its cut pipeline, `/root/reference/detanalysis/analyzer.py` cut
    registration): use THIS when every qualifying pair must be found
    (contracts, eval-set audits), and the MinHash path when a ~1e-8
    miss probability is acceptable and the corpus is shingle-heavy.

    Jaccard = co / (|A| + |B| - co) by inclusion–exclusion, so the
    pair aggregate already carries everything — one gram-keyed shuffle
    plus one pair-keyed aggregate, total.

    Scale: Jaccard >= t forces t·max(|A|,|B|) <= min(|A|,|B|); that
    size-ratio bound is applied to posting pairs BEFORE the pair
    shuffle (PPJoin-style length filter), and ``max_df`` prunes
    boilerplate grams — making reported scores lower bounds, see
    :func:`_shingle_cooccurrence`; only the default (no ``max_df``)
    and ``prefix_filter`` tiers are exact.
    ``prefix_filter=True`` switches to the FULL PPJoin prefix-filter
    plan (:func:`_jaccard_prefix_filtered`): only each doc's rarest
    |X|−⌈t·|X|⌉+1 grams enter the candidate join — lossless by the
    prefix lemma, and the right tier at web scale where even df-pruned
    Σ df² is the bottleneck (``max_df`` is ignored there: the prefix
    bound subsumes it without the recall loss).
    """
    t = float(threshold)
    if prefix_filter:
        if t <= 0:
            raise ValueError("prefix_filter needs threshold > 0")
        return _jaccard_prefix_filtered(docs, id_col, text_col, t,
                                        shingle_n, shingle_fn)
    # PRUNING bounds are epsilon-slack so float rounding can only
    # keep extra candidates, never drop a pair the final exact filter
    # would keep (fl(t)*greatest can land ulps ABOVE the true rational
    # bound — e.g. t=0.55, sizes 11/20: 0.55*20 = 11.000000000000002)
    size_bound = (F.least("sz_a", "sz_b")
                  >= t * F.greatest("sz_a", "sz_b") - 1e-9) \
        if t > 0 else None
    co = _shingle_cooccurrence(docs, id_col, text_col, shingle_n,
                               shingle_fn, max_df, size_bound)
    jac = F.col("co") / (F.col("sz_a") + F.col("sz_b") - F.col("co"))
    return (co.select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= t))


def _jaccard_prefix_filtered(docs: DataFrame, id_col: str,
                             text_col: str, t: float, shingle_n: int,
                             shingle_fn) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard join (Bayardo et al.
    WWW'07 / Xiao et al.): candidate pairs come from PREFIX postings
    only, then exact Jaccard verifies candidates.

    Lemma: under one global total order of grams, two sets with
    |A ∩ B| ≥ α must share a gram within their first |X| − α + 1 grams.
    Jaccard ≥ t forces |A ∩ B| ≥ t·max(|A|,|B|) ≥ ⌈t·|X|⌉ for the
    smaller set too (via the size bound), so indexing each doc's first
    |X| − ⌈t·|X|⌉ + 1 grams — RAREST first (global df ascending, the
    order that minimizes posting collisions) — misses no qualifying
    pair. At t = 0.8 only ~20% of each doc's grams enter the join, and
    they're the rare ones, collapsing the Σ df² pair-generation cost
    without the recall loss of ``max_df``.

    Cost shape: one df aggregate, one per-doc window (rank grams by
    rarity), the prefix-postings self-join, then
    :func:`verify_candidates` computes exact Jaccard on candidates
    only. Exactness is property-tested against the full-index path.

    Corpus-shape tradeoff (measured): prefix filtering wins on
    LONG-TAILED gram distributions (real web text — most shingles are
    rare, so rare-first prefixes rarely collide). On df-SATURATED
    corpora (tiny vocabulary, templated text: nearly every gram in
    many docs) the prefix set still collides broadly and the
    candidate:output ratio degenerates — there the default full-index
    path is faster because its pair AGGREGATE (map-side combined
    co-occurrence) is cheaper than candidate-distinct + verify.
    (The self-join sides share their exchange via ReuseExchange — a
    checkpoint barrier here was measured 2× SLOWER, not faster.)
    """
    sh = fan_out_small(docs.select(F.col(id_col), F.col(text_col))) \
        .select(F.col(id_col).alias("__id__"),
                shingle_fn(F.col(text_col), shingle_n).alias("__sh__"))
    posts = sh.select("__id__", F.size("__sh__").alias("__sz__"),
                      F.explode("__sh__").alias("__gram__"))
    dfreq = posts.groupBy("__gram__").agg(
        F.count(F.lit(1)).alias("__df__"))
    # df == 1 grams can't form a pair; dropping them BEFORE the rank
    # aggregate also shrinks its shuffle
    ranked = posts.join(dfreq.filter(F.col("__df__") > 1), "__gram__")
    # epsilon-slack ceiling: fl(t)*sz can round ulps above the true
    # rational t*sz, which would shrink the prefix below the lemma's
    # bound and silently drop qualifying pairs; the slack only ever
    # LENGTHENS the prefix (more candidates, still lossless)
    prefix_len = (F.col("__sz__")
                  - F.ceil(F.lit(t) * F.col("__sz__") - 1e-9)
                  + F.lit(1)).cast("int")
    # rank-by-rarity as ONE id-keyed aggregate + per-row array sort
    # instead of Exchange+Sort+Window: same (df asc, gram asc) total
    # order (struct sort is field-lexicographic), same ranks, but the
    # 260k-row global sort becomes 5k tiny per-doc sorts and the
    # Window operator disappears from the plan. __rn__ is the rank
    # within the doc's df>1 grams — understating the full-list rank
    # only LOOSENS the positional ubound below (still a valid upper
    # bound: every shared gram has df ≥ 2).
    per_doc = (ranked.groupBy("__id__")
               .agg(F.first("__sz__").alias("__sz__"),
                    F.collect_list(F.struct("__df__", "__gram__"))
                    .alias("__gs__")))
    pre = (per_doc.select(
            "__id__", "__sz__",
            F.posexplode(F.slice(F.array_sort("__gs__"), F.lit(1),
                                 prefix_len)).alias("__pos__", "__g__"))
           .select(F.col("__g__.__gram__").alias("__gram__"),
                   "__id__", "__sz__",
                   (F.col("__pos__") + 1).alias("__rn__")))
    # prefix-postings pair generation through the shared sorted-list
    # expansion (:func:`_posting_list_pairs`) — the same
    # self-join-to-aggregate rewrite as `_shingle_cooccurrence`,
    # identical candidate multiset
    pp = (_posting_list_pairs(pre.filter(F.col("__id__").isNotNull()),
                              ["__gram__"],
                              ["__id__", "__sz__", "__rn__"])
          .select(F.col("__x__.__id__").alias("id_a"),
                  F.col("__x__.__sz__").alias("sz_a"),
                  F.col("__x__.__rn__").alias("rn_a"),
                  F.col("__y__.__id__").alias("id_b"),
                  F.col("__y__.__sz__").alias("sz_b"),
                  F.col("__y__.__rn__").alias("rn_b")))
    # POSITIONAL upper-bound prune (the ppjoin part of PPJoin, Xiao et
    # al. TODS'11): J ≥ t forces overlap α ≥ ⌈t/(1+t)·(|A|+|B|)⌉.
    # Shared grams appear in the same relative order in both docs'
    # rarity-ranked gram lists (one global (df, gram) order), so the
    # FIRST shared gram g0 attains min(rn_a) and min(rn_b) over shared
    # grams simultaneously, and every shared gram sits at-or-after g0
    # in both lists: overlap ≤ 1 + min(sz_a − rn_a(g0), sz_b − rn_b(g0)).
    # Pairs whose bound can't reach α are dropped BEFORE the exact
    # verify — lossless (a necessary condition), and on df-saturated
    # corpora (where prefixes collide broadly) it prunes the candidate
    # set by an order of magnitude. The ceil gets the same epsilon
    # slack as the prefix length: fl-rounding may only LOOSEN the
    # filter, never drop a qualifying pair.
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("sz_a") + F.col("sz_b"))
                   - 1e-9)
    cand = (pp
            .filter((F.col("id_a") < F.col("id_b"))
                    & (F.least("sz_a", "sz_b")
                       >= t * F.greatest("sz_a", "sz_b") - 1e-9))
            .groupBy("id_a", "id_b")
            .agg(F.min("rn_a").alias("__mra__"),
                 F.min("rn_b").alias("__mrb__"),
                 F.first("sz_a").alias("sz_a"),
                 F.first("sz_b").alias("sz_b"))
            .filter(F.lit(1)
                    + F.least(F.col("sz_a") - F.col("__mra__"),
                              F.col("sz_b") - F.col("__mrb__")) >= alpha)
            .select("id_a", "id_b"))
    return verify_candidates(docs, cand, id_col, text_col, shingle_n,
                             t, shingle_fn)


def containment_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", threshold: float = 0.9,
                      shingle_n: int = 3, shingle_fn=word_shingles,
                      max_df: int | None = None,
                      min_shingles: int = 1) -> DataFrame:
    """Near-SUPERSET detection: (id_a, id_b, containment) for pairs
    where the SMALLER shingle set is >= ``threshold`` contained in the
    larger — containment C = |A ∩ B| / min(|A|, |B|) (id_a < id_b).

    Jaccard misses quote-inclusion: a document embedded whole inside a
    10× larger one has containment 1.0 but Jaccard ~0.1. Training-data
    curation needs the asymmetric measure to catch wrapped/expanded
    duplicates (the standard containment variant of the resemblance
    sketch, Broder's original formulation).

    No size-ratio prune is valid here (a tiny set can be fully
    contained in a huge one — that's the signal), so the only
    candidate pruning is ``max_df``; expect Σ df² cost to be the real
    bound at scale and set ``max_df`` for web-scale corpora.
    ``min_shingles`` drops sets smaller than that from BOTH sides
    (a 1-shingle doc is "contained" in anything sharing the shingle).
    """
    t = float(threshold)
    m = int(min_shingles)
    guard = (F.least("sz_a", "sz_b") >= m) if m > 1 else None
    co = _shingle_cooccurrence(docs, id_col, text_col, shingle_n,
                               shingle_fn, max_df, guard)
    cont = F.col("co") / F.least("sz_a", "sz_b")
    return (co.select("id_a", "id_b", cont.alias("containment"))
            .filter(F.col("containment") >= t))


def hash_band_explode(hashes: DataFrame, id_col: str,
                      hash_col: str, bands: int) -> DataFrame:
    """Explode a 64-bit hash column into ``bands`` fixed-width band
    buckets → (id, band, bucket), all native (shiftrightunsigned +
    mask) — the banding step of :func:`_hamming_band_pairs`."""
    if 64 % bands != 0:
        raise ValueError("hash_band_explode: bands must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    pieces = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftrightunsigned(F.col(hash_col), b * width)
                 .bitwiseAND(F.lit(mask)).alias("bucket"))
        for b in range(bands)])
    return (hashes.select(id_col, F.explode(pieces).alias("p"))
            .select(id_col, "p.band", "p.bucket"))


def simhash_near_dup_pairs(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           max_hamming: int = 3,
                           bands: int = 8) -> DataFrame:
    """(id_a < id_b, hamming) pairs with SimHash hamming distance
    ≤ ``max_hamming`` — the order-sensitive complement to MinHash
    near-dup (SimHash weights token frequency and is cheap enough to
    fingerprint everything; MinHash's shingle Jaccard catches
    reorderings SimHash misses).

    Candidates share a band bucket of the 64-bit fingerprint split
    into ``bands`` fixed-width pieces (:func:`_hamming_band_pairs`):
    the default 8 bands make recall EXACT for ``max_hamming ≤ 7``,
    never all-pairs. EAGER: the fingerprint table is checkpointed at
    call time so each text is tokenized and voted exactly once.
    """
    sh = (fan_out_small(docs.select(F.col(id_col), F.col(text_col)))
          .select(F.col(id_col), simhash(F.col(text_col)).alias("sh"))
          .localCheckpoint(eager=True))
    return _hamming_band_pairs(sh, id_col, "sh", bands, max_hamming)


def _hamming_band_pairs(hashes: DataFrame, id_col: str, hash_col: str,
                        bands: int, max_hamming: int) -> DataFrame:
    """(id_a < id_b, hamming) pairs of a 64-bit hash table with
    hamming distance ≤ ``max_hamming`` — the shared kernel behind
    SimHash text, perceptual image-hash and audio-fingerprint near-dup.

    The hash splits into ``bands`` fixed-width band buckets
    (:func:`hash_band_explode`); within-bucket id pairs come from
    :func:`_posting_list_pairs` keyed by (band, bucket), deduplicated
    across bands, then join back to both hashes by id for the native
    ``bit_count(a ^ b)`` verify. By pigeonhole two hashes within
    hamming h share a band whenever ``bands > h``, so recall is exact
    there. ``hashes`` is read three times (bands + both verify sides):
    callers checkpoint it first so each input hashes once. NULL ids
    never pair."""
    bb = hash_band_explode(hashes, id_col, hash_col, bands)
    cand = (_posting_list_pairs(bb.filter(F.col(id_col).isNotNull()),
                                ["band", "bucket"], [id_col])
            .select(F.col(f"__x__.{id_col}").alias("id_a"),
                    F.col(f"__y__.{id_col}").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct())
    ha = hashes.select(F.col(id_col).alias("id_a"),
                       F.col(hash_col).alias("__ha__"))
    hb = hashes.select(F.col(id_col).alias("id_b"),
                       F.col(hash_col).alias("__hb__"))
    return (cand.join(ha, "id_a").join(hb, "id_b")
            .select("id_a", "id_b",
                    hamming_distance(F.col("__ha__"), F.col("__hb__"))
                    .alias("hamming"))
            .filter(F.col("hamming") <= int(max_hamming)))


def temperature_fractions(counts: dict, alpha: float = 0.7) -> dict:
    """Downsample-only keep-fractions realizing a temperature-α
    mixture (mT5-style α-sampling, Xue et al. 2021): target share
    q_s ∝ n_s^α, realized by keeping fraction (n_min/n_s)^(1-α) of
    stratum s — the smallest stratum keeps EXACTLY 1.0 (pow(1, x) is
    exact), larger strata shed rows; no stratum ever upsamples.
    α=1 keeps everything (natural mixture); α→0 caps every stratum at
    the smallest one (uniform mixture)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("temperature_fractions: alpha must be in (0, 1]")
    if not counts:
        return {}
    n_min = min(counts.values())
    # 1.0 - alpha (not a pre-simplified constant): the SQL oracle
    # writes the same expression so both engines round identically
    return {s: math.pow(n_min / n, 1.0 - alpha)
            for s, n in counts.items()}


def temperature_mixture_sample(df: DataFrame, strata_col: str,
                               id_col: str, alpha: float = 0.7,
                               modulus: int = 10_000) -> DataFrame:
    """Rebalance a multi-source/multi-language corpus to a
    temperature-α mixture. EAGER: one per-stratum count aggregate runs
    at call time (strata tables are tiny — languages, sources), then
    the keep rule is the deterministic pmod-ticket predicate
    ``pmod(id, modulus) < floor(fraction·modulus)`` — row-local,
    reproducible across runs and partitionings, pushdown-eligible,
    and exactly replayable by a SQL oracle. The corpus never shuffles.
    Rows with a NULL stratum are kept whole and excluded from the
    fraction computation (they must not set n_min).
    """
    counts = {r[0]: r[1]
              for r in df.groupBy(strata_col).count().collect()}
    # NULL strata are kept whole and MUST NOT participate in n_min: a
    # single stray NULL row would otherwise set n_min=1 and shed ~all
    # of every real stratum, while the NULL row itself (never equal to
    # any stratum literal) silently vanished
    counts.pop(None, None)
    fracs = temperature_fractions(counts, alpha)
    ticket = F.pmod(F.col(id_col), F.lit(int(modulus)))
    expr = F.col(strata_col).isNull()
    for stratum, frac in fracs.items():
        thr = int(math.floor(frac * modulus))
        expr = F.when(F.col(strata_col) == stratum,
                      ticket < thr).otherwise(expr)
    return df.filter(expr)


def sorted_neighborhood_pairs(df: DataFrame, id_col: str,
                              key_col: str, window: int = 5
                              ) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo's classic
    merge/purge method): rows are ordered by a blocking key and every
    pair within ``window`` positions becomes a candidate —
    (id_a, id_b, key_a, key_b, rank_gap), ties on the key broken by
    id so the order (and the oracle's) is total.

    The complement of equality blocking (exact/LSH buckets): typo'd or
    near-miss keys that land in DIFFERENT buckets still sort next to
    each other. Chain a verifier (``fuzzy_join``-style levenshtein,
    :func:`ngram_jaccard`) over the candidates.

    Scale shape: the global order comes from the two-pass
    range-exchange rank (``ensure_event_index`` — per-partition
    offsets, no single-partition window); candidates join on
    neighborhood BUCKETS (rank // window, each row probing its own and
    the previous bucket), so the join is an equi-join emitting
    O(n·window) rows, never a rank-band theta-join.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    from ..analyzer import ensure_event_index
    w = int(window)
    sel = df.select(F.col(id_col).alias("__id__"),
                    F.col(key_col).alias("__key__")) \
            .filter(F.col("__key__").isNotNull())
    ranked = ensure_event_index(sel, order_by=["__key__", "__id__"],
                                out_col="__rank__")
    bkt = F.floor(F.col("__rank__") / w)
    a = ranked.select(F.col("__id__").alias("id_a"),
                      F.col("__key__").alias("key_a"),
                      F.col("__rank__").alias("ra"),
                      bkt.alias("__b__"))
    # each LEFT row probes its own bucket and the next one: every pair
    # within w-1 positions spans at most two adjacent buckets
    a2 = a.withColumn("__probe__",
                      F.explode(F.array(F.col("__b__"),
                                        F.col("__b__") + 1))) \
          .drop("__b__")
    b = ranked.select(F.col("__id__").alias("id_b"),
                      F.col("__key__").alias("key_b"),
                      F.col("__rank__").alias("rb"),
                      bkt.alias("__probe__"))
    return (a2.join(b, "__probe__")
            .filter((F.col("rb") - F.col("ra") >= 1)
                    & (F.col("rb") - F.col("ra") <= w - 1))
            .select("id_a", "id_b", "key_a", "key_b",
                    (F.col("rb") - F.col("ra")).alias("rank_gap")))


# ----------------------------------------------------------------------
# persisted on-disk LSH index (round 12) — the incremental near-dup
# screen's durable state. The MinHash mirror of the IVF on-disk corpus
# (llm/similarity.py write_corpus/topk_from_corpus): the expensive part
# of screening a 100 TB corpus is shingling + signing the TEXT, and it
# should be paid ONCE at index-build time, not once per ingest batch.
# The index persists only (id, band, bucket) longs — ~bands rows × 24
# bytes per document, orders of magnitude smaller than the text — and
# a _lsh_meta sidecar pins the hash family (num_hashes, bands,
# rows_per_band, shingle_n) so a probe signed with different
# parameters is impossible by construction (the _cow_meta pattern).
# The layout partitions by band: probing a band SUBSET (the cheap
# low-recall tier, recall = 1-(1-j^r)^b' by the S-curve) reads only
# those directories — PartitionFilters-pruned, the n_probe knob of the
# text-dedup world.
# ----------------------------------------------------------------------
def write_lsh_index(docs: DataFrame, path: str, id_col: str = "doc_id",
                    text_col: str = "text", num_hashes: int = 64,
                    bands: int = 16, rows_per_band: int | None = None,
                    shingle_n: int = 3) -> None:
    """Build and persist the LSH band-bucket index of a corpus.

    One pass over the text (zero-shuffle signatures → band explode),
    written partitioned by ``band``. ``rows_per_band`` defaults to
    ``num_hashes // bands``; pick (bands, rows) with :func:`lsh_plan`.
    """
    rpb = int(rows_per_band if rows_per_band is not None
              else num_hashes // bands)
    if bands * rpb > num_hashes:
        raise ValueError(
            f"bands({bands}) x rows_per_band({rpb}) exceeds "
            f"num_hashes({num_hashes})")
    spark = docs.sparkSession
    sigs = minhash_signatures(docs, text_col, num_hashes, shingle_n,
                              id_col=id_col)
    bb = lsh_band_buckets(sigs, id_col, "minhash", bands, rpb)
    (bb.repartition(int(bands), F.col("band"))
       .write.mode("overwrite").partitionBy("band").parquet(path))
    from ..util import write_small_parquet
    write_small_parquet(
        spark,
        [(int(num_hashes), int(bands), int(rpb),
          int(shingle_n), id_col)],
        path.rstrip("/") + "/_lsh_meta",
        "num_hashes int, bands int, rows_per_band int, "
        "shingle_n int, id_col string")


def read_lsh_meta(spark, path: str):
    """The pinned hash-family row of a persisted LSH index."""
    return spark.read.parquet(path.rstrip("/") + "/_lsh_meta").first()


def append_lsh_index(spark, path: str, new_docs: DataFrame,
                     text_col: str = "text") -> None:
    """Incremental index maintenance: sign a new batch with the
    index's OWN pinned parameters and append its band buckets — no
    rebuild, no re-signing of the existing corpus."""
    meta = read_lsh_meta(spark, path)
    sigs = minhash_signatures(new_docs, text_col,
                              int(meta.num_hashes),
                              int(meta.shingle_n),
                              id_col=meta.id_col)
    bb = lsh_band_buckets(sigs, meta.id_col, "minhash",
                          int(meta.bands), int(meta.rows_per_band))
    (bb.repartition(int(meta.bands), F.col("band"))
       .write.mode("append").partitionBy("band").parquet(path))


def lsh_index_probe(spark, path: str, probe_docs: DataFrame,
                    text_col: str = "text",
                    n_bands_probe: int | None = None,
                    max_bucket_size: int | None = None) -> DataFrame:
    """Candidate (probe_id, corpus_id) pairs of a new batch against a
    persisted index — the ingest-time near-dup screen, without
    re-signing one byte of the existing corpus.

    Probes are signed with the index's pinned family (mismatched
    parameters are impossible), bucketed, and equi-joined against the
    on-disk band buckets. ``n_bands_probe`` probes only the first k
    bands: the index scan reads ONLY those band directories
    (PartitionFilters) and the probe computes only those bands —
    recall follows the S-curve with b'=k, the cost/recall knob.
    ``max_bucket_size`` drops degenerate hot buckets on the index side
    (template farms), same semantics as :func:`lsh_candidate_pairs`.
    Feed the output to :func:`verify_candidates` over the union of
    both corpora's texts for exact-Jaccard confirmation.
    """
    meta = read_lsh_meta(spark, path)
    bands = int(meta.bands)
    k = bands if n_bands_probe is None else int(n_bands_probe)
    if not 1 <= k <= bands:
        raise ValueError(f"n_bands_probe must be in [1, {bands}], "
                         f"got {k}")
    sigs = minhash_signatures(probe_docs, text_col,
                              int(meta.num_hashes),
                              int(meta.shingle_n),
                              id_col=meta.id_col)
    pb = lsh_band_buckets(sigs, meta.id_col, "minhash", k,
                          int(meta.rows_per_band)) \
        .withColumnRenamed(meta.id_col, "probe_id")
    idx = spark.read.parquet(path)
    if k < bands:
        idx = idx.filter(F.col("band") < k)      # partition-pruned
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        idx = (idx.withColumn("__bsz__", F.count(F.lit(1)).over(w))
               .filter(F.col("__bsz__") <= max_bucket_size)
               .drop("__bsz__"))
    idx = idx.withColumnRenamed(meta.id_col, "corpus_id")
    return (pb.join(idx, ["band", "bucket"])
            .select("probe_id", "corpus_id").distinct())


def update_near_dup_clusters(assignments: DataFrame,
                             new_pairs: DataFrame,
                             new_ids: DataFrame | None = None
                             ) -> DataFrame:
    """Incremental connected-component maintenance (round 12): fold a
    new batch's near-dup pairs into an EXISTING clustering without
    re-running CC over the corpus — the clustering counterpart of
    :func:`dedup_incremental` / :func:`lsh_index_probe` in a growing
    100 TB corpus.

    ``assignments``: (id, cluster_id) — a valid clustering with
    cluster_id = component-min member id (the :func:`near_dup_clusters`
    contract). ``new_pairs``: (id_a, id_b) edges involving at least one
    id NOT in ``assignments`` (the incremental screen's output:
    new-vs-corpus + within-batch pairs). ``new_ids``: optional 1-column
    ``id`` frame of ALL new ids — those without any pair are emitted as
    singletons (id, id).

    Plan: each pair endpoint maps to its SUPER-NODE — its existing
    cluster id, or itself when unassigned — via two id-keyed left
    joins; CC runs on the reduced super-node graph, which is bounded by
    the BATCH (plus touched clusters), never the corpus, so the
    iterative/union-find machinery touches a few thousand rows
    regardless of corpus size. Cluster ids are themselves member ids,
    so the reduced component min IS the global component min. Existing
    rows are then relabeled through one (old cluster id → new label)
    join — only clusters the batch touches change; everything else
    passes through with its label intact. Output: (id, cluster_id)
    covering the old assignments plus every new/previously-unassigned
    id that now carries an edge (plus ``new_ids`` singletons).

    Equality contract (pytest + full oracle): the result partition AND
    labels equal ``near_dup_clusters(old_pairs ∪ new_pairs)`` run from
    scratch, provided ``new_pairs`` holds every edge incident to a new
    id (old-old edges were already folded into ``assignments``).
    """
    a_sup = assignments.select(F.col("id").alias("id_a"),
                               F.col("cluster_id").alias("sup_a"))
    b_sup = assignments.select(F.col("id").alias("id_b"),
                               F.col("cluster_id").alias("sup_b"))
    reduced = (new_pairs.select("id_a", "id_b")
               .join(a_sup, "id_a", "left")
               .join(b_sup, "id_b", "left")
               .select(F.coalesce("sup_a", F.col("id_a")).alias("id_a"),
                       F.coalesce("sup_b", F.col("id_b")).alias("id_b"))
               .filter(F.col("id_a") != F.col("id_b")))
    sup_labels = near_dup_clusters(reduced)

    # relabel existing rows: only touched clusters appear in the remap
    remap = sup_labels.select(F.col("id").alias("cluster_id"),
                              F.col("cluster_id").alias("__new_label__"))
    old = (assignments.join(remap, "cluster_id", "left")
           .select("id", F.coalesce("__new_label__", F.col("cluster_id"))
                   .alias("cluster_id")))
    # reduced nodes that are NOT existing cluster labels are new (or
    # previously-unassigned) ids — they get their own rows
    fresh = sup_labels.join(
        assignments.select(F.col("cluster_id").alias("id")).distinct(),
        "id", "left_anti")
    out = old.unionByName(fresh)
    if new_ids is not None:
        singles = (new_ids.select(F.col("id"))
                   .join(out.select("id"), "id", "left_anti")
                   .withColumn("cluster_id", F.col("id")))
        out = out.unionByName(singles)
    return out
