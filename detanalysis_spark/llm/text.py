"""Text analysis operators: token counts, quality scoring, language ID,
document fingerprinting.

All hot-path logic is native Spark SQL (split/filter/aggregate/regexp —
whole-stage codegen, no Python). Every regex used here is written in
the portable subset that Java regex (Spark) and RE2 (DuckDB/oracle)
interpret identically — explicit character classes, no lookaround, no
POSIX class names.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType


__all__ = [
    "bm25_scores", "doc_term_pmi",
    "token_count", "bpe_ish_token_count", "quality_scores",
    "quality_struct", "with_quality", "QUALITY_FIELDS",
    "language_id", "LANG_STOPWORDS", "doc_fingerprint",
    "winnow_fingerprints", "normalize_text", "chunk_text",
    "chunk_documents", "pack_documents",
    "term_frequencies", "document_frequencies",
    "document_frequencies_from_docs", "tfidf_topk",
    "unigram_logprob_scores", "build_vocab",
    "bigram_frequencies", "BigramLM", "train_bigram_lm",
    "bigram_logprob_scores", "save_bigram_lm", "load_bigram_lm",
    "save_bpe", "load_bpe",
    "word_frequencies", "bpe_pair_counts", "train_bpe", "bpe_segment_udf",
    "compression_ratio_udf", "sentence_split_udtf",
    "SCRIPT_CLASSES", "script_counts", "dominant_script",
    "zipf_fit",
]

# portable regexes (identical semantics in Java regex and RE2)
_WS = r"\s+"
BPE_ISH_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
_PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}<>/@#$%^&*_+=~`|\\-]"


def _tokens(text: Column) -> Column:
    # split on \s+ then drop empty boundary tokens — Python
    # str.split() semantics. The previous trim-then-split shape kept
    # phantom empty tokens whenever the text started or ended with
    # NON-SPACE whitespace (SQL trim strips only ' ': split('\na b\n')
    # gave ['', 'a', 'b', ''] → 4 "tokens"), inflating every
    # token-derived signal for such docs; caught by the
    # quality-struct-vs-Python-reference hypothesis property.
    return F.filter(F.split(text, _WS), lambda x: x != "")


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    return F.size(_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token count: alphanumeric runs + individual symbols.

    A cheap stand-in for a real subword tokenizer: every alphanumeric
    chunk and every non-space symbol is one token, which tracks BPE
    counts within ~±20% on natural text.
    """
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


QUALITY_FIELDS = ("n_chars", "n_tokens", "mean_token_len", "punct_ratio",
                  "digit_ratio", "upper_ratio", "stopword_ratio")


def quality_struct(text: Column) -> Column:
    """All :func:`quality_scores` signals as ONE struct Column,
    tokenizing each row exactly once.

    The token array is bound as a lambda variable (one-element array
    transform, same trick as ``language_id``) before any signal
    references it. This matters twice over: Catalyst's subexpression
    elimination skips lambda-containing expressions, so a projection
    that embeds the ``split`` per signal re-tokenizes every row once
    per signal — and the duplicated tree also multiplies
    analysis/codegen time on the driver. Select the struct in one
    projection and expand its fields in a second
    (``.select(quality_struct(c).alias("q")).select("q.*")``);
    CollapseProject keeps the two apart because the alias is non-cheap
    and multiply referenced.
    """
    base = F.struct(text.alias("t"), _tokens(text).alias("tk"))

    def mk(r: Column) -> Column:
        t, tk = r["t"], r["tk"]
        n_chars = F.length(t)
        n_toks = F.size(tk)   # _tokens already drops empty tokens
        safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
        safe_toks = F.greatest(n_toks, F.lit(1)).cast("double")
        n_of = lambda cls: (  # noqa: E731
            n_chars - F.length(F.regexp_replace(t, cls, "")))
        stop_hits = F.size(F.filter(
            F.transform(tk, F.lower),
            lambda w: w.isin(*sorted(LANG_STOPWORDS["en"]))))
        mean_len = F.aggregate(F.transform(tk, F.length), F.lit(0),
                               lambda a, x: a + x).cast("double") / safe_toks
        return F.struct(
            n_chars.alias("n_chars"),
            n_toks.alias("n_tokens"),
            mean_len.alias("mean_token_len"),
            (n_of(_PUNCT_CLASS) / safe_chars).alias("punct_ratio"),
            (n_of(r"[0-9]") / safe_chars).alias("digit_ratio"),
            (n_of(r"[A-Z]") / safe_chars).alias("upper_ratio"),
            (stop_hits / safe_toks).alias("stopword_ratio"))

    return F.get(F.transform(F.array(base), mk), 0)


def with_quality(text: Column, build) -> Column:
    """Bind the quality struct once per row and apply ``build(q)`` —
    the shape for predicates that reference several signals
    (``with_quality(c, lambda q: (q["digit_ratio"] < .2) & ...)``);
    each ``quality_struct(...)[k]`` access would otherwise embed (and
    re-evaluate) the whole struct per signal."""
    return F.get(F.transform(F.array(quality_struct(text)), build), 0)


def quality_scores(text: Column) -> dict[str, Column]:
    """Heuristic document-quality signals as a dict of named Columns.

    length / punctuation / digit / stopword ratios per the standard
    quality-filter recipe (C4/Gopher-style rules). Each entry is a
    field of :func:`quality_struct` — fine for selecting one signal;
    multi-signal projections should select the struct itself once (see
    ``quality_struct``) and multi-signal predicates should go through
    :func:`with_quality`.
    """
    qs = quality_struct(text)
    return {k: qs[k] for k in QUALITY_FIELDS}


# deliberately tiny, deterministic profiles — language ID here is an
# n-gram/stopword heuristic, not a model
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "no"],
}
_LANG_ORDER = ["en", "de", "fr", "es"]


def language_id(text: Column) -> Column:
    """Predicted language code by stopword-hit score; 'und' if no hits.

    Ties break in fixed _LANG_ORDER so the result is deterministic and
    an ANSI-SQL oracle can mirror the CASE chain exactly.
    """
    def per_row(low: Column) -> Column:
        # `low` is a bound lambda variable: the tokenize+lower runs once
        # per row even though every language's score references it
        def hit_count(words: list[str]) -> Column:
            wl = sorted(words)
            return F.size(F.filter(low, lambda t: t.isin(*wl)))

        scores = {lang: hit_count(ws)
                  for lang, ws in LANG_STOPWORDS.items()}
        best = F.greatest(*scores.values())
        out = F.when(best <= 0, F.lit("und"))
        for lang in _LANG_ORDER:
            out = out.when(scores[lang] == best, F.lit(lang))
        return out

    return F.get(F.transform(F.array(F.transform(_tokens(text), F.lower)),
                             per_row), 0)


def doc_fingerprint(text: Column) -> Column:
    """Whitespace/case-insensitive content fingerprint (md5 of the
    normalized text) — the exact-dedup key for sloppily-copied docs."""
    # collapse whitespace runs FIRST, then trim: SQL trim strips only
    # ' ', so trimming before collapsing left boundary newlines/tabs
    # as leading/trailing spaces in the key
    norm = F.lower(F.trim(F.regexp_replace(text, _WS, " ")))
    return F.md5(norm.cast("binary"))


def winnow_fingerprints(text: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing fingerprint set (Schleimer et al., SIGMOD'03): rolling
    k-gram hashes, min per w-window, distinct. Native end-to-end —
    positional char k-grams → xxhash64 → windowed array_min.

    The hash array is bound as a lambda variable before the windowed
    min — a lambda that referenced the hash expression directly would
    re-hash every k-gram at every window position (O(len²) per row).
    """
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1))),
        lambda i: text.substr(i, F.lit(k)))
    hashes = F.transform(grams, lambda g: F.xxhash64(g))

    def per_row(hs: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(hs) - (w - 1), F.lit(1))),
            lambda i: F.array_min(F.slice(hs, i, w)))

    return F.array_distinct(F.flatten(F.transform(F.array(hashes), per_row)))


def normalize_text(text: Column, casefold: bool = True,
                   strip_punct: bool = True,
                   collapse_ws: bool = True) -> Column:
    """Canonicalize text before hashing/dedup (the standard pre-dedup
    normalization: near-identical docs that differ only in case,
    punctuation, or whitespace hash identically afterwards).

    All native regexp/lower/trim — whole-stage codegen, no Python.
    """
    out = text
    if casefold:
        out = F.lower(out)
    if strip_punct:
        out = F.regexp_replace(out, _PUNCT_CLASS, "")
    if collapse_ws:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


def chunk_text(text: Column, window_tokens: int,
               stride_tokens: int | None = None) -> Column:
    """Token-window chunks of a document (array<string>) — the
    fixed-context splitting step of a training pipeline. Overlapping
    when ``stride < window``; the tail chunk keeps the remainder.

    The token array is bound as a lambda variable (one-element-array
    transform) so the regex split runs once per row, not once per
    window position. All native — no Python in the path.
    """
    stride = int(stride_tokens if stride_tokens is not None else window_tokens)
    if stride < 1 or window_tokens < 1:
        raise ValueError("window and stride must be >= 1")

    def per_row(tk: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(tk), F.lit(1)),
                       F.lit(stride)),
            lambda i: F.concat_ws(" ", F.slice(tk, i, window_tokens)))
    return F.flatten(F.transform(F.array(_tokens(text)), per_row))


def chunk_documents(df, text_col: str = "text", id_col: str = "doc_id",
                    window_tokens: int = 512,
                    stride_tokens: int | None = None):
    """Exploded chunk table (id, chunk_id, chunk_text, n_tokens) — one
    row per training window. Pure per-row projection + explode; no
    shuffle, embarrassingly parallel at any scale."""
    chunks = chunk_text(F.col(text_col), window_tokens, stride_tokens)
    out = df.select(F.col(id_col),
                    F.posexplode(chunks).alias("chunk_id", "chunk_text"))
    return out.withColumn("n_tokens", token_count(F.col("chunk_text")))


def pack_documents(df, token_col: Column | str, budget: int,
                   order_col: str = "doc_id",
                   partition_cols: list[str] | None = None):
    """Concat-and-chunk sequence packing: documents are concatenated in
    ``order_col`` order (optionally per ``partition_cols`` stream) and
    the token stream is cut into fixed ``budget``-token context
    windows. Each document is stamped with

    - ``pack_id``  — the window its first token lands in, and
    - ``pack_offset`` — its token offset within that window,

    the bookkeeping a training loader needs to assemble packed
    contexts. Deterministic, one window shuffle keyed by the partition
    columns — no stateful driver loop. (With no partition columns the
    window is global — single task, warns; prefer a stream key — e.g.
    ``source`` — at scale, which keeps the sort partition-local.)
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    if not partition_cols:
        import warnings
        warnings.warn(
            "pack_documents without partition_cols uses a global "
            "window (single task); pass a stream key at scale",
            stacklevel=2)
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    w = Window.partitionBy(*(partition_cols or [])).orderBy(order_col)
    start = F.coalesce(
        F.sum(tok).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0)).cast("long")
    return (df
            .withColumn("pack_id", F.floor(start / budget))
            .withColumn("pack_offset", start % budget))


def take_token_budget(df, token_col: Column | str, budget: int,
                      order_col: str = "doc_id",
                      partition_cols: list[str] | None = None):
    """Deterministic token-budget subsample: keep the ``order_col``-
    ordered prefix of each ``partition_cols`` stream until the budget is
    reached — the mixture-building step ("take N tokens of each
    source"). A document is kept iff the tokens *before* it total less
    than ``budget``, so the output overshoots by at most one document —
    the standard greedy-prefix convention, and exactly reproducible.

    Same shape as ``pack_documents``: one window shuffle keyed by the
    stream columns, cumulative sum stays partition-local, no driver
    state. With ``partition_cols=None`` the window is GLOBAL — the
    whole frame funnels through one task (warns; fine for bounded
    samples, pass a stream key at scale).
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    if not partition_cols:
        import warnings
        warnings.warn(
            "take_token_budget without partition_cols uses a global "
            "window (single task); pass a stream key at scale",
            stacklevel=2)
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    w = Window.partitionBy(*(partition_cols or [])).orderBy(order_col)
    before = F.coalesce(
        F.sum(tok).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0)).cast("long")
    return (df.withColumn("__tok_before__", before)
            .filter(F.col("__tok_before__") < budget)
            .drop("__tok_before__"))


def term_frequencies(df, id_col: str = "doc_id", text_col: str = "text"):
    """(id, term, tf) — lowercased whitespace terms, one shuffle keyed
    by (id, term) with map-side combine. The per-document vocabulary is
    the unit of all downstream TF-IDF work. (No fan-out spread here:
    tokenization is cheap native work and the probe + round-robin
    exchange were A/B-measured a net LOSS on every consumer —
    OPTIMIZATION_r12.md; at scale inputs arrive wide anyway.)"""
    terms = df.select(F.col(id_col), F.col(text_col)) \
        .select(
            F.col(id_col),
            F.explode(F.transform(_tokens(F.col(text_col)),
                                  lambda t: F.lower(t))).alias("term"))
    return (terms.filter(F.length("term") > 0)
            .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))


def document_frequencies(tf_df, id_col: str = "doc_id"):
    """(term, df) document frequencies from a term-frequency table —
    one aggregate keyed by term (tf rows are already distinct per
    (id, term), so a plain count is the distinct-doc count)."""
    return tf_df.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def document_frequencies_from_docs(df, text_col: str = "text"):
    """(term, df) straight from the corpus — the SCALE path for IDF
    tables. Distinct terms per doc are a per-row projection
    (``array_distinct``), so the only shuffle is the term-keyed count
    with map-side combine: VOCABULARY-bound rows per partition, never
    the corpus-sized (doc, term) pair table that
    ``document_frequencies(term_frequencies(df))`` shuffles. Same
    tokenization, identical values."""
    terms = df.select(F.col(text_col)) \
        .select(F.explode(F.array_distinct(
            _clean_tokens(F.col(text_col)))).alias("term"))
    return terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def tfidf_topk(df, id_col: str = "doc_id", text_col: str = "text",
               k: int = 3, n_docs: int | None = None):
    """Top-k characteristic terms per document by TF-IDF:
    (id, rank, term, tf, df, score).

    score = tf · (ln((1+N)/(1+df)) + 1)  (smooth IDF). The ranking
    key is the all-integer tuple (tf desc, df asc, term asc) — never
    the float score — so ordering is bit-exact across engines/libms;
    the score column is informational (rounded by callers).

    Plan: tf aggregate → df aggregate → join keyed by term (AQE
    broadcasts the vocabulary side when small) → per-doc top-k window
    partitioned by id (no global sort). ``n_docs`` skips the corpus
    count when the caller already knows it.

    The df branch is computed straight from the corpus
    (:func:`document_frequencies_from_docs` — vocabulary-bound
    shuffle), NOT from the tf table: the two branches are separate
    subtrees in the plan, so deriving df from tf would shuffle the
    corpus-sized (doc, term) table a second time — and it keeps a
    caller's document filter free to push into the tf branch alone
    (rank the docs you care about, IDF over the whole corpus).
    """
    N = int(n_docs if n_docs is not None else df.count())
    tf = term_frequencies(df, id_col, text_col)
    dfreq = document_frequencies_from_docs(df, text_col)
    idf = F.log((1.0 + N) / (1.0 + F.col("df"))) + 1.0
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc())
    return (tf.join(dfreq, "term")
            .withColumn("score", F.col("tf") * idf)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "rank", "term", "tf", "df", "score"))


def unigram_logprob_scores(df, id_col: str = "doc_id",
                           text_col: str = "text",
                           total_tokens: int | None = None):
    """Per-document unigram language-model score:
    (id, n_tokens, nll) with nll = −(1/n)·Σ tf·ln(ctf/T) — the mean
    negative log-likelihood of the doc under the corpus's own unigram
    distribution. Low = stereotyped/repetitive text, high = rare-token
    soup; the classic cheap perplexity gate of a data pipeline.

    Plan: tf aggregate (keyed by (id, term)) → corpus term counts
    (keyed by term) → join back keyed by term → per-doc rollup. One
    tiny driver agg fetches the corpus token total T (skippable via
    ``total_tokens``). Every count is exact-integer; only the final
    log-space division is float.
    """
    tf = term_frequencies(df, id_col, text_col)
    ctf = tf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    T = int(total_tokens if total_tokens is not None
            else ctf.agg(F.sum("ctf")).collect()[0][0])
    logp = F.log(F.col("ctf").cast("double") / float(T))
    return (tf.join(ctf, "term")
            .groupBy(id_col)
            .agg(F.sum("tf").alias("n_tokens"),
                 (-F.sum(F.col("tf") * logp) / F.sum("tf")).alias("nll")))


def _clean_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens with empties removed — the shared
    tokenization of every LM/TF operator (bit-identical to the oracle
    SQL's ``lower(string_split_regex(trim(text), '\\s+'))`` + filter)."""
    return F.filter(F.transform(_tokens(text), lambda t: F.lower(t)),
                    lambda t: F.length(t) > 0)


def bigram_frequencies(df, id_col: str = "doc_id",
                       text_col: str = "text"):
    """(id, w1, w2, tf) — adjacent lowercased-token pairs per document,
    one shuffle keyed by (id, w1, w2) with map-side combine. Pairing is
    a JVM-native index fold (``sequence`` + ``element_at``), so no
    Python touches the text; docs with <2 tokens simply contribute no
    rows."""
    tk = _clean_tokens(F.col(text_col))
    rows = df.select(F.col(id_col), F.col(text_col)) \
        .select(F.col(id_col), tk.alias("__tk__")) \
        .filter(F.size("__tk__") >= 2)
    pair = F.transform(
        F.sequence(F.lit(1), F.size("__tk__") - 1),
        lambda i: F.struct(
            F.element_at(F.col("__tk__"), i).alias("w1"),
            F.element_at(F.col("__tk__"), i + 1).alias("w2")))
    bg = rows.select(F.col(id_col), F.explode(pair).alias("bg"))
    return (bg.select(id_col, F.col("bg.w1").alias("w1"),
                      F.col("bg.w2").alias("w2"))
            .groupBy(id_col, "w1", "w2")
            .agg(F.count(F.lit(1)).alias("tf")))


class BigramLM:
    """Corpus-trained bigram language model with stupid backoff
    (Brants et al. 2007, "Large Language Models in Machine
    Translation" — the count-only smoothing used at web scale because
    it needs no discounting pass).

    ``bigrams`` (w1, w2, c12) and ``unigrams`` (term, c1) are lazy
    vocabulary-bound DataFrames — at 100 TB they are orders of
    magnitude smaller than the corpus, shuffle-keyed by gram, and AQE
    broadcasts them in the scoring join when they fit. ``total`` is the
    training token count (one tiny driver agg, cached).
    """

    def __init__(self, bigrams, unigrams, total: int, alpha: float = 0.4):
        self.bigrams = bigrams
        self.unigrams = unigrams
        self.total = int(total)
        self.alpha = float(alpha)


def train_bigram_lm(df, id_col: str = "doc_id", text_col: str = "text",
                    alpha: float = 0.4) -> BigramLM:
    """Fit a :class:`BigramLM` on a corpus: one (id, term) tf aggregate
    for the unigram table, one (id, w1, w2) aggregate for the bigram
    table — two gram-keyed shuffles total, both map-side combined."""
    tf = term_frequencies(df, id_col, text_col)
    uni = tf.groupBy("term").agg(F.sum("tf").alias("c1"))
    bg = (bigram_frequencies(df, id_col, text_col)
          .groupBy("w1", "w2").agg(F.sum("tf").alias("c12")))
    total = int(uni.agg(F.sum("c1")).collect()[0][0] or 0)
    return BigramLM(bg, uni, total, alpha)


def bigram_logprob_scores(df, lm: BigramLM, id_col: str = "doc_id",
                          text_col: str = "text"):
    """Per-document mean NLL under ``lm`` with stupid backoff:

    p(w2|w1) = c12/c1[w1]            if the bigram was seen in training
             = α·c1[w2]/T            else if w2 was seen
             = α·1/T                 else (deterministic OOV floor)

    Returns (id, n_bigrams, nll) with nll = −(1/n)·Σ tf·ln p. Held-out
    scoring (train on one slice, score another) is the standard
    perplexity quality gate; scoring the training corpus itself never
    exercises the backoff path.

    Plan: the document side folds to a (id, w1, w2, tf) aggregate, then
    three gram-keyed LEFT joins against the vocabulary-bound LM tables
    (bigram on (w1,w2), unigram on each side) — AQE broadcasts the LM
    side when small, and the corpus never shuffles more than once per
    join key. All counts exact-integer; float only in the final log.
    """
    sb = bigram_frequencies(df, id_col, text_col)
    u1 = lm.unigrams.select(F.col("term").alias("w1"),
                            F.col("c1").alias("__c1w1__"))
    u2 = lm.unigrams.select(F.col("term").alias("w2"),
                            F.col("c1").alias("__c1w2__"))
    T = float(lm.total)
    joined = (sb.join(lm.bigrams, ["w1", "w2"], "left")
              .join(u1, "w1", "left")
              .join(u2, "w2", "left"))
    p = F.when(F.col("c12").isNotNull(),
               F.col("c12").cast("double") / F.col("__c1w1__")) \
         .otherwise(lm.alpha * F.coalesce(F.col("__c1w2__"),
                                          F.lit(1)).cast("double") / T)
    return (joined.groupBy(id_col)
            .agg(F.sum("tf").alias("n_bigrams"),
                 (-F.sum(F.col("tf") * F.log(p)) / F.sum("tf"))
                 .alias("nll")))


def build_vocab(df, id_col: str = "doc_id", text_col: str = "text",
                size: int = 30000, min_df: int = 1):
    """Tokenizer vocabulary induction: the ``size`` most frequent
    lowercased terms — (rank, term, ctf, df). Ties break by term asc
    (bit-exact across engines). Corpus term counts are one gram-keyed
    aggregate; the final top-``size`` is a TakeOrdered (top-k, never a
    full global sort)."""
    tf = term_frequencies(df, id_col, text_col)
    stats = (tf.groupBy("term")
             .agg(F.sum("tf").alias("ctf"), F.count(F.lit(1)).alias("df"))
             .filter(F.col("df") >= int(min_df)))
    ranked = (stats.orderBy(F.col("ctf").desc(), F.col("term").asc())
              .limit(int(size)))
    w = Window.orderBy(F.col("ctf").desc(), F.col("term").asc())
    return (ranked.withColumn("rank", F.row_number().over(w))
            .select("rank", "term", "ctf", "df"))


# ----------------------------------------------------------------------
# distributed BPE tokenizer training (Sennrich et al. 2016,
# arXiv:1508.07909). Scale design: the corpus is scanned ONCE to build
# the (word, freq) table; the merge loop then runs entirely over that
# distinct-word table weighted by frequency — at 100 TB the distinct
# vocabulary is orders of magnitude smaller than the corpus, and each
# round is one adjacent-pair aggregate (top-1 via TakeOrdered, a few
# bytes to the driver) plus one JVM-native fold projection. No Python
# touches the data during training.
# ----------------------------------------------------------------------
BPE_EOW = "</w>"


def word_frequencies(df, text_col: str = "text"):
    """(word, freq) over the corpus — BPE training's only corpus-scale
    pass. One explode + one map-side-combined aggregate."""
    return (df.select(F.col(text_col))
            .select(F.explode(_tokens(F.col(text_col))).alias("word"))
            .filter(F.length("word") > 0)
            .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))


def _chars_plus_eow(word: Column) -> Column:
    # (?!^) splits BETWEEN characters; Java split still emits one
    # trailing empty string — drop empties before appending the marker.
    # Note: Java regex splits on UTF-16 code units, so astral-plane
    # characters (outside the BMP) would seed as surrogate halves;
    # byte-level or BMP text (the usual BPE seeding regimes) is exact.
    chars = F.filter(F.split(word, r"(?!^)"), lambda x: x != "")
    return F.concat(chars, F.array(F.lit(BPE_EOW)))


def _adjacent_pairs(syms: Column) -> Column:
    # guard: sequence(0, -1) would DESCEND for single-symbol arrays
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(syms) - 2),
        lambda i: F.struct(F.element_at(syms, i + 1).alias("a"),
                           F.element_at(syms, i + 2).alias("b")))
    return F.when(F.size(syms) >= 2, pairs) \
        .otherwise(F.array().cast("array<struct<a:string,b:string>>"))


def _merge_pair_expr(syms: Column, a: str, b: str) -> Column:
    """Left-to-right non-overlapping merge of adjacent (a, b) -> a+b as
    a native fold: append each symbol unless it completes the pair with
    the accumulator's last element, in which case replace that element
    with the merged symbol. (A merged symbol never re-merges within the
    round — exactly the reference algorithm's scan.)"""
    ab = F.lit(a + b)
    return F.aggregate(
        syms, F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(ab)))
        .otherwise(F.concat(acc, F.array(x))))


def bpe_pair_counts(word_freq):
    """Weighted adjacent-symbol-pair counts over a (word, freq) table
    (symbols = characters + end-of-word marker): the statistic BPE's
    first merge maximizes. One explode + one aggregate."""
    syms = _chars_plus_eow(F.col("word"))
    return (word_freq
            .select(F.explode(_adjacent_pairs(syms)).alias("p"), "freq")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("pair_count")))


def train_bpe(df, num_merges: int, text_col: str = "text",
              min_freq: int = 2):
    """Learn ``num_merges`` BPE merges from a corpus.

    Ties break by (count desc, a asc, b asc) — bit-exact across
    engines and runs. Stops early when the best pair's weighted count
    falls below ``min_freq``. Returns ``(merges, vocab_df)`` where
    ``merges`` is the ordered list of (a, b) pairs and ``vocab_df`` is
    the final (symbol, freq) table under those merges.

    Each round localCheckpoints the (small) word-symbol table so the
    plan stays O(1) deep instead of O(num_merges); the previous round's
    checkpoint blocks are explicitly released (ContextCleaner collects
    them once the driver reference drops — the periodic gc.collect()
    makes that deterministic for long merge runs instead of waiting on
    driver GC pressure), so executor storage holds ONE table copy, not
    O(num_merges).
    """
    import gc

    wf = word_frequencies(df, text_col)
    syms = (wf.select(_chars_plus_eow(F.col("word")).alias("syms"), "freq")
            .localCheckpoint())
    merges: list[tuple[str, str]] = []
    for _ in range(int(num_merges)):
        top = (syms.select(F.explode(_adjacent_pairs(F.col("syms")))
                           .alias("p"), "freq")
               .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
               .agg(F.sum("freq").alias("n"))
               .orderBy(F.col("n").desc(), F.col("a").asc(),
                        F.col("b").asc())
               .limit(1).collect())
        if not top or top[0]["n"] < min_freq:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        prev = syms
        syms = (syms.select(_merge_pair_expr(F.col("syms"), a, b)
                            .alias("syms"), "freq")
                .localCheckpoint())
        del prev
        if len(merges) % 32 == 0:
            gc.collect()  # let ContextCleaner free old checkpoint blocks
    vocab = (syms.select(F.explode("syms").alias("symbol"), "freq")
             .groupBy("symbol").agg(F.sum("freq").alias("freq")))
    return merges, vocab


def bpe_segment_udf(merges: Sequence[tuple[str, str]]):
    """Vectorized pandas UDF applying learned merges to text:
    ``array<string>`` of subword tokens per row. Application is the
    classic rank-greedy loop (always merge the lowest-rank pair
    present) — per-row Python, but Arrow-batched and embarrassingly
    parallel; training never uses this path."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        toks = list(word) + [BPE_EOW]
        while len(toks) > 1:
            best, best_rank = None, None
            for i in range(len(toks) - 1):
                r = ranks.get((toks[i], toks[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            # merge ALL non-overlapping occurrences of that pair, L->R
            a, b = toks[best], toks[best + 1]
            out, i = [], 0
            while i < len(toks):
                if (i + 1 < len(toks) and toks[i] == a
                        and toks[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return toks

    @pandas_udf(ArrayType(StringType()))
    def seg(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(
            lambda t: [tok for w in t.split() for tok in encode_word(w)])

    return seg


def save_bpe(spark, merges: Sequence[tuple[str, str]], path: str,
             vocab=None) -> None:
    """Persist a trained BPE model (:func:`train_bpe` output) as a
    parquet artifact — ordered merges under ``merges/`` (rank column
    pins the greedy application order) and optionally the final
    symbol-frequency table under ``vocab/``. Everything goes through
    Spark writers, so the artifact lands on whatever filesystem the
    session targets (HDFS/S3/local alike) — train once on the corpus,
    tokenize everywhere."""
    from ..util import write_small_parquet
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    write_small_parquet(spark, rows, f"{path}/merges",
                        "rank int, a string, b string")
    if vocab is not None:
        vocab.write.mode("overwrite").parquet(f"{path}/vocab")


def load_bpe(spark, path: str):
    """Load a :func:`save_bpe` artifact → ``(merges, vocab_df)`` with
    ``vocab_df`` None when the artifact has no vocab table. The merges
    list feeds :func:`bpe_segment_udf` directly; round-trips
    token-identically (pytest-pinned)."""
    rows = (spark.read.parquet(f"{path}/merges")
            .orderBy("rank").collect())
    merges = [(r.a, r.b) for r in rows]
    try:
        vocab = spark.read.parquet(f"{path}/vocab")
        vocab.schema          # force analysis: missing dir raises here
    except Exception:   # noqa: BLE001 — optional table absent
        vocab = None
    return merges, vocab


def save_bigram_lm(lm: BigramLM, path: str) -> None:
    """Persist a :class:`BigramLM` as parquet (bigrams/, unigrams/)
    plus a one-row meta table — everything goes through Spark writers,
    so the artifact lands on whatever filesystem the session targets
    (HDFS/S3/local alike)."""
    spark = lm.bigrams.sparkSession
    lm.bigrams.write.mode("overwrite").parquet(f"{path}/bigrams")
    lm.unigrams.write.mode("overwrite").parquet(f"{path}/unigrams")
    from ..util import write_small_parquet
    write_small_parquet(spark, [(int(lm.total), float(lm.alpha))],
                        f"{path}/meta", "total long, alpha double")


def load_bigram_lm(spark, path: str) -> BigramLM:
    """Load a :func:`save_bigram_lm` artifact; scoring joins read the
    LM tables lazily (predicate pushdown and AQE broadcast apply as if
    freshly trained)."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return BigramLM(spark.read.parquet(f"{path}/bigrams"),
                    spark.read.parquet(f"{path}/unigrams"),
                    int(meta["total"]), float(meta["alpha"]))


def compression_ratio_udf():
    """Arrow-batched deflate compression ratio of text —
    ``len(zlib.compress(utf8)) / len(utf8)`` (1.0 for empty text).

    The classic model-free redundancy signal (used alongside the
    Gopher rules in public pipelines: boilerplate and template spam
    compress far below prose, random noise above it). zlib is
    inherently Python-side, so this is a pandas UDF — one Arrow
    roundtrip, vectorized over each batch; everything around it stays
    native.
    """
    import zlib

    @pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        def one(t) -> float:
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return len(zlib.compress(raw, 6)) / len(raw)
        return texts.map(one)

    return ratio


def sentence_split_udtf():
    """Python UDTF (Spark 4 table function): explode a document into
    (sentence_idx, sentence, n_chars) rows on ``.!?`` boundaries —
    the §2.10 UDTF surface exhibit. Register and use in SQL as::

        spark.udtf.register("split_sentences", sentence_split_udtf())
        spark.sql("SELECT d.doc_id, s.* FROM documents d, "
                  "LATERAL split_sentences(d.text) s")

    For hot paths prefer the native ``split`` + ``posexplode``
    (chunk_documents) — a UDTF is row-at-a-time Python; it exists for
    logic too irregular for expressions, and this exhibit keeps the
    wiring (registration, lateral join, schema contract) tested.
    """
    import re as _re
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx int, sentence string, n_chars int")
    class SplitSentences:
        def eval(self, text: str):  # noqa: D401
            if text is None:
                return
            parts = [p.strip()
                     for p in _re.split(r"(?<=[.!?])\s+", text.strip())]
            for i, p in enumerate(p for p in parts if p):
                yield i, p, len(p)

    return SplitSentences


# ---------------------------------------------------------------------------
# BM25 retrieval scoring (Robertson & Zaragoza 2009; Lucene-style idf)
# ---------------------------------------------------------------------------
def bm25_scores(docs, queries, id_col: str = "doc_id",
                text_col: str = "text", query_id_col: str = "query_id",
                query_text_col: str = "query_text",
                k1: float = 1.2, b: float = 0.75,
                max_df: int | None = None, topk: int | None = None):
    """BM25 scores for every (query, doc) pair sharing a term →
    (query_id, doc_id, score). EAGER: one tiny corpus-stats job runs
    at call time so N and avgdl push into the plan as literals.

    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf = ln(1 + (N − df + 0.5)/(df + 0.5)) — the Lucene-style
    always-positive form. Query-side term multiplicity is ignored
    (classic BM25); terms are the same lowercased whitespace tokens as
    :func:`term_frequencies`, so scores line up with the TF-IDF stack.

    Scale shape: one term-keyed equi-join between the (small,
    broadcastable) query-term table and the corpus term index — cost
    tracks postings touched (Σ df over query terms), never |queries| ×
    |corpus|. ``max_df`` drops ultra-common terms from scoring (the
    stop-word pruning a retrieval index does anyway — scores then
    exclude those terms' small contributions). ``topk`` keeps the best
    k docs per query via one rank window over the scored pairs
    (deterministic tie-break: higher score, then lower doc id).

    The retrieval-shaped use in a curation pipeline: query =
    benchmark prompt, hits = training docs to audit/decontaminate —
    complementing the exact n-gram `decontaminate` screen with a
    bag-of-words one.
    """
    from pyspark.sql import Window

    tf = term_frequencies(docs, id_col, text_col)
    stats = (tf.groupBy(id_col).agg(F.sum("tf").alias("__dl__")))
    row = (stats.agg(F.count(F.lit(1)).alias("n"),
                     F.avg("__dl__").alias("avgdl")).collect()[0])
    n_docs, avgdl = int(row.n), float(row.avgdl or 0.0)
    if n_docs == 0:
        # schema must match the non-empty path exactly (real id types,
        # not hardcoded long) or a downstream unionByName breaks only
        # in the empty-corpus corner
        qt = queries.schema[query_id_col].dataType.simpleString()
        dt = docs.schema[id_col].dataType.simpleString()
        return queries.sparkSession.createDataFrame(
            [], f"{query_id_col} {qt}, {id_col} {dt}, score double")
    # df branch straight from the corpus (vocabulary-bound shuffle) —
    # deriving it from tf would shuffle the (doc, term) table a second
    # time, since the tf subtree is not reused across join branches
    dfreq = document_frequencies_from_docs(docs, text_col)
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= int(max_df))
    qterms = (queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(F.transform(
            _tokens(F.col(query_text_col)), lambda t: F.lower(t))))
        .alias("term"))
        .filter(F.length("term") > 0))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    norm = F.col("tf") * (k1 + 1.0) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("__dl__") / avgdl))
    scored = (qterms
              .join(tf.join(dfreq, "term").join(stats, id_col), "term")
              .groupBy(query_id_col, id_col)
              .agg(F.sum(idf * norm).alias("score")))
    if topk is not None:
        w = Window.partitionBy(query_id_col).orderBy(
            F.col("score").desc(), F.col(id_col).asc())
        scored = (scored.withColumn("__rk__", F.row_number().over(w))
                  .filter(F.col("__rk__") <= int(topk)).drop("__rk__"))
    return scored


# ---------------------------------------------------------------------------
# document-level term co-occurrence + PMI (Church & Hanks 1990)
# ---------------------------------------------------------------------------
def doc_term_pmi(docs, vocab, id_col: str = "doc_id",
                 text_col: str = "text", min_docs: int = 1):
    """Pointwise mutual information over DOCUMENT-level co-occurrence:
    (term_a < term_b, n_ab, n_a, n_b, pmi) for vocabulary-term pairs
    appearing together in at least ``min_docs`` documents, with
    pmi = ln(N·n_ab / (n_a·n_b)) — the association signal behind
    phrase promotion and topic seeding. EAGER: one corpus count job
    (N rides as a literal, same pattern as :func:`bm25_scores`).

    ``vocab`` is a 1-column DataFrame of terms (e.g. from
    :func:`build_vocab`) and is BROADCAST into the token filter, so
    the corpus never shuffles to discard out-of-vocabulary tokens;
    per-document distinct vocab terms are bounded by |vocab|, the
    pair join is keyed by document id, and the pair aggregate is
    map-side combined. Nothing is ever all-pairs across documents.
    """
    n_docs = docs.count()
    if n_docs == 0:
        return docs.sparkSession.createDataFrame(
            [], "term_a string, term_b string, n_ab long, n_a long, "
                "n_b long, pmi double")
    v = vocab.select(F.col(vocab.columns[0]).alias("term"))
    toks = (docs.select(
        F.col(id_col).alias("__id__"),
        F.explode(F.array_distinct(F.transform(
            _tokens(F.col(text_col)), lambda t: F.lower(t))))
        .alias("term"))
        .filter(F.length("term") > 0)
        .join(F.broadcast(v), "term"))
    cnt = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    a = toks.select("__id__", F.col("term").alias("term_a"))
    b = toks.select("__id__", F.col("term").alias("term_b"))
    co = (a.join(b, "__id__")
          .filter(F.col("term_a") < F.col("term_b"))
          .groupBy("term_a", "term_b")
          .agg(F.count(F.lit(1)).alias("n_ab"))
          .filter(F.col("n_ab") >= int(min_docs)))
    ca = cnt.select(F.col("term").alias("term_a"),
                    F.col("n_t").alias("n_a"))
    cb = cnt.select(F.col("term").alias("term_b"),
                    F.col("n_t").alias("n_b"))
    pmi = F.log((F.col("n_ab").cast("double") * float(n_docs))
                / (F.col("n_a") * F.col("n_b")))
    return (co.join(ca, "term_a").join(cb, "term_b")
            .select("term_a", "term_b", "n_ab", "n_a", "n_b",
                    pmi.alias("pmi")))


# ----------------------------------------------------------------------
# writing-system (script) detection — the character-level complement
# to the stopword language ID: Latin-stopword models are blind to
# mixed-script spam, transliteration, and CJK/Cyrillic content that a
# curation pipeline must route to per-script tokenizers and filters.
# Class constants stay inside the regex subset Java regex and RE2
# parse identically (the INVISIBLE_CLASS precedent), so SQL oracles
# replay them verbatim.
# ----------------------------------------------------------------------
SCRIPT_CLASSES: dict[str, str] = {
    # Basic Latin letters + Latin-1/Extended ranges
    "latin": "[A-Za-z\\x{00C0}-\\x{024F}]",
    "cyrillic": "[\\x{0400}-\\x{04FF}]",
    "greek": "[\\x{0370}-\\x{03FF}]",
    # Han + kana + hangul (the CJK content a Latin tokenizer mangles)
    "cjk": ("[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}"
            "\\x{AC00}-\\x{D7AF}]"),
    "arabic": "[\\x{0600}-\\x{06FF}]",
    "hebrew": "[\\x{0590}-\\x{05FF}]",
    "digit": "[0-9]",
}

# deterministic argmax order (ties break toward the earlier name)
_SCRIPT_ORDER = ("latin", "cyrillic", "greek", "cjk", "arabic",
                 "hebrew")


def script_counts(text: Column) -> Column:
    """Per-script character counts as one struct column — counted as
    ``length(text) − length(regexp_replace(text, class, ''))``, a pure
    projection (no explode, no UDF): 8 native regex passes per row,
    constant work per character. Fields: each ``SCRIPT_CLASSES`` key
    plus ``total`` (all chars) and ``other`` (chars in no class)."""
    total = F.length(text)
    fields = [total.alias("total")]
    classified = F.lit(0)
    for name, cls in SCRIPT_CLASSES.items():
        cnt = total - F.length(F.regexp_replace(text, cls, ""))
        fields.append(cnt.alias(name))
        classified = classified + cnt
    fields.append((total - classified).alias("other"))
    return F.struct(*fields)


def dominant_script(text: Column, min_ratio: float = 0.3) -> Column:
    """Name of the writing system covering the largest share of the
    text's LETTER-CLASS characters (digits/other excluded from the
    vote), or ``'unknown'`` when no script reaches ``min_ratio`` of
    the total length — short/numeric/garbage rows shouldn't claim a
    script. Ties break by the fixed ``_SCRIPT_ORDER``. Native
    greatest/when chain over :func:`script_counts`."""
    sc = script_counts(text)
    best = F.greatest(*[sc[n] for n in _SCRIPT_ORDER])
    expr = F.lit("unknown")
    # reversed so the EARLIEST order entry wins ties (last when() to
    # match wraps outermost)
    for name in reversed(_SCRIPT_ORDER):
        expr = F.when(
            (sc[name] == best)
            & (sc[name] >= F.lit(float(min_ratio)) * sc["total"])
            & (sc[name] > 0), F.lit(name)).otherwise(expr)
    return expr


def zipf_fit(df, text_col: str = "text",
             max_rank: int | None = None,
             min_count: int = 1):
    """Zipf's-law fit of the corpus word-frequency distribution: one
    row ``(n_types, n_tokens, zipf_slope, zipf_r2)`` where the slope
    is the least-squares fit of log(freq) on log(rank) (Zipf's law
    predicts ≈ −1; a much flatter slope flags templated/generated
    text, a steeper one flags boilerplate domination — a standard
    corpus-health diagnostic).

    Plan: ONE word-count aggregate (map-side combined), rank by
    frequency (ties broken by term so the order — and any SQL
    replay — is total), then the closed-form regression via native
    ``regr_slope``/``regr_r2`` sufficient-statistic aggregates: two
    aggregates and one window total, no iteration, no driver math.
    ``max_rank`` fits only the head (the tail's integer plateaus bias
    the slope; 1000 is a common choice).

    Scale note: the rank window runs over the VOCABULARY table, not
    the corpus — bounded, but at web scale the noise-token tail can
    still be huge; set ``min_count`` (drops the tail BEFORE the
    window, a plain filter on the aggregate) and ``max_rank`` so the
    single-partition rank sees only the head it fits.
    """
    wf = word_frequencies(df, text_col)
    if int(min_count) > 1:
        wf = wf.filter(F.col("freq") >= int(min_count))
    w = Window.orderBy(F.col("freq").desc(), F.col("word").asc())
    ranked = wf.withColumn("rank", F.row_number().over(w))
    if max_rank is not None:
        ranked = ranked.filter(F.col("rank") <= int(max_rank))
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("freq").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("freq").alias("n_tokens"),
        F.round(F.regr_slope(ly, lx), 6).alias("zipf_slope"),
        F.round(F.regr_r2(ly, lx), 6).alias("zipf_r2"))
