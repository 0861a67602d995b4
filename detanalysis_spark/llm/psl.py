"""Public Suffix List (PSL) backed registered-domain extraction.

The provenance gates in :mod:`detanalysis_spark.llm.cleaning` group and
filter web documents by *registered domain* (eTLD+1).  The heuristic
:func:`~detanalysis_spark.llm.cleaning.registered_domain` covers the
common ccTLD families with a bounded literal set; this module is the
exact path: the full PSL algorithm (https://publicsuffix.org/list/,
public specification) over the complete list, vendored in-tree, or
any PSL-format file passed via ``psl_path`` or named by
``$DETANALYSIS_PSL_PATH``.

Reference parity: the reference engine keys provenance on filename /
series identity (``/root/reference/detanalysis/analyzer.py:1061-1100``);
a web-corpus engine keys it on registered domain, which needs the PSL
to be correct for ccTLDs (``bbc.co.uk`` must not group under ``co.uk``).

Scale design — the matcher is a *plan*, not a UDF: rule tables are tiny
(the full PSL is ~10k rows), so matching is a chain of BROADCAST left
joins, one per candidate suffix depth, plus a native projection that
resolves PSL precedence (exception beats all, else longest match, else
the implicit ``*`` rule).  The corpus side never shuffles and never
leaves the JVM; at 100 TB this costs a handful of broadcast hash-probe
stages, each against a hash table of a few thousand entries.

PSL algorithm (from the public spec):
- A rule matches when the host's trailing labels equal the rule's
  labels; ``*`` matches exactly one label at its position.
- Exception rules (``!`` prefix) win outright; the public suffix is the
  exception rule minus its leftmost label.
- Otherwise the prevailing rule is the matching rule with the most
  labels; with no match the prevailing rule is ``*`` (the TLD itself).
- Registered domain = public suffix plus one more host label; a host
  that IS a public suffix has no registered domain (NULL).
"""
from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import local_frame as _local_frame

__all__ = [
    "PslRules", "load_psl", "default_psl", "registered_domain_py",
    "public_suffix_py", "registered_domain_psl",
]

# the COMPLETE list, vendored in-tree (installed from the Debian
# ``publicsuffix`` package's copy of the publicsuffix.org list, MPL
# 2.0, ~9.4k exact rules; point ``$DETANALYSIS_PSL_PATH`` at a newer
# copy to refresh)
_FULL = os.path.join(os.path.dirname(__file__), "data",
                     "public_suffix_list.dat")
# environment override — points default_psl() at any PSL-format file
_ENV = "DETANALYSIS_PSL_PATH"


@dataclass(frozen=True)
class PslRules:
    """Parsed PSL: exact suffixes, wildcard bases (rule minus ``*.``),
    exceptions (rule minus ``!``) — each with its label count."""
    exact: frozenset = field(default_factory=frozenset)
    wildcard: frozenset = field(default_factory=frozenset)
    exception: frozenset = field(default_factory=frozenset)

    @property
    def max_depth(self) -> int:
        """Deepest candidate-suffix label count any rule can need."""
        d = 1
        for s in self.exact:
            d = max(d, s.count(".") + 1)
        for s in self.wildcard:
            d = max(d, s.count(".") + 2)     # base + the * label
        for s in self.exception:
            d = max(d, s.count(".") + 1)
        return d


def load_psl(path: str, include_private: bool = True) -> PslRules:
    """Parse a PSL-format file. Comments (``//``), blank lines, and — when
    ``include_private`` is False — everything after the
    ``===BEGIN PRIVATE DOMAINS===`` marker are skipped."""
    exact, wildcard, exception = set(), set(), set()
    in_private = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if not line:
                continue
            if line.startswith("//"):
                if "===BEGIN PRIVATE DOMAINS===" in line:
                    in_private = True
                continue
            if in_private and not include_private:
                continue
            rule = line.split()[0].lower()
            if rule.startswith("!"):
                exception.add(rule[1:])
            elif rule.startswith("*."):
                wildcard.add(rule[2:])
            else:
                exact.add(rule)
    return PslRules(frozenset(exact), frozenset(wildcard),
                    frozenset(exception))


def psl_source() -> str:
    """Path of the rule file :func:`default_psl` resolves to, in
    priority order: ``$DETANALYSIS_PSL_PATH`` (any PSL-format file) →
    the vendored complete list (``data/public_suffix_list.dat``)."""
    return os.environ.get(_ENV) or _FULL


@lru_cache(maxsize=8)
def _load_cached(path: str, include_private: bool) -> PslRules:
    return load_psl(path, include_private=include_private)


def default_psl(include_private: bool = True) -> PslRules:
    """The default rule set (parsed once per (path, flag) per process)
    — see :func:`psl_source` for the resolution order.

    The complete publicsuffix.org list is vendored in-tree
    (``data/public_suffix_list.dat``, ~9.4k exact rules + wildcards +
    exceptions), so this resolves to the full list by default; point
    ``$DETANALYSIS_PSL_PATH`` at any newer PSL-format file to refresh
    it."""
    return _load_cached(psl_source(), include_private)


# ---------------------------------------------------------------------------
# pure-Python twin — the test oracle and driver-side single lookups
# ---------------------------------------------------------------------------
def public_suffix_py(host: str | None,
                     rules: PslRules | None = None) -> str | None:
    """Public suffix of ``host`` per the PSL algorithm (None for
    invalid hosts: empty, leading/trailing dot, empty label)."""
    rules = rules or default_psl()
    if not host:
        return None
    host = host.lower().rstrip(".")
    if not host:
        return None
    labels = host.split(".")
    if any(not lab for lab in labels):
        return None
    n = len(labels)
    # exception wins outright: suffix = exception minus leftmost label
    for d in range(n, 0, -1):
        cand = ".".join(labels[n - d:])
        if cand in rules.exception:
            return ".".join(labels[n - d + 1:]) if d > 1 else None
    best = 1                                  # the implicit '*' rule
    for d in range(1, n + 1):
        cand = ".".join(labels[n - d:])
        if cand in rules.exact:
            best = max(best, d)
        if d + 1 <= n and cand in rules.wildcard:
            best = max(best, d + 1)
    return ".".join(labels[n - best:])


def registered_domain_py(host: str | None,
                         rules: PslRules | None = None) -> str | None:
    """eTLD+1 of ``host`` (None when the host IS a public suffix or is
    invalid) — the publicsuffix.org ``checkPublicSuffix`` semantics."""
    rules = rules or default_psl()
    ps = public_suffix_py(host, rules)
    if ps is None:
        return None
    labels = host.lower().rstrip(".").split(".")
    k = ps.count(".") + 1
    if len(labels) <= k:
        return None
    return ".".join(labels[len(labels) - k - 1:])


# ---------------------------------------------------------------------------
# Spark plan — chained broadcast joins, corpus never shuffles
# ---------------------------------------------------------------------------
# ONE rule table per candidate depth, all three rule types merged as
# flag columns (exact / wildcard-base / exception) — so the join-chain
# length is max rule depth (~5 for the real PSL), not rule-types ×
# depths. A wildcard BASE of depth bd matches the depth-bd candidate
# but implies a public suffix one label deeper. Memoized per
# (session, rule set): iterating 9,498 rules and Arrow-converting the
# depth tables cost ~0.6s per matcher CALL before round 11 — the
# tables are immutable plans, safe to reuse across queries.
#
# Keying (ADVICE r11 medium): the SESSION key is a WeakKeyDictionary —
# a garbage-collected SparkSession drops its whole entry, so a new
# session allocated at a dead one's address can never see stale JVM
# plans and dead sessions never leak. The RULE key is the PslRules
# VALUE itself (frozen dataclass of frozensets → hashable, compared by
# content): the dict key pins the rules object alive, so id() recycling
# aliasing is impossible by construction, and two equal rule sets share
# one table build.
import weakref

_RULE_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()


def _rule_tables(spark: SparkSession, rules: PslRules
                 ) -> list[tuple[int, DataFrame, bool, bool, bool]]:
    try:
        per_session = _RULE_TABLE_CACHE.setdefault(spark, {})
    except TypeError:       # session not weakref-able: build uncached
        per_session = {}
    hit = per_session.get(rules)
    if hit is not None:
        return hit
    merged: dict[int, dict[str, list[bool]]] = {}

    def put(s: str, d: int, kind: int) -> None:
        ent = merged.setdefault(d, {}).setdefault(s, [False] * 3)
        ent[kind] = True

    for s in rules.exact:
        d = s.count(".") + 1
        if d > 1:      # depth-1 exact rules behave like the '*' default
            put(s, d, 0)
    for s in rules.wildcard:
        put(s, s.count(".") + 1, 1)
    for s in rules.exception:
        put(s, s.count(".") + 1, 2)
    out = []
    for d in sorted(merged):
        tbl = _local_frame(spark,
            [(s, *fl) for s, fl in sorted(merged[d].items())],
            f"__psl_s{d}__ string, __psl_e{d}__ boolean, "
            f"__psl_w{d}__ boolean, __psl_x{d}__ boolean")
        out.append((d, tbl,
                    any(fl[0] for fl in merged[d].values()),
                    any(fl[1] for fl in merged[d].values()),
                    any(fl[2] for fl in merged[d].values())))
    per_session[rules] = out
    return out


def registered_domain_psl(df: DataFrame, host_col: str,
                          out_col: str = "registered_domain",
                          suffix_col: str | None = None,
                          rules: PslRules | None = None,
                          psl_path: str | None = None,
                          include_private: bool = True) -> DataFrame:
    """Append the exact PSL registered domain (and optionally the
    public suffix) of ``host_col`` to ``df``.

    One BROADCAST left join per candidate depth present in the rule
    set (exact / wildcard-base / exception tables), then a native
    precedence projection — no corpus-side shuffle, no Python in the
    row path.  Invalid hosts (NULL, empty label, bare public suffix)
    yield NULL, matching :func:`registered_domain_py` exactly.

    Exactness holds RELATIVE TO THE RESOLVED RULE LIST (see
    :func:`psl_source`): the complete publicsuffix.org list is
    vendored in-tree, so the default is exact against the real PSL;
    ``$DETANALYSIS_PSL_PATH`` or ``psl_path=`` substitute a newer
    copy per deployment / per call.
    """
    if psl_path is not None:
        rules = load_psl(psl_path, include_private=include_private)
    rules = rules or default_psl(include_private=include_private)
    spark = df.sparkSession

    # Hot path is pure byte-wise string ops — no regex, no arrays
    # (round 11: the regex split + per-depth slice/array_join build
    # was ~40% of the matcher's per-row cost at 10M docs). Trailing
    # dots strip through a conditional so the regex only ever runs on
    # the rare FQDN-root rows; the label count is a replace-length
    # diff; every candidate suffix is one substring_index.
    raw = F.lower(F.col(host_col))
    h = F.when(raw.endswith("."),
               F.regexp_replace(raw, r"\.+$", "")).otherwise(raw)
    valid = h.isNotNull() & (h != "") & ~h.contains("..") \
        & ~h.startswith(".")
    n = (F.length(h) - F.length(F.replace(h, F.lit("."), F.lit("")))
         + F.lit(1))

    work = df.withColumn("__psl_h__", h) \
             .withColumn("__psl_n__", n) \
             .withColumn("__psl_ok__", valid)

    def cand(d: int) -> Column:
        return F.substring_index(F.col("__psl_h__"), ".", -d)

    flags: list[tuple[int, str]] = []          # (match depth, col)
    exc_flags: list[tuple[int, str]] = []      # (rule depth, col)

    for d, tbl, has_e, has_w, has_x in _rule_tables(spark, rules):
        work = (work.withColumn(
                    f"__psl_c{d}__",
                    F.when(F.col("__psl_n__") >= d, cand(d)))
                .join(F.broadcast(tbl),
                      F.col(f"__psl_c{d}__") == F.col(f"__psl_s{d}__"),
                      "left"))
        if has_e:
            flags.append((d, f"__psl_e{d}__"))
        if has_w:
            flags.append((d + 1, f"__psl_w{d}__"))  # base match ⇒ d+1
        if has_x:
            exc_flags.append((d, f"__psl_x{d}__"))

    # precedence: exception ⇒ depth rule_d - 1; else max matched depth
    # (wildcard needs one MORE host label); else the implicit '*' rule
    ps_depth = F.lit(1)
    depth_terms = [F.lit(1)]
    for d, c in flags:
        cond = F.col(c)
        if c.startswith("__psl_w"):
            cond = cond & (F.col("__psl_n__") >= d)
        depth_terms.append(F.when(cond, F.lit(d)).otherwise(F.lit(1)))
    if len(depth_terms) > 1:
        ps_depth = F.greatest(*depth_terms)
    # ascending, so the DEEPEST exception's when() wraps outermost —
    # per the spec the most-labels exception rule prevails (matters
    # only for hand-built rule sets; the real PSL nests no exceptions)
    for d, c in sorted(exc_flags):
        ps_depth = F.when(F.col(c), F.lit(d - 1)).otherwise(ps_depth)

    # materialize the precedence depth as its OWN column, then build
    # the outputs from the attribute: the depth expression (a
    # greatest-of-CASEs over every rule flag) is referenced ~4 times
    # below, and inlining it at each reference blew the generated
    # code past JIT limits — measured 3x the whole matcher's cost
    # once a downstream filter referenced the domain column.
    # CollapseProject keeps the split (non-cheap, multiply-referenced
    # alias), so the chain stays one codegen stage with the depth
    # evaluated once per row.
    work = work.withColumn("__psl_depth__", ps_depth)
    dep = F.col("__psl_depth__")
    nn = F.col("__psl_n__")
    hh = F.col("__psl_h__")
    # the python wrapper pins count to int — call the SQL function
    # directly for the column-valued depth
    ps = F.when(F.col("__psl_ok__") & (dep > 0) & (nn >= dep),
                F.call_function("substring_index", hh, F.lit("."),
                                -dep))
    reg = F.when(F.col("__psl_ok__") & (nn > dep) & (dep > 0),
                 F.call_function("substring_index", hh, F.lit("."),
                                 -(dep + F.lit(1))))

    out = work.withColumn(out_col, reg)
    if suffix_col is not None:
        out = out.withColumn(suffix_col, ps)
    drop = [c for c in out.columns if c.startswith("__psl_")]
    return out.drop(*drop)
