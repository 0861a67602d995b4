"""Core event-table engine: load, cuts, derived features, global filter.

Re-expresses the reference's ``Analyzer`` (detanalysis/analyzer.py) on
Spark. The reference keeps two Vaex views — ``_df_full`` (master) and
``_df`` (after a "global filter") — plus named boolean cut columns and
lazy virtual columns (analyzer.py:47-49, 263-265, 474). Here the master
is one immutable DataFrame; cuts and features are *registered
expressions* (Catalyst ``Column`` trees), and the working view is
``master.filter(global_filter)`` — lazy, zero-copy, and fully visible to
the optimizer (predicate pushdown into the Parquet scan).

Scale notes (100 TB):
- Cuts stay lazy predicates by default. Materializing every cut as a
  boolean column on a 100 TB table (the reference's approach,
  analyzer.py:263-265) would rewrite the dataset; instead
  ``materialize_cuts`` writes a narrow sidecar table
  ``(__event_index__, <cut flags>)`` that joins back on the stable row
  id — a classic cut-table pattern.
- Row identity ``__event_index__`` is assigned once at ingest and
  persisted (SURVEY §7.4-2); never derived at query time.
- NumPy-mask cuts (P2) become joins on ``__event_index__`` against a
  small flag DataFrame — no driver-side full-column materialization.

Range memo (the Vaex result cache, analyzer.py:71-72, for the one
statistic every edge, limit, fit and pick needs): ``df_full`` and ``df``
return the same DataFrame object until their state changes, and each
such view carries a ``{column: (min, max)}`` memo
(``operators.stats.column_ranges``). The first range a view is asked
for costs one aggregate that also fetches every stored numeric column
(never a registered feature, so no UDF runs speculatively); every later
range on that view object is free. ``register_feature`` gives a new
``df_full`` that keeps the stored columns' ranges; a global-filter
change gives a new ``df`` with an empty memo; replacing the master
(``add_files``) drops every range. Non-deterministic and streaming
views are never memoized. The memo is per view object, so nothing hits
across two Analyzers or two loads of the same files, and a live
DataFrame whose files are rewritten in place must be re-read (a new
Analyzer) to see the new ranges.

Reference parity citations are given per method (file:line into
/root/reference/detanalysis/analyzer.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.stats import known_ranges, memoize_ranges

EVENT_INDEX = "__event_index__"

_NUM_TYPES = ("double", "float", "bigint", "int", "smallint", "tinyint")

_FILTER_MODES = ("replace", "and", "or", "xor", "subtract")


@dataclass
class CutInfo:
    """Metadata carried with every registered cut (analyzer.py:304-326)."""

    name: str
    expression: str | None  # SQL text when known (None for opaque Columns/masks)
    column: Column = field(repr=False, default=None)
    metadata: dict = field(default_factory=dict)


@dataclass
class FeatureInfo:
    """Metadata for a derived (virtual) feature (analyzer.py:456-480)."""

    name: str
    expression: str | None
    column: Column = field(repr=False, default=None)
    metadata: dict = field(default_factory=dict)


def ensure_event_index(df: DataFrame, order_by: Sequence[str] | None = None,
                       out_col: str = EVENT_INDEX) -> DataFrame:
    """Assign the permanent row id at ingest (analyzer.py:563-565).

    The reference does ``np.arange(len(df))``. Distributed equivalent
    without a global sort: zipWithIndex-style two-pass — (1) one tiny
    aggregate collects per-partition row counts, (2) the dense id is
    ``partition_offset + within-partition counter``, applied via a
    broadcast join on the partition id. No ``Exchange SinglePartition``
    anywhere in the plan, so this holds at 100 TB (the per-partition
    stats frame has one row per task).

    ``order_by``: when given, rows are range-repartitioned and sorted
    within partitions on those columns first; range-partition ids
    ascend with the key ranges, so the dense id respects the global
    ordering. Pass a unique tiebreaker column (e.g. a file offset) for
    run-to-run determinism on duplicate keys.

    This is a one-time ingest cost — the id is persisted to Parquet and
    never recomputed at query time. No-op if the column exists.
    """
    if out_col in df.columns:
        return df
    if order_by:
        cols = [F.col(c) for c in order_by]
        df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    tagged = df.withColumn("__pid__", F.spark_partition_id()) \
               .withColumn("__mid__", F.monotonically_increasing_id())
    stats = (tagged.groupBy("__pid__")
             .agg(F.count(F.lit(1)).alias("n"), F.min("__mid__").alias("m0"))
             .orderBy("__pid__").collect())
    rows, acc = [], 0
    for r in stats:
        rows.append((r["__pid__"], acc, r["m0"]))
        acc += r["n"]
    from .util import local_frame
    off = local_frame(df.sparkSession,
                      rows, "__pid__ int, __off__ long, __m0__ long")
    return (tagged.join(F.broadcast(off), "__pid__")
            .withColumn(out_col,
                        (F.col("__off__") + F.col("__mid__") - F.col("__m0__")).cast("long"))
            .drop("__pid__", "__mid__", "__off__", "__m0__"))


class Analyzer:
    """PySpark-native equivalent of detanalysis ``Analyzer``.

    Parameters
    ----------
    df : the master event DataFrame (``_df_full`` analog).
    spark : owning session (kept for SQL parsing and small-frame builds).
    """

    def __init__(self, df: DataFrame, spark: SparkSession | None = None):
        self._spark = spark or df.sparkSession
        self._df_full = df
        self._cuts: dict[str, CutInfo] = {}
        self._features: dict[str, FeatureInfo] = {}
        self._global_filter: Column | None = None
        self._global_filter_desc: list[str] = []
        self._ids_seq = iter(range(1_000_000_000))
        # temp views registered by _ids_to_predicate, keyed by cut
        # name: dropped on cut overwrite and on clean() so a long-lived
        # session doing thousands of mask cuts keeps the catalog (and
        # the id frames' pinned lineage) bounded
        self._cut_views: dict[str, list[str]] = {}

    # ------------------------------------------------------------------
    # loading (S1-S5)
    # ------------------------------------------------------------------
    @classmethod
    def from_parquet(cls, spark: SparkSession, *paths: str,
                     series: Iterable[Any] | None = None,
                     order_by: Sequence[str] | None = None) -> "Analyzer":
        """Multi-file scan (S1): ``vx.open_many`` → ``spark.read.parquet``.

        ``series`` filters by the ``series_number`` column — the Spark
        analog of the reference's filename-substring series selection
        (analyzer.py:1061-1100): with the table partitioned by
        ``series_number`` this prunes entire partitions at plan time.
        """
        df = spark.read.parquet(*paths)
        if series is not None:
            vals = list(series)
            if "series_number" in df.columns:
                df = df.filter(F.col("series_number").isin(vals))
        df = ensure_event_index(df, order_by=order_by)
        return cls(df, spark)

    def add_files(self, *paths: str, replace: bool = False) -> "Analyzer":
        """Incremental append (S4, analyzer.py:539-548): widen the scan.

        The reference re-numbers the concatenated frame
        (analyzer.py:563-565); here appended rows get ids offset past
        ``max(existing)+1`` — existing ids are untouched, so registered
        id-based cuts stay valid (one tiny aggregate per append).
        Registered cuts/features survive (they are expressions, not data).
        """
        self._ensure_ids()
        new = ensure_event_index(self._spark.read.parquet(*paths))
        if replace:
            self._df_full = new
            return self
        offset = self._df_full.agg(F.max(EVENT_INDEX)).collect()[0][0]
        offset = (offset if offset is not None else -1) + 1
        new = new.withColumn(EVENT_INDEX, (F.col(EVENT_INDEX) + F.lit(offset)).cast("long"))
        self._df_full = self._df_full.unionByName(new, allowMissingColumns=True)
        return self

    def clean(self) -> "Analyzer":
        """Reload/reset (S5, analyzer.py:526-537): drop cuts, features,
        filter, and the temp views mask cuts registered."""
        self._cuts.clear()
        before = set(self._features)
        self._features.clear()
        self._features_changed(before)
        self._drop_cut_views()
        self.drop_global_filter()
        return self

    # ------------------------------------------------------------------
    # introspection properties (analyzer.py:82-133)
    # ------------------------------------------------------------------
    @property
    def nevents(self) -> int:
        """Row count of the working (filtered) view (analyzer.py:94-96).
        Triggers one count action — Spark has no cached len()."""
        return self.df.count()

    @property
    def nfiles(self) -> int:
        """Number of files behind the master scan (analyzer.py:98-100)."""
        return len(self._df_full.inputFiles())

    @property
    def file_names(self) -> list[str]:
        """O1: sorted distinct backing files (analyzer.py:106-111)."""
        return sorted(self._df_full.inputFiles())

    @property
    def feature_names(self) -> list[str]:
        """All selectable columns incl. registered lazy features
        (analyzer.py:106-111)."""
        return self.df_full.columns

    @property
    def nfeatures(self) -> int:
        return len(self.feature_names)

    @property
    def is_df_filtered(self) -> bool:
        """True when a global filter is active (analyzer.py:90-92)."""
        return self._global_filter is not None

    def list_cuts(self) -> list[str]:
        """Registered cut names (analyzer.py:113-115)."""
        return sorted(self._cuts)

    def get_unit(self, feature_exp: str) -> str | None:
        """Unit string from feature metadata (analyzer.py:135-136; Vaex
        tracked units on the frame — here they live in the registered
        feature's metadata under ``'unit'``)."""
        info = self._features.get(feature_exp)
        return info.metadata.get("unit") if info is not None else None

    # ------------------------------------------------------------------
    # views (each one object with one range memo, see module docstring)
    # ------------------------------------------------------------------
    @property
    def _df_full(self) -> DataFrame:
        """The master DataFrame (no features, no filter)."""
        return self._master

    @_df_full.setter
    def _df_full(self, df: DataFrame) -> None:
        # new data: both views and every known range start over
        self._master = df
        self._views: dict[str, DataFrame] = {}
        self._carried: dict[str, dict] = {}

    def _features_changed(self, before: set[str]) -> None:
        """Same rows, other columns: both views are rebuilt on next use,
        and the new ``df_full`` keeps the known ranges of stored columns
        that no feature shadowed before or shadows now."""
        full = self._views.get("full")
        known = (known_ranges(full) if full is not None
                 else self._carried.get("full")) or {}
        skip = before | set(self._features)
        stored = set(self._master.columns)
        self._carried = {"full": {c: r for c, r in known.items()
                                  if c in stored and c not in skip}}
        self._views = {}

    def _view(self, key: str, build: Callable[[], DataFrame]) -> DataFrame:
        """The cached view ``key``, built and memoized on first use."""
        view = self._views.get(key)
        if view is None:
            view = self._views[key] = build()
            memoize_ranges(view, [c for c, t in self._master.dtypes
                                  if t in _NUM_TYPES
                                  and c not in self._features],
                           self._carried.pop(key, {}))
        return view

    @property
    def df_full(self) -> DataFrame:
        """Master view with registered features attached lazily.

        Features are added via ``withColumns`` — Catalyst prunes any the
        downstream plan doesn't touch, so an unused registered feature
        costs nothing (same laziness as Vaex virtual columns,
        analyzer.py:474).
        """
        def build() -> DataFrame:
            if not self._features:
                return self._master
            return self._master.withColumns(
                {n: f.column for n, f in self._features.items()})
        return self._view("full", build)

    @property
    def df(self) -> DataFrame:
        """Working view = master filtered by the global filter
        (analyzer.py:267-286 ``_refresh_df_view``). Lazy — no copy; with
        no filter it is ``df_full`` itself."""
        if self._global_filter is None:
            return self.df_full
        return self._view("filtered",
                          lambda: self.df_full.filter(self._global_filter))

    # ------------------------------------------------------------------
    # predicate resolution (P1/P2)
    # ------------------------------------------------------------------
    def resolve_cut(self, cut: Any) -> Column | None:
        """Polymorphic predicate resolution (P1, analyzer.py:204-234).

        Accepts: None → identity; a registered cut name; a boolean column
        name present in the schema; a SQL expression string; a Column; a
        DataFrame of row ids (mask analog, see ``cut_from_event_ids``).
        """
        if cut is None:
            return None
        if isinstance(cut, Column):
            return cut
        if isinstance(cut, str):
            if cut in self._cuts:
                return self._cuts[cut].column
            if cut in self._features:
                return self._features[cut].column.cast("boolean")
            if cut in self._df_full.columns:
                return F.col(cut).cast("boolean")
            return F.expr(cut)  # SQL string — Spark parses natively
        if isinstance(cut, DataFrame):
            return self._ids_to_predicate(cut)
        raise TypeError(f"unsupported cut specifier: {type(cut)!r}")

    def _ensure_ids(self) -> None:
        """Lazily assign the permanent row id the first time an
        id-dependent path (mask cuts, semi-joins, id projections,
        sampling) needs it. Hand-built Analyzers therefore never hit a
        missing-``__event_index__`` failure, while Analyzers that only
        run expression cuts/aggregates never pay the (small) two-pass
        id-assignment job. No-op when the column already exists (e.g.
        ``from_parquet`` ingest)."""
        if EVENT_INDEX not in self._df_full.columns:
            self._df_full = ensure_event_index(self._df_full)

    def _ids_to_predicate(self, ids: DataFrame, name: str = "anon") -> Column:
        """Mask → predicate, any cardinality, zero driver transfer.

        The id frame is registered as a temp view and the predicate is an
        ``IN (SELECT ...)`` subquery — Catalyst rewrites it to a left-semi
        (or existence) join, AQE broadcasts the small side. Unlike an
        IN-list there is no size cap and no ``collect()`` in the hot path,
        and the resulting Column composes through cut algebra, global
        filters, and projections (tested: Spark plans existence joins for
        boolean-context subqueries).
        """
        self._ensure_ids()
        safe = "".join(ch if ch.isalnum() else "_" for ch in name)
        view = f"__cut_ids_{safe}_{next(self._ids_seq)}__"
        ids.select(EVENT_INDEX).createOrReplaceTempView(view)
        self._cut_views.setdefault(name, []).append(view)
        return F.expr(f"{EVENT_INDEX} IN (SELECT {EVENT_INDEX} FROM {view})")

    def _drop_cut_views(self, name: str | None = None) -> None:
        """Unregister the temp views behind mask cuts — ``name``'s on
        overwrite, or every tracked view on ``clean()``."""
        names = [name] if name is not None else list(self._cut_views)
        for n in names:
            for view in self._cut_views.pop(n, []):
                self._spark.catalog.dropTempView(view)

    def _subset_df(self, df: DataFrame, cut: Any) -> DataFrame:
        """Filtered frame under a polymorphic cut (analyzer.py:204-234)."""
        if cut is None:
            return df
        if isinstance(cut, DataFrame):
            # J1 semi-join on row identity (analyzer.py:236-244)
            self._ensure_ids()
            return df.join(cut.select(EVENT_INDEX), EVENT_INDEX, "left_semi")
        return df.filter(self.resolve_cut(cut))

    # ------------------------------------------------------------------
    # cut registration (analyzer.py:304-326)
    # ------------------------------------------------------------------
    def register_cut(self, expression: Any, name: str,
                     metadata: Mapping | None = None,
                     overwrite: bool = False) -> CutInfo:
        if name in self._cuts and not overwrite:
            raise ValueError(f"cut {name!r} already registered (pass overwrite=True)")
        col = self.resolve_cut(expression)
        if col is None:
            raise ValueError("cannot register a None cut")
        text = expression if isinstance(expression, str) else None
        info = CutInfo(name=name, expression=text, column=col.cast("boolean"),
                       metadata=dict(metadata or {}))
        self._cuts[name] = info
        return info

    def register_cut_box(self, features: Sequence[str], limits: Sequence[Sequence[float]],
                         name: str, metadata: Mapping | None = None,
                         overwrite: bool = False) -> CutInfo:
        """Rectangular cut (P4, analyzer.py:328-357): AND of betweens."""
        if len(features) != len(limits):
            raise ValueError("features and limits must have equal length")
        col = F.lit(True)
        parts = []
        for feat, (lo, hi) in zip(features, limits):
            fcol = (self._features[feat].column if feat in self._features
                    else F.expr(feat))
            col = col & fcol.between(F.lit(lo), F.lit(hi))
            parts.append(f"{feat} BETWEEN {lo} AND {hi}")
        info = CutInfo(name=name, expression=" AND ".join(parts),
                       column=col, metadata=dict(metadata or {}))
        if name in self._cuts and not overwrite:
            raise ValueError(f"cut {name!r} already registered")
        self._cuts[name] = info
        return info

    def cut_from_event_ids(self, ids: DataFrame | Sequence[int], name: str,
                           metadata: Mapping | None = None) -> CutInfo:
        """Mask-style cut from row identities (P2/P3, analyzer.py:236-265).

        The reference converts a selection on a view into a full-table
        boolean mask via ``np.isin``. Distributed: small literal id
        lists inline as an IN-list (pushed into the Parquet scan); any
        DataFrame of ids — no size cap — becomes an IN-subquery that
        Catalyst plans as a semi/existence join.
        """
        self._ensure_ids()
        # overwriting a mask cut (with either branch): its previous id
        # views are now unreachable — drop them so repeated overwrites
        # stay bounded even when a DataFrame cut is replaced by a
        # literal-list cut of the same name
        self._drop_cut_views(name)
        if not isinstance(ids, DataFrame):
            id_list = [int(x) for x in ids]
            col = F.col(EVENT_INDEX).isin(id_list)
            info = CutInfo(name=name, expression=None, column=col,
                           metadata={**(metadata or {}), "n_ids": len(id_list)})
            self._cuts[name] = info
            return info
        col = self._ids_to_predicate(ids, name)
        info = CutInfo(name=name, expression=None, column=col,
                       metadata=dict(metadata or {}))
        self._cuts[name] = info
        return info

    def combine_cuts(self, cuts: Sequence[Any], name: str, mode: str = "and",
                     metadata: Mapping | None = None,
                     overwrite: bool = False) -> CutInfo:
        """Boolean cut algebra (E2, analyzer.py:379-417).

        modes: and, or, xor, subtract (= AND NOT, left fold).
        """
        if mode not in ("and", "or", "xor", "subtract"):
            raise ValueError(f"bad mode {mode!r}")
        if not cuts:
            raise ValueError("combine_cuts requires at least one input cut")
        if name in self._cuts and not overwrite:
            raise ValueError(f"cut {name!r} already registered (pass overwrite=True)")
        cols = [self.resolve_cut(c) for c in cuts]
        acc = cols[0]
        for c in cols[1:]:
            if mode == "and":
                acc = acc & c
            elif mode == "or":
                acc = acc | c
            elif mode == "xor":
                acc = acc.cast("boolean") != c.cast("boolean")
            else:  # subtract
                acc = acc & ~c
        info = CutInfo(name=name, expression=None, column=acc.cast("boolean"),
                       metadata={**(metadata or {}), "mode": mode,
                                 "inputs": [str(c) for c in cuts]})
        self._cuts[name] = info
        return info

    def get_cuts(self) -> dict[str, CutInfo]:
        return dict(self._cuts)

    # ------------------------------------------------------------------
    # derived features (analyzer.py:456-480)
    # ------------------------------------------------------------------
    def register_feature(self, expression: str | Column, name: str,
                         metadata: Mapping | None = None,
                         overwrite: bool = False) -> FeatureInfo:
        if name in self._features and not overwrite:
            raise ValueError(f"feature {name!r} already registered")
        col = F.expr(expression) if isinstance(expression, str) else expression
        info = FeatureInfo(name=name, expression=expression if isinstance(expression, str) else None,
                           column=col, metadata=dict(metadata or {}))
        before = set(self._features)
        self._features[name] = info
        self._features_changed(before)
        return info

    def get_features(self) -> dict[str, FeatureInfo]:
        return dict(self._features)

    # reference method name (analyzer.py:460-480)
    add_feature = register_feature

    # ------------------------------------------------------------------
    # selection persistence + plugin repo (analyzer.py:359-377, 482-525, 816-829)
    # ------------------------------------------------------------------
    def save_current_selection(self, name: str, metadata: Mapping | None = None,
                               overwrite: bool = False) -> CutInfo:
        """Freeze the active global filter as a named cut
        (analyzer.py:359-377). The reference materializes the widget
        mask into a boolean column; here the filter predicate itself is
        registered — lazy, and still valid after the filter changes."""
        if self._global_filter is None:
            raise ValueError("no global filter active — nothing to save")
        meta = dict(metadata or {})
        meta.setdefault("source", "global_filter")
        meta.setdefault("description", self.global_filter_description)
        return self.register_cut(self._global_filter, name,
                                 metadata=meta, overwrite=overwrite)

    def set_analysis_repo(self, repo_path: str, load_func: bool = True) -> None:
        """Attach a cut/feature script repository (analyzer.py:816-829):
        remembers the path (git metadata is captured per-load by the
        registry) and optionally loads ``cuts/`` and ``features/``."""
        self._analysis_repo_path = repo_path
        if load_func:
            self.load_derived_features()
            self.load_cuts()

    def _find_plugin_dir(self, explicit: str | None, leaf: str) -> str | None:
        if explicit is not None:
            return explicit
        root = getattr(self, "_analysis_repo_path", None)
        if root is None:
            return None
        cand = os.path.join(root, leaf)
        if os.path.isdir(cand):
            return cand
        for dirpath, dirnames, _ in os.walk(root):
            if leaf in dirnames:
                return os.path.join(dirpath, leaf)
        return None

    def load_cuts(self, cuts_path: str | None = None,
                  overwrite: bool = False) -> list[str]:
        """Load cut scripts (analyzer.py:482-500) via the plugin
        registry (version gate + git capture). Returns loaded names."""
        from .registry import load_plugins
        path = self._find_plugin_dir(cuts_path, "cuts")
        if path is None or not os.path.isdir(path):
            return []
        return load_plugins(self, path, is_cut=True,
                            repo_dir=getattr(self, "_analysis_repo_path", None),
                            overwrite=overwrite)

    def load_derived_features(self, features_path: str | None = None,
                              overwrite: bool = False) -> list[str]:
        """Load feature scripts (analyzer.py:502-525)."""
        from .registry import load_plugins
        path = self._find_plugin_dir(features_path, "features")
        if path is None or not os.path.isdir(path):
            return []
        return load_plugins(self, path, is_cut=False,
                            repo_dir=getattr(self, "_analysis_repo_path", None),
                            overwrite=overwrite)

    # ------------------------------------------------------------------
    # global filter (P5, analyzer.py:419-454)
    # ------------------------------------------------------------------
    def apply_global_filter(self, cut: Any, mode: str = "replace") -> None:
        if mode not in _FILTER_MODES:
            raise ValueError(f"mode must be one of {_FILTER_MODES}")
        new = self.resolve_cut(cut)
        cur = self._global_filter
        self._views.pop("filtered", None)
        if cur is None or mode == "replace":
            self._global_filter = new
            self._global_filter_desc = [str(cut)]
        elif mode == "and":
            self._global_filter = cur & new
            self._global_filter_desc.append(f"AND {cut}")
        elif mode == "or":
            self._global_filter = cur | new
            self._global_filter_desc.append(f"OR {cut}")
        elif mode == "xor":
            self._global_filter = cur.cast("boolean") != new.cast("boolean")
            self._global_filter_desc.append(f"XOR {cut}")
        elif mode == "subtract":
            self._global_filter = cur & ~new
            self._global_filter_desc.append(f"AND NOT {cut}")

    def drop_global_filter(self) -> None:
        self._views.pop("filtered", None)
        self._global_filter = None
        self._global_filter_desc = []

    @property
    def global_filter_description(self) -> str:
        return " ".join(self._global_filter_desc)

    # ------------------------------------------------------------------
    # evaluation & introspection
    # ------------------------------------------------------------------
    def select_expr(self, *expressions: str, cut: Any = None) -> DataFrame:
        """Lazy projection of expressions under an optional cut (P8)."""
        return self._subset_df(self.df, cut).selectExpr(*expressions)

    def get_values(self, expression: str, cut: Any = None):
        """Eager expression evaluation (analyzer.py:292-298) — the one
        intentional driver-transfer boundary; returns a numpy array via
        Arrow."""
        pdf = (self._subset_df(self.df, cut)
               .select(F.expr(expression).alias("v")).toPandas())
        return pdf["v"].to_numpy()

    def count(self, cut: Any = None) -> int:
        """A1: row count under the working view + optional cut."""
        return self._subset_df(self.df, cut).count()

    def sql(self, query: str, view: str = "events",
            cut: Any = None) -> DataFrame:
        """ANSI-SQL over the working view (global filter applied; named
        cuts become BOOLEAN columns ``cut_<name>`` so SQL can filter on
        them): registers the frame as ``view`` and runs ``query``
        through Catalyst — the full declarative surface for users who
        prefer SQL to the DataFrame API. Lazy; same plan quality as the
        method API."""
        df = self._subset_df(self.df, cut)
        for name in self.list_cuts():
            pred = self.resolve_cut(name)
            if pred is not None:
                df = df.withColumn(f"cut_{name}", pred)
        df.createOrReplaceTempView(view)
        return self._spark.sql(query)

    def describe(self, columns: Sequence[str] | None = None) -> "Any":
        """Column stats (analyzer.py:116-133): one distributed agg pass
        computing count/mean/std/min/max for every numeric column — one
        action, map-side combined, no per-column scans. The min/max it
        computes anyway go into the view's range memo."""
        df = self.df
        cols = [c for c, t in df.dtypes
                if (columns is None or c in columns) and t in _NUM_TYPES]
        aggs = []
        for c in cols:
            aggs += [F.count(c).alias(f"{c}__count"), F.avg(c).alias(f"{c}__mean"),
                     F.stddev_samp(c).alias(f"{c}__std"), F.min(c).alias(f"{c}__min"),
                     F.max(c).alias(f"{c}__max")]
        row = df.agg(*aggs).collect()[0].asDict()
        import pandas as pd
        out = {c: {s: row[f"{c}__{s}"] for s in ("count", "mean", "std", "min", "max")}
               for c in cols}
        known = known_ranges(df)
        if known is not None:
            known.update((c, (out[c]["min"], out[c]["max"])) for c in cols)
        return pd.DataFrame(out)

    def get_event_list(self, cut: Any = None, nb_events_limit: int = 5000,
                       nb_random_samples: int | None = None, seed: int = 42) -> list[dict]:
        """Projection of id columns (P9, analyzer.py:949-1004), legacy-name
        aware, with optional exact-n random sample (O3)."""
        df = self._subset_df(self.df, cut)
        colmap = {"series_number": ["series_number", "seriesnumber"],
                  "event_number": ["event_number", "eventnumber"],
                  "group_name": ["group_name"], "trigger_index": ["trigger_index"]}
        sel = []
        for canon, variants in colmap.items():
            for v in variants:
                if v in df.columns:
                    sel.append(F.col(v).alias(canon))
                    break
        df = df.select(*sel)
        if nb_random_samples:
            df = df.orderBy(F.rand(seed)).limit(nb_random_samples)
        else:
            df = df.limit(nb_events_limit)
        return [r.asDict() for r in df.collect()]

    # ------------------------------------------------------------------
    # materialization (S11)
    # ------------------------------------------------------------------
    def materialize_cuts(self, path: str, cuts: Sequence[str] | None = None,
                         mode: str = "overwrite") -> None:
        """Persist cuts as a sidecar flag table keyed by row id.

        At 100 TB you never rewrite the fact table to add a boolean; you
        write ``(__event_index__, flag...)`` and semi-join it back. The
        sidecar inherits the master's partitioning so the join is
        co-partitioned.
        """
        self._ensure_ids()
        names = list(cuts or self._cuts)
        flags = [self._cuts[n].column.alias(n) for n in names]
        keep = [EVENT_INDEX] + (["series_number"] if "series_number" in self._df_full.columns else [])
        out = self.df_full.select(*keep, *flags)
        writer = out.write.mode(mode)
        if "series_number" in keep:
            writer = writer.partitionBy("series_number")
        writer.parquet(path)

    # ------------------------------------------------------------------
    # headless plotting data providers (analyzer.py:579-716)
    # ------------------------------------------------------------------
    def hist(self, feature: str, cut: Any = None, shape: int = 64,
             limits: Any = "minmax", what: str = "count(*)",
             normalize: bool = False, plot: bool = False, **plot_kw):
        """1-D histogram of a feature under an optional cut — the data
        half of the reference's ``hist`` (analyzer.py:579-662),
        including its ``what`` binned-statistic grammar (:595) and
        ``normalize`` density option (:586). Returns ``(values,
        edges)`` numpy arrays from one distributed pass; with
        ``plot=True`` (and matplotlib installed) renders via
        :func:`detanalysis_spark.plotting.hist` and returns
        ``(fig, ax)`` — the reference's draw half."""
        from .operators.histogram import hist1d
        values, edges = hist1d(self._subset_df(self.df, cut), feature,
                               shape=shape, limits=limits, what=what,
                               normalize=normalize)
        if plot:
            from . import plotting
            plot_kw.setdefault("xlabel", feature)
            return plotting.hist([(values, edges)], **plot_kw)
        return values, edges

    def heatmap(self, feature_x: str, feature_y: str, cut: Any = None,
                shape: int | Sequence[int] = 64, limits_x: Any = "minmax",
                limits_y: Any = "minmax", plot: bool = False, **plot_kw):
        """2-D histogram grid — the data half of ``heatmap``
        (analyzer.py:664-716). Returns ``(grid, x_edges, y_edges)``;
        with ``plot=True`` renders via
        :func:`detanalysis_spark.plotting.heatmap` → ``(fig, ax)``."""
        from .operators.histogram import hist2d
        grid, xe, ye = hist2d(self._subset_df(self.df, cut),
                              feature_x, feature_y, shape=shape,
                              limits_x=limits_x, limits_y=limits_y)
        if plot:
            from . import plotting
            plot_kw.setdefault("xlabel", feature_x)
            plot_kw.setdefault("ylabel", feature_y)
            return plotting.heatmap(grid, xe, ye, **plot_kw)
        return grid, xe, ye

    def passage_fraction(self, cut: Any, base_cut: Any = None) -> float:
        """A8: fraction of (base-cut) rows passing ``cut`` — one agg of
        avg(flag) rather than two counts (semiautocuts.py:1846-1896)."""
        df = self._subset_df(self.df, base_cut)
        col = self.resolve_cut(cut)
        row = df.agg(F.avg(col.cast("double")).alias("frac")).collect()[0]
        return float(row["frac"]) if row["frac"] is not None else float("nan")

    # ------------------------------------------------------------------
    # headless analogs of the reference's interactive/plot surface
    # ------------------------------------------------------------------
    def scatter(self, feature_x: str, feature_y: str, cut: Any = None,
                max_points: int = 20000, seed: int = 42,
                plot: bool = False, **plot_kw):
        """Reference ``scatter`` (analyzer.py:717-810) headless analog:
        the (x, y) point frame behind the scatter plot, seeded-sampled
        down to ``max_points`` before any collection (the reference
        samples before plotting for the same reason, analyzer.py:
        770-771). With ``plot=True`` renders the sampled frame via
        :func:`detanalysis_spark.plotting.scatter` → ``(fig, ax)``."""
        df = self._subset_df(self.df, cut)
        pts = (df.select(F.expr(feature_x).alias("x"),
                         F.expr(feature_y).alias("y"))
               .orderBy(F.rand(seed)).limit(int(max_points)))
        if plot:
            from . import plotting
            plot_kw.setdefault("xlabel", feature_x)
            plot_kw.setdefault("ylabel", feature_y)
            return plotting.scatter(pts, **plot_kw)
        return pts

    def plot_traces(self, channels: Sequence[str] | None,
                    raw_path: "str | DataFrame", cut: Any = None,
                    nb_random_samples: int = 20, seed: int = 42,
                    **kwargs):
        """Reference ``plot_traces`` (analyzer.py:812-947) headless
        analog: the sampled traces the reference would draw (its panel
        cap is 20), via the same sample-then-broadcast-join path as
        ``get_traces`` — data only, never rendered."""
        return self.get_traces(channels, raw_path, cut=cut,
                               nb_random_samples=int(nb_random_samples),
                               seed=seed, **kwargs)

    def interactive_selection(self, event_ids, name: str,
                              **kwargs) -> CutInfo:
        """Reference ``interactive_selection`` (analyzer.py:359-377)
        converts a Vaex widget selection into a named cut. A headless
        engine's equivalent input is the selected row-id list itself
        (SURVEY §2.10 U5): register it as a semi-join cut."""
        return self.cut_from_event_ids(event_ids, name, **kwargs)

    # ------------------------------------------------------------------
    # raw-trace fetch (S7/S8, analyzer.py:1006-1047)
    # ------------------------------------------------------------------
    def get_traces(self, channels: Sequence[str] | None, raw_path: "str | DataFrame",
                   cut: Any = None, nb_random_samples: int | None = None,
                   nb_events_limit: int = 1000, seed: int = 42,
                   baselinesub: bool = False,
                   baselineinds: tuple[int, int] = (5, 100)):
        """Batch trace fetch against a trace table (reference
        ``get_traces``, analyzer.py:1006-1047): select event keys under
        ``cut`` (optionally an exact-n random sample), broadcast-join
        them against the trace Parquet, and return the reference's
        ``(ndarray[n_events, n_channels, n_samples], info)`` contract.

        ``raw_path`` is a Parquet path or an already-loaded trace
        DataFrame (keyed by series/event number, one row per channel).
        The key join and optional baseline subtraction run distributed;
        only the capped result crosses to the driver — the Spark analog
        of the reference's ``memory_limit`` guard.
        """
        from .traces import get_traces_array
        traces = (self._spark.read.parquet(raw_path)
                  if isinstance(raw_path, str) else raw_path)
        keys = self._subset_df(self.df, cut)
        if nb_random_samples:
            keys = keys.orderBy(F.rand(seed)).limit(nb_random_samples)
        return get_traces_array(traces, keys, channels=channels,
                                nb_events_limit=nb_events_limit,
                                baselinesub=baselinesub,
                                baselineinds=baselineinds)

    def get_trace(self, channels: Sequence[str] | None, raw_path: "str | DataFrame",
                  series_number: int, event_number: int, **kwargs):
        """Single-event fetch (S8, scatterplotter.py:112-202): the point
        predicate of ``traces.get_trace``, then the array contract of
        ``get_traces`` with the leading event axis squeezed."""
        from .traces import _as_array, get_trace
        traces = (self._spark.read.parquet(raw_path)
                  if isinstance(raw_path, str) else raw_path)
        sel = get_trace(traces, series_number, event_number)
        if channels is not None and "channel" in sel.columns:
            sel = sel.filter(F.col("channel").isin(list(channels)))
        arr, info = _as_array(sel, **kwargs)
        return (arr[0] if arr.shape[0] else arr.reshape(arr.shape[1:])), info
