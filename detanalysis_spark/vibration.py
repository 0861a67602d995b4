"""Vibration / spectral engine: per-frequency ensemble moments, PSDs,
and transfer functions.

Reference semantics: detanalysis vibration_analyzer.py — sweep-path
moment build (:462-530), continuous-path FFT accumulation (:313-460),
PSD derivation (:649-742), TF estimators (:747-876), variance of the
sample mean (:593-625). Re-expressed Spark-first:

- **Moment cache is a DataFrame**, one row per frequency, wide by
  channel pair: ``S_re__i__j / S_im__i__j`` (CSD matrix ⟨a_i a_j*⟩),
  ``R__i__j`` (fourth moment ⟨|a_i|²|a_j|²⟩), ``m_re__i / m_im__i``
  (mean phasors, sweep only), ``n`` (ensemble count). The reference's
  (n_ch, n_ch, n_freq) numpy arrays become columns — n_ch is small,
  n_freq is the row axis.
- **Sweep path** is a single ``groupBy(frequency_hz).agg(avg(...))``
  over native product expressions — one shuffle, map-side combined,
  whole-stage codegen. No Python touches the data.
- **Continuous path** FFTs each trace with ``traces.rfft_udf``
  (one-sided PSD scaling), gathers channels per chunk with one
  shuffle, forms the pair-product arrays natively (``zip_with``), and reduces with
  ``posexplode → groupBy(freq_bin).avg`` — partial aggregation does
  the reference's "running sum" incrementally and distributed.
- **PSD / TF derivations are pure column math** on the moment frame —
  they run on the driver plan, never collect, and stay correct at any
  frequency-axis size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, StructField,
                               StructType)

from .operators.sampling import every_nth
from .traces import rfft_udf

__all__ = [
    "variance_of_mean", "sweep_moments", "psd_from_moments",
    "transfer_functions", "rechunk_traces",
    "continuous_moments", "every_nth", "MomentCache",
]

VALID_TF_METHODS = ("rms-ratio", "cross-correlation", "phase-locked")


def _pair(i: str, j: str) -> str:
    return f"{i}__{j}"


def variance_of_mean(mean_sq_magnitude: Column, abs_mean_squared: Column,
                     n: Column) -> Column:
    """Var of a sample mean from its first two moments:
    (⟨|x|²⟩ − |⟨x⟩|²)/(N−1), clamped at 0, NULL when N < 2
    (vibration_analyzer.py:593-625)."""
    pop_var = F.greatest(mean_sq_magnitude - abs_mean_squared, F.lit(0.0))
    return F.when(n > 1, pop_var / (n - 1).cast("double"))


# ----------------------------------------------------------------------
# sweep path (A12): one native groupBy over the processed sweep table
# ----------------------------------------------------------------------
def sweep_moments(df: DataFrame, channels: list[str],
                  freq_col: str = "frequency_hz",
                  trace_length_msec: float | None = None) -> DataFrame:
    """Per-frequency moment frame from ``amp_real_<ch>/amp_imag_<ch>``
    columns (vibration_analyzer.py:462-530).

    a_i = (re_i + j·im_i)/√Δf with Δf = 1/T. All moments are plain
    ``avg`` aggregates of per-row products, so Spark's partial
    aggregation IS the reference's ensemble mean — one shuffle keyed by
    frequency, no skew (ensembles are similar-sized by construction).
    """
    if trace_length_msec is None:
        trace_length_msec = df.select("trace_length_msec").first()[0]
    inv_df = trace_length_msec * 1e-3          # 1/Δf = T seconds
    c2 = F.lit(inv_df)                         # |1/√Δf|²

    re = {ch: F.col(f"amp_real_{ch}") for ch in channels}
    im = {ch: F.col(f"amp_imag_{ch}") for ch in channels}
    inv_sqrt_df = F.sqrt(c2)                   # 1/√Δf
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in channels:
        aggs += [
            F.avg(re[i] * inv_sqrt_df).alias(f"m_re__{i}"),
            F.avg(im[i] * inv_sqrt_df).alias(f"m_im__{i}"),
        ]
        for j in channels:
            # S_ij = ⟨a_i conj(a_j)⟩, R_ij = ⟨|a_i|²|a_j|²⟩
            aggs += [
                F.avg((re[i] * re[j] + im[i] * im[j]) * c2)
                 .alias(f"S_re__{_pair(i, j)}"),
                F.avg((im[i] * re[j] - re[i] * im[j]) * c2)
                 .alias(f"S_im__{_pair(i, j)}"),
                F.avg((re[i] * re[i] + im[i] * im[i])
                      * (re[j] * re[j] + im[j] * im[j]) * c2 * c2)
                 .alias(f"R__{_pair(i, j)}"),
            ]
    return df.groupBy(F.col(freq_col).alias("frequency_hz")).agg(*aggs)


# ----------------------------------------------------------------------
# PSD + TF derivations (column math on the moment frame)
# ----------------------------------------------------------------------
def psd_from_moments(moments: DataFrame, channels: list[str]) -> DataFrame:
    """(frequency_hz, channel, psd, asd_variance) from the moment frame.

    PSD_i = S_ii (real); Var(PSD) = (R_ii − S_ii²)/(N−1); ASD variance
    via d(ASD)/d(PSD) = 1/(2√PSD) (vibration_analyzer.py:713-731).
    """
    per_ch = []
    for ch in channels:
        p = _pair(ch, ch)
        psd = F.col(f"S_re__{p}")
        var_psd = variance_of_mean(F.col(f"R__{p}"), psd * psd, F.col("n"))
        var_asd = F.when(psd > 0, var_psd / (4.0 * psd)).otherwise(F.lit(0.0))
        per_ch.append(F.struct(F.lit(ch).alias("channel"),
                               psd.alias("psd"),
                               var_asd.alias("asd_variance")))
    return (moments
            .select("frequency_hz", F.explode(F.array(*per_ch)).alias("x"))
            .select("frequency_hz", "x.channel", "x.psd", "x.asd_variance"))


def transfer_functions(moments: DataFrame,
                       channel_pairs: list[tuple[str, str]],
                       methods: list[str] | None = None,
                       phasors_available: bool = True) -> DataFrame:
    """TF estimators from the moment frame (vibration_analyzer.py:747-876).

    Returns long rows (frequency_hz, channel_output, channel_input,
    method, tf_re, tf_im, tf_sigma); rms-ratio is real (tf_im = 0).

    - rms-ratio:         √(S_oo/S_ii)
    - cross-correlation: S_oi/S_ii (complex H1)
    - phase-locked:      ⟨a_o⟩/⟨a_i⟩ (sweep only — random-phase
      continuous data has no meaningful mean phasor)
    """
    methods = list(methods or VALID_TF_METHODS)
    bad = set(methods) - set(VALID_TF_METHODS)
    if bad:
        raise ValueError(f"unknown TF methods {sorted(bad)}")
    if "phase-locked" in methods and not phasors_available:
        raise ValueError("phase-locked estimator requires mean phasors, "
                         "not available for the continuous data path")

    n = F.col("n")
    rows = []
    for out, inp in channel_pairs:
        poo, pii, poi = _pair(out, out), _pair(inp, inp), _pair(out, inp)
        psd_o, psd_i = F.col(f"S_re__{poo}"), F.col(f"S_re__{pii}")
        var_o = variance_of_mean(F.col(f"R__{poo}"), psd_o * psd_o, n)
        var_i = variance_of_mean(F.col(f"R__{pii}"), psd_i * psd_i, n)

        def _emit(method: str, tf_re: Column, tf_im: Column,
                  sigma: Column) -> None:
            rows.append(F.struct(
                F.lit(out).alias("channel_output"),
                F.lit(inp).alias("channel_input"),
                F.lit(method).alias("method"),
                tf_re.alias("tf_re"), tf_im.alias("tf_im"),
                sigma.alias("tf_sigma")))

        if "rms-ratio" in methods:
            tf = F.sqrt(psd_o / psd_i)
            rel = 0.5 * F.sqrt(var_o / (psd_o * psd_o)
                               + var_i / (psd_i * psd_i))
            _emit("rms-ratio", tf, F.lit(0.0), tf * rel)

        if "cross-correlation" in methods:
            cr, ci = F.col(f"S_re__{poi}"), F.col(f"S_im__{poi}")
            abs_cross2 = cr * cr + ci * ci
            var_cross = variance_of_mean(F.col(f"R__{poi}"), abs_cross2, n)
            rel = F.sqrt(var_cross / abs_cross2
                         + var_i / (psd_i * psd_i))
            _emit("cross-correlation", cr / psd_i, ci / psd_i,
                  F.sqrt(abs_cross2) / psd_i * rel)

        if "phase-locked" in methods:
            mo_r, mo_i = F.col(f"m_re__{out}"), F.col(f"m_im__{out}")
            mi_r, mi_i = F.col(f"m_re__{inp}"), F.col(f"m_im__{inp}")
            abs_mo2 = mo_r * mo_r + mo_i * mo_i
            abs_mi2 = mi_r * mi_r + mi_i * mi_i
            var_mo = variance_of_mean(psd_o, abs_mo2, n)
            var_mi = variance_of_mean(psd_i, abs_mi2, n)
            # complex division (m_o / m_i)
            tf_re = (mo_r * mi_r + mo_i * mi_i) / abs_mi2
            tf_im = (mo_i * mi_r - mo_r * mi_i) / abs_mi2
            rel = F.sqrt(var_mo / abs_mo2 + var_mi / abs_mi2)
            _emit("phase-locked", tf_re, tf_im,
                  F.sqrt(abs_mo2 / abs_mi2) * rel)

    return (moments
            .select("frequency_hz", F.explode(F.array(*rows)).alias("x"))
            .select("frequency_hz", "x.channel_output", "x.channel_input",
                    "x.method", "x.tf_re", "x.tf_im", "x.tf_sigma"))


# ----------------------------------------------------------------------
# continuous path: downsample → rechunk → FFT → gather → bin aggregate
# ----------------------------------------------------------------------
def _chopper(chunk_samples: int, order_col: str, trace_col: str):
    """The one rechunk kernel, shared by :func:`rechunk_traces` (empty
    carry) and ``streaming.rechunk_stream`` (the carried remainder).

    ``chop(channel, first_chunk, carry, pdfs)`` sorts the trace
    segments of ``pdfs`` by ``order_col``, appends them to the ``carry``
    samples and cuts that stream into full chunks of ``chunk_samples``;
    it returns the (channel, chunk_id, trace) frame, chunk ids counting
    from ``first_chunk``, and the remainder. Built per call, so Spark
    ships it to the Python workers by value rather than as an import of
    this package.
    """
    def chop(channel, first_chunk: int, carry: np.ndarray, pdfs):
        # a large group spans several Arrow batches whose relative
        # order is shuffle-arbitrary: gather every segment first, then
        # sort once, so the concatenation order is deterministic
        segs = [(o, t) for pdf in pdfs
                for o, t in zip(pdf[order_col].to_numpy(), pdf[trace_col])]
        segs.sort(key=lambda p: p[0])
        stream = np.concatenate(
            [carry] + [np.asarray(t, dtype=np.float64) for _, t in segs])
        n = stream.size // chunk_samples
        out = pd.DataFrame({
            "channel": [channel] * n,
            "chunk_id": np.arange(first_chunk, first_chunk + n),
            "trace": [stream[i * chunk_samples:(i + 1) * chunk_samples]
                      for i in range(n)],
        })
        return out, stream[n * chunk_samples:]

    return chop


def rechunk_traces(df: DataFrame, chunk_samples: int,
                   key_col: str = "channel", order_col: str = "event_id",
                   trace_col: str = "trace") -> DataFrame:
    """ST2: per-key ordered concatenation re-chopped into non-overlapping
    chunks of exactly ``chunk_samples``; the trailing remainder is
    discarded (vibration_analyzer.py:406-437).

    ``applyInPandas`` keyed by channel — the semantics require a total
    order per channel stream, so parallelism is bounded by the number of
    independent streams; at scale, shard on (channel, aligned time
    window) upstream. Chunk ids are derived from the cumulative sample
    offset, so they are stable and aligned across channels (every
    channel of an event carries the same sample count).
    """
    out_schema = StructType([
        StructField("channel", df.schema[key_col].dataType),
        StructField("chunk_id", df.schema[order_col].dataType),
        StructField("trace", ArrayType(DoubleType())),
    ])
    chop = _chopper(chunk_samples, order_col, trace_col)
    return df.groupBy(key_col).applyInPandas(
        lambda key, pdf: chop(key[0], 0, np.empty(0), [pdf])[0],
        schema=out_schema)


def cross_bin_products(chunks: DataFrame, channels: list[str],
                       sample_rate: float, chunk_key: str = "chunk_id",
                       trace_col: str = "trace",
                       strict: bool = False) -> DataFrame:
    """Per-(chunk, bin) cross-spectral pair products — the shared
    kernel of :func:`continuous_moments` (batch) and
    ``streaming.continuous.streaming_cross_deltas`` (per-micro-batch
    partials). FFT each chunk, gather every channel's spectrum for the
    SAME chunk id onto one row (n_channels map entries, one shuffle),
    build S_re/S_im/R per channel pair with native ``zip_with``, and
    posexplode to (bin, v struct-of-pair-products).

    Chunks whose gather is INCOMPLETE (a channel missing for that
    chunk id) are dropped — the reference's ensemble accumulates only
    full cross-spectral rows. ``strict=True`` turns an incomplete
    gather into a ``raise_error`` at execution instead (the streaming
    twin's alignment contract: a micro-batch must carry every
    channel's samples for the chunk ids it completes).
    """
    fft = rfft_udf(sample_rate, onesided_psd_norm=True)(F.col(trace_col))
    spec = chunks.select("channel", F.col(chunk_key).alias("__chunk__"),
                         fft.alias("a"))

    # one row per chunk with every channel's spectrum (n_channels structs)
    gathered_all = (spec.groupBy("__chunk__")
                    .agg(F.map_from_entries(
                        F.collect_list(F.struct("channel", "a")))
                        .alias("by_ch")))
    if strict:
        gathered = gathered_all.withColumn(
            "by_ch",
            F.when(F.size("by_ch") == len(channels), F.col("by_ch"))
             .otherwise(F.raise_error(F.concat(
                 F.lit("cross_bin_products: incomplete channel gather "
                       "for chunk "),
                 F.col("__chunk__").cast("string"),
                 F.lit(" — a micro-batch must deliver every channel's "
                       "samples for the chunk ids it completes")))))
    else:
        gathered = gathered_all.filter(
            F.size("by_ch") == len(channels))

    re = {c: F.col("by_ch").getItem(c).getField("re") for c in channels}
    im = {c: F.col("by_ch").getItem(c).getField("im") for c in channels}

    fields = []
    for i in channels:
        for j in channels:
            p = _pair(i, j)
            s_re = F.zip_with(re[i], re[j], lambda a, b: a * b)
            s_re = F.zip_with(s_re, F.zip_with(im[i], im[j],
                                               lambda a, b: a * b),
                              lambda a, b: a + b)
            s_im = F.zip_with(F.zip_with(im[i], re[j], lambda a, b: a * b),
                              F.zip_with(re[i], im[j], lambda a, b: a * b),
                              lambda a, b: a - b)
            pw_i = F.zip_with(re[i], im[i], lambda a, b: a * a + b * b)
            pw_j = F.zip_with(re[j], im[j], lambda a, b: a * a + b * b)
            r_ij = F.zip_with(pw_i, pw_j, lambda a, b: a * b)
            fields += [s_re.alias(f"S_re__{p}"), s_im.alias(f"S_im__{p}"),
                       r_ij.alias(f"R__{p}")]

    return gathered.select(F.posexplode(F.arrays_zip(*fields))
                           .alias("bin", "v"))


def cross_moment_fields(channels: list[str]) -> list[str]:
    """Ordered moment field names for a channel set — the column
    contract shared by ``continuous_moments`` and the streaming delta
    reader."""
    out = []
    for i in channels:
        for j in channels:
            p = _pair(i, j)
            out += [f"S_re__{p}", f"S_im__{p}", f"R__{p}"]
    return out


def continuous_moments(df: DataFrame, channels: list[str],
                       sample_rate: float,
                       downsample_factor: int = 1,
                       chunk_samples: int | None = None,
                       order_col: str = "event_id",
                       trace_col: str = "trace",
                       n_samples: int | None = None,
                       accel_gain: float = 1.0) -> DataFrame:
    """A13/ST3: moment frame from a continuous per-event trace stream
    (vibration_analyzer.py:313-460). Output schema matches
    ``sweep_moments`` (frequency_hz = bin center, m_* absent — mean
    phasors are meaningless for random-phase data).

    Plan: filter channels → every-Nth downsample → optional rechunk →
    FFT pandas UDF → gather the chunk's channels with one shuffle
    (collect_list of ≤ n_channels structs) → native pair products via
    ``zip_with`` → ``posexplode`` → ``groupBy(bin).avg``. The final
    aggregation is Spark's partial-agg running sum — the reference's
    accumulator loop, distributed.
    """
    ev = df.filter(F.col("channel").isin(channels))
    ev = every_nth(ev, order_col, downsample_factor)
    if accel_gain != 1.0:
        # volts → g conversion (vibration_analyzer.py:404; the reference
        # hard-defaults to its transducer's gain of 100.0 — here neutral
        # 1.0 unless the caller states the hardware gain)
        ev = ev.withColumn(trace_col,
                           F.transform(F.col(trace_col),
                                       lambda x: x / F.lit(float(accel_gain))))
    if chunk_samples is not None:
        chunks = rechunk_traces(ev, chunk_samples, order_col=order_col,
                                trace_col=trace_col)
        chunk_key, tcol = "chunk_id", "trace"
    else:
        chunks = ev
        chunk_key, tcol = order_col, trace_col

    zipped = cross_bin_products(chunks, channels, sample_rate,
                                chunk_key=chunk_key, trace_col=tcol)
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in channels:
        for j in channels:
            p = _pair(i, j)
            for fld in (f"S_re__{p}", f"S_im__{p}", f"R__{p}"):
                aggs.append(F.avg(F.col("v").getField(fld)).alias(fld))
    # frequency axis: bin · fs/n (rfftfreq). n is the chunk length when
    # rechunking; otherwise the native event length (reference takes it
    # from the first trace, vibration_analyzer.py:340-343)
    if n_samples is None:
        n_samples = (chunk_samples if chunk_samples is not None
                     else len(df.select(trace_col).first()[0]))
    return (zipped.groupBy("bin").agg(*aggs)
            .withColumn("frequency_hz",
                        F.col("bin") * F.lit(sample_rate / n_samples))
            .drop("bin"))


class MomentCache:
    """ST5: engine-level moment memo with superset reuse
    (vibration_analyzer.py:532-591). Caches the persisted moment frame
    keyed by its channel set; a request covered by the cached channel
    set reuses it, a wider request rebuilds over the union."""

    def __init__(self, build_fn):
        self._build = build_fn          # channels -> DataFrame
        self._channels: set[str] = set()
        self._df: DataFrame | None = None

    def get(self, channels: list[str],
            force_overwrite: bool = False) -> DataFrame:
        want = set(channels)
        if self._df is None or force_overwrite or not want <= self._channels:
            union = sorted(want | (set() if force_overwrite
                                   else self._channels))
            if self._df is not None:
                self._df.unpersist()
            self._df = self._build(union).persist()
            self._channels = set(union)
        return self._df


class VibrationAnalyzer:
    """Facade mirroring the reference's ``Vibration_Analyzer`` entry
    point (vibration_analyzer.py class): one object per dataset that
    builds/caches the moment frame and derives PSDs and transfer
    functions from it.

    Two data types, as in the reference:

    - ``"sweep"``: ``df`` is a processed sweep table with
      ``amp_real_<ch>/amp_imag_<ch>`` columns (the
      ``_moments_from_dataframe`` path, vibration_analyzer.py:462-530);
      mean phasors exist, so all three TF estimators are valid.
    - ``"continuous"``: ``df`` is a per-event trace table
      (channel, event ordinal, array<double> trace); moments come from
      the downsample → rechunk → FFT → bin-aggregate pipeline
      (vibration_analyzer.py:313-460). The phase-locked estimator is
      rejected, matching vibration_analyzer.py:144-148.

    Moment frames are cached with channel-superset reuse (ST5,
    vibration_analyzer.py:532-591) and TF/PSD results are memoized per
    request key (:1017-1049) so repeated calls never recompute.
    """

    def __init__(self, df: DataFrame, data_type: str = "sweep",
                 sample_rate: float | None = None,
                 downsample_factor: int = 1,
                 chunk_samples: int | None = None,
                 order_col: str = "event_id", trace_col: str = "trace",
                 trace_length_msec: float | None = None,
                 accel_gain: float = 1.0):
        if data_type not in ("sweep", "continuous"):
            raise ValueError(f"unknown data_type {data_type!r}")
        if data_type == "continuous" and sample_rate is None:
            raise ValueError("continuous data requires sample_rate")
        self._df = df
        self._data_type = data_type
        self._sample_rate = sample_rate
        self._downsample = downsample_factor
        self._chunk_samples = chunk_samples
        self._order_col = order_col
        self._trace_col = trace_col
        self._trace_length_msec = trace_length_msec
        self._accel_gain = accel_gain
        self._moments = MomentCache(self._build_moments)
        self._results: dict[tuple, DataFrame] = {}

    # ------------------------------------------------------------------
    def describe(self):
        """Summary of the loaded data (vibration_analyzer.py:627-647):
        column stats for the sweep table; the continuous path has no
        processed frame, so None is returned (the reference prints a
        message)."""
        if self._data_type == "continuous":
            return None
        from .analyzer import Analyzer
        return Analyzer(self._df).describe()

    def _build_moments(self, channels: list[str]) -> DataFrame:
        if self._data_type == "sweep":
            return sweep_moments(self._df, channels,
                                 trace_length_msec=self._trace_length_msec)
        return continuous_moments(
            self._df, channels, self._sample_rate,
            downsample_factor=self._downsample,
            chunk_samples=self._chunk_samples,
            order_col=self._order_col, trace_col=self._trace_col,
            accel_gain=self._accel_gain)

    def moments(self, channels: list[str],
                force_overwrite: bool = False) -> DataFrame:
        return self._moments.get(sorted(channels),
                                 force_overwrite=force_overwrite)

    # ------------------------------------------------------------------
    def calc_psd(self, channels: list[str],
                 force_overwrite: bool = False) -> DataFrame:
        """(frequency_hz, channel, psd, asd_variance) — reference
        ``calc_psd`` (vibration_analyzer.py:649-742)."""
        key = ("psd", tuple(sorted(channels)))
        if force_overwrite or key not in self._results:
            m = self.moments(channels, force_overwrite)
            self._results[key] = psd_from_moments(m, sorted(channels))
        return self._results[key]

    def calc_transfer_function(self, channel_pairs: list[tuple[str, str]],
                               methods: list[str] | None = None,
                               force_overwrite: bool = False) -> DataFrame:
        """Long TF frame — reference ``calc_transfer_function``
        (vibration_analyzer.py:880-1015); the phase-locked estimator is
        refused on continuous data (:144-148, 791-795)."""
        if methods is None:
            # default to every estimator valid for the data type
            methods = [m for m in VALID_TF_METHODS
                       if self._data_type == "sweep" or m != "phase-locked"]
        chans = sorted({c for pair in channel_pairs for c in pair})
        key = ("tf", tuple(sorted(channel_pairs)), tuple(methods))
        if force_overwrite or key not in self._results:
            m = self.moments(chans, force_overwrite)
            self._results[key] = transfer_functions(
                m, channel_pairs, methods=methods,
                phasors_available=(self._data_type == "sweep"))
        return self._results[key]

    # ------------------------------------------------------------------
    # headless plot providers under the reference's names
    # (vibration_analyzer.py:1162-1169 raise when the cache is empty —
    # same contract here; the engine returns plot-ready data, never
    # renders)
    # ------------------------------------------------------------------
    def _cached(self, kind: str) -> DataFrame:
        hits = [v for k, v in self._results.items() if k[0] == kind]
        if not hits:
            raise RuntimeError(
                f"no cached {kind} result — call calc_{kind.replace('tf', 'transfer_function')}() first")
        return hits[-1]

    def plot_psd(self, render: bool = False, **plot_kw):
        """vibration_analyzer.py plot_psd analog: the cached PSD frame
        (frequency_hz, channel, psd, asd_variance). ``render=True``
        (matplotlib installed) draws it via
        :func:`detanalysis_spark.plotting.psd` → ``(fig, ax)``."""
        cached = self._cached("psd")
        if render:
            from . import plotting
            return plotting.psd(cached, **plot_kw)
        return cached

    def plot_transfer_function(self, render: bool = False, **plot_kw):
        """plot_transfer_function analog: the cached TF frame
        (magnitude + 1σ per method/pair). ``render=True`` draws via
        :func:`detanalysis_spark.plotting.transfer_function`."""
        cached = self._cached("tf")
        if render:
            from . import plotting
            return plotting.transfer_function(cached, **plot_kw)
        return cached

    def plot_transfer_function_phase(self, render: bool = False,
                                     **plot_kw):
        """plot_transfer_function_phase analog: the cached TF frame
        with phase = atan2(im, re) appended per row. ``render=True``
        draws via
        :func:`detanalysis_spark.plotting.transfer_function_phase`."""
        tf = self._cached("tf")
        if render:
            from . import plotting
            return plotting.transfer_function_phase(tf, **plot_kw)
        if "tf_im" in tf.columns:
            return tf.withColumn("phase_rad",
                                 F.atan2(F.col("tf_im"), F.col("tf_re")))
        return tf
