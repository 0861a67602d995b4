"""Raw-trace layer: trace-table ingest, key-lookup fetch, array kernels.

Re-expresses the reference's raw-trace access (S7/S8/J2) and the first
per-trace vector kernels (F-arr/U4) on Spark:

- The reference fetches waveforms by point lookup on
  ``(series_number, event_number, dump_number, trigger_index)`` through
  pytesio's ``H5Reader.read_many_events``
  (/root/reference/detanalysis/analyzer.py:1006-1047) or one event at a
  time (/root/reference/detanalysis/scatterplotter.py:112-202,
  /root/reference/detanalysis/semiautocuts.py:24-69). Here traces live
  in a Parquet table with an ``array<double>`` column, partitioned by
  ``series_number``, and a fetch is a **broadcast hash join**: the few
  selected keys (cut + limit applied first, mirroring the reference's
  ``nb_events_limit=1000`` cap at analyzer.py:1016) broadcast against
  the large trace table, so the scan prunes to the matching
  series partitions and never shuffles the waveforms.
- Per-trace transforms (low-pass filter at analyzer.py:882-886,
  baseline subtraction at photon_calibration.py:990) are built-in
  array expressions where Spark can express them (baseline subtract,
  energy integral — pure ``transform``/``aggregate``, whole-stage
  codegen) and Arrow-batched pandas UDFs where they genuinely need
  numpy (FFT, Butterworth low-pass) — never row-at-a-time Python UDFs.
  ``rfft_udf`` is the engine's one Spark-side FFT and
  ``_window_mean_subtract`` its one baseline subtraction.

Scale notes (100 TB): waveforms dominate storage (12,500 doubles/row at
the reference's 1.25 MHz × 10 ms envelope). Everything here either
(a) joins a tiny broadcast key set against them without shuffling the
array column, or (b) maps over them partition-local via Arrow batches.
No operation shuffles trace payloads.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

TRACE_KEYS = ("series_number", "event_number")


# ----------------------------------------------------------------------
# fetch (S7/S8 via J2 broadcast key join)
# ----------------------------------------------------------------------
def get_traces(traces: DataFrame, keys: DataFrame,
               channels: Sequence[str] | None = None,
               nb_events_limit: int | None = 1000) -> DataFrame:
    """Batch trace fetch (analyzer.py:1006-1047 ``get_traces``).

    ``keys``: DataFrame holding the selected events (any frame with the
    key columns — typically ``Analyzer.df`` under a cut). Only the key
    columns are kept, deduplicated, limited, then **broadcast** so the
    trace scan side never shuffles. Legacy id-column spellings
    (``eventnumber``/``seriesnumber``, analyzer.py:975-988) are
    normalized on both sides first.
    """
    from .sources import normalize_legacy_columns
    traces = normalize_legacy_columns(traces)
    keys = normalize_legacy_columns(keys)
    on = [k for k in TRACE_KEYS if k in keys.columns and k in traces.columns]
    if not on:
        raise ValueError(f"keys must carry at least one of {TRACE_KEYS}")
    sel = keys.select(*on).dropDuplicates(on)
    if nb_events_limit is not None:
        sel = sel.limit(nb_events_limit)
    out = traces.join(F.broadcast(sel), on=on, how="inner")
    if channels is not None and "channel" in traces.columns:
        out = out.filter(F.col("channel").isin(list(channels)))
    return out


def get_trace(traces: DataFrame, series_number: int, event_number: int,
              channel: str | None = None) -> DataFrame:
    """Single-event fetch (scatterplotter.py:112-202 ``_get_trace``).

    A point predicate on the partition/sort keys — with the trace table
    partitioned by ``series_number`` this prunes to one partition and
    pushes ``event_number`` into the parquet row-group filter. Legacy
    id-column spellings are normalized first, as in :func:`get_traces`.
    """
    from .sources import normalize_legacy_columns
    traces = normalize_legacy_columns(traces)
    out = traces.filter((F.col("series_number") == int(series_number))
                        & (F.col("event_number") == int(event_number)))
    if channel is not None and "channel" in traces.columns:
        out = out.filter(F.col("channel") == channel)
    return out


# ----------------------------------------------------------------------
# native array kernels (JVM-side, codegen — no Python in the hot path)
# ----------------------------------------------------------------------
def baseline_subtract(trace: Column | str, pretrigger_samples: int) -> Column:
    """Subtract the pre-trigger mean from every sample
    (photon_calibration.py:990 ``np.mean(trace[:nb_pretrigger])``):
    :func:`_window_mean_subtract` over the window [0, k)."""
    t = F.col(trace) if isinstance(trace, str) else trace
    return _window_mean_subtract(t, 0, int(pretrigger_samples))


def _window_mean_subtract(trace: Column, lo: int, hi: int) -> Column:
    """``trace - mean(trace[lo:hi])``, the one baseline-subtract kernel.

    Pure built-in array expressions: ``slice`` + ``aggregate`` for the
    window mean, ``transform`` for the subtraction — stays inside
    whole-stage codegen, no UDF. The mean is bound as a lambda variable
    (one-element-array transform): subtracting the aggregate expression
    directly inside the ``transform`` lambda would re-run the window
    fold once per sample — O(k·n) per trace.
    """
    base = (F.aggregate(F.slice(trace, lo + 1, hi - lo), F.lit(0.0),
                        lambda acc, x: acc + x)
            / F.lit(float(max(hi - lo, 1))))
    return F.flatten(F.transform(
        F.array(base), lambda b: F.transform(trace, lambda x: x - b)))


def trace_energy(trace: Column | str, fs: float) -> Column:
    """Template energy integral ``sum(trace)/fs`` (A17,
    photon_calibration.py:2063-2073)."""
    t = F.col(trace) if isinstance(trace, str) else trace
    return F.aggregate(t, F.lit(0.0), lambda acc, x: acc + x) / F.lit(float(fs))


# ----------------------------------------------------------------------
# pandas_udf kernels (Arrow-batched; numpy vectorized across the batch)
# ----------------------------------------------------------------------
def lowpass_filter_udf(fs: float, cutoff: float, order: int = 2):
    """Zero-phase Butterworth low-pass as an Arrow-batched pandas UDF.

    The reference calls qetpy's ``lowpassfilter`` (Butterworth +
    filtfilt) at analyzer.py:882-886, semiautocuts.py:1823,
    scatterplotter.py:280. A forward-backward IIR pass has the real
    magnitude response ``|H(f)|^2 = 1 / (1 + (f/fc)^(2n))`` and zero
    phase; we apply exactly that in the frequency domain
    (rfft → gain → irfft), which vectorizes across the whole Arrow
    batch as one 2-D numpy op instead of a per-row IIR loop.
    """
    fs = float(fs)
    fc = float(cutoff)
    n = int(order)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _lowpass(traces: pd.Series) -> pd.Series:
        if traces.empty:
            return traces
        mat = np.stack(traces.to_numpy())          # (batch, n_samples)
        freqs = np.fft.rfftfreq(mat.shape[1], d=1.0 / fs)
        gain = 1.0 / (1.0 + (freqs / fc) ** (2 * n))
        out = np.fft.irfft(np.fft.rfft(mat, axis=1) * gain, n=mat.shape[1], axis=1)
        return pd.Series(list(out))

    return _lowpass


def rfft_udf(fs: float, onesided_psd_norm: bool = False,
             inv_sqrt_nfs: bool = False):
    """Per-trace real FFT → struct of (re, im) arrays — the engine's one
    Spark-side FFT (photon ensemble stats, vibration cross-spectra,
    streaming auto-spectra).

    Used by the calibration/vibration paths (photon_calibration.py:1363,
    vibration_analyzer.py:344-364). With ``onesided_psd_norm`` the
    amplitudes are scaled by ``sqrt(2/(N*fs))`` (one-sided PSD
    convention, vibration_analyzer.py:352-358) except DC/Nyquist which
    scale by ``sqrt(1/(N*fs))``. With ``inv_sqrt_nfs`` every bin is
    scaled by the flat ``1/sqrt(N*fs)`` the photon-calibration path
    uses (photon_calibration.py:1363). Each Arrow batch runs one stacked
    ``np.fft.rfft`` per distinct trace length, so a batch may mix
    lengths (N is each trace's own length).
    """
    fs = float(fs)

    from pyspark.sql.types import StructType, StructField

    schema = StructType([
        StructField("re", ArrayType(DoubleType())),
        StructField("im", ArrayType(DoubleType())),
    ])

    @F.pandas_udf(schema)
    def _rfft(traces: pd.Series) -> pd.DataFrame:
        rows = traces.to_numpy()
        lengths = np.array([len(t) for t in rows], dtype=np.int64)
        re, im = [None] * len(rows), [None] * len(rows)
        for n in np.unique(lengths):
            at = np.flatnonzero(lengths == n)
            spec = np.fft.rfft(np.stack(rows[at]), axis=1)
            if onesided_psd_norm:
                scale = np.full(spec.shape[1], np.sqrt(2.0 / (n * fs)))
                scale[0] = np.sqrt(1.0 / (n * fs))
                if n % 2 == 0:
                    scale[-1] = np.sqrt(1.0 / (n * fs))
                spec = spec * scale
            elif inv_sqrt_nfs:
                spec = spec / np.sqrt(n * fs)
            for i, r, m in zip(at, spec.real, spec.imag):
                re[i], im[i] = r, m
        return pd.DataFrame({"re": re, "im": im})

    return _rfft


def with_fft(df: DataFrame, trace_col: str, fs: float,
             onesided_psd_norm: bool = False,
             out_col: str = "fft") -> DataFrame:
    """Attach per-trace FFT re/im arrays as ``<out_col>_re/_im``."""
    udf = rfft_udf(fs, onesided_psd_norm=onesided_psd_norm)
    df = df.withColumn(out_col, udf(F.col(trace_col)))
    return (df.withColumn(f"{out_col}_re", F.col(f"{out_col}.re"))
              .withColumn(f"{out_col}_im", F.col(f"{out_col}.im"))
              .drop(out_col))


def get_traces_array(traces: DataFrame, keys: DataFrame,
                     channels: Sequence[str] | None = None,
                     nb_events_limit: int | None = 1000,
                     baselinesub: bool = False,
                     baselineinds: tuple[int, int] = (5, 100)):
    """Eager trace fetch returning the reference's array contract
    (analyzer.py:1006-1047): ``(ndarray[n_events, n_channels,
    n_samples], info)`` where info is a list of per-event key dicts.

    This is the one intentional driver-transfer boundary of the trace
    layer (capped by ``nb_events_limit``, exactly like the reference's
    ``memory_limit`` guard); everything before the final ``toPandas``
    — key join, optional baseline subtraction — runs distributed.
    """
    sel = get_traces(traces, keys, channels=channels,
                     nb_events_limit=nb_events_limit)
    return _as_array(sel, baselinesub, baselineinds)


def _as_array(sel: DataFrame, baselinesub: bool = False,
              baselineinds: tuple[int, int] = (5, 100)):
    """Collect fetched trace rows into the ``(ndarray[n_events,
    n_channels, n_samples], info)`` contract, optionally subtracting
    the mean of samples [lo, hi) from each trace first (distributed)."""
    trace_col = F.col("trace")
    if baselinesub:
        trace_col = _window_mean_subtract(trace_col, *baselineinds)
    has_channel = "channel" in sel.columns
    cols = [c for c in TRACE_KEYS if c in sel.columns]
    pdf = sel.select(*cols, *(["channel"] if has_channel else []),
                     trace_col.alias("trace")).toPandas()
    if pdf.empty:
        return np.empty((0, 0, 0)), []
    chans = (sorted(pdf["channel"].unique()) if has_channel else [None])
    key_tuples = sorted(set(map(tuple, pdf[cols].itertuples(index=False))))
    n_samples = len(pdf["trace"].iloc[0])
    out = np.full((len(key_tuples), len(chans), n_samples), np.nan)
    k_idx = {k: i for i, k in enumerate(key_tuples)}
    c_idx = {c: i for i, c in enumerate(chans)}
    for row in pdf.itertuples(index=False):
        k = tuple(getattr(row, c) for c in cols)
        ch = getattr(row, "channel", None) if has_channel else None
        out[k_idx[k], c_idx[ch], :] = np.asarray(row.trace)
    info = [dict(zip(cols, k)) for k in key_tuples]
    return out, info
