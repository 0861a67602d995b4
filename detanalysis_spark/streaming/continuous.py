"""Streaming continuous-trace pipeline.

Reference semantics: the vibration analyzer's read-next-event loop
(vibration_analyzer.py:382-394) is an unbounded source (ST1); its
rolling rechunk buffer (:406-437) is per-key state carried across
events (ST2); the running moment sums (:362-372) are an incremental
streaming aggregation whose partial sums are associative (ST3).

Spark-first mapping:
- ST1 → ``readStream`` file source; ``Trigger.AvailableNow`` drains a
  bounded backlog with streaming semantics (batch-over-stream).
- ST2 → ``applyInPandasWithState`` keyed by channel: the state is the
  carried remainder buffer + next chunk ordinal; each micro-batch
  appends its (event-ordered) samples, emits every complete chunk, and
  stores the remainder. The trailing remainder is discarded when the
  stream ends — exactly the reference's semantics.
- ST3 → a plain ``groupBy(channel, bin).agg(sum, count)`` on the
  FFT'd chunks in ``update``/``complete`` mode — Spark's streaming
  state IS the reference's accumulator, and map-side partial
  aggregation keeps it incremental.

Ordering contract: samples are ordered by ``event_id`` *within* each
micro-batch before appending to the buffer. Cross-batch order follows
file-arrival order, as in any log-structured stream; a production
deployment must feed files in event order (the reference's HDF5 reader
has the identical contract — it reads files sequentially).

Scale note: per-channel keying bounds rechunk parallelism by the
number of independent streams — inherent to the semantics (a stream
must be stitched in order). Cross-channel CSD matrices need all
channels of a chunk in one place; that path is served by the batch
engine (vibration.continuous_moments); the streaming path accumulates
the per-channel auto-spectra (PSD) moments.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                               StringType, StructField, StructType)

from ..traces import rfft_udf

CONTINUOUS_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("channel", StringType()),
    StructField("trace", ArrayType(DoubleType())),
])

_CHUNK_SCHEMA = StructType([
    StructField("channel", StringType()),
    StructField("chunk_id", LongType()),
    StructField("trace", ArrayType(DoubleType())),
])


def _lineage_id(checkpoint_dir: str) -> str:
    """Stable identity string for a checkpoint location.

    Plain local paths are absolutized so relative invocations from any
    cwd agree; URI locations (``hdfs://``, ``s3a://``, ``file:///``)
    must NOT go through ``os.path.abspath`` — it would join the URI
    onto the local cwd and mangle it — so they are normalized as URIs
    instead (scheme/host case-folded, path kept verbatim).
    """
    from urllib.parse import urlparse, urlunparse

    parsed = urlparse(checkpoint_dir)
    if parsed.scheme and parsed.scheme != "file":
        norm = parsed._replace(scheme=parsed.scheme.lower(),
                               netloc=parsed.netloc.lower(),
                               path=parsed.path.rstrip("/") or "/")
        return urlunparse(norm)
    path = parsed.path if parsed.scheme == "file" else checkpoint_dir
    return os.path.abspath(path)

_STATE_SCHEMA = StructType([
    StructField("next_chunk", LongType()),
    StructField("buffer", ArrayType(DoubleType())),
])


def read_continuous_stream(spark: SparkSession, path: str,
                           schema: StructType = CONTINUOUS_SCHEMA,
                           max_files_per_trigger: int | None = None
                           ) -> DataFrame:
    """ST1: unbounded parquet file source over a continuous event dir."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def rechunk_stream(sdf: DataFrame, chunk_samples: int,
                   key_col: str = "channel", order_col: str = "event_id",
                   trace_col: str = "trace") -> DataFrame:
    """ST2: stateful fixed-length rechunker.

    Emits (channel, chunk_id, trace) with chunks of exactly
    ``chunk_samples``; the incomplete tail lives in state between
    micro-batches and is dropped at end-of-stream. The chop is the batch
    ``vibration.rechunk_traces`` one, fed the carried tail.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..vibration import _chopper

    chop_rows = _chopper(chunk_samples, order_col, trace_col)

    def chop(key, pdfs, state: "GroupState"):
        if state.exists:
            next_chunk, buf_list = state.get
            buf = np.asarray(buf_list, dtype=np.float64)
        else:
            next_chunk, buf = 0, np.empty(0, dtype=np.float64)
        out, remainder = chop_rows(key[0], next_chunk, buf, pdfs)
        state.update((int(next_chunk + len(out)),
                      [float(x) for x in remainder]))
        yield out

    return (sdf.groupBy(key_col)
            .applyInPandasWithState(chop, _CHUNK_SCHEMA, _STATE_SCHEMA,
                                    "append", GroupStateTimeout.NoTimeout))


def streaming_psd_moments(chunks: DataFrame, fs: float,
                          trace_col: str = "trace") -> DataFrame:
    """ST3: incremental per-channel auto-spectrum moments.

    FFT each chunk (one-sided PSD normalization), explode to
    (channel, bin, |a|², |a|⁴), and aggregate running sums + count —
    the schema a caller divides to get S_ii/R_ii (the division is done
    here per micro-batch output; sums stay associative in state).
    Output: (channel, bin, frequency_hz, n, s_ii, r_ii).
    """
    fft = rfft_udf(fs, onesided_psd_norm=True)(F.col(trace_col))
    spec = chunks.select("channel", fft.alias("a"))
    ex = spec.select(
        "channel",
        F.posexplode(F.zip_with(F.col("a.re"), F.col("a.im"),
                                lambda r, i: r * r + i * i))
         .alias("bin", "p2"))
    return (ex.groupBy("channel", "bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg("p2").alias("s_ii"),
                 F.avg(F.col("p2") * F.col("p2")).alias("r_ii")))


def _cross_delta_batch(batch_df: DataFrame, channels: list[str],
                       fs: float) -> DataFrame:
    """One micro-batch of the cross-spectral delta log: the batch's
    chunks reduced to per-bin partial pair-product sums."""
    from ..vibration import cross_bin_products, cross_moment_fields

    flds = cross_moment_fields(channels)
    zipped = cross_bin_products(batch_df, channels, fs, strict=True)
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(F.col("v").getField(f)).alias(f) for f in flds]
    return zipped.groupBy("bin").agg(*aggs)


def streaming_cross_deltas(chunks: DataFrame, channels: list[str],
                           fs: float, path: str, checkpoint_dir: str,
                           query_name: str = "cross_moments",
                           timeout_sec: int = 300):
    """Streaming twin of the CROSS-spectral ensemble
    (:func:`~detanalysis_spark.vibration.continuous_moments`): each
    micro-batch's chunks reduce to per-bin PARTIAL pair-product sums
    (n, ΣS_re, ΣS_im, ΣR per channel pair) appended to a parquet
    delta log; :func:`read_cross_moments_from_deltas` merges the log
    back to the exact batch moment frame (sums are associative).

    Alignment contract (STRICT): cross-spectra need every channel's
    spectrum for the SAME chunk id, so a micro-batch must carry all
    channels' samples for the chunk ids it completes — true for the
    natural DAQ layout where each file holds a time window of ALL
    channels. A violating batch raises (naming the chunk) instead of
    silently dropping ensemble rows; the auto-spectrum twin
    (:func:`streaming_psd_moments`) has no such constraint.

    State story: the only streaming state is the rechunker's remainder
    buffer (one row per channel); the gather/product/sum runs as a
    BATCH plan inside foreachBatch, so nothing here accumulates
    unbounded state. Delta log grows one ≤(n_bins)-row file per batch.

    Exactly-once: ``foreachBatch`` is at-least-once (a crash between
    the parquet write and the checkpoint commit replays the batch), so
    the partials go through :func:`stream_to_parquet`'s idempotent
    ``__batch_id__`` sink: a replayed micro-batch OVERWRITES its own
    partition instead of appending a duplicate copy, so the merged
    moments never double-weight a batch.
    """
    def reduce_batch(batch_df: DataFrame, _batch_id: int) -> DataFrame:
        return _cross_delta_batch(batch_df, channels, fs)

    return stream_to_parquet(chunks, path, checkpoint_dir,
                             transform=reduce_batch,
                             query_name=query_name,
                             timeout_sec=timeout_sec)


def read_cross_moments_from_deltas(spark: SparkSession, path: str,
                                   channels: list[str],
                                   sample_rate: float,
                                   n_samples: int) -> DataFrame:
    """Merge a :func:`streaming_cross_deltas` log back to one moment
    frame — same schema and values as the batch
    ``continuous_moments`` (n, S_re__*/S_im__*/R__* means,
    frequency_hz)."""
    from ..vibration import cross_moment_fields

    flds = cross_moment_fields(channels)
    df = spark.read.parquet(path).drop("__batch_id__")
    aggs = [F.sum("n").alias("n")]
    aggs += [(F.sum(f) / F.sum("n")).alias(f) for f in flds]
    return (df.groupBy("bin").agg(*aggs)
            .withColumn("frequency_hz",
                        F.col("bin") * F.lit(sample_rate / n_samples))
            .drop("bin"))


def run_available_now(sdf: DataFrame, query_name: str = "moments",
                      output_mode: str = "complete",
                      timeout_sec: int = 300,
                      shuffle_partitions: int | None = None) -> DataFrame:
    """Drain a bounded stream with AvailableNow into a memory sink and
    return the final result as a batch DataFrame.

    ``shuffle_partitions`` temporarily overrides
    ``spark.sql.shuffle.partitions`` for the drain (restored after):
    the state-store partition count is fixed at stream start from that
    conf, and a test-scale drain doesn't need hundreds of per-batch
    store inits — a real deployment sizes it to the key cardinality.

    Raises TimeoutError if the drain doesn't finish in ``timeout_sec``
    (the query keeps running otherwise and would race its reader).
    """
    spark = sdf.sparkSession
    old = None
    if shuffle_partitions is not None:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(int(shuffle_partitions)))
    try:
        _drain(sdf.writeStream.format("memory").outputMode(output_mode),
               query_name, timeout_sec)
    finally:
        if old is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(query_name)


def streaming_dedup_exact(sdf: DataFrame, cols: list[str],
                          watermark_col: str | None = None,
                          delay: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: state-backed first-wins on content hash.

    The batch ``llm.dedup.dedup_exact`` keeps min-id per hash; on a
    stream "first seen wins" is the streaming analog (arrival order is
    the stream's id order). With ``watermark_col`` the dedup state is
    evicted once keys age past ``delay``
    (``dropDuplicatesWithinWatermark``) — the unbounded-ingest path
    where duplicates arrive close together (crawl recrawls, retries).
    Without it, state holds every distinct hash — only for bounded
    backfills.

    State lives in the streaming state store keyed by the hash —
    shuffle-partitioned, scales horizontally with partitions.
    """
    from ..llm.dedup import content_hash

    out = sdf.withColumn("__content_hash__", content_hash(*cols))
    if watermark_col is not None:
        out = out.withWatermark(watermark_col, delay)
        return (out.dropDuplicatesWithinWatermark(["__content_hash__"])
                .drop("__content_hash__"))
    return out.dropDuplicates(["__content_hash__"]).drop("__content_hash__")


def streaming_windowed_counts(sdf: DataFrame, time_col: str,
                              window_duration: str = "1 minute",
                              watermark_delay: str | None = "10 minutes",
                              group_cols: list[str] | None = None
                              ) -> DataFrame:
    """Event-time tumbling-window aggregation with a watermark (ST4 —
    absent from the reference, which assumes in-order HDF5 reads, but
    essential for any real unbounded ingest: late events inside the
    watermark still land in their window; state for closed windows is
    evicted).

    Output: (window.start, window.end, [group_cols...], n) in append
    mode once the watermark passes the window end.

    ``watermark_delay=None`` skips the watermark — required for
    TIMESTAMP_NTZ event time (watermarks demand TIMESTAMP), and the
    session-timezone-independent choice for epoch-aligned windows;
    state then never evicts, so pair it with complete-mode bounded
    drains only.
    """
    cols = list(group_cols or [])
    if watermark_delay is not None:
        sdf = sdf.withWatermark(time_col, watermark_delay)
    return (sdf
            .groupBy(F.window(F.col(time_col), window_duration), *cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"), *cols, "n"))


def streaming_near_dup_hits(sdf: DataFrame, corpus_buckets: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            num_hashes: int = 64, bands: int = 16,
                            shingle_n: int = 3,
                            emit: str = "ids",
                            rows_per_band: int | None = None) -> DataFrame:
    """Streaming near-dup SCREEN against a static corpus: each
    micro-batch's documents are MinHash-signed and joined against the
    corpus's precomputed LSH band buckets; a doc id is emitted when it
    shares ≥1 (band, bucket) key with any corpus doc — the ingest-time
    "probably seen before" gate of an unbounded crawl, the streaming
    counterpart of ``llm.dedup.lsh_candidate_pairs_between``.

    Signature work is stateless per batch (the same native expressions
    the batch path uses — no Python); the (band, bucket) probe is a
    stream-static equi-join (static side broadcast or shuffled once
    per batch); the final per-id dedup is ``dropDuplicates`` streaming
    state keyed by id. Output: distinct flagged ``id_col`` rows, append
    mode — feed them to an exact-Jaccard verify stage or an anti-join
    quarantine. (Returning the full row + flag would need a
    stream-stream self-join; the id stream composes with the caller's
    ``foreachBatch`` instead.)

    ``corpus_buckets``: the static (id, band, bucket) frame from
    ``llm.dedup.lsh_band_buckets`` over the existing corpus's
    signatures (same num_hashes/bands family — REQUIRED for bucket
    keys to be comparable).

    ``emit="ids"`` (default) outputs distinct flagged ``id_col`` rows;
    ``emit="pairs"`` outputs distinct (``id_col``, ``corpus_id``)
    CANDIDATE PAIRS — the exact set a batch
    ``lsh_candidate_pairs_between`` on the same signatures would
    produce, so a downstream exact-Jaccard verify can consume the
    drain directly without RE-SIGNING the stream side (the signatures
    were already computed in the drain; signing twice doubles the
    dominant cost of the screen at scale). Pair mode keys the
    dropDuplicates state by pair, which is bounded by the OUTPUT
    candidate set, not the stream size.
    """
    from ..llm.dedup import lsh_band_buckets, minhash_signatures

    if emit not in ("ids", "pairs"):
        raise ValueError(f"emit must be 'ids' or 'pairs', got {emit!r}")
    if rows_per_band is None:
        rows_per_band = num_hashes // bands
    sigs = minhash_signatures(sdf.select(id_col, text_col), text_col,
                              num_hashes, shingle_n, id_col=id_col)
    bb = lsh_band_buckets(sigs, id_col, "minhash", bands, rows_per_band)
    if emit == "pairs":
        corp = (corpus_buckets
                .withColumnRenamed(id_col, "corpus_id")
                .select("corpus_id", "band", "bucket"))
        return (bb.join(corp, ["band", "bucket"])
                .select(id_col, "corpus_id")
                .dropDuplicates([id_col, "corpus_id"]))
    return (bb.join(corpus_buckets.select("band", "bucket").distinct(),
                    ["band", "bucket"])
            .select(id_col).dropDuplicates([id_col]))


def streaming_lsh_index_hits(sdf: DataFrame, index_path: str,
                             text_col: str = "text",
                             emit: str = "ids") -> DataFrame:
    """Streaming near-dup screen against a PERSISTED on-disk LSH index
    (``llm.dedup.write_lsh_index``): the unbounded-ingest composition
    of :func:`streaming_near_dup_hits` where the corpus buckets and —
    critically — the hash family come from the index's own
    ``_lsh_meta`` sidecar, so the stream can never be signed with
    mismatched parameters. The corpus text is never touched; each
    micro-batch pays only its own signatures plus a stream-static join
    against the compact (id, band, bucket) table.
    """
    from ..llm.dedup import read_lsh_meta

    spark = sdf.sparkSession
    meta = read_lsh_meta(spark, index_path)
    buckets = spark.read.parquet(index_path)
    return streaming_near_dup_hits(
        sdf, buckets, id_col=meta.id_col, text_col=text_col,
        num_hashes=int(meta.num_hashes), bands=int(meta.bands),
        shingle_n=int(meta.shingle_n), emit=emit,
        rows_per_band=int(meta.rows_per_band))


def streaming_session_counts(sdf: DataFrame, time_col: str,
                             gap: str = "5 minutes",
                             watermark_delay: str = "10 minutes",
                             group_cols: list[str] | None = None
                             ) -> DataFrame:
    """Gap-based sessionization on an unbounded stream via native
    ``session_window`` — the streaming counterpart of the batch
    ``operators.sampling.sessionize`` (lag + running sum): events of the
    same key separated by < ``gap`` merge into one session whose window
    extends ``gap`` past the last event. Session state is merged
    incrementally by the streaming aggregation and evicted once the
    watermark passes a session's end — bounded state on an unbounded
    stream, which the batch window-function formulation cannot give.

    Output (append mode, emitted when sessions close):
    (session_start, session_end, [group_cols...], n_events).
    """
    cols = list(group_cols or [])
    if not cols:
        raise ValueError(
            "streaming_session_counts needs at least one group column: "
            "Spark does not support GLOBAL session-window aggregation "
            "on a stream (sessions must be keyed, e.g. by user)")
    return (sdf.withWatermark(time_col, watermark_delay)
            .groupBy(F.session_window(F.col(time_col), gap), *cols)
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    *cols, "n_events"))


def stream_to_parquet(sdf: DataFrame, path: str, checkpoint_dir: str,
                      transform=None, query_name: str = "ingest",
                      timeout_sec: int = 300):
    """Streaming parquet SINK with checkpointed exactly-once file
    commits — the persistent-ingest counterpart of the memory-sink
    drain in :func:`run_available_now`.

    The checkpoint directory carries the source offsets, so re-running
    over an unchanged input directory appends NOTHING new (idempotent
    restart — the property a 100 TB ingest loop actually needs). Crash
    safety differs by path:

    - Without ``transform``, the native parquet sink's file-commit log
      makes mid-batch crash replays exactly-once.
    - With ``transform`` (``foreachBatch``), there is no commit log, so
      the write is keyed by a ``__batch_id__`` partition column with
      dynamic partition overwrite: a replayed micro-batch OVERWRITES
      its own partition instead of appending a duplicate — idempotent
      under replay. Readers see the extra ``__batch_id__`` column; drop
      it if the schema must match the input exactly.

    ``transform``: optional per-micro-batch function
    ``(batch_df, batch_id) -> DataFrame`` applied via ``foreachBatch``
    — the hook for batch-only ops in the sink path (e.g. anti-join
    against a persisted dedup index). Without it the stream writes
    directly (no epoch-level Python involvement).

    Drains with ``Trigger.AvailableNow``; raises TimeoutError if not
    finished within ``timeout_sec``. Returns the terminated
    StreamingQuery.
    """
    if transform is None:
        writer = sdf.writeStream.format("parquet").option("path", path)
    else:
        writer = sdf.writeStream.foreachBatch(
            _partitioned_batch_writer(transform, path))
    return _drain(writer.option("checkpointLocation", checkpoint_dir),
                  query_name, timeout_sec)


def _partitioned_batch_writer(transform, path: str):
    """The foreachBatch function of :func:`stream_to_parquet`'s
    idempotent sink: ``transform``'s output lands in the batch's own
    ``__batch_id__`` partition with dynamic overwrite, so a replayed
    batch id overwrites its prior partition instead of appending."""
    def _write(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df, batch_id)
        if out is not None:
            (out.withColumn("__batch_id__", F.lit(int(batch_id)))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("__batch_id__")
             .parquet(path))

    return _write


def _drain(writer, query_name: str, timeout_sec: int):
    """Start a configured ``DataStreamWriter`` as ``query_name`` with
    ``Trigger.AvailableNow`` and wait for the bounded backlog to drain.
    On timeout the query is stopped (a running query would race its
    reader) and TimeoutError raised. Returns the terminated query."""
    q = writer.queryName(query_name).trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {query_name!r} did not finish in "
            f"{timeout_sec}s")
    return q


def streaming_ann_topk(sdf: DataFrame, ivf, corpus: DataFrame, k: int = 5,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       probe_id_col: str | None = None) -> DataFrame:
    """Streaming approximate nearest neighbors: each micro-batch's
    probe vectors are cell-assigned by a fitted :class:`IVFIndex` and
    joined against the STATIC corpus's cells — the ingest-time "what
    does this new document resemble" lookup of an unbounded embedding
    stream (near-real-time retrieval, streaming semantic screening).

    Shapes: cell assignment is a per-row vectorized projection on the
    stream (one matmul per Arrow batch against the small centroid
    matrix); the candidate step is a stream-static equi-join on the
    cell id, so each probe scores ~``n_probe/n_centroids`` of the
    corpus, never all of it. Per-probe ranking uses a streaming
    groupBy with a sorted-collect aggregate sliced to k at output
    (window functions are not available on unbounded frames).

    State caveat: ``collect_list`` buffers ALL of a probe's scored
    candidates (~corpus × n_probe/n_centroids structs per probe), and
    complete mode retains every probe ever seen — so this shape is for
    BOUNDED drains (``run_available_now``) or short update-mode runs.
    For a long-running unbounded probe stream use
    :func:`streaming_ann_topk_microbatch`, which runs the batch
    ranking inside ``foreachBatch`` with zero aggregation state.

    Output: (probe_id, rank, neighbor_id, sim) — the same contract as
    ``IVFIndex.topk``.
    """
    from ..llm.similarity import _dot, _unit

    pid = probe_id_col or id_col
    c = (ivf.with_cell(corpus, vec_col)
         .select(F.col(id_col).alias("neighbor_id"),
                 F.col("ivf_cell").alias("cell"),
                 _unit(F.col(vec_col)).alias("vec")))
    p = (ivf._celled_probes(sdf, pid, vec_col)
         .select("probe_id", "probe_vec", F.explode("cells").alias("cell")))
    pairs = p.join(c, "cell").filter(
        F.col("neighbor_id") != F.col("probe_id"))
    scored = pairs.select(
        "probe_id", "neighbor_id",
        _dot(F.col("vec"), F.col("probe_vec")).alias("sim"))
    # top-k per probe without a window: collect (-sim, neighbor) structs,
    # sort ascending (= sim descending, neighbor asc tie-break), slice k
    topk = (scored.groupBy("probe_id")
            .agg(F.slice(F.sort_array(F.collect_list(F.struct(
                (-F.col("sim")).alias("neg_sim"),
                F.col("neighbor_id").alias("neighbor_id")))),
                1, int(k)).alias("top")))
    hit = F.explode(F.transform(
        F.col("top"),
        lambda s, i: F.struct((i + 1).alias("rank"),
                              s["neighbor_id"].alias("neighbor_id"),
                              (-s["neg_sim"]).alias("sim"))))
    return (topk.select("probe_id", hit.alias("h"))
            .select("probe_id", "h.rank", "h.neighbor_id", "h.sim"))


def streaming_ann_topk_microbatch(sdf: DataFrame, ivf, corpus: DataFrame,
                                  path: str, checkpoint_dir: str,
                                  k: int = 5, id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  probe_id_col: str | None = None,
                                  query_name: str = "ann_topk_mb",
                                  timeout_sec: int = 300):
    """Micro-batch streaming ANN ranking with ZERO aggregation state —
    the long-running-stream counterpart of :func:`streaming_ann_topk`.

    Each micro-batch of probe vectors runs the full BATCH
    ``IVFIndex.topk`` against the static corpus inside ``foreachBatch``
    (cell equi-join + per-probe window — windows are legal there
    because the batch frame is bounded), and the ranked hits land in
    ``path`` partitioned by ``__batch_id__`` via
    :func:`stream_to_parquet`'s idempotent dynamic-overwrite sink: a
    crash-replayed batch overwrites its own partition, exactly-once.

    Unlike the ``collect_list`` shape, per-probe state lives only for
    the duration of its own micro-batch — an unbounded probe stream
    runs forever in constant memory. Results: read ``path`` and drop
    ``__batch_id__`` (each probe appears once, in the batch that
    carried it). Same (probe_id, rank, neighbor_id, sim) contract as
    ``IVFIndex.topk``.
    """
    def rank_batch(batch_df: DataFrame, _batch_id: int) -> DataFrame:
        return ivf.topk(corpus, batch_df, k, id_col=id_col,
                        vec_col=vec_col, probe_id_col=probe_id_col)

    return stream_to_parquet(sdf, path, checkpoint_dir,
                             transform=rank_batch,
                             query_name=query_name,
                             timeout_sec=timeout_sec)


def streaming_rollup_deltas(sdf: DataFrame, path: str,
                            checkpoint_dir: str, ts_col: str,
                            value_col: str, keys: tuple = (),
                            width_us: int = 86_400_000_000,
                            query_name: str = "rollup",
                            timeout_sec: int = 300):
    """Streaming CONTINUOUS AGGREGATE maintenance, exactly-once.

    Each micro-batch is reduced to its time-bucket rollup rows
    (mergeable sufficient statistics — ``operators.rollup``) and
    appended as a DELTA partition keyed by ``__batch_id__`` through
    :func:`stream_to_parquet`'s idempotent ``foreachBatch`` path: a
    replayed micro-batch OVERWRITES its own partition instead of
    double-counting, so the delta log is exactly-once under crash
    replay — the property a plain read-merge-write upsert cannot give
    a stream. Readers call :func:`read_rollup_from_deltas` (merge at
    read — delta rows are buckets × keys per batch, tiny); compact
    offline with ``operators.rollup.update_rollup`` when the delta
    count grows.
    """
    from ..operators.rollup import build_rollup

    def to_rollup(batch_df: DataFrame, _batch_id: int) -> DataFrame:
        return build_rollup(batch_df, ts_col, value_col, keys=keys,
                            width_us=width_us)

    return stream_to_parquet(sdf, path, checkpoint_dir,
                             transform=to_rollup,
                             query_name=query_name,
                             timeout_sec=timeout_sec)


def read_rollup_from_deltas(spark: SparkSession, path: str,
                            keys: tuple = ()) -> DataFrame:
    """Merge a streaming delta-rollup log back to one rollup frame
    (drop the idempotency partition column, re-aggregate the
    sufficient statistics)."""
    from ..operators.rollup import merge_rollups

    return merge_rollups(spark.read.parquet(path).drop("__batch_id__"),
                         keys=keys)


def streaming_upsert(sdf: DataFrame, table_path: str,
                     checkpoint_dir: str,
                     dedupe_order: str | None = None,
                     query_name: str = "upsert",
                     timeout_sec: int = 300):
    """Streaming MERGE maintenance of a :func:`~detanalysis_spark.
    sources.layout.cow_write` keyed table — the table-maintenance twin
    of :func:`streaming_rollup_deltas` (VERDICT r9 #5).

    Each micro-batch is reduced to ONE winner row per key (``
    dedupe_order`` names a column whose maximum wins, e.g. an event
    time — ties and the no-column default fall back to the greatest
    full-row struct, a deterministic policy) and applied with
    ``upsert_parquet`` — so only the bucket directories the batch's
    keys hash into are rewritten, exactly the batch MERGE's
    copy-on-write granularity.

    Exactly-once story (mirrors ``stream_to_parquet``'s foreachBatch
    path, adapted to a MERGE target):

    - The checkpoint carries source offsets: a re-drain over an
      unchanged input applies nothing new.
    - Replace-by-key is IDEMPOTENT: a crash-replayed micro-batch
      re-applies the same winners onto a table where they may already
      be present — same final state (AvailableNow replays a batch
      only before the next one commits, so a replay never clobbers a
      LATER batch's winners).
    - Belt-and-suspenders, a ``_cow_stream_meta`` sidecar records the
      last applied batch id TOGETHER WITH the checkpoint lineage that
      produced it; batches at or below it are skipped only when they
      come from the SAME checkpoint. Batch ids are checkpoint-scoped,
      not table-scoped — a new query (fresh checkpoint) over a grown
      input restarts ids at 0, and an unscoped guard would silently
      drop its early batches (ADVICE r10). A lineage change resets the
      guard instead.

    Returns the terminated StreamingQuery. Keys/bucketing come from
    the table's own ``_cow_meta`` sidecar, so a batch hashed with the
    wrong geometry is impossible by construction.
    """
    from ..sources.layout import upsert_parquet
    from ..util import write_small_parquet

    meta_path = table_path.rstrip("/") + "/_cow_stream_meta"
    lineage = _lineage_id(checkpoint_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        meta = spark.read.parquet(
            table_path.rstrip("/") + "/_cow_meta").first()
        keys = meta.key_cols.split(",")
        try:
            row = spark.read.parquet(meta_path).first()
            # Batch ids are checkpoint-scoped: only a sidecar written
            # by THIS checkpoint lineage can veto a batch id. A
            # different (or legacy schema-less) lineage resets to -1.
            last = (int(row["last_batch"])
                    if row["checkpoint"] == lineage else -1)
        except Exception:   # noqa: BLE001 — first batch: no sidecar yet
            last = -1
        if int(batch_id) <= int(last):
            return                          # replayed batch: no-op
        # dedupe_order picks the winner; ties (and the no-column
        # default) fall back to the greatest full-row struct so the
        # result never depends on partition order.
        tiebreak = F.struct(*[c for c in batch_df.columns])
        order_cols = ([F.col(dedupe_order).desc(), tiebreak.desc()]
                      if dedupe_order else [tiebreak.desc()])
        w = Window.partitionBy(*keys).orderBy(*order_cols)
        winners = (batch_df
                   .withColumn("__rn__", F.row_number().over(w))
                   .filter(F.col("__rn__") == 1).drop("__rn__"))
        upsert_parquet(spark, table_path, winners)
        write_small_parquet(spark, [(int(batch_id), lineage)], meta_path,
                            "last_batch long, checkpoint string")

    return _drain(sdf.writeStream.foreachBatch(_apply)
                  .option("checkpointLocation", checkpoint_dir),
                  query_name, timeout_sec)
