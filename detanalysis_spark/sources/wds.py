"""WebDataset-style tar-shard I/O for training-data export/ingest.

Training loaders read SEQUENTIAL tar shards (the webdataset
convention: each sample is a group of files sharing a key prefix —
``{key}.txt``, ``{key}.jpg``, ``{key}.json`` — and a shard is a plain
tar of many samples). At 100 TB the export format matters as much as
the pipeline: a loader streaming ``shard-00042.tar`` does one
sequential read per worker, no per-sample seeks, no manifest lookups.

Spark-first shape:

- **Write** (:func:`write_tar_shards`): one tar per partition, written
  by the executor that owns the partition (the same
  shard-per-partition economics as ``write_wet``/``write_jsonl`` —
  there is no "tar writer" sink to hand Spark, and a driver-side tar
  would serialize the whole corpus through one process). Shard
  assignment is a hash repartition on the sample key with an in-shard
  key sort, so output is DETERMINISTIC for a given (df, n_shards) and
  re-runs produce byte-identical shards (mtime pinned to 0).
- **Read** (:func:`read_tar_shards`): ``binaryFile`` scan (one row per
  shard — shards are sized by construction, so whole-shard rows are
  bounded) → Arrow-batched tar parse → one row per member in LONG
  format ``(key, ext, payload, shard)``; ``wide=True`` pivots members
  of a sample into one ``map<ext, payload>`` row per key.

Everything is stdlib ``tarfile`` — no external deps, and the output
opens with any webdataset/tar consumer.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .textio import _binary_shards

__all__ = ["write_tar_shards", "read_tar_shards", "stream_tar_shards"]

_MEMBER_SCHEMA = "key string, ext string, payload binary, shard string"


def _parse_tar_batches(batches):
    """Shared Arrow-batched tar parse of (path, content) rows — the
    SAME function backs the batch and streaming readers, so
    batch == stream holds by construction."""
    import io
    import tarfile
    for pdf in batches:
        keys, exts, payloads, shards = [], [], [], []
        for p, content in zip(pdf["path"], pdf["content"]):
            shard = os.path.basename(str(p))
            with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tf:
                for m in tf:
                    if not m.isfile():
                        continue
                    key, _, ext = m.name.rpartition(".")
                    keys.append(key if key else m.name)
                    exts.append(ext if key else "")
                    payloads.append(tf.extractfile(m).read())
                    shards.append(shard)
        yield pd.DataFrame({"key": keys, "ext": exts,
                            "payload": payloads, "shard": shards})


def write_tar_shards(df: DataFrame, path: str, key_col: str,
                     members: dict[str, str], n_shards: int = 8,
                     prefix: str = "shard",
                     mode: str = "overwrite") -> DataFrame:
    """Export ``df`` as webdataset-style tar shards.

    ``members`` maps column → member extension, e.g.
    ``{"text": "txt", "payload": "bin", "meta": "json"}``: each row
    becomes one sample whose members are named ``{key}.{ext}``.
    Binary columns are written as-is; anything else is utf-8 of its
    string form; NULL members are skipped (webdataset treats missing
    member files as absent fields). Keys must be unique per row.

    Returns the (small, ``<= n_shards``-row) manifest DataFrame
    ``(shard, n_members, n_bytes)`` — already materialized (the write
    happens eagerly), and also persisted under ``path/_manifest`` so a
    later session can audit the export without re-listing tars.

    ``path`` must be a filesystem every executor can write (local dir
    in local mode, a shared mount on a cluster); the tar writer is
    plain ``open()``, not a Hadoop committer — rerun-into-overwrite
    rather than concurrent-append.
    """
    if not members:
        raise ValueError("members mapping must not be empty")
    bad = [c for c in [key_col, *members] if c not in df.columns]
    if bad:
        raise ValueError(f"columns not in frame: {bad}")
    if mode not in ("overwrite", "error"):
        raise ValueError(f"mode must be 'overwrite' or 'error', got {mode!r}")
    if os.path.exists(path):
        if mode == "error":
            raise FileExistsError(path)
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    member_items = sorted(members.items())
    sel = (df.select(key_col, *[c for c, _ in member_items])
           .repartition(int(n_shards), F.col(key_col))
           .sortWithinPartitions(key_col))

    def write_part(batches):
        import io
        import tarfile

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fpath = os.path.join(path, f"{prefix}-{pid:05d}.tar")
        n = 0
        nbytes = 0
        with tarfile.open(fpath, "w", format=tarfile.GNU_FORMAT) as tf:
            for pdf in batches:
                cols = [pdf[c] for c, _ in member_items]
                for key, *vals in zip(pdf[key_col], *cols):
                    k = str(key)
                    for (_, ext), v in zip(member_items, vals):
                        if v is None:
                            continue
                        data = (bytes(v)
                                if isinstance(v, (bytes, bytearray,
                                                  memoryview))
                                else str(v).encode("utf-8"))
                        info = tarfile.TarInfo(name=f"{k}.{ext}")
                        info.size = len(data)
                        info.mtime = 0          # deterministic bytes
                        tf.addfile(info, io.BytesIO(data))
                        n += 1
                        nbytes += len(data)
        if n == 0:
            os.remove(fpath)                    # no empty shards
            yield pd.DataFrame({"shard": pd.Series([], dtype=object),
                                "n_members": pd.Series([], dtype="int64"),
                                "n_bytes": pd.Series([], dtype="int64")})
        else:
            yield pd.DataFrame({"shard": [os.path.basename(fpath)],
                                "n_members": [n], "n_bytes": [nbytes]})

    manifest = sel.mapInPandas(
        write_part, "shard string, n_members long, n_bytes long")
    rows = sorted((r.shard, r.n_members, r.n_bytes)
                  for r in manifest.collect())
    from ..util import local_frame
    out = local_frame(df.sparkSession, rows,
                      "shard string, n_members long, n_bytes long")
    (out.coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, "_manifest")))
    return out


def read_tar_shards(spark: SparkSession, path: str,
                    pattern: str = "*.tar",
                    wide: bool = False) -> DataFrame:
    """Read tar shards back as a DataFrame.

    Long format (default): one row per member —
    ``(key, ext, payload binary, shard)``. ``wide=True``: one row per
    SAMPLE — ``(key, members map<string, binary>)`` — via a key-keyed
    ``map_from_entries`` aggregate (one shuffle; keys of a sample are
    together in their shard already, so map-side combine keeps it
    cheap).

    Each shard arrives as one ``binaryFile`` row (whole-shard memory
    per task — shards are written bounded; re-shard upstream rather
    than raising limits), and the tar parse is Arrow-batched.
    """
    long = _binary_shards(spark, os.path.join(path, pattern)) \
        .mapInPandas(_parse_tar_batches, _MEMBER_SCHEMA)
    if not wide:
        return long
    return (long.groupBy("key")
            .agg(F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("ext", "payload"))))
                .alias("members")))


def stream_tar_shards(spark: SparkSession, path: str,
                      pattern: str = "*.tar",
                      max_files_per_trigger: int | None = None
                      ) -> DataFrame:
    """Streaming tar-shard ingest: an unbounded readStream over a
    shard directory (a training-export landing zone) parsed through
    the SAME ``_parse_tar_batches`` as the batch reader — batch ==
    stream by construction. Each micro-batch carries whole shards
    (one ``binaryFile`` row per tar); returns the long member frame
    ``(key, ext, payload, shard)``, append-mode friendly (stateless
    projection — compose with ``streaming_dedup_exact`` /
    ``stream_to_parquet`` downstream)."""
    sdf = _binary_shards(spark, os.path.join(path, pattern),
                         max_files_per_trigger=max_files_per_trigger,
                         stream=True)
    return sdf.mapInPandas(_parse_tar_batches, _MEMBER_SCHEMA)
