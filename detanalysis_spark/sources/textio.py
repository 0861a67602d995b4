"""JSONL / CSV corpus ingestion with corrupt-record quarantine.

Web-scale training corpora arrive as (usually compressed) JSONL or CSV
— Common Crawl derivatives, RedPajama-style dumps, vendor exports —
not parquet. These readers wrap Spark's native sources with the
settings that matter at 100 TB:

- **Explicit schema, never inference**: ``inferSchema``/sampled JSON
  inference scans the input an extra time before the real read — at
  corpus scale that doubles the most expensive pass of the pipeline.
- **Corrupt rows are data, not exceptions**: a billion-line crawl WILL
  contain truncated records, encoding damage, and schema drift. The
  JSONL reader parses ``spark.read.text`` lines through native
  ``from_json`` (same Jackson parse as the json source, whole-stage
  codegen) so the RAW LINE survives next to the parse result — the
  quarantine split is then a plain filter, with none of the
  ``_corrupt_record``-requires-cache ceremony of the built-in source,
  and no second read.
- **Compression transparency with a documented trap**: Spark decodes
  ``.gz`` per file but gzip is NOT splittable — one task per file, so
  a single 500 GB ``.jsonl.gz`` serializes the whole read. Prefer many
  shards (the writers here shard by partition) or a splittable codec.

The CSV path uses the native reader (quoting/escaping state machines
don't decompose line-by-line) with PERMISSIVE mode and a retained
corrupt-record column.
"""

from __future__ import annotations

from ..util import _ddl_columns, _row_map, local_frame
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

__all__ = ["read_jsonl", "read_jsonl_quarantine", "write_jsonl",
           "read_csv_corpus", "stream_jsonl_quarantine",
           "read_wet", "write_wet", "stream_wet",
           "read_warc", "write_warc", "stream_warc"]


def read_jsonl_quarantine(spark: SparkSession, path: str,
                          schema: StructType | str
                          ) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine) from JSON-lines files under ``path``.

    ``good`` carries exactly the schema's columns; ``quarantine`` is
    one ``line string`` column holding every non-blank line that
    failed to parse. PERMISSIVE ``from_json`` yields all-NULL structs
    for malformed input (indistinguishable from ``{}``), so the
    corrupt-record column rides INSIDE the parse schema — malformed
    lines surface there, well-formed ones leave it null. Both frames
    share ONE text scan plan — no cache, no second read; blank lines
    are dropped from both sides. An explicit ``schema`` (DDL string or
    StructType) is required by design: inference would add a full
    extra pass over the corpus.
    """
    return _parse_jsonl_lines(spark.read.text(path), schema)


def _parse_jsonl_lines(lines: DataFrame, schema: StructType | str
                       ) -> tuple[DataFrame, DataFrame]:
    """(good, bad) from a one-column ``value string`` frame of raw
    lines — pure projections/filters, so the SAME code path serves
    batch reads and Structured Streaming sources."""
    cols = _ddl_columns(schema)
    ddl = ", ".join(f for _, f in cols)
    # only a TOP-LEVEL column collides with columnNameOfCorruptRecord;
    # nested struct fields named __corrupt__ are legal
    if "__corrupt__" in [name for name, _ in cols]:
        raise ValueError(
            "read_jsonl: the schema may not contain a top-level "
            "__corrupt__ column (reserved for the corrupt-record "
            "sentinel)")
    parse_schema = f"{ddl}, __corrupt__ string"
    parsed = (lines
              .filter(F.trim(F.col("value")) != "")
              .select(F.col("value"),
                      F.from_json(
                          F.col("value"), parse_schema,
                          {"mode": "PERMISSIVE",
                           "columnNameOfCorruptRecord": "__corrupt__"})
                      .alias("__j__")))
    # malformed input puts the WHOLE raw line in the sentinel field; a
    # VALID row whose JSON happens to carry a "__corrupt__" key fills
    # it with that key's value instead — only the exact-raw-line match
    # is a parse failure, so such rows stay good (the stray key is
    # simply not in the caller's schema)
    is_bad = (F.col("__j__.__corrupt__").isNotNull()
              & (F.col("__j__.__corrupt__") == F.col("value")))
    good = (parsed.filter(~is_bad)
            .select("__j__.*").drop("__corrupt__"))
    bad = parsed.filter(is_bad).select(F.col("value").alias("line"))
    return good, bad


def stream_jsonl_quarantine(spark: SparkSession, path: str,
                            schema: StructType | str,
                            max_files_per_trigger: int | None = None
                            ) -> tuple[DataFrame, DataFrame]:
    """Streaming twin of :func:`read_jsonl_quarantine`: an unbounded
    (good, quarantine) pair over JSONL files landing under ``path`` —
    the continuous-ingest front door (each micro-batch picks up newly
    arrived shards; downstream dedup/curation stages compose because
    the parse is stateless). Same parse plan as the batch reader by
    construction (:func:`_parse_jsonl_lines` is projections/filters
    only), so batch == streaming row-for-row on the same files.
    """
    r = spark.readStream
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return _parse_jsonl_lines(r.text(path), schema)


def read_jsonl(spark: SparkSession, path: str,
               schema: StructType | str) -> DataFrame:
    """Parsed rows only (quarantine silently dropped) — see
    :func:`read_jsonl_quarantine` when bad lines must be audited."""
    good, _ = read_jsonl_quarantine(spark, path, schema)
    return good


def write_jsonl(df: DataFrame, path: str,
                compression: str | None = None,
                mode: str = "overwrite") -> None:
    """Shard ``df`` as JSON-lines text files (one shard per partition
    — many shards is the point: a monolithic ``.gz`` is unsplittable
    on read). ``compression`` passes through to the text writer
    (``gzip``, ``bzip2``, ...)."""
    out = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    w = out.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.text(path)


def read_wet(spark: SparkSession, path: str,
             record_types: tuple[str, ...] = ("conversion",)
             ) -> DataFrame:
    """WARC/WET record reader (ISO 28500 / the Common Crawl text
    format) → one row per record:
    ``(source_file, warc_type, target_uri, warc_date, content_length,
    payload)``.

    Spark-first shape: each file is read WHOLE (``wholetext`` — WET
    shards are single-member gzip, one task per file either way), then
    records split on the ``WARC/1.0`` version line, exploded, and
    headers extracted — entirely native ``split`` / ``explode`` /
    ``regexp_extract`` projections, no Python in the row path. The
    leading ``warcinfo`` record and any type outside ``record_types``
    are filtered out (pass ``record_types=None`` to keep everything).

    Framing caveat (documented, inherent to the text-mode parse): the
    payload is delimited by the headers' blank line and the next
    version line rather than by byte-exact ``Content-Length``
    accounting, so a payload containing a line that IS ``WARC/1.0``
    would over-split. Crawl text payloads don't contain WARC framing
    in practice; byte-exact framing of arbitrary binary WARCs would
    need the ``binaryFile`` + ``mapInPandas`` path. The parsed
    ``Content-Length`` header is returned so callers can audit
    (``octet_length(payload) <> content_length`` flags suspect records
    — octet_length, because the header counts UTF-8 BYTES, not chars).
    """
    raw = (spark.read.text(path, wholetext=True)
           .select(F.input_file_name().alias("source_file"), "value"))
    return _parse_wet_files(raw, record_types)


def _parse_records(raw: DataFrame,
                   record_types: tuple[str, ...] | None,
                   columns) -> DataFrame:
    """The one WARC record framer behind the WET and full-WARC readers
    (projections/filters only, so the batch and streaming readers are
    row-identical by construction). ``raw``: (source_file, value) with
    value = one whole file. Records split on the version line, then
    into header block and payload; ``columns(payload, h)`` gives the
    columns after ``(source_file, warc_type)``, where ``h(name)``
    extracts one WARC header."""
    rec = F.explode(F.slice(
        F.split(F.col("value"), r"(?m)^WARC/\d+\.\d+\r?\n"),
        2, 2_147_483_646)).alias("rec")
    recs = raw.select("source_file", rec)
    header = F.regexp_extract(F.col("rec"),
                              r"(?s)^(.*?)\r?\n\r?\n", 1)
    payload = F.regexp_replace(
        F.regexp_replace(F.col("rec"), r"(?s)^.*?\r?\n\r?\n", ""),
        r"(?s)\r?\n\r?\n$", "")

    def h(name: str):
        return F.regexp_extract(header,
                                rf"(?im)^{name}:\s*(.*?)\r?$", 1)

    out = recs.select(
        "source_file",
        F.lower(h("WARC-Type")).alias("warc_type"),
        *columns(payload, h))
    if record_types is not None:
        out = out.filter(F.col("warc_type").isin(
            [t.lower() for t in record_types]))
    return out


def _parse_wet_files(raw: DataFrame,
                     record_types: tuple[str, ...] | None) -> DataFrame:
    return _parse_records(raw, record_types, lambda payload, h: [
        h("WARC-Target-URI").alias("target_uri"),
        h("WARC-Date").alias("warc_date"),
        h("Content-Length").try_cast("long").alias("content_length"),
        payload.alias("payload")])


def _binary_shards(spark: SparkSession, path: str,
                   glob: str | None = None,
                   max_files_per_trigger: int | None = None,
                   stream: bool = False) -> DataFrame:
    """The one ``binaryFile`` shard source, batch or streaming: a
    (path, content) frame with one row per file — whole shards, the
    way the WET/WARC decoders and the tar-shard readers need them
    (gzip members and tars don't split into lines). ``glob`` filters
    file names; ``max_files_per_trigger`` paces a stream."""
    r = spark.readStream if stream else spark.read
    r = r.format("binaryFile")
    if stream:      # a streaming file source needs its schema up front
        r = r.schema("path string, modificationTime timestamp, "
                     "length long, content binary")
    if glob is not None:
        r = r.option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return r.load(path).select("path", "content")


def _decode_shard(path: str, content, cap: int, who: str) -> str:
    """One whole shard as text: gunzip when gzip-framed, then UTF-8
    decode (undecodable bytes replaced). Raises ValueError naming
    ``max_shard_bytes`` when the shard is, or decompresses to, more
    than ``cap`` bytes; the path goes last, so a long one cannot push
    that name past a quarantine reason's cut."""
    import gzip
    import io
    bb = bytes(content)
    if bb[:2] == b"\x1f\x8b":
        # stream-decompress in bounded chunks so an over-cap shard
        # aborts after ~cap bytes, not after buffering the whole bomb
        chunks, total = [], 0
        with gzip.GzipFile(fileobj=io.BytesIO(bb)) as gz:
            while True:
                chunk = gz.read(16 << 20)
                if not chunk:
                    break
                total += len(chunk)
                if total > cap:
                    raise ValueError(
                        f"{who}: shard decompresses past "
                        f"max_shard_bytes={cap} bytes (re-shard the "
                        f"input or raise the cap): {path}")
                chunks.append(chunk)
        bb = b"".join(chunks)
    elif len(bb) > cap:
        raise ValueError(
            f"{who}: shard is {len(bb)} bytes, past "
            f"max_shard_bytes={cap} (re-shard the input or raise the "
            f"cap): {path}")
    return bb.decode("utf-8", errors="replace")


def _shard_text(spark: SparkSession, path: str, glob: str,
                max_files_per_trigger: int | None, stream: bool,
                max_shard_bytes: int, who: str,
                on_error: str) -> DataFrame:
    """Decoded shards behind every WET/WARC reader but the JVM-decoded
    :func:`read_wet` / :func:`read_warc`: (source_file, value) with
    value = one whole decompressed shard as text.

    Shards arrive through :func:`_binary_shards` — the streaming text
    source has no ``wholetext`` mode (it emits lines, destroying
    record framing) — and :func:`_decode_shard` runs per FILE, not per
    record, through the one quarantine kernel (``util._row_map``): the
    only Python in the path, unavoidable because gzip isn't a SQL
    expression.

    Memory bound (documented, per ISO 28500's unsplittable gzip
    members): each task holds ONE decompressed shard in memory while
    decoding. Common Crawl WET shards are ~150–400 MB compressed /
    ~3-4× that decompressed, so executors need headroom for
    (cores-per-executor × max shard) bytes. ``max_shard_bytes`` guards
    the pathological shard (a crawl bug, a gzip bomb, a mis-dropped
    monolithic dump): decompression streams in chunks and ABORTS with
    the offending path as soon as the cap is crossed — a clear
    resource error instead of an executor OOM that kills co-resident
    tasks. Default 4 GiB (~10× a normal WET shard); raise it, or
    re-shard the input, for legitimately bigger files.

    ``on_error="raise"`` fails on the first bad shard;
    ``"quarantine"`` adds ``corrupt_reason`` (see
    :func:`_split_quarantine`) — a billion-shard crawl ALWAYS carries
    a few truncated gzip members or bombs, and one must not kill an
    hours-long drain."""
    cap = int(max_shard_bytes)
    raw = _binary_shards(spark, path, glob, max_files_per_trigger,
                         stream).withColumnRenamed("path", "source_file")
    return _row_map(raw, "source_file", ["source_file", "content"],
                    [StructField("value", StringType())],
                    lambda p, b: (_decode_shard(p, b, cap, who),),
                    on_error)


def _split_quarantine(dec: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine) from a quarantine-mode :func:`_shard_text`
    frame: good = (source_file, value) decoded shards; quarantine =
    (source_file, corrupt_reason) for shards that failed to decompress
    (truncated / corrupt gzip, over-cap bombs). Both are projections
    of the same scan plan."""
    bad = F.col("corrupt_reason").isNotNull()
    return (dec.filter(~bad).select("source_file", "value"),
            dec.filter(bad).select("source_file", "corrupt_reason"))


def read_wet_quarantine(spark: SparkSession, path: str,
                        record_types: tuple[str, ...] = ("conversion",),
                        glob: str = "*",
                        max_shard_bytes: int = 4 << 30
                        ) -> tuple[DataFrame, DataFrame]:
    """(records, quarantine) batch WET reader that survives corrupt
    shards: records = the :func:`read_wet` schema over every shard
    that decompresses; quarantine = (source_file, corrupt_reason) for
    the ones that don't (truncated/corrupt gzip, over-cap bombs). The
    plain :func:`read_wet` stays fail-stop (its JVM gzip codec raises)
    — use this twin for raw crawl intake, where a few bad shards per
    billion are a fact, not a bug (mirrors
    :func:`read_jsonl_quarantine`)."""
    good, bad = _split_quarantine(_shard_text(
        spark, path, glob, None, False, max_shard_bytes,
        "read_wet_quarantine", "quarantine"))
    return _parse_wet_files(good, record_types), bad


def read_warc_quarantine(spark: SparkSession, path: str,
                         record_types: tuple[str, ...] = ("response",),
                         glob: str = "*",
                         max_shard_bytes: int = 4 << 30
                         ) -> tuple[DataFrame, DataFrame]:
    """(records, quarantine) batch WARC reader that survives corrupt
    shards — the :func:`read_warc` twin of
    :func:`read_wet_quarantine`."""
    good, bad = _split_quarantine(_shard_text(
        spark, path, glob, None, False, max_shard_bytes,
        "read_warc_quarantine", "quarantine"))
    return _parse_warc_files(good, record_types), bad


def stream_wet_quarantine(spark: SparkSession, path: str,
                          record_types: tuple[str, ...] = ("conversion",),
                          max_files_per_trigger: int | None = None,
                          glob: str = "*",
                          max_shard_bytes: int = 4 << 30
                          ) -> tuple[DataFrame, DataFrame]:
    """(records, quarantine) streaming WET source that survives
    corrupt shards — one truncated gzip member must not kill an
    hours-long drain. Both frames are streaming projections of the
    same binaryFile source; start each on its OWN checkpoint (two
    queries, two passes — the price of auditing the bad shards)."""
    good, bad = _split_quarantine(_shard_text(
        spark, path, glob, max_files_per_trigger, True, max_shard_bytes,
        "stream_wet_quarantine", "quarantine"))
    return _parse_wet_files(good, record_types), bad


def stream_wet(spark: SparkSession, path: str,
               record_types: tuple[str, ...] = ("conversion",),
               max_files_per_trigger: int | None = None,
               glob: str = "*",
               max_shard_bytes: int = 4 << 30) -> DataFrame:
    """Streaming twin of :func:`read_wet`: an unbounded record frame
    over WET shards landing under ``path`` — the continuous crawl
    front door. Shards decode per file (see
    :func:`_shard_text` for the memory bound and the
    ``max_shard_bytes`` guard); record split + header parse are then
    the SAME projections-only plan as the batch reader, so batch ==
    streaming row-for-row on the same files. Downstream curation/dedup
    stages compose (all stateless per record)."""
    raw = _shard_text(spark, path, glob, max_files_per_trigger, True,
                      max_shard_bytes, "stream_wet", "raise")
    return _parse_wet_files(raw, record_types)


def stream_warc(spark: SparkSession, path: str,
                record_types: tuple[str, ...] = ("response",),
                max_files_per_trigger: int | None = None,
                glob: str = "*",
                max_shard_bytes: int = 4 << 30) -> DataFrame:
    """Streaming twin of :func:`read_warc` — unbounded full-WARC
    response records (HTTP envelope parsed off) over shards landing
    under ``path``. Same decode bound as :func:`stream_wet`; same
    batch == streaming row-parity by construction
    (:func:`_parse_warc_files` is projections/filters only)."""
    raw = _shard_text(spark, path, glob, max_files_per_trigger, True,
                      max_shard_bytes, "stream_warc", "raise")
    return _parse_warc_files(raw, record_types)


def write_wet(df: DataFrame, path: str, uri_col: str, payload_col: str,
              date: str = "2026-01-01T00:00:00Z",
              compression: str | None = None,
              mode: str = "overwrite") -> None:
    """Shard ``df`` as WET-style conversion records (one shard per
    partition) plus ONE ``warcinfo`` record for the dataset — it lands
    in its own (single-row) shard rather than heading every shard as
    real crawler output does; records are self-delimiting so
    :func:`read_wet` and warcio-style readers parse either shape, but
    a consumer that REQUIRES a per-shard warcinfo header must
    post-process. The inverse of :func:`read_wet` for round trips and
    for feeding WET-consuming tools."""
    # each record ends with one blank line: the trailing "\n" here plus
    # the text writer's row terminator — read_wet strips exactly that
    rec = F.concat(
        F.lit("WARC/1.0\n"),
        F.lit("WARC-Type: conversion\n"),
        F.lit("WARC-Target-URI: "), F.col(uri_col), F.lit("\n"),
        F.lit(f"WARC-Date: {date}\n"),
        F.lit("Content-Length: "),
        # ISO 28500 Content-Length is OCTETS of the payload block, not
        # characters — octet_length counts UTF-8 bytes so non-ASCII
        # payloads frame correctly for byte-exact consumers (warcio)
        F.octet_length(F.col(payload_col)).cast("string"), F.lit("\n\n"),
        F.col(payload_col), F.lit("\n"))
    _write_records(df.select(rec.alias("value")), path, date,
                   compression, mode)


def _write_records(body: DataFrame, path: str, date: str,
                   compression: str | None, mode: str) -> None:
    """Write ``body`` (one ``value`` string per WARC record) as text
    shards, headed by ONE ``warcinfo`` record for the whole dataset
    via a tiny union — records are self-delimiting, placement
    within/among shards is free for parsers (see :func:`write_wet`
    for the per-shard-header caveat)."""
    info = "software: detanalysis_spark"
    head = ("WARC/1.0\nWARC-Type: warcinfo\n"
            f"WARC-Date: {date}\nContent-Length: {len(info)}\n\n"
            f"{info}\n")
    out = local_frame(body.sparkSession, [(head,)], "value string") \
        .unionByName(body)
    w = out.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.text(path)


def read_warc(spark: SparkSession, path: str,
              record_types: tuple[str, ...] = ("response",)
              ) -> DataFrame:
    """Full-WARC reader (ISO 28500 response/request records, the raw
    Common Crawl format upstream of WET): the WET record machinery
    plus the HTTP envelope parse → one row per record:
    ``(source_file, warc_type, target_uri, warc_date, record_id,
    content_length, http_status, http_content_type, body)``.

    A ``response`` record's payload is an HTTP message — status line,
    headers, blank line, entity body. All three pieces come out as
    native projections: status code and Content-Type from the header
    block, ``body`` with the HTTP envelope stripped. Records whose
    payload carries no HTTP envelope (``warcinfo``, ``metadata``,
    WET-style ``conversion``) pass through with null status/type and
    ``body`` = payload, so ``record_types=None`` reads mixed archives.

    Same text-mode framing caveat as :func:`read_wet` (records split
    on version lines, not byte-exact Content-Length): correct for
    text-bodied crawls; byte-exact binary WARCs need the
    ``binaryFile`` + ``mapInPandas`` path.
    """
    raw = (spark.read.text(path, wholetext=True)
           .select(F.input_file_name().alias("source_file"), "value"))
    return _parse_warc_files(raw, record_types)


def _parse_warc_files(raw: DataFrame,
                      record_types: tuple[str, ...] | None) -> DataFrame:
    return _parse_records(raw, record_types, _warc_columns)


def _warc_columns(payload, h) -> list:
    """Full-WARC record columns: WARC headers plus the HTTP envelope
    of the payload (status, Content-Type, stripped body)."""
    http_head = F.regexp_extract(
        payload, r"(?s)^(HTTP/\d+(?:\.\d+)?[^\r\n]*\r?\n.*?)\r?\n\r?\n",
        1)
    has_http = http_head != ""
    status = F.when(has_http, F.regexp_extract(
        http_head, r"^HTTP/\d+(?:\.\d+)?\s+(\d{3})", 1)
        .try_cast("int"))
    ctype = F.when(has_http, F.regexp_extract(
        http_head, r"(?im)^Content-Type:\s*(.*?)\r?$", 1))
    body = F.when(has_http, F.regexp_replace(
        payload, r"(?s)^HTTP/\d+(?:\.\d+)?[^\r\n]*\r?\n.*?\r?\n\r?\n",
        "")).otherwise(payload)
    return [h("WARC-Target-URI").alias("target_uri"),
            h("WARC-Date").alias("warc_date"),
            h("WARC-Record-ID").alias("record_id"),
            h("Content-Length").try_cast("long").alias("content_length"),
            status.alias("http_status"),
            ctype.alias("http_content_type"),
            body.alias("body")]


def write_warc(df: DataFrame, path: str, uri_col: str, body_col: str,
               status_col: str | None = None,
               content_type: str = "text/html",
               date: str = "2026-01-01T00:00:00Z",
               compression: str | None = None,
               mode: str = "overwrite") -> None:
    """Shard ``df`` as WARC ``response`` records with a synthesized
    HTTP/1.1 envelope (status line from ``status_col`` or 200,
    Content-Type, byte-exact HTTP Content-Length) — the inverse of
    :func:`read_warc` for round trips and WARC-consuming tools. One
    ``warcinfo`` record heads the DATASET, not each shard (same
    placement caveat as :func:`write_wet`). WARC Content-Length covers
    the whole HTTP message in OCTETS, as ISO 28500 requires."""
    status = (F.col(status_col).cast("string") if status_col
              else F.lit("200"))
    # RFC 9112 reason phrases for the codes crawls actually carry;
    # unknown codes get a neutral phrase rather than a wrong "OK"
    reasons = {"200": "OK", "301": "Moved Permanently",
               "302": "Found", "304": "Not Modified",
               "403": "Forbidden", "404": "Not Found",
               "500": "Internal Server Error",
               "503": "Service Unavailable"}
    phrase = F.lit("Status")
    for code, txt in reasons.items():
        phrase = F.when(status == code, F.lit(txt)).otherwise(phrase)
    http = F.concat(
        F.lit("HTTP/1.1 "), status, F.lit(" "), phrase, F.lit("\n"),
        F.lit(f"Content-Type: {content_type}\n"),
        F.lit("Content-Length: "),
        F.octet_length(F.col(body_col)).cast("string"),
        F.lit("\n\n"), F.col(body_col))
    rec = F.concat(
        F.lit("WARC/1.0\n"),
        F.lit("WARC-Type: response\n"),
        F.lit("WARC-Target-URI: "), F.col(uri_col), F.lit("\n"),
        F.lit(f"WARC-Date: {date}\n"),
        F.lit("WARC-Record-ID: <urn:uuid:"),
        F.md5(F.concat(F.col(uri_col), F.lit(" "),
                       F.col(body_col))), F.lit(">\n"),
        F.lit("Content-Length: "),
        F.octet_length(http).cast("string"), F.lit("\n\n"),
        http, F.lit("\n"))
    _write_records(df.select(rec.alias("value")), path, date,
                   compression, mode)


def read_csv_corpus(spark: SparkSession, path: str,
                    schema: StructType | str, header: bool = True,
                    **options) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine) from CSV files under ``path`` via the native
    reader (quote/escape state machines don't decompose line-by-line,
    so the text-scan trick of the JSONL path doesn't apply here).

    The corrupt-record column rides in the schema (PERMISSIVE mode);
    the malformed frame keeps the raw record as ``line`` ALONGSIDE the
    partially-parsed data columns (PERMISSIVE fills the fields it
    could parse — useful for auditing, and Spark's analyzer rejects a
    CSV plan whose only referenced column is the corrupt record, so
    the quarantine must project data columns anyway).
    """
    full = ", ".join(f for _, f in _ddl_columns(schema)) \
        + ", __corrupt__ string"
    df = (spark.read
          .options(header=str(header).lower(), mode="PERMISSIVE",
                   columnNameOfCorruptRecord="__corrupt__", **options)
          .schema(full)
          .csv(path))
    data_cols = [c for c in df.columns if c != "__corrupt__"]
    good = df.filter(F.col("__corrupt__").isNull()).select(*data_cols)
    bad = (df.filter(F.col("__corrupt__").isNotNull())
           .select(F.col("__corrupt__").alias("line"), *data_cols))
    return good, bad
