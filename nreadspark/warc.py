"""WARC (ISO 28500) ingestion -- the container format web crawls actually
ship (Common Crawl's ``.warc`` / ``.warc.gz``).

Record grammar (public spec, ISO 28500 / WARC 1.0-1.1)::

    WARC/1.0<CRLF>
    <name>: <value><CRLF> ...          (WARC-Type, WARC-Target-URI,
    <CRLF>                              Content-Length, ...)
    <Content-Length bytes of block>
    <CRLF><CRLF>

``.warc.gz`` is the same stream with every record its own gzip MEMBER
(members concatenate; each record stays independently seekable -- exactly
why crawls use it).  For ``WARC-Type: response`` records the block is an
HTTP/1.1 response: status line + headers + ``\\r\\n\\r\\n`` + payload;
charset and content-encoding ride in the HTTP headers.

The parsers are pure stdlib (``zlib``) with per-record error
containment: a malformed record yields an ``error``-tagged row and
parsing continues at the next record boundary -- one poisoned record must
never kill a 100 TB scan.

The Spark surface is ONE record loop (:func:`_read_records`, one
``mapInArrow`` pass) behind three sources that differ only in how they
open a byte stream: a blob column (:func:`warc_records`, an in-memory
stream), a file-path column (:func:`warc_records_from_paths`, through
:func:`_open_warc_path`) and a CDX fetch plan
(``cdx.warc_records_from_ranges``: the same opener, a seek, and a reader
capped at the range's length, stopping after its first record).  The loop
parses lazily, splits response blocks once, contains errors per input
and flushes bounded Arrow batches.  :func:`extract_warc` and its path and
range twins pipe the response payloads straight into
:func:`nreadspark.pipeline.extract_from_html_bytes` -- bytes cross the
Arrow boundary once, strings never do.

No reference counterpart (the reference transcodes one in-memory page);
this is the ingestion tier in front of it at crawl scale.
"""

from __future__ import annotations

import hashlib
import io
import zlib
from contextlib import closing

from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

_CRLF = b"\r\n"
_SEP = b"\r\n\r\n"


# ---------------------------------------------------------------------------
# writer (deterministic -- synthetic fixtures and tests)
# ---------------------------------------------------------------------------


def build_warc_record(
    warc_type: str,
    block: bytes,
    target_uri: str | None = None,
    content_type: str = "application/http;msgtype=response",
    extra_headers: dict[str, str] | None = None,
) -> bytes:
    """One serialized WARC record.  The record id is deterministic
    (md5 of type+uri+block) so fixtures are byte-stable."""
    rid = hashlib.md5(
        warc_type.encode() + (target_uri or "").encode() + block
    ).hexdigest()
    headers = [
        ("WARC-Type", warc_type),
        ("WARC-Record-ID", f"<urn:uuid:{rid}>"),
        ("WARC-Date", "2026-01-01T00:00:00Z"),
    ]
    if target_uri is not None:
        headers.append(("WARC-Target-URI", target_uri))
    headers.append(("Content-Type", content_type))
    for k, v in (extra_headers or {}).items():
        headers.append((k, v))
    headers.append(("Content-Length", str(len(block))))
    head = _CRLF.join(
        [b"WARC/1.0"] + [f"{k}: {v}".encode() for k, v in headers]
    )
    return head + _SEP + block + _SEP


def build_http_response(
    payload: bytes, content_type: str = "text/html", content_encoding: str | None = None
) -> bytes:
    """An HTTP/1.1 200 block for a response record."""
    lines = [b"HTTP/1.1 200 OK", b"Content-Type: " + content_type.encode()]
    if content_encoding:
        lines.append(b"Content-Encoding: " + content_encoding.encode())
    lines.append(b"Content-Length: " + str(len(payload)).encode())
    return _CRLF.join(lines) + _SEP + payload


def build_warc(
    pages: list[tuple[str, bytes, str]], gzip_records: bool = False
) -> bytes:
    """A full WARC blob: one warcinfo record, then per page a request
    record (headers-only stub) and a response record.  ``pages`` is
    ``[(url, payload_bytes, http_content_type), ...]``;
    ``gzip_records=True`` emits the standard per-record-member ``.warc.gz``
    layout."""
    records = [
        build_warc_record(
            "warcinfo",
            b"software: nreadspark-synthetic\r\n",
            content_type="application/warc-fields",
        )
    ]
    for url, payload, ctype in pages:
        records.append(
            build_warc_record(
                "request",
                b"GET / HTTP/1.1\r\nHost: x\r\n\r\n",
                target_uri=url,
                content_type="application/http;msgtype=request",
            )
        )
        records.append(
            build_warc_record(
                "response", build_http_response(payload, ctype), target_uri=url
            )
        )
    if gzip_records:
        return b"".join(_gzip_member(r) for r in records)
    return b"".join(records)


def _gzip_member(data: bytes) -> bytes:
    co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(data) + co.flush()


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


_READ_CHUNK = 1 << 20  # compressed-side read granularity
_MAX_INFLATE = 4 << 20  # per-call inflate burst cap (memory smoothing)


class _GzipCorruption(Exception):
    """Raised by the lazy decompressor AFTER the good prefix has been
    yielded; the record parser converts it into one error row."""


def _iter_decompressed(read):
    """Lazily yield decompressed chunks from ``read(n)`` over either a
    plain WARC byte stream or a concatenation of gzip members (the
    ``.warc.gz`` layout, where every record is its own member).

    This is the fix for the whole-blob-decompression hazard: a standard
    ~1 GB Common Crawl ``.warc.gz`` inflates to ~3-5 GB, and the
    per-record-member layout exists precisely so a reader can inflate one
    member at a time.  Peak memory here is one read chunk + one inflate
    output burst, NOT the decompressed file.

    A corrupt member raises :class:`_GzipCorruption` after the good
    prefix's chunks are out (downstream turns it into an error row, the
    original ``_gunzip_members`` contract); a merely TRUNCATED final
    member yields its good prefix silently and lets the record parser
    flag the truncated record."""
    pending = read(2)
    # raw (unbuffered) streams may legally return 1 byte on read(2):
    # top up before classifying, or a gzip stream would misparse as plain
    while len(pending) == 1:
        more = read(1)
        if not more:
            break
        pending += more
    if pending[:2] != b"\x1f\x8b":
        # plain .warc bytes: pass straight through
        while pending:
            yield pending
            pending = read(_READ_CHUNK)
        return
    while True:
        # at a member boundary; pending holds >= 2 bytes of magic (or tail)
        if pending[:2] != b"\x1f\x8b":
            # trailing non-gzip garbage: surface it to the record parser,
            # exactly like the eager decompressor did
            while pending:
                yield pending
                pending = read(_READ_CHUNK)
            return
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        while not d.eof:
            data = d.unconsumed_tail or pending
            pending = b""
            if not data:
                data = read(_READ_CHUNK)
                if not data:
                    # EOF mid-member (truncated, not corrupt): flush what
                    # inflated and let the record parser flag truncation
                    tail = d.flush()
                    if tail:
                        yield tail
                    return
            try:
                # max_length caps each inflate burst: a 1000:1 member
                # (bomb or just a huge record) emits bounded chunks
                # instead of one giant allocation per compressed chunk
                out = d.decompress(data, _MAX_INFLATE)
            except zlib.error as exc:
                raise _GzipCorruption(f"corrupt gzip member: {exc}") from exc
            if out:
                yield out
        pending = d.unused_data
        while len(pending) < 2:
            more = read(_READ_CHUNK)
            if not more:
                if pending:  # a lone trailing byte: garbage for the parser
                    yield pending
                return
            pending += more


def iter_warc_records_stream(stream):
    """Yield ``(headers: dict[str,str], block: bytes, error: str|None)``
    per record from a FILE-LIKE object (anything with ``.read(n)``) --
    the streamed twin of :func:`iter_warc_records`, and what the record
    loop parses every source with, so a ~1 GB ``.warc.gz`` is never
    materialized (neither compressed nor decompressed) in task memory.

    Buffering is bounded by one complete record (Content-Length framing
    means a record can't be parsed with less) plus one read chunk; the
    consumed prefix is compacted away as parsing advances.  Malformed
    records yield ``error`` rows and parsing resyncs at the next
    ``WARC/`` magic, byte-for-byte the eager parser's semantics."""
    chunks = _iter_decompressed(stream.read)
    buf = bytearray()
    base = 0  # absolute offset of buf[0] in the decompressed stream
    pos = 0
    exhausted = False
    stream_err = None

    def pull() -> bool:
        nonlocal exhausted, stream_err
        if exhausted:
            return False
        try:
            buf.extend(next(chunks))
            return True
        except StopIteration:
            exhausted = True
            return False
        except _GzipCorruption as exc:
            stream_err = str(exc)
            exhausted = True
            return False

    def resync(start: int) -> int:
        """Scan forward (pulling as needed) for the next ``WARC/`` magic;
        returns its CURRENT-buffer offset, or len(buf) at stream end.
        Drops the scanned-past prefix so unbounded garbage runs don't
        accumulate (the caller re-reads positions only forward of the
        returned offset)."""
        nonlocal base
        look = start
        while True:
            nxt = buf.find(b"WARC/", look)
            if nxt != -1:
                return nxt
            # keep 4 bytes in case the magic straddles a chunk boundary,
            # and compact the rejected prefix out of memory
            look = max(start, len(buf) - 4)
            if look > _READ_CHUNK:
                del buf[:look]
                base += look
                start = 0
                look = 0
            if not pull():
                return len(buf)

    while True:
        if pos and (pos > len(buf) // 2 or pos > _READ_CHUNK):
            del buf[:pos]
            base += pos
            pos = 0
        # skip inter-record CRLFs
        while True:
            while len(buf) - pos < 2 and pull():
                pass
            if buf[pos : pos + 2] == _CRLF:
                pos += 2
            else:
                break
        while len(buf) - pos < 5 and pull():
            pass
        if pos >= len(buf):
            break
        if buf[pos : pos + 5] != b"WARC/":
            yield {}, b"", f"garbage at offset {base + pos}"
            pos = resync(pos)
            if pos >= len(buf):
                break
            continue
        search_from = pos
        while True:
            head_end = buf.find(_SEP, search_from)
            if head_end != -1:
                break
            # resume the scan near the buffer tail (separator may straddle
            # the chunk boundary) -- repeated full rescans would go
            # quadratic on a pathological never-terminating header
            search_from = max(pos, len(buf) - 3)
            if not pull():
                break
        if head_end == -1:
            yield {}, b"", "truncated record header"
            break
        headers: dict[str, str] = {}
        for line in bytes(buf[pos:head_end]).split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.decode("latin-1").strip().lower()] = v.decode(
                    "latin-1"
                ).strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            yield headers, b"", "missing/invalid Content-Length"
            pos = resync(head_end + 4)
            if pos >= len(buf):
                break
            continue
        body_start = head_end + 4
        while len(buf) < body_start + length and pull():
            pass
        if len(buf) < body_start + length:
            yield headers, bytes(buf[body_start:]), "truncated record block"
            break
        yield headers, bytes(buf[body_start : body_start + length]), None
        pos = body_start + length
    if stream_err:
        # the good prefix's records were yielded above; the corrupt tail
        # surfaces as one error row instead of an exception
        yield {}, b"", stream_err


def iter_warc_records(blob: bytes):
    """Yield ``(headers, block, error|None)`` per record of an in-memory
    WARC blob.  Gzip members are inflated LAZILY even here (one member at
    a time through the streaming parser): the compressed bytes are already
    resident as a column value, but the 3-5x larger decompressed form
    never materializes whole."""
    yield from iter_warc_records_stream(io.BytesIO(blob))


def parse_http_response(block: bytes):
    """(status: int|None, headers: dict, payload: bytes) from an HTTP
    response block; a block without an HTTP status line is returned whole
    as the payload (some crawlers store bare bodies)."""
    if not block.startswith(b"HTTP/"):
        return None, {}, block
    head_end = block.find(_SEP)
    if head_end == -1:
        return None, {}, b""
    lines = block[:head_end].split(_CRLF)
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        status = None
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        if _:
            headers[k.decode("latin-1").strip().lower()] = v.decode("latin-1").strip()
    return status, headers, block[head_end + 4 :]


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

WARC_RECORDS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("record_idx", IntegerType()),
        StructField("warc_type", StringType()),
        StructField("url", StringType()),
        StructField("http_status", IntegerType()),
        StructField("content_type", StringType()),
        StructField("content_encoding", StringType()),
        StructField("content", BinaryType()),
        StructField("error", StringType()),
    ]
)


# output rows per Arrow batch of the record loop; payload bytes are capped
# separately so mega-records flush early
_BATCH_RECORDS = 512
_BATCH_BYTES = 64 << 20


def _open_warc_path(path: str):
    """Open a worker-local file handle for a path as listed by the
    ``binaryFile`` source (``file:`` URIs or bare paths).  On a real
    cluster against an object store this is the one hook to swap for the
    store's streaming client (an S3/GCS ranged-GET reader, or Hadoop's
    ``FileSystem.open`` surfaced through a JVM-side source); the file and
    range sources open through it, and everything downstream only needs
    ``.read(n)`` (plus ``.seek`` for a ranged read)."""
    if path.startswith("file:"):
        local = path[5:]
        while local.startswith("//"):
            local = local[1:]
        return open(local, "rb")
    if "://" in path:
        raise ValueError(
            f"unsupported path scheme for worker-side streaming: {path!r} "
            "(hook _open_warc_path to the cluster's object-store client)"
        )
    return open(path, "rb")


class _RangeReader:
    """At most ``length`` bytes of ``path`` from ``offset``, handed out in
    the parser's read-chunk pieces: a ranged read's memory is bounded by
    the record it parses, not by a length an index claims."""

    def __init__(self, path: str, offset: int, length: int):
        self._left = max(length, 0)
        self._fh = _open_warc_path(path)
        try:
            self._fh.seek(offset)
        except BaseException:
            self._fh.close()
            raise

    def read(self, n: int) -> bytes:
        data = self._fh.read(min(n, self._left))
        self._left -= len(data)
        return data

    def close(self) -> None:
        self._fh.close()


def _read_records(df, schema, open_input, row, first_only: bool = False):
    """The one WARC record loop, behind the blob, file-path and CDX-range
    sources: one ``mapInArrow`` pass in which ``open_input(*values)`` opens
    each input row as a byte stream, :func:`iter_warc_records_stream`
    parses it lazily, response blocks split into HTTP status, headers and
    payload, and ``row(values, idx, hdrs, split, err)`` shapes each record
    into a ``schema`` row.  ``split`` is ``(status, http_headers,
    payload)`` -- ``http_headers`` None for a non-response record, whose
    block is the payload -- and None on an error row.

    Per-input containment: an input that fails to open or to read ends
    with the row ``row(values, -1, {}, None, "<Type>: <message>")``,
    never a task failure.  ``first_only`` (a ranged read) keeps the
    stream's first record, and an empty stream becomes an error row.
    Rows flush in Arrow batches of at most :data:`_BATCH_RECORDS` rows or
    :data:`_BATCH_BYTES` payload bytes, so neither a million-record file
    nor a blob of mega-records accumulates in the task."""
    from .pipeline import map_batches, rows_to_batch

    def records(values):
        try:
            with closing(open_input(*values)) as stream:
                recs = iter_warc_records_stream(stream)
                if first_only:
                    recs = [next(recs, ({}, b"", "no record in member"))]
                for idx, (hdrs, block, err) in enumerate(recs):
                    if err is not None:
                        yield row(values, idx, hdrs, None, err), 0
                        continue
                    split = (None, None, block)
                    if (hdrs.get("warc-type") or "").lower() == "response":
                        split = parse_http_response(block)
                    yield row(values, idx, hdrs, split, None), len(split[2])
        except Exception as exc:  # per-input containment
            yield row(values, -1, {}, None, f"{type(exc).__name__}: {exc}"), 0

    def batches(iterator):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        rows, pending_bytes = [], 0
        for batch in iterator:
            for values in zip(*(c.to_pylist() for c in batch.columns)):
                for out, nbytes in records(values):
                    rows.append(out)
                    pending_bytes += nbytes
                    if len(rows) >= _BATCH_RECORDS or pending_bytes >= _BATCH_BYTES:
                        yield rows_to_batch(rows, arrow_schema)
                        rows, pending_bytes = [], 0
        if rows:
            yield rows_to_batch(rows, arrow_schema)

    return map_batches(df, schema, batches)


def _record_row(values, idx: int, hdrs, split, err) -> tuple:
    """A :data:`WARC_RECORDS_SCHEMA` row keyed by the input's first value
    (a blob's doc id or a file path): a response record carries its HTTP
    status, content type and encoding, any other record its whole block
    with the WARC-level content type (this table is the reusable routing
    surface, so no record's bytes are dropped); an error row carries no
    payload."""
    status, http, payload = split or (None, {}, None)
    if http is None:
        http = {"content-type": hdrs.get("content-type")}
    return (
        str(values[0]), idx, hdrs.get("warc-type"), hdrs.get("warc-target-uri"),
        status, http.get("content-type"), http.get("content-encoding"),
        payload, err,
    )


def warc_records(df, warc_col: str = "warc", doc_id_col: str = "doc_id"):
    """Explode WARC blobs into records through the one record loop
    (:func:`_read_records`): one output row per record (response blocks
    split into HTTP headers -> the ``content_type``/``content_encoding``
    columns -- and raw payload bytes).  Malformed records surface as
    ``error`` rows instead of failing the task.  No shuffle: records
    inherit the blob partitioning, exactly like the PDF tier."""
    return _read_records(
        df.select(doc_id_col, warc_col),
        WARC_RECORDS_SCHEMA,
        lambda did, blob: io.BytesIO(blob or b""),
        _record_row,
    )


def warc_path_table(spark, pattern, glob_filter: str | None = None):
    """(path, size) table for a glob of WARC files -- a distributed
    listing via the ``binaryFile`` source with COLUMN PRUNING, so file
    content is never read here (the format materializes only requested
    columns).  WARC files are non-splittable, so the scan plans roughly
    one ~1 GB crawl file per task -- exactly the unit Common Crawl
    ships.

    Pass a glob in ``pattern`` (``.../segment-00/*.warc.gz``) or a
    ``glob_filter`` (maps to the source's ``pathGlobFilter``) when the
    directory holds anything besides the crawl files -- a bare directory
    load trips binaryFile's partition-directory inference on mixed
    content (e.g. an output table living next to the inputs)."""
    from pyspark.sql import functions as F

    reader = spark.read.format("binaryFile")
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    return reader.load(pattern).select(
        F.col("path"), F.col("length").alias("size")
    )


def warc_records_from_paths(paths_df, path_col: str = "path"):
    """File-path WARC source: each task opens its files through
    :func:`_open_warc_path` and STREAMS records through the one record
    loop (:func:`_read_records`), so neither the compressed ~1 GB
    ``.warc.gz`` nor its ~3-5 GB inflation ever materializes in task
    memory -- peak is one record + one read chunk, and output rows flush
    in bounded Arrow batches.  ``doc_id`` is the file path (composite
    ``<path>#<idx>`` ids downstream stay collision-free across files)."""
    return _read_records(
        paths_df.select(path_col), WARC_RECORDS_SCHEMA, _open_warc_path, _record_row
    )


def extract_warc(
    df,
    warc_col: str = "warc",
    doc_id_col: str = "doc_id",
    max_doc_bytes: int | None = None,
):
    """WARC blobs -> extracted span table: explode records, keep HTTP-200
    response records, feed payload bytes + HTTP charset/encoding + target
    URI into the bytes-extraction tier.  Output doc_id is
    ``<blob id>#<record idx>`` (stable, collision-free across multi-record
    blobs); the page URL rides through for link resolution."""
    return _extract_from_records(
        warc_records(df, warc_col, doc_id_col), max_doc_bytes
    )


def build_wet(pages: list[tuple[str, str]]) -> bytes:
    """A WET blob (Common Crawl's extracted-text sidecar): one warcinfo
    record, then one ``conversion`` record per page carrying the UTF-8
    plain text.  ``pages`` is ``[(url, text), ...]``."""
    records = [
        build_warc_record(
            "warcinfo",
            b"software: nreadspark-synthetic\r\nformat: WARC/1.0 (WET)\r\n",
            content_type="application/warc-fields",
        )
    ]
    for url, text in pages:
        records.append(
            build_warc_record(
                "conversion",
                text.encode("utf-8"),
                target_uri=url,
                content_type="text/plain",
            )
        )
    return b"".join(records)


def wet_text(df, warc_col: str = "warc", doc_id_col: str = "doc_id"):
    """WET blobs -> (doc_id, url, text, utf8_valid): Common Crawl ships a
    pre-extracted plain-text sidecar per crawl segment as ``conversion``
    records; pipelines that trust the crawler's extraction read WET and
    skip the HTML tier entirely.  The records table already routes
    conversion blocks whole, so this is a FILTER + lenient decode in one
    codegen projection on top of the same parse pass: the spec says
    UTF-8, the wild disagrees, so invalid sequences become U+FFFD with
    ``utf8_valid=false`` (ANSI ``decode`` would kill the task instead).
    ``doc_id`` is ``<blob id>#<record idx>``."""
    return _wet_from_records(warc_records(df, warc_col, doc_id_col))


def wet_text_from_paths(paths_df, path_col: str = "path"):
    """WET files -> (doc_id, url, text, utf8_valid): the file-path twin
    (streamed per-member decompression, bounded task memory).  ``doc_id``
    is ``<file path>#<record idx>``."""
    return _wet_from_records(warc_records_from_paths(paths_df, path_col))


def _wet_from_records(recs):
    from pyspark.sql import functions as F

    return (
        recs.filter(
            F.col("error").isNull() & (F.col("warc_type") == "conversion")
        )
        .withColumn("__raw", F.col("content").cast("string"))
        .select(
            F.concat_ws(
                "#", "doc_id", F.col("record_idx").cast("string")
            ).alias("doc_id"),
            "url",
            F.expr("make_valid_utf8(__raw)").alias("text"),
            F.expr("is_valid_utf8(__raw)").alias("utf8_valid"),
        )
    )


def extract_warc_paths(paths_df, path_col: str = "path", max_doc_bytes: int | None = None):
    """WARC files -> extracted span table: the production ingestion shape.
    Streams every file through :func:`warc_records_from_paths` (bounded
    task memory), keeps HTTP-200 response records, and feeds payload
    bytes + HTTP charset/encoding + target URI into the bytes-extraction
    tier.  ``doc_id`` is ``<file path>#<record idx>``."""
    return _extract_from_records(
        warc_records_from_paths(paths_df, path_col), max_doc_bytes
    )


def _extract_from_records(
    recs,
    max_doc_bytes: int | None,
    doc_id: tuple[str, str] = ("doc_id", "record_idx"),
    url: tuple[str, ...] = ("url",),
    payload: str = "content",
):
    """Record rows -> extracted span table, for every record source: keep
    HTTP-200 response records and feed the ``payload`` bytes + HTTP
    charset/encoding + URL (the first non-NULL of the ``url`` columns) into
    the bytes-extraction tier.  The output ``doc_id`` is ``<key>#<index>``
    of the ``doc_id`` column pair."""
    from pyspark.sql import functions as F

    from .pipeline import extract_from_html_bytes

    key, index = doc_id
    pages = recs.filter(
        F.col("error").isNull()
        & (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
    ).select(
        F.concat_ws("#", key, F.col(index).cast("string")).alias("doc_id"),
        F.coalesce(*url).alias("url"),
        F.col(payload).alias("content"),
        "content_type",
        "content_encoding",
    )
    return extract_from_html_bytes(
        pages,
        bytes_col="content",
        url_col="url",
        content_type_col="content_type",
        content_encoding_col="content_encoding",
        max_doc_bytes=max_doc_bytes,
    )
