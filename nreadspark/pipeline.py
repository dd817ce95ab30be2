"""Spark surface: vectorized extraction over the interleaved-documents table.

Design (Spark-first, not a port of the reference's single-document loop):

* **HTML reassembly stays in the JVM.**  Spans are sorted and concatenated
  with built-in higher-order functions (``array_sort`` + ``transform`` +
  ``concat_ws``) inside whole-stage codegen -- only ``(doc_id, html[, url])``
  crosses the Arrow boundary, never the span structs.
* **The kernel runs in Arrow-native ``mapInArrow``** (no per-row Python
  UDFs): one Python worker processes a whole record batch per call through
  :func:`map_rows`; the extraction row turns one document into its output
  tuple (spans as ``(kind, text, media_ref, offset)`` tuples) and
  :func:`rows_to_batch` builds each batch's Arrow output, nested columns
  included; regexes are compiled once per worker at module import.
* **Skew**: mega-documents (FIXTURES.md `mega_doc` family, reference corpus
  max 448KB) are defused by (a) hashing docs uniformly across many more
  partitions than cores (`repartition_for_extraction`), and (b) capping the
  Arrow batch size so a single huge batch cannot monopolize a worker --
  set ``spark.sql.execution.arrow.maxRecordsPerBatch`` (256 balances
  per-batch overhead against batch-size skew for web-page-sized docs).
* At cluster scale the same plan runs unchanged: the shuffle key is
  ``xxhash64(doc_id)`` (uniform, deterministic), AQE coalesces small
  partitions, and lineage bucketing (lineage.py) gives idempotent resume.
"""

from __future__ import annotations

import functools
import sys
import time
import zipimport

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

METRICS_TYPE = StructType(
    [
        StructField("n_candidates", IntegerType()),
        StructField("top_score", DoubleType()),
        StructField("fallback_rerun", BooleanType()),
        StructField("parse_retried", BooleanType()),
        StructField("in_bytes", LongType()),
        StructField("ms", DoubleType()),
        StructField("truncated", BooleanType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("title", StringType()),
        StructField("content_extracted", BooleanType()),
        StructField("next_page_url", StringType()),
        StructField("metrics", METRICS_TYPE),
    ]
)

# JVM-side span -> HTML reassembly (codegen'd; no Python involved)
_HTML_FROM_SPANS_SQL = """
concat_ws('',
  transform(
    array_sort({spans}, (l, r) -> int(sign(l.offset - r.offset))),
    s -> CASE
           WHEN s.kind = 'text'  THEN coalesce(s.text, '')
           WHEN s.kind = 'image' THEN concat('<img src="', coalesce(s.media_ref, ''), '" />')
           ELSE concat('<embed src="', coalesce(s.media_ref, ''), '" />')
         END))
"""


def html_from_spans_col(spans_col: str = "spans"):
    """Column expression reassembling a document's HTML from its spans."""
    return F.expr(_HTML_FROM_SPANS_SQL.format(spans=spans_col))


def repartition_for_extraction(df: DataFrame) -> DataFrame:
    """Uniform deterministic spread on xxhash64(doc_id) over ~4x the core
    count, so the mega-doc tail averages out across task waves instead of
    serializing behind one straggler."""
    num_partitions = max(df.sparkSession.sparkContext.defaultParallelism * 4, 8)
    return df.repartition(num_partitions, F.xxhash64("doc_id"))


def map_batches(df: DataFrame, schema, fn) -> DataFrame:
    """The library's one ``mapInArrow`` crossing: ``fn(iterator)`` maps a
    task's Arrow batches to output batches of ``schema``.

    PySpark calls importlib.invalidate_caches() at the start of every task,
    and before Python 3.13 every cached zipimporter then re-reads its whole
    archive directory (pyspark.zip's packages, py4j, a --py-files archive):
    ~50 ms per task on a reused worker.  The finders are a pure cache -- a
    later import rebuilds one from zipimport's directory cache without
    reading the archive, and loaded modules keep their loaders -- and any
    new top-level import re-creates them, so the task drops them every
    time before ``fn`` runs."""

    def task(iterator):
        for path, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                sys.path_importer_cache.pop(path, None)
        yield from fn(iterator)

    return df.mapInArrow(task, schema)


def rows_to_batch(rows: list, arrow_schema):
    """The one row-batch builder: an Arrow batch of ``arrow_schema`` from
    output tuples in its column order (``pa.array`` per column, so NULL is
    None and a ``list<struct>`` column takes lists of tuples or dicts)."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def map_rows(df: DataFrame, in_cols: list, schema: StructType, row_fn) -> DataFrame:
    """Per-row kernels on :func:`map_batches`: select ``in_cols``, call
    ``row_fn(*values)`` per row with the values as Python objects
    (``to_pylist``: NULL is None, BINARY is bytes), and build each output
    batch from the tuples ``row_fn`` returns -- zero or more per row, in
    ``schema`` order -- against ``to_arrow_schema(schema)``."""

    def batches(iterator):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        for batch in iterator:
            yield rows_to_batch(
                [
                    out
                    for values in zip(*(c.to_pylist() for c in batch.columns))
                    for out in row_fn(*values)
                ],
                arrow_schema,
            )

    return map_batches(df.select(*in_cols), schema, batches)


def _empty_row(
    doc_id, started: float, n_candidates: int, in_bytes: int, truncated: bool
) -> tuple:
    """An OUTPUT_SCHEMA row with no spans: a blank document
    (``n_candidates`` 0) or a failed one (-1)."""
    ms = (time.perf_counter() - started) * 1000.0
    metrics = (n_candidates, 0.0, False, False, in_bytes, ms, truncated)
    return (doc_id, [], None, False, None, metrics)


def _extract_row(doc_id, html, url, max_doc_bytes: int | None) -> list:
    """The extraction row: one document -> ``[OUTPUT_SCHEMA tuple]``, its
    spans as ``(kind, text, media_ref, offset)`` tuples and its metrics in
    METRICS_TYPE order.  A NULL or blank document short-circuits to an
    empty row without running the kernel.

    ``max_doc_bytes`` is the per-document byte budget (see :func:`extract`):
    a document over it is truncated to exactly that many UTF-8 bytes before
    the kernel runs and its row is flagged ``metrics.truncated`` -- a
    pathological mega-document can therefore never hold a task beyond the
    budget's parse cost.  Upstream chopping (:func:`_extract_html`) keeps
    ``max_doc_bytes + 1`` chars so the over-budget signal survives the
    capped transfer."""
    from . import spans
    from .kernel import transcode

    started = time.perf_counter()
    if html is None or html.strip() == "":
        return [_empty_row(doc_id, started, 0, 0, False)]
    truncated = False
    if max_doc_bytes is not None:
        # chars <= utf-8 bytes: more chars than the budget (the JVM chop
        # keeps budget+1 chars exactly so this signal survives) means the
        # original exceeded it in bytes
        truncated = len(html) > max_doc_bytes
        # the encode pass is skipped for everything comfortably under
        if truncated or len(html) * 4 > max_doc_bytes:
            encoded = html.encode("utf-8", errors="replace")
            if len(encoded) > max_doc_bytes:
                html = encoded[:max_doc_bytes].decode("utf-8", errors="ignore")
                truncated = True
    try:
        result = transcode(html, url)
        columns: tuple = ([], [], [], [])
        spans.extract_spans_flat(result.article_content, *columns)
        m = result.metrics
        metrics = (
            int(m.get("n_candidates", 0)),
            float(m.get("top_score", 0.0)),
            bool(m.get("fallback_rerun", False)),
            bool(m.get("parse_retried", False)),
            int(m.get("in_bytes", 0)),
            float(m.get("ms", 0.0)),
            truncated,
        )
        return [
            (doc_id, list(zip(*columns)), result.title, result.content_extracted,
             result.next_page_url, metrics)
        ]
    except Exception:
        # a poisoned document must never kill a 10^12-doc job: emit an
        # empty, clearly-flagged row instead (content_extracted=False,
        # n_candidates=-1 marks kernel failure for the lineage metrics)
        in_bytes = len(html.encode("utf-8", errors="replace"))
        return [_empty_row(doc_id, started, -1, in_bytes, truncated)]


def _optional_col(name: str | None, alias: str):
    """``name`` as ``alias``, or a typed NULL when the caller has no such
    column, so every extraction row has one fixed signature."""
    return (F.col(name) if name else F.lit(None).cast("string")).alias(alias)


def _extract_html(
    df: DataFrame, html_expr, url_col: str | None, max_doc_bytes: int | None
) -> DataFrame:
    """:func:`_extract_row` over ``(doc_id, html_expr, url_col)``.

    With a budget the JVM pre-chops the html to ``max_doc_bytes + 1``
    CHARS, bounding the shuffle/Arrow transfer of a mega-document at ~4x
    the budget worst-case instead of its full (possibly GB) size.  The +1
    makes the over-budget signal survive the chop: one UTF-8 char is >= 1
    byte, so ``len(chopped) > max_doc_bytes`` chars implies the original
    exceeded the budget in bytes -- no second evaluation of the (possibly
    expensive) reassembly expression for an ``octet_length`` flag column,
    and the projection stays a single codegen pass.  The row then
    measures exact bytes and lands the cut on a UTF-8 boundary."""
    if max_doc_bytes is not None:
        html_expr = F.substring(html_expr, 1, max_doc_bytes + 1)
    cols = [F.col("doc_id"), html_expr.alias("__html"), _optional_col(url_col, "__url")]
    row = functools.partial(_extract_row, max_doc_bytes=max_doc_bytes)
    return map_rows(df, cols, OUTPUT_SCHEMA, row)


def extract(
    df: DataFrame,
    url_col: str | None = None,
    spans_col: str = "spans",
    max_doc_bytes: int | None = None,
) -> DataFrame:
    """Extract main content for every document of an interleaved-spans table.

    Input:  (doc_id string, spans array<struct<kind,text,media_ref,offset>>
             [, url string])
    Output: OUTPUT_SCHEMA (doc_id, spans, title, content_extracted,
            next_page_url, metrics)

    ``max_doc_bytes``: optional per-document byte budget.  A crawl tail
    contains pathological mega-documents (concatenated feeds, binary blobs
    mislabeled as HTML) whose parse cost alone can hold a task for minutes;
    with a budget set, such documents are truncated to exactly that many
    UTF-8 bytes BEFORE parsing and the row is flagged
    ``metrics.truncated`` (content_extracted still reflects whatever the
    truncated prefix yielded -- callers decide whether flagged rows are
    usable).  The chop happens JVM-side first, so the oversized payload
    never crosses the exchange at full size.
    """
    return _extract_html(df, html_from_spans_col(spans_col), url_col, max_doc_bytes)


def extract_from_html(
    df: DataFrame,
    html_col: str = "html",
    url_col: str | None = None,
    max_doc_bytes: int | None = None,
) -> DataFrame:
    """Same kernel over a plain (doc_id, html[, url]) table."""
    return _extract_html(df, F.col(html_col), url_col, max_doc_bytes)


# ---------------------------------------------------------------------------
# Bytes-in ingestion (reference UrlFetcher.cs:48,95-112,164-195 semantics):
# a real crawl table stores raw response bytes; the parts of the fetcher
# that survive into a batch engine are decompression + charset detection.
# ---------------------------------------------------------------------------

# the reference's meta-tag charset regex (UrlFetcher.cs:48), plus the modern
# <meta charset="..."> form as an extension
import re as _re

# the reference's _MetaTagRegex (UrlFetcher.cs:48) is double-quote-only;
# real crawl HTML uses single quotes and unquoted attributes just as often,
# so this is a strict superset: the charset token itself is captured by
# charclass, no closing quote required
_META_CHARSET_RE = _re.compile(
    rb"<meta[^>]+content=[\"']?[^\"'>]*charset=(?P<charset>[A-Za-z0-9_.:-]+)",
    _re.IGNORECASE,
)
_META_CHARSET_MODERN_RE = _re.compile(
    rb"<meta\s+charset=[\"']?(?P<charset>[A-Za-z0-9_.:-]+)", _re.IGNORECASE
)

# the utf-16/utf-32 family codecs consume the BOM themselves; utf-8-sig
# strips it.  32-bit BOMs must be checked before their 16-bit prefixes.
_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32"),
    (b"\x00\x00\xfe\xff", "utf-32"),
    (b"\xff\xfe", "utf-16"),
    (b"\xfe\xff", "utf-16"),
)


def _charset_from_content_type(content_type: str | None) -> str | None:
    """GuessEncoding's header walk (UrlFetcher.cs:197-240): split on
    ';'/'='/' ', the token after a 'charset' token names the encoding."""
    if not content_type:
        return None
    parts = _re.split(r"[;= ]", content_type.lower())
    is_charset = False
    for p in parts:
        if p == "charset":
            is_charset = True
        elif is_charset:
            if p:
                return p
            is_charset = False
    return None


# the meta-charset sniff reads this many leading body bytes
_SNIFF_BYTES = 4096


def decode_html_bytes(
    raw: bytes,
    content_type: str | None = None,
    content_encoding: str | None = None,
    fallback_encoding: str = "utf-8",
) -> str:
    """Decode a raw HTML response body the way the reference fetcher does:
    gzip/deflate decompression (MakeRequest, :164-189), then charset from
    the Content-Type header (GuessEncoding, :197-240), else the meta-tag
    sniff over an ASCII view (GetEncodingFromMetaTag, :95-112), else the
    fallback.  BOM detection runs first -- a BOM is authoritative."""
    return _decode_body(raw, content_type, content_encoding, fallback_encoding, None)


def _inflate_stream(raw: bytes, wbits: int, limit: int | None) -> bytes:
    """One zlib (``wbits`` 15) or raw deflate (-15) stream, at most
    ``limit`` bytes of it; a stream that ends short of both its end
    marker and the limit fails as ``zlib.decompress`` does."""
    import zlib

    stream = zlib.decompressobj(wbits)
    out = stream.decompress(raw, limit or 0)
    if not stream.eof and (limit is None or len(out) < limit):
        raise zlib.error("incomplete or truncated stream")  # as zlib.decompress
    return out


def _inflate(raw: bytes, content_encoding: str, limit: int | None) -> bytes:
    """Undo a gzip or deflate Content-Encoding; any other passes through.
    With ``limit``, at most that many bytes are inflated, in bounded
    steps, so a deflate bomb costs the limit and not its inflated size
    (corruption past the cut then goes unseen)."""
    enc = content_encoding.lower()
    if "gzip" in enc:
        import gzip
        import io

        # member after member, as gzip.decompress
        with gzip.GzipFile(fileobj=io.BytesIO(raw)) as body:
            return body.read(-1 if limit is None else limit)
    if "deflate" in enc:
        import zlib

        try:
            return _inflate_stream(raw, zlib.MAX_WBITS, limit)
        except zlib.error:
            return _inflate_stream(raw, -zlib.MAX_WBITS, limit)  # raw deflate (.NET style)
    return raw


def _decode_body(
    raw, content_type, content_encoding, fallback_encoding, limit: int | None
) -> str:
    """:func:`decode_html_bytes`, inflating at most ``limit`` bytes."""
    if raw is None:
        return ""
    raw = bytes(raw)
    if content_encoding:
        raw = _inflate(raw, content_encoding, limit)

    for bom, codec in _BOMS:
        if raw.startswith(bom):
            return raw.decode(codec, errors="replace")

    import codecs

    def _valid(cs: str | None) -> str | None:
        if not cs:
            return None
        cs = cs.strip().strip("\"'")  # quoted form: charset="windows-1251"
        try:
            codecs.lookup(cs)
        except (LookupError, ValueError):
            return None  # unknown charset -> keep looking (:106-110)
        return cs

    charset = _valid(_charset_from_content_type(content_type))
    if charset is None:
        # header absent OR named an unusable charset: the meta tag is the
        # next-best signal either way
        head = raw[:_SNIFF_BYTES]
        m = _META_CHARSET_RE.search(head) or _META_CHARSET_MODERN_RE.search(head)
        if m:
            charset = _valid(m.group("charset").decode("ascii", errors="replace"))
    return raw.decode(charset or fallback_encoding, errors="replace")


def extract_from_html_bytes(
    df: DataFrame,
    bytes_col: str = "content",
    url_col: str | None = None,
    content_type_col: str | None = None,
    content_encoding_col: str | None = None,
    fallback_encoding: str = "utf-8",
    max_doc_bytes: int | None = None,
) -> DataFrame:
    """Extraction over a raw-bytes crawl table: decompress + charset-sniff +
    transcode in ONE row per document (bytes cross the Arrow boundary once,
    strings never do).  A body :func:`decode_html_bytes` cannot decode (a
    gzip-labelled body that is not gzip, ...) is a failed row:
    ``n_candidates`` -1 and ``in_bytes`` the raw body's length.
    ``max_doc_bytes`` applies to the DECODED text (post-decompression);
    a compressed body is inflated in bounded steps only as far as the
    budget can reach, so a deflate bomb costs the budget, not its
    inflated size; see :func:`extract`."""
    # 4 raw bytes per char (the widest fixed-width charset) plus a 4-byte
    # BOM, past the budget: the UTF-8 cut and ``truncated`` come out as
    # from the whole body.  Never below the meta-charset sniff window.
    limit = None if max_doc_bytes is None else max(4 * max_doc_bytes + 8, _SNIFF_BYTES)

    def row(doc_id, raw, url, content_type, content_encoding):
        started = time.perf_counter()
        try:
            html = _decode_body(raw, content_type, content_encoding, fallback_encoding, limit)
        except Exception:
            return [_empty_row(doc_id, started, -1, len(raw), False)]
        return _extract_row(doc_id, html, url, max_doc_bytes)

    cols = [
        F.col("doc_id"),
        F.col(bytes_col).alias("__bytes"),
        _optional_col(url_col, "__url"),
        _optional_col(content_type_col, "__ctype"),
        _optional_col(content_encoding_col, "__cenc"),
    ]
    return map_rows(df, cols, OUTPUT_SCHEMA, row)


def kernel_metric_aggs() -> tuple:
    """The document counts and byte volume every rollup of OUTPUT_SCHEMA
    rows carries (:func:`extraction_metrics`, the lineage manifests)."""
    return (
        F.count("*").alias("docs"),
        F.sum(F.col("content_extracted").cast("int")).alias("docs_extracted"),
        F.sum((F.col("metrics.n_candidates") < 0).cast("int")).alias("kernel_failures"),
        F.sum(F.col("metrics.fallback_rerun").cast("int")).alias("fallback_reruns"),
        F.sum(F.col("metrics.parse_retried").cast("int")).alias("parse_retries"),
        F.sum(F.col("metrics.truncated").cast("int")).alias("docs_truncated"),
        F.sum("metrics.in_bytes").alias("in_bytes"),
    )


def extraction_metrics(df: DataFrame) -> DataFrame:
    """Corpus-level rollup of the per-document kernel metrics (one row):
    throughput accounting, failure/fallback/retry counts, byte volume.
    Feed it the OUTPUT_SCHEMA frame; runs entirely in codegen."""
    return df.agg(
        *kernel_metric_aggs(),
        F.round(F.sum("metrics.ms") / 1000.0, 3).alias("kernel_cpu_sec"),
        F.round(F.avg("metrics.ms"), 3).alias("avg_ms_per_doc"),
        F.round(F.expr("percentile_approx(metrics.ms, 0.95)"), 3).alias("p95_ms_per_doc"),
        F.round(F.max("metrics.ms"), 3).alias("max_ms_per_doc"),
    )


def configure_session_defaults(builder):
    """Recommended session config for the extraction workload."""
    return (
        builder.config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.adaptive.enabled", "true")
        # NOT set here although it looked promising on paper (r9):
        # spark.sql.adaptive.coalescePartitions.parallelismFirst=false
        # (strictly size-based AQE coalescing) measured consistently
        # ~0.4s WORSE across an interleaved A/B of the 12 shuffle-heavy
        # queries -- at shuffle.partitions=cores the default floor does
        # not over-fragment, and collapsing tiny shuffles to 1 partition
        # loses more parallelism than its task-dispatch savings return.
    )


def session_builder(app_name: str, master: str | None):
    """The one session builder of the jobs and ``bench.py``: ``app_name``,
    ``master`` when given (else spark-submit's ``--master``) and
    :func:`configure_session_defaults`.  Callers add their own confs and
    call ``getOrCreate()``."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    return configure_session_defaults(builder)
