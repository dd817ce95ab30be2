"""Spark surface: vectorized extraction over the interleaved-documents table.

Design (Spark-first, not a port of the reference's single-document loop):

* **HTML reassembly stays in the JVM.**  Spans are sorted and concatenated
  with built-in higher-order functions (``array_sort`` + ``transform`` +
  ``concat_ws``) inside whole-stage codegen -- only ``(doc_id, html[, url])``
  crosses the Arrow boundary, never the span structs.
* **The kernel runs in Arrow-native ``mapInArrow``** (no per-row Python
  UDFs): one Python worker processes a whole record batch per call; output
  span sequences are built as flat columnar arrays (``ListArray`` of
  ``StructArray``) with zero per-span Python objects; regexes are compiled
  once per worker at module import.
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


def repartition_for_extraction(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Uniform deterministic spread on xxhash64(doc_id).  Use ~4x the core
    count so the mega-doc tail averages out across task waves instead of
    serializing behind one straggler."""
    if num_partitions is None:
        sc = df.sparkSession.sparkContext
        num_partitions = max(sc.defaultParallelism * 4, 8)
    return df.repartition(num_partitions, F.xxhash64("doc_id"))


def _arrow_output_schema():
    import pyarrow as pa

    from .spans import arrow_span_struct

    span = arrow_span_struct()
    metrics = pa.struct(
        [
            pa.field("n_candidates", pa.int32()),
            pa.field("top_score", pa.float64()),
            pa.field("fallback_rerun", pa.bool_()),
            pa.field("parse_retried", pa.bool_()),
            pa.field("in_bytes", pa.int64()),
            pa.field("ms", pa.float64()),
            pa.field("truncated", pa.bool_()),
        ]
    )
    return pa.schema(
        [
            pa.field("doc_id", pa.string()),
            pa.field("spans", pa.list_(span)),
            pa.field("title", pa.string()),
            pa.field("content_extracted", pa.bool_()),
            pa.field("next_page_url", pa.string()),
            pa.field("metrics", metrics),
        ]
    )


def _extract_batches(iterator, max_doc_bytes: int | None = None):
    """mapInArrow kernel: (doc_id, __html[, __url]) -> OUTPUT_SCHEMA
    batches.

    Arrow-native on both sides: the per-document span sequences are written
    into flat columnar builders (kind/text/media_ref/offset + list offsets)
    and wrapped as ``ListArray(StructArray)`` directly -- no per-span Python
    dicts, no pandas block manager.  This halves the Python-side overhead vs
    a mapInPandas list-of-dict encoding.  The per-task cost outside the
    kernel, though, was measured to come mostly from PySpark re-reading its
    zip archives on every task, not from the Arrow exchange; see the finder
    prune below.

    ``max_doc_bytes`` is the per-document byte budget (see :func:`extract`):
    documents over it are truncated to exactly that many UTF-8 bytes before
    the kernel runs and their row is flagged ``metrics.truncated`` -- a
    pathological mega-document can therefore never hold a task beyond the
    budget's parse cost.  Upstream chopping (``_budget_col``) keeps
    ``max_doc_bytes + 1`` chars so the over-budget signal survives the
    capped transfer.
    """
    import pyarrow as pa

    from .kernel import Options, transcode
    from .spans import extract_spans_flat

    # PySpark calls importlib.invalidate_caches() at the start of every task,
    # and before Python 3.13 every cached zipimporter then re-reads its whole
    # archive directory (pyspark.zip's packages, py4j, a --py-files archive):
    # ~50 ms per task on a reused worker.  The finders are a pure cache -- a
    # later import rebuilds one from zipimport's directory cache without
    # reading the archive, and loaded modules keep their loaders -- and any
    # new top-level import re-creates them, so drop them on every task.
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)

    opts = Options()
    schema = _arrow_output_schema()
    span_type = schema.field("spans").type.value_type
    metrics_type = schema.field("metrics").type

    for batch in iterator:
        names = batch.schema.names
        n = batch.num_rows
        doc_ids = batch.column(names.index("doc_id"))
        htmls = batch.column(names.index("__html")).to_pylist()
        urls = (
            batch.column(names.index("__url")).to_pylist()
            if "__url" in names
            else [None] * n
        )

        # flat span builders (one set for the whole batch)
        s_kind: list = []
        s_text: list = []
        s_ref: list = []
        s_off: list = []
        list_offsets = [0]

        titles: list = [None] * n
        extracted = [False] * n
        next_urls: list = [None] * n
        m_cand = [0] * n
        m_top = [0.0] * n
        m_fall = [False] * n
        m_retry = [False] * n
        m_bytes = [0] * n
        m_ms = [0.0] * n
        m_trunc = [False] * n

        for i in range(n):
            html = htmls[i]
            started = time.perf_counter()
            if html is None or html.strip() == "":
                list_offsets.append(len(s_kind))
                m_ms[i] = (time.perf_counter() - started) * 1000.0
                continue
            if max_doc_bytes is not None:
                # chars <= utf-8 bytes: more chars than the budget (the JVM
                # chop keeps budget+1 chars exactly so this signal survives)
                # means the original exceeded it in bytes
                truncated = len(html) > max_doc_bytes
                # the encode pass is skipped for everything comfortably under
                if truncated or len(html) * 4 > max_doc_bytes:
                    encoded = html.encode("utf-8", errors="replace")
                    if len(encoded) > max_doc_bytes:
                        html = encoded[:max_doc_bytes].decode("utf-8", errors="ignore")
                        truncated = True
                m_trunc[i] = truncated
            base = len(s_kind)
            try:
                result = transcode(html, urls[i], opts)
                extract_spans_flat(result.article_content, s_kind, s_text, s_ref, s_off)
                titles[i] = result.title
                extracted[i] = result.content_extracted
                next_urls[i] = result.next_page_url
                m = result.metrics
                m_cand[i] = int(m.get("n_candidates", 0))
                m_top[i] = float(m.get("top_score", 0.0))
                m_fall[i] = bool(m.get("fallback_rerun", False))
                m_retry[i] = bool(m.get("parse_retried", False))
                m_bytes[i] = int(m.get("in_bytes", 0))
                m_ms[i] = float(m.get("ms", 0.0))
            except Exception:
                # a poisoned document must never kill a 10^12-doc job: emit an
                # empty, clearly-flagged row instead (content_extracted=False,
                # n_candidates=-1 marks kernel failure for the lineage metrics).
                # Roll back what it appended to the shared span builders: a
                # partial span would misalign the struct's children.
                for builder in (s_kind, s_text, s_ref, s_off):
                    del builder[base:]
                titles[i], extracted[i], next_urls[i] = None, False, None
                m_top[i], m_fall[i], m_retry[i] = 0.0, False, False
                m_cand[i] = -1
                m_bytes[i] = len(html.encode("utf-8", errors="replace"))
                m_ms[i] = (time.perf_counter() - started) * 1000.0
            list_offsets.append(len(s_kind))

        span_struct = pa.StructArray.from_arrays(
            [
                pa.array(s_kind, pa.string()),
                pa.array(s_text, pa.string()),
                pa.array(s_ref, pa.string()),
                pa.array(s_off, pa.int32()),
            ],
            fields=list(span_type),
        )
        spans_arr = pa.ListArray.from_arrays(
            pa.array(list_offsets, pa.int32()), span_struct
        )
        metrics_arr = pa.StructArray.from_arrays(
            [
                pa.array(m_cand, pa.int32()),
                pa.array(m_top, pa.float64()),
                pa.array(m_fall, pa.bool_()),
                pa.array(m_retry, pa.bool_()),
                pa.array(m_bytes, pa.int64()),
                pa.array(m_ms, pa.float64()),
                pa.array(m_trunc, pa.bool_()),
            ],
            fields=list(metrics_type),
        )
        yield pa.RecordBatch.from_arrays(
            [
                doc_ids,
                spans_arr,
                pa.array(titles, pa.string()),
                pa.array(extracted, pa.bool_()),
                pa.array(next_urls, pa.string()),
                metrics_arr,
            ],
            schema=schema,
        )


def _budget_col(html_col, max_doc_bytes: int | None):
    """Budgeted html expression: the JVM pre-chops to ``max_doc_bytes + 1``
    CHARS, bounding the shuffle/Arrow transfer of a mega-document at ~4x
    the budget worst-case instead of its full (possibly GB) size.  The +1
    makes the over-budget signal survive the chop: one UTF-8 char is >= 1
    byte, so ``len(chopped) > max_doc_bytes`` chars implies the original
    exceeded the budget in bytes -- no second evaluation of the (possibly
    expensive) reassembly expression for an ``octet_length`` flag column,
    and the projection stays a single codegen pass.  The kernel then
    measures exact bytes and lands the cut on a UTF-8 boundary."""
    if max_doc_bytes is None:
        return html_col
    return F.substring(html_col, 1, max_doc_bytes + 1)


def extract(
    df: DataFrame,
    url_col: str | None = None,
    spans_col: str = "spans",
    repartition: bool = False,
    num_partitions: int | None = None,
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
    html_col = _budget_col(html_from_spans_col(spans_col), max_doc_bytes)
    cols = [F.col("doc_id"), html_col.alias("__html")]
    if url_col:
        cols.append(F.col(url_col).alias("__url"))
    prepared = df.select(*cols)
    if repartition:
        prepared = repartition_for_extraction(prepared, num_partitions)
    kernel = lambda it: _extract_batches(it, max_doc_bytes)  # noqa: E731
    return prepared.mapInArrow(kernel, OUTPUT_SCHEMA)


def extract_from_html(
    df: DataFrame,
    html_col: str = "html",
    url_col: str | None = None,
    max_doc_bytes: int | None = None,
) -> DataFrame:
    """Same kernel over a plain (doc_id, html[, url]) table."""
    html_expr = _budget_col(F.col(html_col), max_doc_bytes)
    cols = [F.col("doc_id"), html_expr.alias("__html")]
    if url_col:
        cols.append(F.col(url_col).alias("__url"))
    kernel = lambda it: _extract_batches(it, max_doc_bytes)  # noqa: E731
    return df.select(*cols).mapInArrow(kernel, OUTPUT_SCHEMA)


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
    if raw is None:
        return ""
    raw = bytes(raw)
    if content_encoding:
        enc = content_encoding.lower()
        if "gzip" in enc:
            import gzip

            raw = gzip.decompress(raw)
        elif "deflate" in enc:
            import zlib

            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                raw = zlib.decompress(raw, -15)  # raw deflate (.NET style)

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
        head = raw[:4096]
        m = _META_CHARSET_RE.search(head) or _META_CHARSET_MODERN_RE.search(head)
        if m:
            charset = _valid(m.group("charset").decode("ascii", errors="replace"))
    return raw.decode(charset or fallback_encoding, errors="replace")


def _decode_bytes_batches(iterator, fallback_encoding: str):
    """Arrow-batch adaptor: (doc_id, __bytes[, __url, __ctype, __cenc]) ->
    (doc_id, __html[, __url]) batches, feeding the extraction kernel in the
    SAME Python worker pass (one Arrow boundary crossing total)."""
    import pyarrow as pa

    for batch in iterator:
        names = batch.schema.names
        n = batch.num_rows
        doc_ids = batch.column(names.index("doc_id"))
        raws = batch.column(names.index("__bytes")).to_pylist()
        ctypes = (
            batch.column(names.index("__ctype")).to_pylist()
            if "__ctype" in names
            else [None] * n
        )
        cencs = (
            batch.column(names.index("__cenc")).to_pylist()
            if "__cenc" in names
            else [None] * n
        )
        htmls = []
        for raw, ct, ce in zip(raws, ctypes, cencs):
            try:
                htmls.append(decode_html_bytes(raw, ct, ce, fallback_encoding))
            except Exception:
                htmls.append("")  # undecodable body -> flagged empty row
        arrays = [doc_ids, pa.array(htmls, pa.string())]
        out_names = ["doc_id", "__html"]
        if "__url" in names:
            arrays.append(batch.column(names.index("__url")))
            out_names.append("__url")
        yield pa.RecordBatch.from_arrays(arrays, names=out_names)


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
    transcode in ONE ``mapInArrow`` pass (the decode generator feeds the
    kernel generator inside the same worker -- bytes cross the Arrow
    boundary once, strings never do).  ``max_doc_bytes`` applies to the
    DECODED text (post-decompression -- the guard that matters for
    deflate-bombed bodies); see :func:`extract`."""
    cols = [F.col("doc_id"), F.col(bytes_col).alias("__bytes")]
    if url_col:
        cols.append(F.col(url_col).alias("__url"))
    if content_type_col:
        cols.append(F.col(content_type_col).alias("__ctype"))
    if content_encoding_col:
        cols.append(F.col(content_encoding_col).alias("__cenc"))

    def kernel(iterator):
        return _extract_batches(
            _decode_bytes_batches(iterator, fallback_encoding), max_doc_bytes
        )

    return df.select(*cols).mapInArrow(kernel, OUTPUT_SCHEMA)


def extraction_metrics(df: DataFrame) -> DataFrame:
    """Corpus-level rollup of the per-document kernel metrics (one row):
    throughput accounting, failure/fallback/retry counts, byte volume.
    Feed it the OUTPUT_SCHEMA frame; runs entirely in codegen."""
    return df.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("content_extracted").cast("int")).alias("docs_extracted"),
        F.sum((F.col("metrics.n_candidates") < 0).cast("int")).alias("kernel_failures"),
        F.sum(F.col("metrics.fallback_rerun").cast("int")).alias("fallback_reruns"),
        F.sum(F.col("metrics.parse_retried").cast("int")).alias("parse_retries"),
        F.sum(F.col("metrics.truncated").cast("int")).alias("docs_truncated"),
        F.sum("metrics.in_bytes").alias("in_bytes"),
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
