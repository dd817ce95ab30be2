"""CDX(J) crawl-index tier: SURT urlkeys, index parsing, fetch planning,
and index-driven selective WARC record reads.

A web-scale crawl never re-scans its WARC files to find pages: alongside
every segment ships a CDX(J) index -- one line per capture::

    <urlkey> <timestamp> <json>

where ``urlkey`` is the SURT (Sort-friendly URI Reordering Transform) of
the capture URL, ``timestamp`` is YYYYMMDDhhmmss, and the JSON carries at
least ``{"url", "filename", "offset", "length", "status", "mime",
"digest"}`` -- the byte range of the capture's own gzip member inside its
``.warc.gz``.  Selecting a domain slice of a 100 TB crawl is therefore an
INDEX query (table-sized: ~10^10 short rows, not 10^12 payloads) followed
by ranged reads of exactly the chosen members -- the whole point of the
per-record-member ``.warc.gz`` layout ``nreadspark.warc`` already parses.

This module implements that path end to end:

* :func:`surt_key` / :func:`surt_key_col` -- the SURT subset that makes
  index keys prefix-searchable by domain: lowercase, scheme dropped,
  leading ``www.`` dropped, host labels REVERSED and comma-joined
  (``com,example``), default ports off, ``)`` separator, fragment off,
  query params sorted.  Python reference and Spark column mirror each
  other token for token (the ``canonical_url`` discipline); the column
  is assembled from the library's one staged URL parse
  (``ops.urls._url_parts``, shared with ``with_canonical_url`` and
  ``with_registrable_domain``), adding only what is SURT's own.
* :func:`cdx_lines` -- parse raw CDXJ lines into typed columns, JVM-side
  (``split + from_json``), malformed lines contained as error rows.
* :func:`plan_fetches` -- prefix-select captures (e.g. one domain),
  keep the latest capture per urlkey, and emit the (filename, offset,
  length) fetch plan.  Shuffle profile: ONE window over the SELECTED
  slice only; the full index is touched by a scan with the prefix
  filter pushed down.
* :func:`warc_records_from_ranges` -- execute the plan against the
  ``.warc.gz`` files: open each range through ``warc._open_warc_path``,
  seek to its offset and stream at most ``length`` bytes of that single
  member up to its first record.  The range is a third source of
  ``nreadspark.warc``'s one record loop, beside blobs and file paths, so
  parsing, the response split, per-input containment and bounded batches
  are shared; plans are sorted within partitions by (filename, offset)
  so each file reads in ascending-seek order.

Format background is public: ISO 28500 (WARC), the pywb / OpenWayback
CDXJ conventions, and Internet Archive SURT documentation.  No reference
counterpart (NReadability transcodes a single in-memory page); this is
the crawl-scale ingestion tier in front of it, sibling to
``nreadspark/warc.py``.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .urlutil import _url_split
from .ops.urls import _ABSOLUTE_PATTERN, _path_or_root, _prefixed, with_url_parts

# ---------------------------------------------------------------------------
# SURT


def surt_key(url: str) -> str:
    """SURT urlkey of an absolute URL; non-absolute URLs pass through.

    ``HTTP://www.Example.COM:80/Art/One?b=2&a=1#frag`` ->
    ``com,example)/art/one?a=1&b=2``.  Deliberate subset (documented
    divergences from the full IA spec): tracking params are dropped (the
    :data:`~nreadspark.urlutil.TRACKING_PARAMS` + ``utm_*`` set shared
    with ``canonical_url``), the PATH IS LOWERCASED (CDX convention --
    unlike ``canonical_url``, which preserves path case for dedup
    safety; an index key only has to be *consistent*), and userinfo is
    dropped with the port rules of ``canonical_url``."""
    parts = _url_split(url)
    if parts is None:
        return url
    _, host, port, path, params = parts
    host = host[4:] if host.startswith("www.") else host
    # bracketed IPv6 literals don't label-reverse; keep them verbatim
    rev = host if host.startswith("[") else ",".join(reversed(host.split(".")))
    out = rev + (f":{port}" if port else "") + ")" + (path or "/").lower()
    # lowercase each kept param BEFORE sorting, as the column does
    kept = sorted(p.lower() for p in params)
    return out + "?" + "&".join(kept) if kept else out


def _surt_key(url: Column) -> tuple:
    host = F.col("__u_sk_host")
    rev = F.when(host.startswith("["), host).otherwise(
        F.array_join(F.reverse(F.split(host, r"\.")), ",")
    )
    key = F.concat(
        rev,
        _prefixed(":", "__u_port"),
        F.lit(")"),
        F.lower(_path_or_root("__u_path")),
        _prefixed("?", "__u_sk_q"),
    )
    return (
        {
            "__u_sk_host": F.regexp_replace("__u_host", r"^www\.", ""),
            # lowercase each kept param BEFORE sorting: '?B=1&a=2' sorts
            # differently otherwise
            "__u_sk_q": F.array_join(
                F.sort_array(F.transform("__u_params", lambda p: F.lower(p))), "&"
            ),
        },
        F.when(url.rlike(_ABSOLUTE_PATTERN), key).otherwise(url),
    )


def surt_key_col(df: DataFrame, url_col: str = "url", out_col: str = "urlkey") -> DataFrame:
    """Add ``out_col`` = :func:`surt_key` of ``url_col``, assembled from the
    library's one staged URL parse (:func:`nreadspark.ops.urls.with_url_parts`,
    the parts ``canonical_url`` uses too): ``www.`` stripping and host-label
    reversal are SURT-only; the path and the kept params are lowercased."""
    return with_url_parts(df, url_col, out_col, _surt_key)


# ---------------------------------------------------------------------------
# CDXJ parse

_CDX_JSON_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("filename", StringType()),
        StructField("offset", LongType()),
        StructField("length", LongType()),
        StructField("status", IntegerType()),
        StructField("mime", StringType()),
        StructField("digest", StringType()),
    ]
)


def cdx_lines(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse raw CDXJ lines into (urlkey, timestamp, url, filename,
    offset, length, status, mime, digest, cdx_error) -- one JVM
    projection, zero Python, zero shuffle.

    Containment: a line whose JSON third field fails to parse (or that
    has fewer than 3 space-separated fields) keeps its raw urlkey/
    timestamp best-effort and sets ``cdx_error`` -- an index shard with
    one mangled line must not kill the fetch-planning job."""
    line = F.col(line_col)
    df = df.withColumn("__cdx_key", F.split_part(line, F.lit(" "), F.lit(1)))
    df = df.withColumn("__cdx_ts", F.split_part(line, F.lit(" "), F.lit(2)))
    # everything after the 2nd space is the JSON blob (it contains spaces)
    df = df.withColumn(
        "__cdx_json",
        F.expr(
            f"substring({line_col}, length(__cdx_key) + length(__cdx_ts) + 3)"
        ),
    )
    df = df.withColumn("__cdx", F.from_json("__cdx_json", _CDX_JSON_SCHEMA))
    out = df.select(
        *[c for c in df.columns if not c.startswith("__cdx") and c != line_col],
        F.col("__cdx_key").alias("urlkey"),
        F.col("__cdx_ts").alias("timestamp"),
        F.col("__cdx.url").alias("url"),
        F.col("__cdx.filename").alias("filename"),
        F.col("__cdx.offset").alias("offset"),
        F.col("__cdx.length").alias("length"),
        F.col("__cdx.status").alias("status"),
        F.col("__cdx.mime").alias("mime"),
        F.col("__cdx.digest").alias("digest"),
        (
            F.col("__cdx").isNull()
            | F.col("__cdx.filename").isNull()
            | F.col("__cdx.offset").isNull()
            | F.col("__cdx.length").isNull()
        ).alias("cdx_error"),
    )
    return out


def plan_fetches(
    cdx_df: DataFrame,
    urlkey_prefixes: list[str],
    statuses: tuple[int, ...] | None = (200,),
    latest_only: bool = True,
    include_null_status: bool = False,
) -> DataFrame:
    """Select captures by SURT prefix and emit the fetch plan:
    (urlkey, timestamp, url, filename, offset, length).

    ``urlkey_prefixes`` are domain-level SURT prefixes (``"com,example)"``
    selects exactly one registrable name; ``"com,example,"`` adds its
    subdomains) -- prefix filters on the sort key are what the CDX format
    exists for, and they push down to the index scan.  ``latest_only``
    keeps the newest capture per urlkey (max timestamp, offset as the
    deterministic tiebreak) via ONE max_by aggregation over the selected
    slice -- the full index never shuffles.

    Status semantics: some CDXJ emitters omit ``status`` on well-formed
    records; ``isin`` evaluates to NULL there and the filter would drop
    them SILENTLY.  Default stays strict (missing status excluded --
    conservative for a fetch plan that expects HTTP 200 payloads), but
    ``include_null_status=True`` keeps those rows, and ``statuses=None``
    (or ``()``) disables status filtering entirely."""
    sel = cdx_df.filter(~F.col("cdx_error"))
    if statuses:
        cond = F.col("status").isin(*statuses)
        if include_null_status:
            cond = cond | F.col("status").isNull()
        sel = sel.filter(cond)
    prefix_match = None
    for p in urlkey_prefixes:
        cond = F.col("urlkey").startswith(p)
        prefix_match = cond if prefix_match is None else (prefix_match | cond)
    if prefix_match is not None:
        sel = sel.filter(prefix_match)
    cols = ["urlkey", "timestamp", "url", "filename", "offset", "length"]
    if not latest_only:
        return sel.select(*cols)
    # max_by on the (timestamp, offset) struct: one map-side-combined agg,
    # deterministic under ties by the offset tiebreak
    pick = F.max_by(
        F.struct(*[F.col(c) for c in cols[1:]]),
        F.struct(F.col("timestamp"), F.col("offset")),
    ).alias("__pick")
    agg = sel.groupBy("urlkey").agg(pick)
    return agg.select("urlkey", *[F.col(f"__pick.{c}").alias(c) for c in cols[1:]])


# ---------------------------------------------------------------------------
# ranged reads

_RANGE_SCHEMA = StructType(
    [
        StructField("urlkey", StringType()),
        StructField("url", StringType()),
        StructField("filename", StringType()),
        StructField("offset", LongType()),
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("payload", BinaryType()),
        StructField("http_status", IntegerType()),
        StructField("http_headers", ArrayType(StringType())),
        StructField("content_type", StringType()),
        StructField("content_encoding", StringType()),
        StructField("error", StringType()),
    ]
)


def _range_row(values, idx: int, hdrs, split, err) -> tuple:
    """A :data:`_RANGE_SCHEMA` row for one planned range ``(urlkey, url,
    filename, offset, length)``: a response record carries its HTTP status,
    sorted ``'name: value'`` header lines, content type and encoding, any
    other record its whole block; a failed range keeps only its plan
    columns and the error."""
    if err is not None:
        return (*values[:4], *(None,) * 7, err)
    status, http, payload = split
    http = http or {}
    return (
        *values[:4], (hdrs.get("warc-type") or "").lower(),
        hdrs.get("warc-target-uri"), payload, status,
        sorted(f"{k}: {v}" for k, v in http.items()),
        http.get("content-type"), http.get("content-encoding"), None,
    )


def warc_records_from_ranges(
    plans_df: DataFrame, base_dir: str | None = None
) -> DataFrame:
    """Execute a fetch plan against ``.warc.gz`` files: open each range's
    file through ``warc._open_warc_path``, seek to its offset and stream at
    most ``length`` bytes -- that ONE member, gzip or plain -- through
    WARC's one record loop (``warc._read_records``), stopping after its
    first record.  ``length`` comes from the index, outside input, so it
    bounds the bytes read, never a buffer: the task holds one record at a
    time whatever the index claims.

    Plans are sorted within each partition by (filename, offset), so a
    partition's ranges read each file in ascending-seek order.
    Per-range containment: a bad offset/member yields an ``error`` row,
    never a task failure.  ``base_dir`` prefixes relative filenames
    (Common Crawl indexes carry segment-relative paths); a ``file:`` URI
    works as it does for the file-path source."""
    from .warc import _RangeReader, _read_records

    def open_range(urlkey, url, filename, offset, length):
        path = f"{base_dir.rstrip('/')}/{filename}" if base_dir else filename
        return _RangeReader(path, offset, length)

    plans = plans_df.select("urlkey", "url", "filename", "offset", "length")
    plans = plans.sortWithinPartitions("filename", "offset")
    return _read_records(plans, _RANGE_SCHEMA, open_range, _range_row, first_only=True)


def schedule_frontier(
    plans_df: DataFrame, per_domain_per_slot: int = 1
) -> DataFrame:
    """Assign each planned fetch a politeness SLOT: within a slot, a
    domain never sees more than ``per_domain_per_slot`` requests, so a
    crawler draining slot 0, then slot 1, ... respects per-host rate
    limits no matter how many executors fetch in parallel (the slot is
    the unit you map to a crawl-delay tick).

    The SURT urlkey already leads with the reversed host --
    ``com,example)/path`` -- so the domain is ``split_part(urlkey, ')',
    1)``: zero re-parsing.  Shape: ONE window shuffle on the domain
    (same as ``cap_per_domain``); slot order is deterministic
    (urlkey, timestamp, offset).  Mega-domains serialize into many slots
    BY DESIGN -- that's the politeness constraint doing its job, not
    skew; everything else lands in slot 0."""
    from pyspark.sql.window import Window

    if per_domain_per_slot < 1:
        raise ValueError("per_domain_per_slot must be >= 1")
    domain = F.split_part(F.col("urlkey"), F.lit(")"), F.lit(1))
    w = Window.partitionBy("__domain").orderBy("urlkey", "timestamp", "offset")
    return (
        plans_df.withColumn("__domain", domain)
        .withColumn(
            "slot",
            ((F.row_number().over(w) - 1) / per_domain_per_slot).cast("int"),
        )
        .withColumnRenamed("__domain", "domain")
    )


def extract_cdx_ranges(
    plans_df: DataFrame,
    base_dir: str | None = None,
    max_doc_bytes: int | None = None,
) -> DataFrame:
    """Fetch plan -> extracted span table: the full index-driven path
    (:func:`plan_fetches` output in, readability spans out), through the
    same record-to-extraction step as ``extract_warc``.  ``doc_id`` is
    ``<filename>#<offset>`` -- stable and collision-free (one member per
    offset), resumable by re-planning minus already-committed ids; the URL
    is the record's target URI, or the plan's."""
    from .warc import _extract_from_records

    return _extract_from_records(
        warc_records_from_ranges(plans_df, base_dir=base_dir),
        max_doc_bytes,
        doc_id=("filename", "offset"),
        url=("target_uri", "url"),
        payload="payload",
    )


# ---------------------------------------------------------------------------
# deterministic CDXJ + indexed-WARC synthesis (tests + oracles)


def build_warc_with_index(
    pages: list[tuple[str, bytes, str]],
    filename: str,
    timestamps: list[str] | None = None,
) -> tuple[bytes, list[str]]:
    """A per-record-member ``.warc.gz`` blob PLUS its CDXJ index lines --
    the paired artifact a crawler actually publishes.  ``pages`` is
    ``[(url, payload_bytes, http_content_type), ...]``; the index carries
    one line per RESPONSE record with the member's exact (offset, length)
    inside the blob, urlkey = :func:`surt_key` of the url."""
    from .warc import _gzip_member, build_http_response, build_warc_record

    members = [
        _gzip_member(
            build_warc_record(
                "warcinfo",
                b"software: nreadspark-synthetic\r\n",
                content_type="application/warc-fields",
            )
        )
    ]
    lines: list[str] = []
    offset = len(members[0])
    for i, (url, payload, ctype) in enumerate(pages):
        member = _gzip_member(
            build_warc_record(
                "response", build_http_response(payload, ctype), target_uri=url
            )
        )
        ts = timestamps[i] if timestamps else f"2026{(i % 12) + 1:02d}01000000"
        lines.append(
            build_cdxj_line(
                surt_key(url), ts, url, filename, offset, len(member)
            )
        )
        members.append(member)
        offset += len(member)
    return b"".join(members), lines


def build_cdxj_line(
    urlkey: str,
    timestamp: str,
    url: str,
    filename: str,
    offset: int,
    length: int,
    status: int = 200,
    mime: str = "text/html",
    digest: str = "-",
) -> str:
    """One CDXJ line with the canonical field order (deterministic --
    json.dumps with sort_keys=False over an explicit dict)."""
    blob = json.dumps(
        {
            "url": url,
            "filename": filename,
            "offset": offset,
            "length": length,
            "status": status,
            "mime": mime,
            "digest": digest,
        },
        separators=(", ", ": "),
    )
    return f"{urlkey} {timestamp} {blob}"
