"""Sitemap parsing + crawl-refresh planning: the discovery feed that
decides WHAT to (re)fetch, pairing with the CDX tier that decides what
was already captured.

Sitemaps (sitemaps.org protocol, referenced from robots.txt `Sitemap:`
lines) are the publisher-declared URL inventory: ``<urlset>`` files list
page URLs with optional ``<lastmod>``; ``<sitemapindex>`` files list
child sitemaps.  A refresh crawl joins the declared inventory against
the crawl's own CDX index (latest capture per SURT urlkey) and fetches
exactly the URLs that are new or declared modified since their last
capture -- the standard incremental-crawl shape, and at 10^9 URLs per
large site inventory it is an index-vs-index join, never a payload scan.

Everything here is JVM-side column work: XML fields are pulled with
anchored regexes (sitemaps are machine-generated and flat; a full XML
parser buys nothing at this tier and costs a Python crossing), entries
explode from one ``regexp_extract_all`` per file, and the refresh plan
is one join on the SURT urlkey.  Malformed blocks yield NULL fields,
never failures.

Sibling of ``nreadspark/cdx.py`` (capture side) and ``ops/robots.py``
(permission side); no reference counterpart.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, functions as F

from .colmemo import memo_cols

# one <url>/<sitemap> block per array element; (?s) so blocks span lines
_URL_BLOCK = r"(?s)<url>(.*?)</url>"
_SITEMAP_BLOCK = r"(?s)<sitemap>(.*?)</sitemap>"
_LOC = r"(?s)<loc>\s*(.*?)\s*</loc>"
_LASTMOD = r"(?s)<lastmod>\s*(.*?)\s*</lastmod>"

# every decodable reference in ONE alternation, matched in ONE pass --
# single-pass decode means '&amp;lt;' correctly yields the literal '&lt;'
# (a chained replace that decoded '&amp;' first would double-decode it).
# Numeric bounds: 0x10FFFF is 6 hex / 7 decimal digits; longer digit runs
# (or out-of-range values) keep their literal text, like browsers do.
_ENTITY_RE = r"&(#(?:x[0-9a-fA-F]+|[0-9]+)|amp|lt|gt|quot|apos);"


def xml_unescape_col(col: Column) -> Column:
    """Decode the five predefined XML entities plus numeric character
    references (decimal + hex) -- JVM-only, single pass, zero Python.

    sitemaps.org REQUIRES '&' inside ``<loc>`` to be escaped as
    ``&amp;``, so any URL with a multi-param query arrives as
    ``...?a=1&amp;b=2``; without decoding, the SURT urlkey built from it
    could never match the CDX urlkey built from the real capture URL and
    :func:`plan_refresh` would misclassify those URLs as 'new' forever
    (perpetual refetch).

    Shape: split the string on the entity pattern (Java split drops the
    capture group, keeping the between-text segments),
    ``regexp_extract_all`` the matched tokens, ``transform`` each token
    to its character, ``zip_with`` the two arrays back together.
    Numeric references decode via ``decode(unhex(...), 'UTF-16BE')`` --
    BMP codepoints directly, astral planes through the surrogate pair
    (Spark's ``chr`` is ASCII-only; UTF-32 is not a supported decode
    charset in this build).  Invalid codepoints (0, lone surrogates,
    > 0x10FFFF) keep their literal ``&#...;`` text.  The guarded CASE
    keeps ANSI ``decode`` from ever seeing malformed bytes."""
    parts = F.split(col, _ENTITY_RE, -1)
    toks = F.regexp_extract_all(col, F.lit(_ENTITY_RE), F.lit(1))

    def decode_tok(tok: Column) -> Column:
        code = (
            F.when(
                tok.rlike(r"^#x[0-9a-fA-F]{1,6}$"),
                F.conv(F.substring(tok, 3, 6), 16, 10).cast("long"),
            )
            .when(tok.rlike(r"^#[0-9]{1,7}$"), F.substring(tok, 2, 7).cast("long"))
            .otherwise(F.lit(None).cast("long"))
        )
        valid_bmp = (
            (code >= 1)
            & (code <= 0xFFFF)
            & ~((code >= 0xD800) & (code <= 0xDFFF))
        )
        valid_astral = (code >= 0x10000) & (code <= 0x10FFFF)
        hi = F.lit(0xD800) + F.shiftright(code - F.lit(0x10000), 10)
        lo = F.lit(0xDC00) + (code - F.lit(0x10000)).bitwiseAND(F.lit(0x3FF))
        return (
            F.when(tok == "amp", F.lit("&"))
            .when(tok == "lt", F.lit("<"))
            .when(tok == "gt", F.lit(">"))
            .when(tok == "quot", F.lit('"'))
            .when(tok == "apos", F.lit("'"))
            .when(
                valid_bmp,
                F.decode(F.unhex(F.lpad(F.hex(code), 4, "0")), "UTF-16BE"),
            )
            .when(
                valid_astral,
                F.decode(
                    F.unhex(
                        F.concat(
                            F.lpad(F.hex(hi), 4, "0"), F.lpad(F.hex(lo), 4, "0")
                        )
                    ),
                    "UTF-16BE",
                ),
            )
            .otherwise(F.concat(F.lit("&"), tok, F.lit(";")))
        )

    tail = F.zip_with(
        F.transform(toks, decode_tok),
        F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))),
        lambda ch, p: F.concat(ch, p),
    )
    decoded = F.concat(F.element_at(parts, 1), F.array_join(tail, ""))
    # NOTE: construction of this tree costs ~0.2 s of driver-side py4j
    # round-trips; per-NAME reuse is memoized in _xml_unescape_cached
    # (Column objects are immutable unresolved expressions, safely
    # shareable across DataFrames and sessions in one JVM).
    # fast-path guard: a string with no '&' cannot contain a reference, and
    # in real sitemaps that is the overwhelming majority of locs -- the
    # big decode tree (split + extract_all + per-token CASE) measures ~2 ms
    # per ROW evaluated, vs ~nothing for contains().  NULL falls through to
    # the decode branch, which propagates NULL correctly.
    return F.when(~col.contains("&"), col).otherwise(decoded)


def sitemap_entries(
    df: DataFrame, xml_col: str = "xml", id_col: str = "sitemap_url"
) -> DataFrame:
    """Explode sitemap XML into (``id_col``, kind, loc, lastmod) rows:
    ``kind='url'`` for page entries (``<urlset>``), ``kind='sitemap'``
    for child sitemaps (``<sitemapindex>`` -- feed those back through the
    fetch tier for one level of recursion per pass).  One
    ``regexp_extract_all`` per block type, ONE explode, zero Python,
    zero shuffle; a block without ``<loc>`` keeps a NULL loc for the
    caller to drop or count.

    Plan shape: both block types ride one explode (arrays concatenated
    with the kind tag attached), and the entity decode + nullif are
    STAGED behind projection boundaries, so the large
    :func:`xml_unescape_col` tree appears exactly twice (loc, lastmod)
    in the plan -- the earlier union-of-blocks/nullif-inline form held 8
    copies and spent ~1 s of DRIVER time per build in the analyzer."""
    xml = F.col(xml_col)
    both = F.concat(
        F.transform(
            F.regexp_extract_all(xml, F.lit(_URL_BLOCK), F.lit(1)),
            lambda b: F.struct(F.lit("url").alias("kind"), b.alias("block")),
        ),
        F.transform(
            F.regexp_extract_all(xml, F.lit(_SITEMAP_BLOCK), F.lit(1)),
            lambda b: F.struct(F.lit("sitemap").alias("kind"), b.alias("block")),
        ),
    )
    exploded = df.select(F.col(id_col), F.explode(both).alias("__e"))
    raw = exploded.select(
        id_col,
        F.col("__e.kind").alias("kind"),
        F.regexp_extract("__e.block", _LOC, 1).alias("__loc0"),
        F.regexp_extract("__e.block", _LASTMOD, 1).alias("__lm0"),
    )
    # entity-decode BEFORE nullif: the spec escapes '&' inside <loc>, and
    # an undecoded loc would SURT to a key that never matches the capture
    # index (perpetual-refetch bug).  nullif(x, '') references x twice, so
    # it lives in its own projection over the already-decoded column.
    dec = raw.select(
        id_col,
        "kind",
        _xml_unescape_cached("__loc0").alias("__loc1"),
        _xml_unescape_cached("__lm0").alias("__lm1"),
    )
    return dec.select(
        id_col,
        "kind",
        F.nullif(F.col("__loc1"), F.lit("")).alias("loc"),
        F.nullif(F.col("__lm1"), F.lit("")).alias("lastmod"),
    )


def _xml_unescape_cached(colname: str) -> Column:
    return memo_cols(("xml_unescape", colname), lambda: xml_unescape_col(F.col(colname)))


def lastmod_ts_col(lastmod) -> Column:
    """Normalize a W3C-datetime ``<lastmod>`` ('2026-08-17',
    '2026-08-17T09:30:00Z', ...) to the CDX 14-digit timestamp scale:
    strip non-digits, take the first 14, right-pad with zeros -- a
    date-only value becomes midnight, which is the conservative reading
    (any same-day capture counts as fresh).  NULL stays NULL."""
    col = F.col(lastmod) if isinstance(lastmod, str) else lastmod
    digits = F.regexp_replace(col, r"[^0-9]", "")
    return F.when(
        col.isNull() | (digits == ""), F.lit(None).cast("string")
    ).otherwise(F.rpad(F.substring(digits, 1, 14), 14, "0"))


def plan_refresh(
    entries_df: DataFrame,
    cdx_latest_df: DataFrame,
    fetch_unmodified_unknown: bool = True,
) -> DataFrame:
    """(urlkey, loc, lastmod_ts, captured_ts, reason): the URLs a refresh
    crawl should fetch, = declared inventory MINUS fresh captures.

    ``entries_df`` is :func:`sitemap_entries` output (kind='url' rows are
    used); ``cdx_latest_df`` is :func:`nreadspark.cdx.plan_fetches`
    output (latest capture per urlkey).  Reasons: ``new`` (never
    captured), ``modified`` (lastmod after the latest capture), and --
    when ``fetch_unmodified_unknown`` -- ``unknown`` (no lastmod
    declared and we hold a capture: publishers often omit lastmod, and
    whether to refetch those is a crawl-budget policy, so it's a flag).
    Scale shape: both sides reduce to (urlkey, 14-digit ts) in their
    scan projections; ONE join on the urlkey; sitemap inventory and CDX
    index are both table-sized, payloads never move."""
    from .cdx import surt_key_col

    urls = entries_df.filter(
        (F.col("kind") == "url") & F.col("loc").isNotNull()
    ).select(F.col("loc"), lastmod_ts_col("lastmod").alias("lastmod_ts"))
    urls = surt_key_col(urls, url_col="loc", out_col="urlkey")
    # publisher may list a URL in several sitemaps: keep the newest claim
    urls = urls.groupBy("urlkey").agg(
        F.max_by("loc", F.coalesce("lastmod_ts", F.lit(""))).alias("loc"),
        F.max("lastmod_ts").alias("lastmod_ts"),
    )
    caps = cdx_latest_df.select(
        "urlkey", F.col("timestamp").alias("captured_ts")
    )
    joined = urls.join(caps, "urlkey", "left")
    reason = (
        F.when(F.col("captured_ts").isNull(), "new")
        .when(
            F.col("lastmod_ts").isNotNull()
            & (F.col("lastmod_ts") > F.col("captured_ts")),
            "modified",
        )
        .when(F.col("lastmod_ts").isNull(), "unknown")
        .otherwise(F.lit(None))
    )
    out = joined.select("urlkey", "loc", "lastmod_ts", "captured_ts", reason.alias("reason"))
    keep = ["new", "modified"] + (["unknown"] if fetch_unmodified_unknown else [])
    return out.filter(F.col("reason").isin(*keep))


def xml_escape(s: str) -> str:
    """The writer-side twin of :func:`xml_unescape_col` (spec-required
    escaping for ``<loc>`` content): '&' FIRST so the other replacements
    never double-escape."""
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def build_sitemap_xml(entries: list[tuple[str, str | None]]) -> str:
    """Deterministic ``<urlset>`` document for tests/oracles:
    ``[(loc, lastmod|None), ...]``.  loc values are spec-escaped, so a
    parse round-trip returns the input verbatim."""
    rows = []
    for loc, lastmod in entries:
        lm = f"<lastmod>{lastmod}</lastmod>" if lastmod else ""
        rows.append(f"<url><loc>{xml_escape(loc)}</loc>{lm}</url>")
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        + "".join(rows)
        + "</urlset>"
    )
