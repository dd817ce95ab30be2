"""Robots-directive hygiene: ``<meta name="robots">`` extraction plus
robots.txt (RFC 9309) parsing and fetch-permission filtering, all as JVM
column expressions.

A crawl that trains on pages whose publishers opted out via
``<meta name="robots" content="noindex">`` is both a compliance and a
quality problem (noindexed pages are disproportionately login walls,
faceted-search chaff and staging leftovers).  This module handles BOTH
halves of the protocol the batch engine can see: the in-document meta
tags, and -- since r7 -- the ``X-Robots-Tag`` response headers that the
WARC/CDX ingestion tiers preserve on every response record
(:func:`x_robots_flags` / :func:`robots_flags`); only live per-fetch
agent scoping stays with the fetcher (SURVEY §2.1 S2).

Semantics (public robots-meta spec, as implemented by the major crawlers):
directives are comma-separated tokens inside the ``content`` attribute of
any ``<meta>`` tag whose ``name`` is ``robots`` (case-insensitive, either
attribute order, single or double quotes); ``none`` is shorthand for
``noindex, nofollow``; multiple robots tags union (any tag's ``noindex``
wins).  Decoy tags (``name="description" content="noindex"``) must NOT
match.

Shape: one ``regexp_extract_all`` over the raw HTML collects the meta
tags; filtering to robots tags and extracting their content attributes are
higher-order array functions over that staged array (child projection --
the multi-reference staging rule) -- all whole-stage codegen, zero
shuffles, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# every <meta ...> tag; robots filtering happens on the extracted array so
# the expensive full-text scan runs ONCE
_META_TAG = r"(?i)<meta\b[^>]*>"
# name="robots" / name='robots' / name=robots, either side of content
_NAME_ROBOTS = r"""(?i)\bname\s*=\s*("robots"|'robots'|robots[\s/>])"""
# quoted content attribute value (unquoted content is vanishingly rare in
# real markup and never produced by CMSes; documented limitation)
_CONTENT_ATTR = r"""(?i)\bcontent\s*=\s*["']([^"']*)["']"""


def _directive(contents: Column, token: str) -> Column:
    """True when any robots content lists ``token`` (or ``none``) as a
    comma/space-delimited directive -- substring hits inside other words
    do not count."""
    pat = rf"(?i)(^|[,\s])({token}|none)([,\s]|$)"
    return F.exists(contents, lambda c: c.rlike(pat))


def robots_meta(df: DataFrame, html_col: str = "html") -> DataFrame:
    """(doc_id, noindex, nofollow): the union of all ``<meta name=robots>``
    directives in the document.  NULL html -> (false, false): an absent
    page can't opt out."""
    d = (
        df.withColumn(
            "__rb_tags", F.regexp_extract_all(F.coalesce(F.col(html_col), F.lit("")), F.lit(_META_TAG), 0)
        )
        .withColumn(
            "__rb_contents",
            F.transform(
                F.filter(F.col("__rb_tags"), lambda t: t.rlike(_NAME_ROBOTS)),
                lambda t: F.regexp_extract(t, _CONTENT_ATTR, 1),
            ),
        )
    )
    return d.select(
        "doc_id",
        _directive(F.col("__rb_contents"), "noindex").alias("noindex"),
        _directive(F.col("__rb_contents"), "nofollow").alias("nofollow"),
    )


def _x_robots_values(headers: Column) -> Column:
    """``X-Robots-Tag`` header values from an ``array<string>`` of
    ``'name: value'`` response-header lines (the shape
    ``warc_records_from_ranges`` emits)."""
    return F.transform(
        F.filter(
            F.coalesce(headers, F.array().cast("array<string>")),
            lambda h: h.rlike(r"(?i)^x-robots-tag\s*:"),
        ),
        lambda h: F.regexp_replace(h, r"(?i)^x-robots-tag\s*:\s*", ""),
    )


def x_robots_flags(df: DataFrame, headers_col: str = "http_headers") -> DataFrame:
    """(doc_id, noindex, nofollow) from archived ``X-Robots-Tag``
    response headers -- the HTTP half of the robots opt-out protocol,
    which the batch engine CAN honor without a fetcher whenever the
    ingestion path preserves response headers (the CDX ranged tier does:
    ``http_headers`` on every response record of
    ``cdx.warc_records_from_ranges``; the blob and file-path WARC record
    tables keep only the content type and encoding).

    Directive parsing matches :func:`robots_meta`'s token rule; multiple
    headers union.  Agent-SCOPED directives (``X-Robots-Tag: somebot:
    noindex``) also count -- the scope token reads as just another
    delimited word, which is the conservative curation-side reading
    (documented; per-agent scoping belongs to a fetcher that knows its
    own name).  NULL / missing header arrays yield (false, false)."""
    d = df.withColumn("__xr_vals", _x_robots_values(F.col(headers_col)))
    return d.select(
        "doc_id",
        _directive(F.col("__xr_vals"), "noindex").alias("noindex"),
        _directive(F.col("__xr_vals"), "nofollow").alias("nofollow"),
    )


def robots_flags(
    df: DataFrame, html_col: str = "html", headers_col: str | None = "http_headers"
) -> DataFrame:
    """(doc_id, noindex, nofollow): the UNION of the in-document
    ``<meta name=robots>`` directives and the ``X-Robots-Tag`` response
    headers -- the full archival-side opt-out protocol.  Both halves are
    staged columns of ONE projection chain (zero shuffles, no join);
    pass ``headers_col=None`` for corpora without preserved headers
    (degrades to :func:`robots_meta` exactly)."""
    if headers_col is None:
        return robots_meta(df, html_col)
    d = (
        df.withColumn(
            "__rb_tags",
            F.regexp_extract_all(
                F.coalesce(F.col(html_col), F.lit("")), F.lit(_META_TAG), 0
            ),
        )
        .withColumn(
            "__rb_contents",
            F.transform(
                F.filter(F.col("__rb_tags"), lambda t: t.rlike(_NAME_ROBOTS)),
                lambda t: F.regexp_extract(t, _CONTENT_ATTR, 1),
            ),
        )
        .withColumn("__xr_vals", _x_robots_values(F.col(headers_col)))
    )
    return d.select(
        "doc_id",
        (
            _directive(F.col("__rb_contents"), "noindex")
            | _directive(F.col("__xr_vals"), "noindex")
        ).alias("noindex"),
        (
            _directive(F.col("__rb_contents"), "nofollow")
            | _directive(F.col("__xr_vals"), "nofollow")
        ).alias("nofollow"),
    )


def drop_noindex(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Survivor composition: remove documents whose markup opts out of
    indexing (``noindex`` or ``none``) before they enter extraction --
    cheapest at the top of the funnel, where the drop also saves the
    parse."""
    flags = robots_meta(df, html_col)
    keep = flags.filter(~F.col("noindex")).select("doc_id")
    return df.join(keep, "doc_id", "left_semi")


# ---------------------------------------------------------------------------
# robots.txt (RFC 9309) -- the per-SITE opt-out published at /robots.txt,
# applied at frontier time (before the fetch) and re-applied at curation
# time (the CCBot/GPTBot opt-out wave made retroactive re-filtering a
# standard stage).  Semantics implemented, and their scale shapes, are
# documented on the functions below; out of scope: %-decoding
# normalization of patterns and the Crawl-delay/Sitemap metadata fields.
#
# - parsing windows over the robots table: one small frame (a row per
#   domain, exploded to a row per line); the corpus never enters.
# - compilation folds each domain's rules into ONE array row, so
# - permission tagging is a single join on the domain (AQE broadcasts a
#   small compiled side) + higher-order array evaluation in the scan
#   stage: the corpus is never re-shuffled and never re-joined per rule.
#   Plain-prefix rules (the vast majority in real robots.txt) match via
#   startswith; only wildcard/anchored rules pay data-driven regex.
# ---------------------------------------------------------------------------

_RULE_FIELDS = ("allow", "disallow")


def robots_sitemaps(
    df: DataFrame, domain_col: str = "domain", text_col: str = "robots_txt"
) -> DataFrame:
    """(domain, sitemap_url): every ``Sitemap:`` directive in each
    domain's robots.txt -- the DISCOVERY edge between the robots tier
    and the sitemap tier (``nreadspark.sitemap``): robots.txt is where a
    crawler learns which sitemap files exist, and their entries then
    drive :func:`~nreadspark.sitemap.plan_refresh`.

    Per RFC 9309 / sitemaps.org, ``Sitemap:`` lines are independent of
    user-agent groups (valid anywhere in the file), which is what makes
    this a pure line filter: ONE regexp per line, no group machinery.
    Comments strip first; field name case-insensitive; values keep their
    case (URLs).  Zero Python, zero shuffle; the frame is
    robots-table-sized."""
    lines = df.select(
        F.col(domain_col).alias("domain"),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("__rb_raw"),
    )
    clean = F.trim(F.regexp_replace(F.col("__rb_raw"), "#.*", ""))
    url = F.regexp_extract(clean, r"(?i)^sitemap\s*:\s*(\S+)", 1)
    return (
        lines.select("domain", url.alias("sitemap_url"))
        .filter(F.col("sitemap_url") != "")
    )


def parse_robots_rules(
    df: DataFrame,
    agent: str = "*",
    domain_col: str = "domain",
    text_col: str = "robots_txt",
) -> DataFrame:
    """(domain, allow, path, rule_len): the rule set governing ``agent``,
    one row per effective Allow/Disallow rule.  Group selection (exact
    agent match beats ``*``), comment stripping, field case folding and
    the ignore-rules-before-any-group behavior all happen here; empty
    patterns are dropped (an empty ``Disallow:`` allows everything by
    saying nothing).

    Shape: posexplode to one row per line, then per-domain windows (lag
    for group starts, running sum for group ids) + one small agg for
    group-agent matching -- every frame is robots-table-sized (lines of
    text per domain), never corpus-sized."""
    agent_lc = agent.lower()
    lines = df.select(
        F.col(domain_col).alias("domain"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("__rb_pos", "__rb_raw"),
    )
    # comments strip first (inline or whole-line), then trim; \r from CRLF
    # transfers dies with the trim
    clean = F.trim(F.regexp_replace(F.col("__rb_raw"), "#.*", ""))
    # one staged projection instead of three withColumn analyzer passes
    lines = (
        lines.select("domain", "__rb_pos", clean.alias("__rb_line"))
        .select(
            "domain",
            "__rb_pos",
            F.lower(F.trim(F.regexp_extract("__rb_line", "^([^:]+):", 1))).alias(
                "field"
            ),
            F.trim(F.regexp_extract("__rb_line", "^[^:]+:(.*)", 1)).alias("value"),
        )
        .filter(F.col("field").isin("user-agent", *_RULE_FIELDS))
    )
    w = Window.partitionBy("domain").orderBy("__rb_pos")
    # a group starts at a user-agent line not preceded by another
    # user-agent line (consecutive UA lines share one group, RFC 9309 §2.1)
    start = (F.col("field") == "user-agent") & (
        F.coalesce(F.lag("field").over(w), F.lit("")) != "user-agent"
    )
    lines = lines.withColumn(
        "__rb_grp",
        F.sum(start.cast("int")).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    groups = (
        lines.filter(F.col("field") == "user-agent")
        .groupBy("domain", "__rb_grp")
        .agg(
            F.max((F.lower("value") == agent_lc).cast("int")).alias("__rb_exact"),
            F.max((F.col("value") == "*").cast("int")).alias("__rb_star"),
        )
        .withColumn(
            "__rb_has_exact",
            F.max("__rb_exact").over(Window.partitionBy("domain")),
        )
        .filter(
            ((F.col("__rb_has_exact") == 1) & (F.col("__rb_exact") == 1))
            | ((F.col("__rb_has_exact") == 0) & (F.col("__rb_star") == 1))
        )
        .select("domain", "__rb_grp")
    )
    return (
        lines.filter(
            F.col("field").isin(*_RULE_FIELDS)
            & (F.col("__rb_grp") > 0)
            & (F.col("value") != "")
        )
        .join(groups, ["domain", "__rb_grp"])
        .select(
            "domain",
            (F.col("field") == "allow").alias("allow"),
            F.col("value").alias("path"),
            F.length("value").cast("int").alias("rule_len"),
        )
    )


def compile_robots(rules: DataFrame) -> DataFrame:
    """(domain, __rb_rules): each domain's rule set folded into ONE array
    of (a: allow int, l: rule_len, rx: is-regex, pat: prefix-or-pattern)
    structs, so permission tagging joins the corpus against one row per
    domain.  Plain prefixes stay plain (``startswith`` at eval time);
    rules containing ``*`` or a trailing ``$`` are pre-translated to an
    anchored regex here, once, not per URL."""
    anchored = F.col("path").endswith("$")
    body = F.when(
        anchored, F.expr("substring(path, 1, length(path) - 1)")
    ).otherwise(F.col("path"))
    esc = F.regexp_replace(body, r"([.^$+?(){}\[\]|\\])", r"\\$1")
    pattern = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    is_rx = F.col("path").contains("*") | anchored
    return (
        rules.select(
            "domain",
            F.struct(
                F.col("allow").cast("int").alias("a"),
                F.col("rule_len").alias("l"),
                is_rx.alias("rx"),
                F.when(is_rx, pattern).otherwise(F.col("path")).alias("pat"),
            ).alias("__rb_r"),
        )
        .groupBy("domain")
        .agg(F.collect_list("__rb_r").alias("__rb_rules"))
    )


def robots_path_col(url) -> Column:
    """Match-target path of a URL per RFC 9309: everything after the
    authority, fragment stripped, query kept (rules with ``?`` exist and
    must see it), empty path -> ``/``.  Non-absolute inputs pass through
    as-is (they are already paths)."""
    url = F.col(url) if isinstance(url, str) else url
    tail = F.regexp_extract(
        F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*", ""),
        r"^([^#]*)",
        1,
    )
    return F.when(tail == "", F.lit("/")).otherwise(tail)


def tag_robots_permissions(
    df: DataFrame,
    rules: DataFrame,
    domain_col: str = "domain",
    path_col: str = "path",
    out_col: str = "allowed",
) -> DataFrame:
    """Add ``out_col``: whether fetching ``path_col`` on ``domain_col`` is
    permitted by ``rules`` (a :func:`parse_robots_rules` frame).  Winner
    selection is the RFC's longest-match-wins with allow-beats-disallow
    ties, evaluated per row as pure array ops: filter the domain's rule
    array down to matches, take the lexicographic max of (rule_len,
    allow) structs -- no per-rule join, no corpus re-shuffle.  URLs with
    no matching rule, and domains with no rules at all, are allowed.

    Shape: ONE left join on the domain against the one-row-per-domain
    compiled frame (AQE broadcasts it when small); everything else is
    scan-stage array evaluation."""
    compiled = compile_robots(rules)
    joined = df.join(
        compiled, df[domain_col] == compiled["domain"], "left"
    ).drop(compiled["domain"])
    path = F.col(path_col)
    matched = F.filter(
        F.coalesce(F.col("__rb_rules"), F.array()),
        lambda r: F.when(r["rx"], F.regexp_like(path, r["pat"])).otherwise(
            F.startswith(path, r["pat"])
        ),
    )
    best = F.array_max(
        F.transform(matched, lambda r: F.struct(r["l"].alias("l"), r["a"].alias("a")))
    )
    return joined.withColumn(
        out_col, F.coalesce(best["a"] == 1, F.lit(True))
    ).drop("__rb_rules")


def filter_robots_disallowed(
    df: DataFrame,
    rules: DataFrame,
    domain_col: str = "domain",
    path_col: str = "path",
) -> DataFrame:
    """Survivor composition: keep only rows whose fetch the rule set
    permits (the retroactive re-filter a curation pipeline runs when a
    site's robots.txt revokes consent)."""
    return tag_robots_permissions(df, rules, domain_col, path_col, "__rb_ok").filter(
        F.col("__rb_ok")
    ).drop("__rb_ok")
