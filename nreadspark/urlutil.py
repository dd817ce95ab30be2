"""URL helpers mirroring the reference's System.Uri-based logic.

Reference: NReadability/NReadabilityTranscoder.cs
  * ResolveElementUrl  (:1641-1674)  -- absolute-ize img@src / a@href
  * FindBaseUrl        (:619-695)    -- clean a page URL into an article base
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit

_MAILTO_RE = re.compile(r"^\s*mailto\s*:", re.I)
# .NET Uri.TryCreate(s, UriKind.Absolute) for web-ish URIs demands
# scheme :// authority; bare "http:host" or schemeless strings fail.
_ABSOLUTE_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+")
_PAGE_NUM_SEGMENT_RE = re.compile(r"((_|-)?p[a-z]*|(_|-))[0-9]{1,2}$", re.I)
_PURE_PAGE_NUM_RE = re.compile(r"^[\d]{1,2}$")
_ALPHA_RE = re.compile(r"[a-z]", re.I)
_NON_ALPHA_RE = re.compile(r"[^a-zA-Z]")


def is_absolute_url(url: str | None) -> bool:
    return bool(url) and _ABSOLUTE_RE.match(url) is not None


def get_host(url: str) -> str | None:
    try:
        return (urlsplit(url).hostname or None)
    except ValueError:
        return None


def resolve_element_url(url: str, article_url: str | None) -> str:
    """NReadabilityTranscoder.ResolveElementUrl (:1641-1674): mailto passes
    through; invalid base leaves the value unchanged; a bare ?query string is
    appended to the page path; otherwise standard RFC 3986 resolution."""
    if url is None:
        raise ValueError("url is required")
    if _MAILTO_RE.match(url):
        return url
    if not is_absolute_url(article_url):
        return url
    if url.startswith("?"):
        sp = urlsplit(article_url)
        return f"{sp.scheme}://{sp.netloc}{sp.path or '/'}{url}"
    try:
        return urljoin(article_url, url)
    except ValueError:
        return url


# Tracking query parameters every crawl canonicalizer strips (public
# analytics-parameter lists: Google/Facebook/Microsoft click ids, utm_*).
# Deliberately NOT included: bare 'ref' -- semantic on many real sites
# (code-hosting branch selectors, doc anchors), and stripping a semantic
# param makes keep_canonical_urls silently delete distinct documents.
TRACKING_PARAMS = frozenset(
    {"gclid", "fbclid", "msclkid", "igshid", "mc_cid", "mc_eid"}
)
_DEFAULT_PORTS = {"http": "80", "https": "443"}
_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://")
# host: a bracketed IPv6/IPvFuture literal (RFC 3986 §3.2.2) wins over the
# stop-at-first-colon rule -- '[2001:db8::1]:8080' must keep the whole
# literal, not truncate at the first ':' inside the brackets (distinct v6
# hosts would otherwise canonicalize to the same string and wrongly merge)
_HOST_RE = re.compile(r"^(?:[^@]*@)?(\[[^\]]*\]|[^:]*)")
_PORT_RE = re.compile(r":([0-9]+)$")


def _is_tracking_param(param: str) -> bool:
    key = param.split("=", 1)[0].lower()
    return key in TRACKING_PARAMS or key.startswith("utm_")


def _url_split(url: str):
    """``(scheme, host, port, path, params)`` of an absolute URL, else
    None: scheme and host lowercased (userinfo-aware; a bracketed IPv6
    literal is the whole host), the scheme's default port dropped, the
    fragment cut (everything after '#' is fragment per RFC 3986, so a
    '?' inside it -- SPA hash routes like '#/search?q=x' -- is not a
    query), trailing slashes off the path (case kept), and the non-empty
    query params with tracking params removed, unsorted, case kept.  The
    Python counterpart of ``ops.urls._url_parts``, token for token."""
    m = _SCHEME_RE.match(url or "")
    if not m or not _ABSOLUTE_RE.match(url):
        return None
    scheme = m.group(1).lower()
    rest = url[m.end() :]
    slash = re.search(r"[/?#]", rest)
    cut = len(rest) if slash is None else slash.start()
    authority, tail_nf = rest[:cut], re.match(r"^([^#]*)", rest[cut:]).group(1)
    pm = _PORT_RE.search(authority)
    port = pm.group(1) if pm else ""
    if port == _DEFAULT_PORTS.get(scheme, ""):
        port = ""
    qm = re.search(r"\?(.*)", tail_nf)
    params = [
        p for p in (qm.group(1) if qm else "").split("&") if p and not _is_tracking_param(p)
    ]
    return (
        scheme,
        _HOST_RE.match(authority).group(1).lower(),
        port,
        re.sub(r"/+$", "", re.match(r"^([^?]*)", tail_nf).group(1)),
        params,
    )


def canonical_url(url: str) -> str:
    """Canonicalize a URL for crawl-level deduplication -- the cheapest
    first-pass dedup a pipeline runs before any content hashing:

    * scheme and host lowercased (userinfo-aware host extraction);
    * default ports dropped (http:80, https:443);
    * fragment dropped;
    * tracking parameters removed (``utm_*`` + :data:`TRACKING_PARAMS`),
      remaining query params sorted (param ORDER is almost never
      semantic; sorting merges reordered duplicates);
    * trailing slashes collapsed off the path ('' -> '/');
    * path CASE preserved (paths are case-sensitive per RFC 3986);
      'www.' is deliberately NOT stripped (www and apex can serve
      different content).

    Non-absolute URLs pass through unchanged.  Parsing is regex-based --
    deliberately mirroring ``ops.urls.with_canonical_url`` (the Column
    form, assembled from ``ops.urls._url_parts``) token for token so the
    Python reference, the Spark column and the DuckDB oracle agree
    byte-for-byte (urlsplit normalizes differently).

    Out of scope (by design -- each risks merging distinct resources):
    percent-encoding normalization (%7E vs ~), IDN/punycode folding,
    dot-segment resolution ('/a/../b'), and 'www.' stripping.  For
    dedup purposes unmerged near-equal URLs only cost a content-dedup
    comparison later; a wrong merge LOSES a document."""
    parts = _url_split(url)
    if parts is None:
        return url
    scheme, host, port, path, params = parts
    out = f"{scheme}://{host}" + (f":{port}" if port else "") + (path or "/")
    return out + "?" + "&".join(sorted(params)) if params else out


def find_base_url(url: str) -> str:
    """NReadabilityTranscoder.FindBaseUrl (:619-695), segment by segment."""
    if not is_absolute_url(url):
        return url
    sp = urlsplit(url)
    protocol = sp.scheme
    hostname = sp.hostname or ""
    no_url_params = (sp.path or "/") + "/"
    url_slashes = list(reversed(no_url_params.split("/")))
    cleaned_segments = []

    for i, segment in enumerate(url_slashes):
        # split off anything that looks like a file type (keeps only the stem
        # when the *second* dot-piece is alpha-only, as the reference does)
        if "." in segment:
            pieces = segment.split(".")
            possible_type = pieces[1]
            if not _NON_ALPHA_RE.search(possible_type):
                segment = pieces[0]

        # EW-CMS-specific ",00" suffix hack
        if ",00" in segment:
            segment = segment.replace(",00", "")

        # first/second segment that looks like a page number: strip it
        if _PAGE_NUM_SEGMENT_RE.search(segment) and i in (0, 1):
            segment = _PAGE_NUM_SEGMENT_RE.sub("", segment)

        delete = i < 2 and _PURE_PAGE_NUM_RE.match(segment) is not None
        if i == 0 and segment.lower() == "index":
            delete = True
        # NOTE: the reference checks url_slashes[0] here (a long-standing
        # readability.js quirk), not the current segment -- keep it.
        if i < 2 and len(segment) < 3 and not _ALPHA_RE.search(url_slashes[0]):
            delete = True

        if not delete:
            cleaned_segments.append(segment)

    cleaned_segments.reverse()
    return f"{protocol}://{hostname}" + "/".join(cleaned_segments)
