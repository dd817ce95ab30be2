"""URL canonicalization (urlutil.canonical_url + ops/urls.py column form):
case/port/fragment/tracking-param/trailing-slash normalization against a
hand-written expectation table, byte-for-byte Python-vs-Spark agreement on
generated messy URLs, and the dedup/survivor compositions."""

import pytest

pyspark = pytest.importorskip("pyspark")

from nreadspark.urlutil import canonical_url  # noqa: E402


# (input, expected) -- the urlutil.find_base_url-style unit table
CASES = [
    ("HTTP://Example.COM/a", "http://example.com/a"),
    ("http://example.com:80/a", "http://example.com/a"),
    ("https://example.com:443/a", "https://example.com/a"),
    ("https://example.com:8443/a", "https://example.com:8443/a"),
    ("http://example.com:443/a", "http://example.com:443/a"),  # not http's default
    ("http://example.com/a/", "http://example.com/a"),
    ("http://example.com/a///", "http://example.com/a"),
    ("http://example.com/", "http://example.com/"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/a#frag", "http://example.com/a"),
    ("http://example.com/a?b=2&a=1", "http://example.com/a?a=1&b=2"),
    ("http://example.com/a?utm_source=x&id=3", "http://example.com/a?id=3"),
    ("http://example.com/a?UTM_Campaign=x&id=3", "http://example.com/a?id=3"),
    ("http://example.com/a?fbclid=zzz", "http://example.com/a"),
    ("http://example.com/a?gclid=1&msclkid=m&id=2#x", "http://example.com/a?id=2"),
    # 'ref' is semantic on many sites (branch selectors) -- kept
    ("http://example.com/repo/file?ref=main", "http://example.com/repo/file?ref=main"),
    # '?' inside the fragment is fragment, not query (SPA hash routes)
    ("http://example.com/app#/search?q=foo", "http://example.com/app"),
    ("http://example.com/a#frag?x=1&utm_source=s", "http://example.com/a"),
    ("http://example.com/a?", "http://example.com/a"),
    ("http://user:pw@Example.com/a", "http://example.com/a"),
    ("http://example.com/CaseSensitive/Path", "http://example.com/CaseSensitive/Path"),
    ("http://WWW.Example.com/a", "http://www.example.com/a"),  # www kept
    ("ftp://Files.Example.com:21/x/", "ftp://files.example.com:21/x"),
    ("http://example.com/a?x", "http://example.com/a?x"),  # valueless param kept
    # bracketed IPv6 literals (RFC 3986 §3.2.2): the whole literal is the
    # host; the port is what follows the closing bracket.  Distinct v6
    # hosts MUST stay distinct (a first-colon truncation would merge them
    # all into 'http://[2001/...' and wrongly delete documents).
    ("http://[2001:db8::1]:8080/x", "http://[2001:db8::1]:8080/x"),
    ("http://[2001:db8::2]:8080/x", "http://[2001:db8::2]:8080/x"),
    ("HTTP://[2001:DB8::1]/x", "http://[2001:db8::1]/x"),
    ("http://[::1]:80/a/", "http://[::1]/a"),  # default port dropped
    ("https://[::1]:443/a?b=2&a=1", "https://[::1]/a?a=1&b=2"),
    ("http://u:pw@[fe80::9]:9090/a#f", "http://[fe80::9]:9090/a"),
    # non-absolute: pass through untouched
    ("/relative/path", "/relative/path"),
    ("mailto:a@b.com", "mailto:a@b.com"),
    ("", ""),
]


def test_canonical_url_reference_table():
    for raw, want in CASES:
        assert canonical_url(raw) == want, raw


def messy_urls():
    """The unit table's inputs plus 200 generated messy URLs: scheme and
    host case, userinfo, default and other ports, trailing slashes,
    tracking and reordered params, fragments."""
    messy = [raw for raw, _ in CASES]
    for i in range(200):
        g = i % 13
        scheme = "HTTP" if i % 2 else "https"
        port = f":{80 if i % 2 else 443}" if i % 3 == 0 else (":9090" if i % 7 == 0 else "")
        path = f"/P{g}" + ("/" * (i % 3))
        q = "" if i % 5 == 4 else f"?z=9&utm_x=1&id={g}" if i % 2 else f"?id={g}&z=9"
        frag = "#s" if i % 4 == 0 else ""
        messy.append(f"{scheme}://UsEr@Host{g}.ORG{port}{path}{q}{frag}")
    return messy


def test_spark_column_matches_python_reference(spark):
    """Byte-for-byte agreement between ``with_canonical_url`` and the
    Python reference on the unit table AND on generated messy URLs."""
    from nreadspark.ops.urls import with_canonical_url

    messy = messy_urls()
    df = spark.createDataFrame(list(enumerate(messy)), "i long, url string")
    got = {r["i"]: r["canonical_url"] for r in with_canonical_url(df).collect()}
    assert len(got) == len(messy)
    for i, raw in enumerate(messy):
        assert got[i] == canonical_url(raw), raw


def test_dedup_by_url_groups(spark):
    from nreadspark.ops.urls import dedup_by_url

    rows = [
        (1, "HTTP://A.com/x/?utm_source=s"),
        (2, "http://a.com:80/x"),
        (3, "http://a.com/x#frag"),
        (4, "http://a.com/y"),
        (5, "https://a.com/x"),  # different scheme -> different resource
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["canonical_url"]: r for r in dedup_by_url(df).collect()}
    assert out["http://a.com/x"]["n_docs"] == 3
    assert out["http://a.com/x"]["canonical_doc_id"] == 1
    assert out["http://a.com/y"]["n_docs"] == 1
    assert out["https://a.com/x"]["n_docs"] == 1


def test_keep_canonical_urls_survivors(spark):
    from nreadspark.ops.urls import keep_canonical_urls

    rows = [
        (1, "HTTP://A.com/x/?utm_source=s"),
        (2, "http://a.com:80/x"),
        (3, "http://a.com/x#frag"),
        (4, "http://a.com/y"),
        (5, "not a url"),
        (6, "not a url"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = {r["doc_id"] for r in keep_canonical_urls(df).collect()}
    # min of the /x group survives; /y survives; identical non-absolute
    # passthroughs dedup to their min too
    assert kept == {1, 4, 5}
