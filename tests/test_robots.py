"""robots.txt parsing + permission semantics (RFC 9309 conformance table)."""

import pytest

pyspark = pytest.importorskip("pyspark")


from nreadspark.ops.robots import (  # noqa: E402
    filter_robots_disallowed,
    parse_robots_rules,
    robots_path_col,
    tag_robots_permissions,
)


def _rules(spark, text, agent="*"):
    df = spark.createDataFrame([("d.com", text)], "domain string, robots_txt string")
    return parse_robots_rules(df, agent=agent)


def _allowed(spark, text, paths, agent="*"):
    rules = _rules(spark, text, agent=agent)
    urls = spark.createDataFrame(
        [(i, "d.com", p) for i, p in enumerate(paths)],
        "doc_id long, domain string, path string",
    )
    out = tag_robots_permissions(urls, rules)
    return [r["allowed"] for r in out.orderBy("doc_id").collect()]


def test_group_parsing_and_prefix_match(spark):
    txt = "User-agent: *\nDisallow: /private/\nAllow: /private/pub/"
    rows = {(r["allow"], r["path"], r["rule_len"])
            for r in _rules(spark, txt).collect()}
    assert rows == {(False, "/private/", 9), (True, "/private/pub/", 13)}
    # longest match wins: the allow outranks the shorter disallow
    assert _allowed(spark, txt, ["/private/pub/x", "/private/y", "/other"]) == [
        True, False, True,
    ]


def test_exact_agent_group_preferred_over_star(spark):
    txt = "User-agent: *\nDisallow: /\n\nUser-agent: TrainBot\nDisallow: /tmp/"
    # case-insensitive exact match selects ONLY the trainbot group
    assert _allowed(spark, txt, ["/anything", "/tmp/x"], agent="trainbot") == [
        True, False,
    ]
    # an unnamed agent falls back to the * group
    assert _allowed(spark, txt, ["/anything"], agent="otherbot") == [False]


def test_wildcard_and_dollar_anchor(spark):
    txt = "User-agent: *\nDisallow: /*.pdf$\nDisallow: /cgi*/x"
    assert _allowed(
        spark, txt, ["/docs/m.pdf", "/docs/m.pdf?x=1", "/cgi-bin/x", "/cgi-bin/y"]
    ) == [False, True, False, True]


def test_allow_wins_equal_length_tie(spark):
    txt = "User-agent: *\nDisallow: /dir/\nAllow: /dir/"
    assert _allowed(spark, txt, ["/dir/page"]) == [True]


def test_rules_before_any_group_ignored_and_empty_rule_dropped(spark):
    txt = "Disallow: /ignored/\nUser-agent: *\nDisallow:"
    assert _rules(spark, txt).count() == 0
    assert _allowed(spark, txt, ["/ignored/x", "/y"]) == [True, True]


def test_shared_group_multiple_user_agents(spark):
    txt = "User-agent: a\nUser-agent: trainbot\nDisallow: /x/"
    assert _allowed(spark, txt, ["/x/top", "/y"], agent="trainbot") == [False, True]


def test_comments_case_and_whitespace(spark):
    txt = "# preamble\nUSER-AGENT: TrainBot  # inline\n Disallow : /private"
    assert _allowed(spark, txt, ["/private/x", "/pub"], agent="trainbot") == [
        False, True,
    ]


def test_blank_lines_do_not_split_a_group(spark):
    txt = "User-agent: *\n\nDisallow: /a/"
    assert _allowed(spark, txt, ["/a/x"]) == [False]


def test_no_rules_and_unknown_domain_allowed(spark):
    rules = _rules(spark, "User-agent: *\nDisallow: /x/")
    urls = spark.createDataFrame(
        [(1, "other.com", "/x/page")], "doc_id long, domain string, path string"
    )
    assert tag_robots_permissions(urls, rules).collect()[0]["allowed"] is True


def test_regex_metachars_in_rule_are_literal(spark):
    txt = "User-agent: *\nDisallow: /a(b)+c?d"
    assert _allowed(spark, txt, ["/a(b)+c?d/e", "/abbcd"]) == [False, True]


def test_robots_path_col(spark):
    df = spark.createDataFrame(
        [
            ("https://e.com/a/b?q=1#frag",),
            ("https://e.com",),
            ("/already/a/path",),
        ],
        "url string",
    )
    out = [r["p"] for r in df.select(robots_path_col("url").alias("p")).collect()]
    assert out == ["/a/b?q=1", "/", "/already/a/path"]


def test_filter_survivors_and_plan_shape(spark):
    rules = _rules(spark, "User-agent: *\nDisallow: /no/")
    urls = spark.createDataFrame(
        [(1, "d.com", "/no/x"), (2, "d.com", "/yes"), (3, "e.com", "/no/x")],
        "doc_id long, domain string, path string",
    )
    out = filter_robots_disallowed(urls, rules)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
    # corpus side: one join, no corpus re-shuffle, no Python
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_x_robots_header_flags_and_union(spark):
    """X-Robots-Tag parsing: plain/scoped/multi-header/'none' shorthand
    set flags; decoy header names, unavailable_after, NULL and empty
    arrays don't; robots_flags unions headers with meta tags and
    degrades to robots_meta exactly when headers_col=None."""
    from pyspark.sql import Row
    from nreadspark.ops.robots import robots_flags, robots_meta, x_robots_flags

    rows = [
        Row(doc_id=0, html="<p>x</p>", http_headers=["x-robots-tag: noindex"]),
        Row(doc_id=1, html="<p>x</p>", http_headers=["X-Robots-Tag: somebot: nofollow"]),
        Row(doc_id=2, html="<p>x</p>", http_headers=["content-type: text/html", "x-robots-tag: NONE"]),
        Row(doc_id=3, html="<p>x</p>", http_headers=["x-robots-tag: unavailable_after: 2026-01-01"]),
        Row(doc_id=4, html="<p>x</p>", http_headers=["x-robots-tags: noindex"]),  # decoy name
        Row(doc_id=5, html="<p>x</p>", http_headers=None),
        Row(doc_id=6, html='<meta name="robots" content="noindex">',
            http_headers=["x-robots-tag: nofollow"]),  # union of both halves
    ]
    df = spark.createDataFrame(rows)
    hdr = {r["doc_id"]: (r["noindex"], r["nofollow"]) for r in x_robots_flags(df).collect()}
    assert hdr[0] == (True, False)
    assert hdr[1] == (False, True)  # scoped directives count (documented)
    assert hdr[2] == (True, True)  # 'none' shorthand, second header
    assert hdr[3] == (False, False) and hdr[4] == (False, False)
    assert hdr[5] == (False, False)
    both = {r["doc_id"]: (r["noindex"], r["nofollow"]) for r in robots_flags(df).collect()}
    assert both[6] == (True, True)  # meta noindex + header nofollow union
    assert both[0] == (True, False) and both[3] == (False, False)
    # headers_col=None degrades to robots_meta exactly
    meta_only = {r["doc_id"]: (r["noindex"], r["nofollow"])
                 for r in robots_flags(df, headers_col=None).collect()}
    ref = {r["doc_id"]: (r["noindex"], r["nofollow"]) for r in robots_meta(df).collect()}
    assert meta_only == ref


def test_robots_sitemaps_discovery(spark):
    """Sitemap: lines are group-independent (RFC 9309): found inside any
    group, any case; comments and wrong field names don't match; NULL
    robots text yields nothing."""
    from pyspark.sql import Row
    from nreadspark.ops.robots import robots_sitemaps

    txt = (
        "# header comment\n"
        "Sitemap: http://a.com/s1.xml\n"
        "User-agent: *\n"
        "Disallow: /x\n"
        "SITEMAP:http://a.com/s2.xml  # trailing comment\n"
        "sitemapx: http://a.com/decoy.xml\n"
        "# Sitemap: http://a.com/commented.xml\n"
    )
    df = spark.createDataFrame(
        [Row(domain="a.com", robots_txt=txt), Row(domain="b.com", robots_txt=None)]
    )
    got = {(r["domain"], r["sitemap_url"]) for r in robots_sitemaps(df).collect()}
    assert got == {
        ("a.com", "http://a.com/s1.xml"),
        ("a.com", "http://a.com/s2.xml"),
    }
