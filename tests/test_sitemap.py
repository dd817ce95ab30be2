"""Sitemap parsing + crawl-refresh planning (nreadspark/sitemap.py):
urlset/sitemapindex explode, lastmod normalization, and the
inventory-vs-capture fetch reasoning."""


def test_sitemap_entries_urlset_and_index(spark):
    from pyspark.sql import Row
    from nreadspark.sitemap import build_sitemap_xml, sitemap_entries

    xml = build_sitemap_xml(
        [
            ("http://a.com/new", "2026-08-01"),
            ("http://a.com/nolastmod", None),
        ]
    )
    idx = (
        '<?xml version="1.0"?><sitemapindex>'
        "<sitemap><loc>http://a.com/s1.xml</loc>"
        "<lastmod>2026-08-17T09:30:00Z</lastmod></sitemap>"
        "<sitemap><loc> http://a.com/s2.xml </loc></sitemap>"  # ws-padded loc
        "</sitemapindex>"
    )
    broken = "<urlset><url><lastmod>2026-01-01</lastmod></url></urlset>"  # no loc
    df = spark.createDataFrame(
        [
            Row(sitemap_url="http://a.com/s.xml", xml=xml),
            Row(sitemap_url="http://a.com/i.xml", xml=idx),
            Row(sitemap_url="http://a.com/b.xml", xml=broken),
        ]
    )
    rows = sitemap_entries(df).collect()
    by = {(r["kind"], r["loc"]): r for r in rows}
    assert by[("url", "http://a.com/new")]["lastmod"] == "2026-08-01"
    assert by[("url", "http://a.com/nolastmod")]["lastmod"] is None
    assert by[("sitemap", "http://a.com/s1.xml")]["lastmod"] == "2026-08-17T09:30:00Z"
    assert ("sitemap", "http://a.com/s2.xml") in by  # loc whitespace trimmed
    assert by[("url", None)]["lastmod"] == "2026-01-01"  # contained, not dropped


def test_lastmod_normalization(spark):
    from pyspark.sql import Row, functions as F
    from nreadspark.sitemap import lastmod_ts_col

    df = spark.createDataFrame(
        [
            Row(lm="2026-08-17"),
            Row(lm="2026-08-17T09:30:05Z"),
            Row(lm="2026-08-17T09:30:05+02:00"),  # tz digits truncated by 14-cap
            Row(lm=None),
            Row(lm="garbage"),
        ]
    )
    got = [r["ts"] for r in df.select(lastmod_ts_col("lm").alias("ts")).collect()]
    assert got == [
        "20260817000000",
        "20260817093005",
        "20260817093005",
        None,
        None,
    ]


def test_plan_refresh_reasons(spark):
    from pyspark.sql import Row, functions as F
    from nreadspark.sitemap import build_sitemap_xml, plan_refresh, sitemap_entries

    xml = build_sitemap_xml(
        [
            ("http://a.com/fresh", "2026-01-01"),  # captured later -> skip
            ("http://a.com/stale", "2026-08-01"),  # captured earlier -> modified
            ("http://a.com/never", "2026-05-01"),  # no capture -> new
            ("http://a.com/mystery", None),  # captured, no lastmod -> unknown
        ]
    )
    ents = sitemap_entries(
        spark.createDataFrame([Row(sitemap_url="s", xml=xml)])
    )
    caps = spark.createDataFrame(
        [
            Row(urlkey="com,a)/fresh", timestamp="20260601000000"),
            Row(urlkey="com,a)/stale", timestamp="20260601000000"),
            Row(urlkey="com,a)/mystery", timestamp="20260101000000"),
        ]
    )
    got = {r["urlkey"]: r["reason"] for r in plan_refresh(ents, caps).collect()}
    assert got == {
        "com,a)/stale": "modified",
        "com,a)/never": "new",
        "com,a)/mystery": "unknown",
    }
    strict = plan_refresh(ents, caps, fetch_unmodified_unknown=False)
    assert {r["urlkey"] for r in strict.collect()} == {"com,a)/stale", "com,a)/never"}


def test_plan_refresh_keeps_newest_duplicate_claim(spark):
    """A URL listed in two sitemaps keeps its newest lastmod claim."""
    from pyspark.sql import Row
    from nreadspark.sitemap import build_sitemap_xml, plan_refresh, sitemap_entries

    ents = sitemap_entries(
        spark.createDataFrame(
            [
                Row(sitemap_url="s1", xml=build_sitemap_xml([("http://a.com/p", "2026-02-01")])),
                Row(sitemap_url="s2", xml=build_sitemap_xml([("http://a.com/p", "2026-07-01")])),
            ]
        )
    )
    caps = spark.createDataFrame([Row(urlkey="com,a)/p", timestamp="20260401000000")])
    got = plan_refresh(ents, caps).collect()
    assert len(got) == 1 and got[0]["reason"] == "modified"
    assert got[0]["lastmod_ts"] == "20260701000000"


def test_xml_entity_decode_in_loc_and_lastmod(spark):
    """sitemaps.org REQUIRES '&'->'&amp;' inside <loc>; the parser must
    decode the five predefined entities AND numeric character references
    (decimal + hex, BMP + astral), single-pass ('&amp;lt;' -> literal
    '&lt;'), with invalid codepoints kept literal."""
    from pyspark.sql import Row
    from nreadspark.sitemap import sitemap_entries

    cases = {
        "http://a.com/q?a=1&amp;b=2": "http://a.com/q?a=1&b=2",
        "http://a.com/&lt;x&gt;&quot;&apos;": "http://a.com/<x>\"'",
        "http://a.com/&#47;&#x2F;end": "http://a.com///end",
        "http://a.com/&amp;lt;": "http://a.com/&lt;",  # no double decode
        "http://a.com/&#128169;": "http://a.com/\U0001f4a9",  # astral
        "http://a.com/&#0;&#xD800;&#1114112;&#99999999;": (
            "http://a.com/&#0;&#xD800;&#1114112;&#99999999;"  # invalid kept
        ),
        "http://a.com/&amp": "http://a.com/&amp",  # unterminated: literal
        "http://a.com/plain": "http://a.com/plain",
    }
    xml = "<urlset>" + "".join(
        f"<url><loc>{esc}</loc><lastmod>2026&#45;08&#45;01</lastmod></url>"
        for esc in cases
    ) + "</urlset>"
    rows = sitemap_entries(
        spark.createDataFrame([Row(sitemap_url="s", xml=xml)])
    ).collect()
    got = {r["loc"]: r["lastmod"] for r in rows}
    assert set(got) == set(cases.values())
    assert all(lm == "2026-08-01" for lm in got.values())  # lastmod decoded too


def test_build_sitemap_xml_round_trips_escaped_locs(spark):
    from pyspark.sql import Row
    from nreadspark.sitemap import build_sitemap_xml, sitemap_entries

    locs = ["http://a.com/q?a=1&b=2&c=<3>", "http://a.com/plain"]
    xml = build_sitemap_xml([(l, "2026-08-01") for l in locs])
    assert "&amp;" in xml and "&lt;" in xml and "?a=1&b" not in xml
    rows = sitemap_entries(
        spark.createDataFrame([Row(sitemap_url="s", xml=xml)])
    ).collect()
    assert sorted(r["loc"] for r in rows) == sorted(locs)
