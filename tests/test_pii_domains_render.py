"""Round-6 curation surface: PII scrubbing (ops/pii.py), domain blocklist
filtering (ops/urls.py), and training-text rendering of interleaved spans
(ops/render.py) -- unit semantics + cross-engine agreement with the
generated DuckDB twins."""

import pytest

pyspark = pytest.importorskip("pyspark")


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

PII_DOCS = [
    (1, "contact me at jane.doe+spam@example.co.uk or on 555-123-4567 today"),
    (2, "ssn 123-45-6789 leaked from 192.168.0.1 yesterday"),
    (3, "call +1 (415) 555-0199 now; backup mail root@10.0.0.1.example.com"),
    (4, "clean document with no identifiers at all"),
    (5, ""),
    (6, None),
    (7, "two mails a@b.io c@d.org and two ips 8.8.8.8 1.1.1.1"),
]


def test_pii_scrub_semantics(spark):
    from nreadspark.ops.pii import pii_scrub

    df = spark.createDataFrame(PII_DOCS, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}

    assert out[1]["n_emails"] == 1 and "<EMAIL>" in out[1]["clean_text"]
    assert "jane" not in out[1]["clean_text"]
    # 555-123-4567 is phone-shaped, not SSN-shaped (3-2-4); after the ssn
    # pass it survives to the phone pass
    assert out[1]["n_phones"] == 1 and "<PHONE>" in out[1]["clean_text"]

    assert out[2]["n_ssns"] == 1 and out[2]["n_ipv4s"] == 1
    assert "<SSN>" in out[2]["clean_text"] and "<IP>" in out[2]["clean_text"]
    assert "123-45-6789" not in out[2]["clean_text"]

    assert out[3]["n_emails"] == 1  # root@10.0.0.1.example.com is an email
    assert out[3]["n_phones"] == 1 and "+1" not in out[3]["clean_text"]

    assert out[4]["clean_text"] == PII_DOCS[3][1]
    assert all(out[4][c] == 0 for c in ("n_emails", "n_ssns", "n_ipv4s", "n_phones"))
    assert out[5]["clean_text"] == ""
    assert out[6]["clean_text"] is None and out[6]["n_emails"] == 0
    assert out[7]["n_emails"] == 2 and out[7]["n_ipv4s"] == 2


def test_pii_scrub_matches_duckdb_twin(spark):
    """The generated SQL twin must replicate every replacement and count
    byte-for-byte (same patterns table -> no drift)."""
    import duckdb

    from nreadspark.ops.pii import pii_scrub, pii_scrub_sql

    df = spark.createDataFrame(PII_DOCS, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in pii_scrub(df).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", PII_DOCS)
    exprs = pii_scrub_sql("text")
    cols = ", ".join(f"{sql} AS {name}" for name, sql in exprs.items())
    want = {
        r[0]: dict(zip(["doc_id"] + list(exprs), r))
        for r in con.execute(f"SELECT doc_id, {cols} FROM docs").fetchall()
    }
    for did, g in got.items():
        w = want[did]
        for k in ("clean_text", "n_emails", "n_ssns", "n_ipv4s", "n_phones"):
            assert g[k] == w[k], (did, k, g[k], w[k])


# ---------------------------------------------------------------------------
# registrable domain + blocklist
# ---------------------------------------------------------------------------

DOMAIN_CASES = [
    ("http://www.example.com/a", "example.com"),
    ("https://a.b.news.co.uk/x?y=1", "news.co.uk"),
    ("http://deep.sub.host.org", "host.org"),
    ("http://localhost/x", "localhost"),
    ("http://192.168.0.1:8080/a", "192.168.0.1"),
    ("http://[2001:db8::1]/a", "[2001:db8::1]"),
    ("HTTP://UPPER.Example.COM/a", "example.com"),
    ("http://user:pw@shop.example.com.au/b", "example.com.au"),
    ("not a url", None),
    ("/relative", None),
]


def test_registrable_domain_col(spark):
    from nreadspark.ops.urls import with_registrable_domain

    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(DOMAIN_CASES)], "doc_id long, url string"
    )
    got = {r["doc_id"]: r["domain"] for r in with_registrable_domain(df).collect()}
    assert [got[i] for i in range(len(DOMAIN_CASES))] == [want for _, want in DOMAIN_CASES]


def test_blocklist_tag_and_drop(spark):
    from nreadspark.ops.urls import drop_blocked_domains, tag_blocked_domains

    rows = [
        (1, "http://spamfarm.biz/a"),
        (2, "http://www.spamfarm.biz/b"),  # same registrable domain
        (3, "http://fine.example.org/c"),
        (4, "http://shop.bad.co.uk/d"),
        (5, "not a url"),  # unparseable -> never blocked
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    blocked = ["spamfarm.biz", "bad.co.uk", "BAD.CO.UK"]  # case-folded, deduped
    tags = {r["doc_id"]: r for r in tag_blocked_domains(df, blocked).collect()}
    assert tags[1]["blocked"] and tags[2]["blocked"] and tags[4]["blocked"]
    assert not tags[3]["blocked"] and not tags[5]["blocked"]
    assert tags[2]["domain"] == "spamfarm.biz"
    kept = {r["doc_id"] for r in drop_blocked_domains(df, blocked).collect()}
    assert kept == {3, 5}


# ---------------------------------------------------------------------------
# span rendering
# ---------------------------------------------------------------------------


def _span(kind, text, ref, off):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": off}


SPAN_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def test_spans_to_training_text(spark):
    from nreadspark.ops.render import spans_to_training_text

    rows = [
        # deliberately SHUFFLED offsets: rendering must sort
        ("a", [_span("image", "", "img://1", 1), _span("text", "hello", None, 0),
               _span("text", "world", None, 2)]),
        ("b", [_span("text", "only text", None, 0)]),
        ("c", [_span("video", "", "vid://9", 0)]),
        ("d", [_span("text", "", None, 0), _span("text", "tail", None, 1)]),  # empty dropped
        ("e", []),
        ("f", None),
    ]
    df = spark.createDataFrame(rows, SPAN_SCHEMA)
    out = {r["doc_id"]: r for r in spans_to_training_text(df).collect()}
    assert out["a"]["text"] == "hello\n\n<|image|>\n\nworld"
    assert out["a"]["n_text_spans"] == 2 and out["a"]["n_media_spans"] == 1
    assert out["b"]["text"] == "only text"
    assert out["c"]["text"] == "<|video|>" and out["c"]["n_media_spans"] == 1
    assert out["d"]["text"] == "tail"  # no doubled separator
    assert out["e"]["text"] == "" and out["e"]["n_text_spans"] == 0
    assert out["f"]["text"] == "" and out["f"]["n_media_spans"] == 0


def test_spans_render_with_refs_and_custom_format(spark):
    from nreadspark.ops.render import spans_to_training_text

    rows = [("a", [_span("text", "see", None, 0), _span("image", "", "img://7", 1)])]
    df = spark.createDataFrame(rows, SPAN_SCHEMA)
    (row,) = spans_to_training_text(
        df, separator=" ", media_format="[{kind}]", include_ref=True
    ).collect()
    assert row["text"] == "see [image:img://7]"
    with pytest.raises(ValueError, match="kind"):
        spans_to_training_text(df, media_format="<media>").collect()


def test_render_composes_with_extraction(spark):
    """End-to-end: kernel spans -> training text keeps the media sentinel
    between the text the extractor kept."""
    from nreadspark.ops.render import spans_to_training_text
    from nreadspark.pipeline import extract_from_html

    html = (
        "<html><head><title>T</title></head><body><div class='post'>"
        "<p>First paragraph with plenty of words, commas, and real content "
        "to keep the scorer happy.</p>"
        "<img src='http://x/img.png'/>"
        "<p>Second paragraph, also long enough to survive the cleaner in "
        "this tiny fixture document.</p>"
        "</div></body></html>"
    )
    df = spark.createDataFrame([("d1", html)], "doc_id string, html string")
    spans = extract_from_html(df, html_col="html")
    (row,) = spans_to_training_text(spans).collect()
    assert "First paragraph" in row["text"] and "Second paragraph" in row["text"]
    assert "<|image|>" in row["text"]
    assert row["text"].index("First") < row["text"].index("<|image|>") < row["text"].index("Second")


# ---------------------------------------------------------------------------
# corpus profile
# ---------------------------------------------------------------------------


def test_corpus_profile_exact_stats(spark):
    from nreadspark.ops.textstats import corpus_profile

    rows = [
        (1, "aaaa", "en"),   # len 4
        (2, "bb", "en"),     # len 2
        (3, "cccccc", "en"), # len 6
        (4, "ddddd", "de"),  # len 5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["group_key"]: r for r in corpus_profile(df).collect()}
    en = out["en"]
    assert (en["n_docs"], en["total_chars"], en["min_chars"], en["max_chars"]) == (3, 12, 2, 6)
    assert en["mean_chars"] == 4.0 and en["median_chars"] == 4.0
    de = out["de"]
    assert de["n_docs"] == 1 and de["median_chars"] == 5.0
    # even-count group: interpolated median (percentile_cont semantics)
    df2 = spark.createDataFrame(rows + [(5, "eeeeeeee", "en")], "doc_id long, text string, lang string")
    en2 = {r["group_key"]: r for r in corpus_profile(df2).collect()}["en"]
    assert en2["median_chars"] == 5.0  # (4+6)/2


def test_cap_per_domain(spark):
    from nreadspark.ops.urls import cap_per_domain

    rows = (
        [(i, f"http://a{i%2}.big.com/p/{i}") for i in range(10)]       # big.com x10
        + [(100 + i, f"http://small.org/{i}") for i in range(2)]       # small.org x2
        + [(200, "not a url"), (201, "not a url")]                     # uncapped
    )
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = {r["doc_id"] for r in cap_per_domain(df, max_docs=3).collect()}
    assert kept == {0, 1, 2, 100, 101, 200, 201}  # lowest ids survive
    # cap larger than any group: everything survives, columns untouched
    out = cap_per_domain(df, max_docs=50)
    assert out.count() == len(rows) and out.columns == ["doc_id", "url"]


def test_domain_quality_stats_pooled_exact(spark):
    """Pooled per-domain quality: integer-sum ratios, NULL-domain pooling
    for unparseable URLs, and the spam-domain filter drops exactly the
    low-stopword domain once it clears min_docs."""
    from nreadspark.ops.urls import domain_quality_stats, filter_spam_domains

    spam = "buy cheap pills casino bonus click here winner prize"   # 0 stopwords
    good = "the cat sat on a mat and the dog slept in the sun."
    rows = (
        [(i, f"https://spam.example.com/{i}", spam) for i in range(4)]
        + [(10 + i, f"https://good.example.org/{i}", good) for i in range(4)]
        + [(20, "not a url", good)]
    )
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    stats = {r["domain"]: r for r in domain_quality_stats(df).collect()}
    assert set(stats) == {"example.com", "example.org", None}
    s = stats["example.com"]
    assert s["n_docs"] == 4 and s["stopword_ratio"] == 0.0
    assert s["total_chars"] == 4 * len(spam)
    g = stats["example.org"]
    # good text: 6 stopword hits ('the' x3, 'a', 'and', 'in') of 13 words
    assert g["stopword_ratio"] == round(6 / 13, 6)
    assert stats[None]["n_docs"] == 1

    kept = {r["doc_id"] for r in filter_spam_domains(df, min_docs=3).collect()}
    # spam domain banned; good domain and the unparseable-URL row survive
    assert kept == {10, 11, 12, 13, 20}
    # below min_docs the same spam domain is NOT banned
    small = spark.createDataFrame(rows[:2] + rows[4:], "doc_id long, url string, text string")
    kept_small = {r["doc_id"] for r in filter_spam_domains(small, min_docs=3).collect()}
    assert {0, 1} <= kept_small


def test_robots_meta_directives(spark):
    """Directive zoo: attribute order, quote styles, case, 'none' shorthand,
    multi-tag union, decoys, word boundaries, NULL html."""
    from nreadspark.ops.robots import drop_noindex, robots_meta

    rows = [
        (0, '<meta name="robots" content="noindex, follow">'),
        (1, "<meta content='nofollow' name='ROBOTS'>"),
        (2, '<META NAME=robots CONTENT="none">'),
        (3, '<meta name="description" content="noindex">'),      # decoy name
        (4, '<meta name="robots" content="index, follow">'),
        (5, '<meta name="robots" content="nonoindex noindexing">'),  # boundaries
        # union across tags
        (6, '<meta name="robots" content="noindex"><meta name=robots content="nofollow">'),
        (7, None),
        (8, "no meta tags at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    flags = {r["doc_id"]: (r["noindex"], r["nofollow"]) for r in robots_meta(df).collect()}
    assert flags == {
        0: (True, False), 1: (False, True), 2: (True, True), 3: (False, False),
        4: (False, False), 5: (False, False), 6: (True, True), 7: (False, False),
        8: (False, False),
    }
    kept = {r["doc_id"] for r in drop_noindex(df).collect()}
    assert kept == {1, 3, 4, 5, 7, 8}
    # hygiene scan is pure codegen: no shuffle, no Python
    plan = robots_meta(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


PSL_CASES = [
    # multi-label ICANN rules from the vendored snapshot
    ("http://www.example.co.uk/x", "example.co.uk"),
    ("http://a.b.example.gov.uk/", "example.gov.uk"),
    ("http://x.example.k12.ca.us/", "example.k12.ca.us"),  # 3-label rule
    # private-section platforms: each subdomain is its own registrant
    ("http://user.github.io/repo", "user.github.io"),
    ("http://bucket.s3.amazonaws.com/", "bucket.s3.amazonaws.com"),
    # wildcard rules: *.ck -> any label under ck is a public suffix
    ("http://shop.foo.ck/", "shop.foo.ck"),
    # exception rules beat the wildcard: !www.ck, !city.kawasaki.jp
    ("http://www.ck/", "www.ck"),
    ("http://sub.www.ck/", "www.ck"),
    ("http://city.kawasaki.jp/", "city.kawasaki.jp"),
    ("http://sub.city.kawasaki.jp/", "city.kawasaki.jp"),
    ("http://foo.chuo.kawasaki.jp/", "foo.chuo.kawasaki.jp"),  # wildcard path
    # a host that IS a public suffix passes through (documented divergence)
    ("http://co.uk/", "co.uk"),
    # ...including 3+-label suffixes (ADVICE r7: used to yield last-2)
    ("http://k12.ca.us/", "k12.ca.us"),
    # ...and a host that IS a wildcard suffix (chuo.kawasaki.jp under
    # *.kawasaki.jp)
    ("http://chuo.kawasaki.jp/", "chuo.kawasaki.jp"),
]


def test_registrable_domain_psl_rules(spark):
    from nreadspark.ops.urls import load_psl, with_registrable_domain

    exact, wildcards, exceptions = load_psl()
    assert "co.uk" in exact[2] and "k12.ca.us" in exact[3]
    assert "ck" in wildcards[1] and "kawasaki.jp" in wildcards[2]
    assert "www.ck" in exceptions[2] and "city.kawasaki.jp" in exceptions[3]
    # private section is droppable
    exact_icann, _, _ = load_psl(include_private=False)
    assert "github.io" not in exact_icann.get(2, frozenset())
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(PSL_CASES)], "doc_id long, url string"
    )
    got = {r["doc_id"]: r["domain"] for r in with_registrable_domain(df).collect()}
    for i, (u, want) in enumerate(PSL_CASES):
        assert got[i] == want, (u, got[i], want)


def _drop_psl_memo():
    """Forget the memoized PSL join bundles so the next call rebuilds
    them from the (patched) rule list."""
    from nreadspark import colmemo

    for key in [k for k in colmemo._MEMO if k[1] == "psl_bundle"]:
        del colmemo._MEMO[key]


def test_registrable_domain_full_psl_scale(spark, monkeypatch):
    """The full-list proof (r8): a synthetic ~10k-rule PSL must still
    plan and execute -- impossible in the old literal-CASE form, which
    blew the JVM 64 KB codegen ceiling at 254 rules.  The join form's
    expression size is O(distinct rule lengths), independent of rule
    count, and the rule tables ride BROADCAST hash joins (no corpus
    shuffle)."""
    from nreadspark.ops import urls

    exact = {
        2: frozenset(f"r{i}.zz" for i in range(6000)),
        3: frozenset(f"s{i}.r{i % 100}.zz" for i in range(3000)),
        4: frozenset(f"t{i}.s{i}.r{i}.zz" for i in range(800)),
    }
    wild = {2: frozenset(f"w{i}.zz" for i in range(150))}
    exc = {3: frozenset(f"ok{i}.w{i}.zz" for i in range(50))}
    monkeypatch.setattr(urls, "load_psl", lambda include_private=True: (exact, wild, exc))
    _drop_psl_memo()
    try:
        rows = [
            (0, "http://a.r17.zz/"),            # 2-label exact -> 3 labels
            (1, "http://x.s42.r42.zz/"),        # 3-label exact wins over r42.zz
            (2, "http://a.t5.s5.r5.zz/"),       # 4-label exact
            (3, "http://a.b.w9.zz/"),           # wildcard *.w9.zz -> 4 labels
            (4, "http://sub.ok3.w3.zz/"),       # exception beats wildcard
            (5, "http://r17.zz/"),              # host IS a suffix: pass-through
            (6, "http://plain.example.com/"),   # default rule
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        out = urls.with_registrable_domain(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
        got = {r["doc_id"]: r["domain"] for r in out.collect()}
        assert got == {
            0: "a.r17.zz",
            1: "x.s42.r42.zz",
            2: "a.t5.s5.r5.zz",
            3: "a.b.w9.zz",
            4: "ok3.w3.zz",
            5: "r17.zz",
            6: "example.com",
        }
    finally:
        _drop_psl_memo()


def test_registrable_domain_extra_suffixes_hook(spark):
    """Per-call extra rules still layer on top of the snapshot, now at
    any label count."""
    from nreadspark.ops.urls import with_registrable_domain

    df = spark.createDataFrame(
        [(0, "http://a.b.internal.corp/"), (1, "http://x.pages.internal.corp/")],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: r["domain"]
        for r in with_registrable_domain(
            df, extra_suffixes=("internal.corp", "pages.internal.corp")
        ).collect()
    }
    assert got[0] == "b.internal.corp"
    assert got[1] == "x.pages.internal.corp"
