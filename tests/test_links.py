"""Web-graph ops: outlink extraction, domain graph, in-degree authority,
fixed-point PageRank (determinism is the load-bearing property: BIGINT
arithmetic must give identical ranks under any partitioning)."""

import pytest

pyspark = pytest.importorskip("pyspark")


def test_extract_outlinks_markup_zoo(spark):
    from nreadspark.ops.links import extract_outlinks

    rows = [
        (1, '<a href="https://b.com/p">Go <b>to</b>\n  B</a>'
            "<a href='https://c.com/q'>C</a>"
            '<a href="/rel">rel</a>'
            '<a name="anchor-without-href">x</a>'
            '<A HREF="https://up.com/">CAPS</A>'),
        (2, None),
        (3, "no links here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = [(r["doc_id"], r["href"], r["anchor"]) for r in extract_outlinks(df).collect()]
    assert sorted(out) == [
        (1, "/rel", "rel"),
        (1, "https://b.com/p", "Go to B"),     # nested tag stripped, ws collapsed
        (1, "https://c.com/q", "C"),
        (1, "https://up.com/", "CAPS"),
    ]


def test_domain_link_graph_and_indegree(spark):
    from pyspark.sql import functions as F

    from nreadspark.ops.links import domain_indegree, domain_link_graph

    rows = [
        (1, "https://www.a.com/x", '<a href="https://b.com/1">b</a><a href="https://b.com/2">b2</a>'
                                   '<a href="https://sub.a.com/self">self</a><a href="/rel">r</a>'),
        (2, "https://b.com/y", '<a href="https://a.com/">a</a>'),
        (3, "not a url", '<a href="https://b.com/z">b</a>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    edges = {(r["src_domain"], r["dst_domain"]): r["n_links"]
             for r in domain_link_graph(df).collect()}
    # relative link excluded; subdomain folds to the registrable domain
    assert edges == {("a.com", "b.com"): 2, ("a.com", "a.com"): 1,
                     ("b.com", "a.com"): 1, (None, "b.com"): 1}
    e = domain_link_graph(df)
    deg = {r["domain"]: r["n_referring_domains"] for r in domain_indegree(e).collect()}
    # self-link and NULL-src referrers don't count
    assert deg == {"b.com": 1, "a.com": 1}
    assert domain_link_graph(df, drop_self=True).filter(
        F.col("src_domain").eqNullSafe(F.col("dst_domain"))).isEmpty()


def _chain_edges(spark):
    # a -> b -> c, plus d dangling in (no outlinks) and a multi-edge a->b
    rows = [("a", "b", 5), ("a", "b", 1), ("b", "c", 1), ("c", "d", 1)]
    return spark.createDataFrame(rows, "src_domain string, dst_domain string, n_links long")


def test_pagerank_fixed_point_semantics(spark):
    from nreadspark.ops.links import PAGERANK_SCALE, domain_pagerank

    ranks = {r["domain"]: r["rank_scaled"]
             for r in domain_pagerank(_chain_edges(spark), n_iter=2).collect()}
    assert set(ranks) == {"a", "b", "c", "d"}
    base = 15 * PAGERANK_SCALE // 100
    # a has no in-links: rank = base after any iteration
    assert ranks["a"] == base
    # hand-rolled iteration 2 (outdeg all 1, multi-edge collapsed):
    # r1(x) = base + (SCALE // 100) * 85 for b, c, d
    r1 = base + (PAGERANK_SCALE // 100) * 85
    assert ranks["b"] == base + (base // 100) * 85          # fed by a's r1=base
    assert ranks["c"] == base + (r1 // 100) * 85            # fed by b's r1
    # ranks are deterministic: order-independent integer sums
    again = {r["domain"]: r["rank_scaled"]
             for r in domain_pagerank(
                 _chain_edges(spark).repartition(7), n_iter=2).collect()}
    assert again == ranks

    with pytest.raises(ValueError):
        domain_pagerank(_chain_edges(spark), n_iter=0)
    with pytest.raises(ValueError):
        domain_pagerank(_chain_edges(spark), damping_pct=100)


def test_pagerank_authority_ordering(spark):
    """A hub pointed at by many domains must outrank its peers, and ranks
    must be reproducible run-over-run (the oracle-exactness property)."""
    from nreadspark.ops.links import domain_pagerank

    rows = [(f"s{i}", "hub") for i in range(10)] + [("s0", "other"), ("hub", "out")]
    edges = spark.createDataFrame(rows, "src_domain string, dst_domain string")
    a = {r["domain"]: r["rank_scaled"] for r in domain_pagerank(edges, n_iter=3).collect()}
    assert a["hub"] > a["other"] > a["s1"] == a["s2"]
    b = {r["domain"]: r["rank_scaled"] for r in domain_pagerank(edges, n_iter=3).collect()}
    assert a == b


def test_anchor_text_profile_topk(spark):
    from nreadspark.ops.links import anchor_text_profile

    mk = lambda n, a: f'<a href="https://t.com/{n}">{a}</a>'  # noqa: E731
    rows = [
        (1, "https://s1.com/", mk(1, "Buy <b>Pills</b>") + mk(2, "buy pills") + mk(3, "other")),
        (2, "https://s2.com/", mk(4, "buy   pills") + mk(5, "zzz") + mk(6, "aaa")),
        (3, "https://s3.com/", '<a href="https://t.com/i"><img src="x.png"></a>'),  # empty anchor
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    out = [(r["anchor"], r["n_links"], r["rank"])
           for r in anchor_text_profile(df, k=2).orderBy("rank", "anchor").collect()]
    # case + whitespace + nested markup fold together; ties break anchor-asc;
    # k=2 keeps two rows; the image link's empty anchor is dropped
    assert out == [("buy pills", 3, 1), ("aaa", 1, 2)]


def test_readability_counts_and_formula(spark):
    from nreadspark.ops.textstats import readability

    rows = [
        (1, "The cat sat. The dog ran! Did it?"),
        (2, "word"),                       # no terminator: sentence clamp to 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in readability(df).collect()}
    r1 = out[1]
    assert r1["n_sentences"] == 3 and r1["n_words"] == 8
    # the/cat/sat/the/dog/ran/did/it -> vowel groups: e,a,a,e,o,a,i,i = 8
    assert r1["n_syllables"] == 8
    fre = round(206.835 - 1.015 * (8 / 3) - 84.6 * (8 / 8), 4)
    fk = round(0.39 * (8 / 3) + 11.8 * (8 / 8) - 15.59, 4)
    assert r1["flesch_reading_ease"] == fre and r1["fk_grade"] == fk
    r2 = out[2]
    assert r2["n_sentences"] == 1 and r2["n_words"] == 1 and r2["n_syllables"] == 1
    # scan-stage only: no shuffle, no Python
    plan = readability(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
