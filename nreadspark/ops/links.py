"""Web-graph construction + link analysis as DataFrame ops.

A crawl pipeline needs the link structure for three things: frontier
prioritization (what to fetch next), domain authority as a quality prior
(link-farm spam has pathological graph signatures), and per-domain outlink
audits.  The reference's anchor handling is per-document (URL resolution,
link-density scoring, next-page link scoring -- ``NReadabilityTranscoder.cs``
F10/A5/J3); this module is the corpus-level counterpart: every document's
``<a href>`` set, aggregated into a registrable-domain graph and ranked.

Scale shapes:

- **outlink extraction** is one ``regexp_extract_all`` over the HTML plus
  higher-order array ops on the staged snippet array (the robots-meta
  pattern) -- scan-stage codegen, the explode inherits input partitioning.
- **the domain graph** is one map-side-combined hash agg on
  (src_domain, dst_domain) -- edges are tiny fixed-width rows.
- **PageRank** runs in FIXED-POINT integer arithmetic (ranks scaled by
  10^12, damping as an integer percentage): every per-iteration sum is a
  sum of BIGINTs -- order-independent under any partitioning -- so two
  runs (or two engines) agree bit-for-bit, which floating-point PageRank
  cannot promise under shuffle reordering.  Google's original ran fixed
  point for the same reason; the truncation error per iteration is
  <= outdeg / 10^12 of a rank unit.  Iterations are bulk joins on the
  same keys with ``localCheckpoint`` lineage truncation per round (the
  ``connected_components`` contract); dangling-node mass is dropped, not
  redistributed (documented -- redistribution adds an all-to-one
  broadcast term per iteration for a constant nobody consumes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .urls import _ABSOLUTE_PATTERN, with_registrable_domain

# one <a ...>...</a> snippet per match; lazy across nested markup, dotall
# for multi-line anchors.  RE2/Java-identical syntax only.
_ANCHOR_SNIPPET = r"(?is)<a\s[^>]*>.*?</a>"
_HREF_ATTR = r"""(?i)\bhref\s*=\s*["']([^"']*)["']"""

PAGERANK_SCALE = 10**12


def extract_outlinks(
    df: DataFrame, html_col: str = "html", include_empty: bool = False
) -> DataFrame:
    """(doc_id, href, anchor): one row per ``<a href>`` in the document.
    ``anchor`` is the tag's inner text with nested markup stripped and
    whitespace collapsed.  Quoted href values only (the robots-meta
    convention -- unquoted attributes are vanishingly rare in real
    markup).  NULL html yields no rows."""
    snippets = F.regexp_extract_all(
        F.coalesce(F.col(html_col), F.lit("")), F.lit(_ANCHOR_SNIPPET), 0
    )
    d = df.withColumn("__lk_snips", snippets).select(
        "doc_id", F.explode("__lk_snips").alias("__lk_a")
    )
    anchor = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("__lk_a"), r"(?is)<[^>]*>", " "), r"\s+", " "
        )
    )
    out = d.select(
        "doc_id",
        F.regexp_extract("__lk_a", _HREF_ATTR, 1).alias("href"),
        anchor.alias("anchor"),
    )
    return out if include_empty else out.filter(F.col("href") != "")


def domain_link_graph(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    drop_self: bool = False,
    extra_suffixes=(),
) -> DataFrame:
    """(src_domain, dst_domain, n_links): the registrable-domain link
    graph over absolute outlinks (relative links are intra-site by
    definition; resolve-then-count would only add self-edges, which
    ``drop_self`` controls directly).  Docs whose own URL has no
    parseable domain contribute edges from a NULL src.

    Shape: outlink explode in the scan stage -> domain extraction codegen
    -> ONE hash agg on the (src, dst) pair.  Edge rows are two short
    strings + a count: the graph of a 10^12-doc crawl is ~10^9 edge rows,
    parquet-table sized, not corpus sized."""
    links = extract_outlinks(
        df.select("doc_id", url_col, html_col), html_col
    ).filter(F.col("href").rlike(_ABSOLUTE_PATTERN))
    # STAGED domain extraction (with_registrable_domain): the PSL decision
    # CASE references host/labels across every rule branch, and the
    # single-Column form re-inlines the host regex chain per reference
    # (r7: the PSL expansion turned that into a measured 3x pagerank
    # battery regression; the staged form restored it)
    src = with_registrable_domain(
        df.select("doc_id", url_col), url_col, "src_domain", extra_suffixes
    ).select("doc_id", "src_domain")
    edges = with_registrable_domain(
        links.join(src, "doc_id"), "href", "dst_domain", extra_suffixes
    ).select("src_domain", "dst_domain")
    if drop_self:
        edges = edges.filter(
            ~F.col("src_domain").eqNullSafe(F.col("dst_domain"))
        )
    return edges.groupBy("src_domain", "dst_domain").agg(
        F.count("*").alias("n_links")
    )


def domain_indegree(edges: DataFrame) -> DataFrame:
    """(domain, n_referring_domains): how many DISTINCT other domains link
    here -- the cheapest robust authority prior (raw link counts are
    trivially inflatable by one spam domain; distinct referrers are not).
    Self-links excluded.  One count-distinct agg (2-stage, map-side
    partials)."""
    return (
        edges.filter(
            ~F.col("src_domain").eqNullSafe(F.col("dst_domain"))
            & F.col("src_domain").isNotNull()
        )
        .groupBy(F.col("dst_domain").alias("domain"))
        .agg(F.count_distinct("src_domain").alias("n_referring_domains"))
    )


def domain_pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping_pct: int = 85,
    unique_edges: bool = False,
) -> DataFrame:
    """(domain, rank_scaled): fixed-point PageRank over the domain graph.
    ``rank_scaled`` is the rank multiplied by :data:`PAGERANK_SCALE`
    (10^12) and kept in BIGINT arithmetic throughout:

        contrib(e)  = rank(src) // outdeg(src)              (exact int div)
        rank'(d)    = (100 - damping_pct) * SCALE // 100
                      + (sum(contrib) // 100) * damping_pct

    Every sum is a BIGINT sum -- order-independent -- so reruns, rescales
    and external engines reproduce the ranks exactly; float PageRank
    cannot promise that under shuffle reordering.  Per-iteration
    truncation is bounded by outdeg/SCALE of one rank unit (negligible at
    SCALE=10^12).  Dangling mass is dropped (see module docstring).
    Edge multiplicity is intentionally IGNORED (one domain's 10^6 footer
    links to a partner count once): the graph is treated as simple; weight
    or pre-filter the edge frame upstream to change that.
    ``unique_edges=True`` promises that the frame already holds each
    (src, dst) pair once and skips that de-duplication; if the input does
    repeat a pair, every copy then counts in the source's out-degree and
    adds its own contribution to the destination, so the ranks become
    those of the multigraph.

    Shape: per iteration ONE join (ranks x edges on src) + ONE agg on
    dst + a left join back onto the node set -- the same bulk-shuffle
    pattern as ``connected_components``, with ``localCheckpoint`` per
    round so lineage stays O(1).  Rank overflow is impossible: total mass
    <= n_nodes * SCALE <= 2^63 for any real domain count."""
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    simple = edges.filter(
        F.col("src_domain").isNotNull() & F.col("dst_domain").isNotNull()
    ).select("src_domain", "dst_domain")
    # ``unique_edges=True`` lets a producer that already aggregated by
    # (src, dst) -- ``domain_link_graph`` groups on exactly that pair --
    # skip the de-multiplicity shuffle over the full edge frame (r9): the
    # optimizer cannot see through the projection that the pair is a
    # grouping key, so the distinct would re-shuffle the whole graph.
    if not unique_edges:
        simple = simple.distinct()
    # checkpoint the edge set FIRST, then derive nodes from the
    # checkpointed frame: deriving both from the raw plan would recompute
    # the (possibly corpus-scan-expensive) upstream twice -- at crawl
    # scale that is two full passes over the HTML instead of one.
    simple = simple.localCheckpoint(eager=True)
    nodes = (
        simple.select(F.col("src_domain").alias("domain"))
        .unionByName(simple.select(F.col("dst_domain").alias("domain")))
        .distinct()
        # lazy: first materialization computes it once off the simple
        # checkpoint and caches the blocks; no standalone eager job
        .localCheckpoint(eager=False)
    )
    # attach the out-degree to the edge frame ONCE (r9, opt guide §2.4):
    # it is loop-invariant, and joining it per iteration cost one extra
    # shuffle round every pass (3 joins/iter -> 2 joins/iter)
    edges_deg = simple.join(
        simple.groupBy(F.col("src_domain").alias("__deg_src")).agg(
            F.count("*").alias("__outdeg")
        ),
        simple["src_domain"] == F.col("__deg_src"),
    ).select("src_domain", "dst_domain", "__outdeg").localCheckpoint(eager=False)
    base = (100 - damping_pct) * PAGERANK_SCALE // 100
    ranks = nodes.withColumn("rank_scaled", F.lit(PAGERANK_SCALE))
    for _ in range(n_iter):
        # SQL `div` is true BIGINT floor division -- `/` on longs would go
        # through doubles and lose exactness past 2^53 (a 10^5-referrer hub
        # crosses that).  Damping applies as (s div 100) * pct, division
        # FIRST, so the product stays under 2^63 for any realistic hub
        # (sum of incoming scaled ranks < ~1.1e19/pct); the <=99-unit
        # truncation is noise at SCALE=10^12 and, crucially, deterministic.
        contribs = ranks.join(
            edges_deg, ranks["domain"] == edges_deg["src_domain"]
        ).select(
            F.col("dst_domain").alias("domain"),
            F.expr("rank_scaled div __outdeg").alias("__c"),
        )
        summed = contribs.groupBy("domain").agg(F.sum("__c").alias("__s"))
        ranks = nodes.join(summed, "domain", "left").select(
            "domain",
            (
                F.lit(base)
                + F.expr(f"(coalesce(__s, 0L) div 100) * {damping_pct}")
            ).alias("rank_scaled"),
        )
        # lazy: lineage still truncates at each round's checkpoint, but the
        # whole fixed-iteration loop materializes in the consumer's single
        # action instead of one eager job per round
        ranks = ranks.localCheckpoint(eager=False)
    return ranks


def anchor_text_profile(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    k: int = 3,
    extra_suffixes=(),
) -> DataFrame:
    """(dst_domain, anchor, n_links, rank): the ``k`` most common anchor
    texts pointing at each registrable domain -- "what the web calls this
    site".  Anchor text is the classic external relevance/label signal
    (it powered early web search ranking and is how a crawl pipeline
    labels link-farm targets: a domain whose top anchors are all "cheap
    pills" needs no content fetch to classify).

    Anchors are lowercased and whitespace-collapsed before counting;
    empty anchors (image links) are dropped.  Deterministic ordering:
    count desc, then anchor asc -- reruns return the same rows.

    Shape: outlink explode + domain extraction in the scan stage -> ONE
    hash agg on (dst_domain, anchor) -> ONE window shuffle on dst_domain
    for the top-k rank-filter.  Like ``cap_per_domain``, the window
    discards the per-domain tail without collecting it; the aggregated
    (domain, anchor) frame is already far smaller than the corpus."""
    from pyspark.sql import Window

    links = extract_outlinks(df.select("doc_id", url_col, html_col), html_col).filter(
        F.col("href").rlike(_ABSOLUTE_PATTERN)
    )
    counted = (
        with_registrable_domain(links, "href", "dst_domain", extra_suffixes)
        .select(
            "dst_domain",
            F.lower(F.regexp_replace(F.col("anchor"), r"\s+", " ")).alias("anchor"),
        )
        .filter((F.col("anchor") != "") & F.col("dst_domain").isNotNull())
        .groupBy("dst_domain", "anchor")
        .agg(F.count("*").alias("n_links"))
    )
    w = Window.partitionBy("dst_domain").orderBy(
        F.desc("n_links"), F.asc("anchor")
    )
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
