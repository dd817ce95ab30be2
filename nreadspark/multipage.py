"""Multi-page article assembly (reference: NReadabilityWebTranscoder.cs).

The reference crawls next-page links recursively (fetch -> transcode ->
append, NReadabilityWebTranscoder.cs:163-287).  At 10^12-document scale all
pages are already rows in the input table, so the crawl becomes:

1. **one extraction pass** -- every page is transcoded exactly once by the
   Arrow-batched kernel, emitting its article spans, next-page edge and the
   first-paragraph probe the duplicate gate needs (the reference transcodes
   page k once per crawl too; an earlier revision of this module transcoded
   every page twice -- once for edges, once for assembly -- which doubles
   kernel CPU at fleet scale);
2. **chain resolution** -- pure DataFrame ops over the (url ->
   next_page_url) edges: roots = pages nobody links to, then <=30 iterative
   joins walking the chains with visited-set loop protection.  Pages caught
   in next-link cycles (A<->B) have no root and would silently vanish, so
   they are unioned back as their own single-page roots afterwards;
3. **assembly** -- a span-level merge applying the reference's exact
   per-page semantics: the reference removes only readInner's direct-child
   ``<h1>`` -- its own injected title header (:236-240), which never occurs
   inside the article content, so span assembly needs no h1 surgery at all;
   first-paragraph duplicate gate = inner-HTML length > 100 (:252) with
   case-insensitive containment of the paragraph *text* in the accumulated
   content text (:258-263); page separator spans (:37-38,269-279); 30-page
   cap with a "View Next Page" stub (:34,216-221).

``transcode_web`` is the single-document convenience mirroring
``NReadabilityWebTranscoder.Transcode`` with a pluggable fetcher (the
reference's test harness shape, FileBasedUrlFetcherStub.cs:1-44).
"""

from __future__ import annotations

import re

from .dom import inner_html
from .kernel import Options, transcode
from .spans import extract_spans, flatten_spans_text

MAX_PAGES = 30  # NReadabilityWebTranscoder.cs:34
PAGE_ID_PREFIX = "readability-page-"  # :35
PAGE_SEPARATOR_TEXT = "§"  # &sect; (:37-38)

_TRAILING_SLASH_RE = re.compile(r"/$")


def _page_result(html: str, url: str | None, opts: Options) -> dict:
    """Transcode one page and capture everything assembly needs."""
    result = transcode(html, url, opts)
    content = result.article_content
    first_p = next(content.elements_by_tag_name("p"), None)
    return {
        "spans": extract_spans(content),
        "title": result.title,
        "content_extracted": result.content_extracted,
        "next_page_url": result.next_page_url,
        "first_p_value": first_p.value if first_p is not None else None,
        "first_p_inner_len": len(inner_html(first_p)) if first_p is not None else 0,
        "url": url,
    }


def _text_span(text: str) -> dict:
    return {"kind": "text", "text": text, "media_ref": None, "offset": 0}


def merge_page_results(pages: list[dict]) -> dict:
    """Merge an ordered chain of per-page extraction results into one
    article's span sequence (reference AppendNextPage semantics, :212-287).

    ``pages[i]`` needs keys spans/title/content_extracted/first_p_value/
    first_p_inner_len/url.  Pass up to MAX_PAGES + 1 entries -- the 31st
    becomes the "View Next Page" stub (:216-221).
    """
    if not pages:
        return {
            "spans": [],
            "title": None,
            "content_extracted": False,
            "n_pages": 0,
            "page_urls": [],
        }

    first = pages[0]
    out_spans: list[dict] = list(first["spans"])
    # accumulated text for the duplicate gate = contentDiv.Value (:257)
    acc_parts = [flatten_spans_text(first["spans"])]
    appended_urls = [first["url"]]
    cur_page = 1

    for page in pages[1:]:
        cur_page += 1
        if cur_page > MAX_PAGES:
            # :216-221 -- a centered "View Next Page" link stub
            out_spans.append(_text_span("View Next Page"))
            break

        # anti-duplicate (:247-266): gate on the first paragraph's
        # inner-HTML LENGTH, containment on its text VALUE
        fp_value = page["first_p_value"]
        if fp_value and page["first_p_inner_len"] > 100:
            existing = "".join(acc_parts)
            if existing and fp_value.lower() in existing.lower():
                break  # the reference stops recursing on a duplicate (:263)

        # the reference drops only readInner's direct-child <h1> -- its own
        # injected title header (:236-240), which is never part of the
        # article content, so the page's spans are appended unmodified
        out_spans.append(_text_span(PAGE_SEPARATOR_TEXT))
        out_spans.extend(page["spans"])
        acc_parts.append(PAGE_SEPARATOR_TEXT + flatten_spans_text(page["spans"]))
        appended_urls.append(page["url"])

    for i, span in enumerate(out_spans):
        span["offset"] = i

    return {
        "spans": out_spans,
        "title": first["title"],
        "content_extracted": first["content_extracted"],
        "n_pages": len(appended_urls),
        "page_urls": appended_urls,
    }


def assemble_pages(pages: list[tuple[str, str | None]], opts: Options | None = None) -> dict:
    """Merge an ordered multi-page chain of raw HTML pages into one article
    (single-document convenience; the Spark path feeds ``merge_page_results``
    directly from the one extraction pass)."""
    opts = opts or Options()
    results = []
    for html, url in pages:
        if len(results) >= 1 and (html is None or html == ""):
            break  # fetch failure ends the crawl (:225-228)
        if len(results) >= MAX_PAGES:
            # merge_page_results replaces entry 31 with the "View Next
            # Page" stub without reading its spans -- don't pay a kernel
            # transcode for a page whose content is discarded
            results.append(
                {
                    "spans": [],
                    "title": None,
                    "content_extracted": False,
                    "first_p_value": None,
                    "first_p_inner_len": 0,
                    "url": url,
                }
            )
            break
        results.append(_page_result(html, url, opts))
    return merge_page_results(results)


def transcode_web(fetch, url: str, opts: Options | None = None, max_pages: int = MAX_PAGES) -> dict:
    """Single-document crawl mirroring NReadabilityWebTranscoder.Transcode
    (:105-160): ``fetch(url) -> html`` is the pluggable fetcher.  Resolves
    the chain with the reference's visited-set rule, then assembles.  Each
    page is transcoded exactly once."""
    opts = opts or Options()
    visited = {_TRAILING_SLASH_RE.sub("", url)}
    results: list[dict] = []
    cur = url
    while cur is not None and len(results) <= max_pages:
        html = fetch(cur)
        if not html:
            break
        results.append(_page_result(html, cur, opts))
        nxt = results[-1]["next_page_url"]
        if not nxt or nxt in visited or _TRAILING_SLASH_RE.sub("", nxt) in visited:
            break
        visited.add(_TRAILING_SLASH_RE.sub("", nxt))
        cur = nxt
    return merge_page_results(results)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def resolve_chains(extracted, url_col: str = "url", max_pages: int = MAX_PAGES):
    """Chain resolution over an extracted-pages DataFrame.

    Input must carry ``(doc_id, <url_col>, next_page_url)``.  Returns
    ``(root_doc_id, doc_id, page_num)`` assignments.  Driver-side loop of at
    most ``max_pages`` joins; every round the frontier only contains chains
    that still continue, so rounds after the longest chain are never run.

    Pages that end up in no chain (mutual next-link cycles have no root)
    are unioned back as their own single-page roots -- silent data loss is
    never acceptable in a fleet-scale pipeline.
    """
    from pyspark.sql import functions as F

    # materialize the edge table once and truncate its lineage: every
    # iteration below joins against it, and without the checkpoint each
    # round would re-run the (expensive) extraction pass that produced
    # next_page_url, with cost growing per generation
    pages = extracted.select(
        F.col("doc_id"), F.col(url_col).alias("url"), F.col("next_page_url")
    ).localCheckpoint(eager=True)
    # roots: pages that are nobody's next page
    targets = pages.select(F.col("next_page_url").alias("url")).where(
        F.col("url").isNotNull()
    )
    roots = pages.join(targets, "url", "left_anti")

    frontier = roots.select(
        F.col("doc_id").alias("root_doc_id"),
        F.col("doc_id"),
        F.col("next_page_url"),
        F.lit(1).alias("page_num"),
        F.array(F.col("url")).alias("visited"),
    ).localCheckpoint(eager=True)
    assignments = [frontier.select("root_doc_id", "doc_id", "page_num")]

    nxt_pages = pages.select(
        F.col("url").alias("__nxt_url"),
        F.col("doc_id").alias("__nxt_doc_id"),
        F.col("next_page_url").alias("__nxt_next"),
    )
    for _ in range(max_pages):
        # stop early when no chain continues (driver-side emptiness check on
        # a tiny frame -- chains are a rarity at corpus scale)
        frontier = frontier.where(
            F.col("next_page_url").isNotNull()
            & ~F.array_contains(F.col("visited"), F.col("next_page_url"))
        )
        if frontier.isEmpty():
            break
        frontier = (
            frontier.join(
                nxt_pages, frontier.next_page_url == nxt_pages.__nxt_url, "inner"
            )
            .select(
                "root_doc_id",
                F.col("__nxt_doc_id").alias("doc_id"),
                F.col("__nxt_next").alias("next_page_url"),
                (F.col("page_num") + 1).alias("page_num"),
                F.array_append("visited", F.col("next_page_url")).alias("visited"),
            )
            # truncate lineage each generation: otherwise round k re-runs
            # all k-1 previous joins when the final union materializes
            .localCheckpoint(eager=True)
        )
        assignments.append(frontier.select("root_doc_id", "doc_id", "page_num"))

    out = assignments[0]
    for a in assignments[1:]:
        out = out.unionByName(a)

    # cycle recovery: pages assigned to no chain become single-page roots
    orphans = pages.select("doc_id").join(
        out.select("doc_id").distinct(), "doc_id", "left_anti"
    )
    out = out.unionByName(
        orphans.select(
            F.col("doc_id").alias("root_doc_id"),
            F.col("doc_id"),
            F.lit(1).alias("page_num"),
        )
    )
    return out


def _pages_schema():
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from .pipeline import SPAN_TYPE

    return StructType(
        [
            StructField("doc_id", StringType()),
            StructField("url", StringType()),
            StructField("spans", ArrayType(SPAN_TYPE)),
            StructField("title", StringType()),
            StructField("content_extracted", BooleanType()),
            StructField("next_page_url", StringType()),
            StructField("first_p_value", StringType()),
            StructField("first_p_inner_len", IntegerType()),
        ]
    )


def extract_pages(df, url_col: str = "url", spans_col: str = "spans"):
    """THE extraction pass of the multipage pipeline: every page transcoded
    once, emitting article spans + next-page edge + first-paragraph probe."""
    from pyspark.sql import functions as F

    from .pipeline import html_from_spans_col, map_rows

    opts = Options()

    def row(doc_id, url, html):
        try:
            res = _page_result(html, url, opts)
        except Exception:
            # poisoned page: emit a flagged empty row, never kill the job
            return [(doc_id, url, [], None, False, None, None, 0)]
        return [
            (
                doc_id,
                url,
                res["spans"],
                res["title"],
                res["content_extracted"],
                res["next_page_url"],
                res["first_p_value"],
                res["first_p_inner_len"],
            )
        ]

    cols = [
        "doc_id",
        F.col(url_col).alias("url"),
        html_from_spans_col(spans_col).alias("__html"),
    ]
    return map_rows(df, cols, _pages_schema(), row)


def extract_multipage(df, url_col: str = "url", spans_col: str = "spans"):
    """Full multi-page extraction over an interleaved-spans table that also
    carries page URLs: ONE kernel pass per page, chains resolved
    relationally, span-level merge per chain.

    Output: one row per chain root --
    ``(doc_id, spans, title, content_extracted, n_pages)``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from .pipeline import SPAN_TYPE, map_rows

    # single extraction pass, materialized once (lineage truncation: both
    # the chain walk and the assembly join read it; at warehouse scale this
    # is the intermediate table a production DAG would persist)
    pages = extract_pages(df, url_col=url_col, spans_col=spans_col).localCheckpoint(
        eager=True
    )
    chains = resolve_chains(pages, "url")

    chained = chains.join(pages, "doc_id").select(
        "root_doc_id",
        "page_num",
        "url",
        "spans",
        "title",
        "content_extracted",
        "first_p_value",
        "first_p_inner_len",
    )
    grouped = chained.groupBy("root_doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "page_num",
                    "spans",
                    "title",
                    "content_extracted",
                    "first_p_value",
                    "first_p_inner_len",
                    "url",
                )
            )
        ).alias("pages")
    )

    out_schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("spans", ArrayType(SPAN_TYPE)),
            StructField("title", StringType()),
            StructField("content_extracted", BooleanType()),
            StructField("n_pages", IntegerType()),
        ]
    )

    def row(root_doc_id, pages):
        merged = merge_page_results(
            [
                {
                    "spans": [dict(s) for s in p["spans"]],
                    "title": p["title"],
                    "content_extracted": p["content_extracted"],
                    "first_p_value": p["first_p_value"],
                    "first_p_inner_len": p["first_p_inner_len"] or 0,
                    "url": p["url"],
                }
                for p in pages
            ]
        )
        return [
            (
                root_doc_id,
                merged["spans"],
                merged["title"],
                merged["content_extracted"],
                merged["n_pages"],
            )
        ]

    return map_rows(grouped, ["root_doc_id", "pages"], out_schema, row)
