"""Phase-3 surfaces: XHTML serializer, multi-page assembly, streaming."""

from __future__ import annotations

import glob
import json
import os

import pytest

from nreadspark.dom import build_document
from nreadspark.kernel import Options, transcode
from nreadspark.multipage import assemble_pages, resolve_chains, transcode_web
from nreadspark.serialize import (
    SerializationParams,
    serialize_document,
    transcode_to_html,
)

# ---------------------------------------------------------------------------
# serializer (SgmlDomSerializer semantics)
# ---------------------------------------------------------------------------


def test_serializer_injects_doctype_and_metas():
    doc = build_document("<html><head><title>T</title></head><body><p>x</p></body></html>")
    out = serialize_document(doc)
    assert out.startswith('<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN"')
    # AddFirst order: generator, HandheldFriendly, Content-Type, originals
    assert out.index('name="Generator"') < out.index('name="HandheldFriendly"')
    assert out.index('name="HandheldFriendly"') < out.index('http-equiv="Content-Type"')
    assert out.index('http-equiv="Content-Type"') < out.index("<title>")
    assert 'content="text/html; charset=utf-8"' in out


def test_serializer_replaces_existing_metas_and_strips_viewport():
    doc = build_document(
        "<html><head>"
        "<meta http-equiv='content-type' content='text/html; charset=iso-8859-2' />"
        "<meta name='viewport' content='width=device-width' />"
        "<meta name='HandheldFriendly' content='false' />"
        "</head><body><p>x</p></body></html>"
    )
    out = serialize_document(doc)
    assert "iso-8859-2" not in out
    assert "viewport" not in out
    assert out.count("HandheldFriendly") == 1
    assert 'content="true"' in out


def test_serializer_toggles():
    doc = build_document("<html><head></head><body><p>x</p></body></html>")
    params = SerializationParams(
        dont_include_content_type_meta=True,
        dont_include_mobile_meta=True,
        dont_include_doctype=True,
        dont_include_generator_meta=True,
    )
    out = serialize_document(doc, params)
    assert not out.startswith("<!DOCTYPE")
    assert "meta" not in out


def test_serializer_requires_html_root():
    doc = build_document("")
    with pytest.raises(ValueError):
        serialize_document(doc)


def test_transcode_to_html_round_trips_article():
    html = (
        "<html><head><title>My Article | Site</title></head><body>"
        "<div id='content' class='post'>"
        "<p>First paragraph, with commas, and enough text to be scored as content by the engine.</p>"
        "<p>Second paragraph, also long enough, with more commas, to contribute to scoring.</p>"
        "</div></body></html>"
    )
    out = transcode_to_html(html)
    assert "readability-content" in out
    assert "First paragraph" in out
    assert out.startswith("<!DOCTYPE")


# ---------------------------------------------------------------------------
# multi-page assembly (NReadabilityWebTranscoder semantics)
# ---------------------------------------------------------------------------


def _page(n: int, next_url: str | None, body_extra: str = "") -> str:
    nav = f"<a href='{next_url}'>next page</a>" if next_url else ""
    paras = "".join(
        f"<p>Page {n} paragraph {i}, with commas, that is long enough to be "
        f"treated as real article content by the scorer, index {i}.</p>"
        for i in range(4)
    )
    return (
        f"<html><head><title>Story part {n} | Site</title></head><body>"
        f"<div id='content' class='article'>{paras}{body_extra}</div>"
        f"<div class='pagination'>{nav}</div></body></html>"
    )


def test_assemble_two_pages_with_separator_and_page_divs():
    pages = [
        (_page(1, "http://example.com/story?page=2"), "http://example.com/story"),
        (_page(2, None), "http://example.com/story?page=2"),
    ]
    merged = assemble_pages(pages)
    assert merged["n_pages"] == 2
    assert merged["content_extracted"]
    text = "".join(s["text"] or "" for s in merged["spans"] if s["kind"] == "text")
    assert "Page 1 paragraph 0" in text
    assert "Page 2 paragraph 0" in text
    assert "§" in text  # separator
    assert text.index("Page 1 paragraph 0") < text.index("§") < text.index("Page 2 paragraph 0")


def test_assemble_drops_duplicate_page():
    p1 = _page(1, "http://example.com/story?page=2")
    # page 2's first long paragraph repeats page 1's content verbatim
    dup = _page(1, None)
    merged = assemble_pages(
        [(p1, "http://example.com/story"), (dup, "http://example.com/story?page=2")]
    )
    assert merged["n_pages"] == 1
    text = "".join(s["text"] or "" for s in merged["spans"] if s["kind"] == "text")
    assert "§" not in text


def test_assemble_drops_page2_h1():
    p1 = _page(1, "http://example.com/a?page=2")
    p2 = _page(2, None, body_extra="<h1>Story part 2</h1>")
    merged = assemble_pages([(p1, "http://example.com/a"), (p2, "http://example.com/a?page=2")])
    text = "".join(s["text"] or "" for s in merged["spans"] if s["kind"] == "text")
    assert "Story part 2" not in text


def test_transcode_web_stub_fetcher_follows_chain_and_stops_on_loop():
    urls = {
        "http://example.com/s": _page(1, "http://example.com/s?page=2"),
        "http://example.com/s?page=2": _page(2, "http://example.com/s"),  # loop back
    }
    fetched = []

    def fetch(u):
        fetched.append(u)
        return urls.get(u, "")

    merged = transcode_web(fetch, "http://example.com/s")
    assert merged["n_pages"] == 2
    assert fetched == ["http://example.com/s", "http://example.com/s?page=2"]


def test_transcode_web_single_page():
    merged = transcode_web(lambda u: _page(1, None), "http://example.com/only")
    assert merged["n_pages"] == 1
    assert merged["title"] is not None


# ---------------------------------------------------------------------------
# Spark surfaces
# ---------------------------------------------------------------------------


def test_resolve_chains_and_extract_multipage(spark):
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from nreadspark.multipage import extract_multipage
    from nreadspark.pipeline import SPAN_TYPE

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("url", StringType()),
            StructField("spans", ArrayType(SPAN_TYPE)),
        ]
    )

    def spans_of(html):
        return [("text", html, None, 0)]

    rows = [
        ("a1", "http://ex.com/a", spans_of(_page(1, "http://ex.com/a?page=2"))),
        ("a2", "http://ex.com/a?page=2", spans_of(_page(2, "http://ex.com/a?page=3"))),
        ("a3", "http://ex.com/a?page=3", spans_of(_page(3, None))),
        ("b1", "http://ex.com/b", spans_of(_page(1, None))),
    ]
    df = spark.createDataFrame(rows, schema)
    out = {r["doc_id"]: r for r in extract_multipage(df, "url").collect()}
    assert set(out) == {"a1", "b1"}
    assert out["a1"]["n_pages"] == 3
    assert out["b1"]["n_pages"] == 1
    text = "".join(
        s["text"] or "" for s in out["a1"]["spans"] if s["kind"] == "text"
    )
    assert "Page 1 paragraph 0" in text and "Page 3 paragraph 0" in text


def test_debug_html_column(spark):
    from pyspark.sql import Row

    from nreadspark.serialize import transcode_to_html_column

    df = spark.createDataFrame(
        [Row(doc_id="d1", html=_page(1, None)), Row(doc_id="d2", html="")]
    )
    rows = {r["doc_id"]: r["debug_html"] for r in transcode_to_html_column(df).collect()}
    assert rows["d1"].startswith("<!DOCTYPE")
    assert "readability-content" in rows["d1"]
    assert rows["d2"] is None


def _streamed_manifest_docs(outp):
    """Documents counted by the committed per-batch manifests."""
    total = 0
    for path in glob.glob(os.path.join(outp, "_lineage", "batch_*.json")):
        with open(path, encoding="utf-8") as fh:
            total += json.load(fh)["docs"]
    return total


def test_streaming_extract_exactly_once(spark, tmp_path):
    from pyspark.sql import functions as F

    from nreadspark.corpus import build_corpus_df
    from nreadspark.streaming import extract_stream, read_extracted

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    corpus = build_corpus_df(spark, 40)
    corpus.filter(F.col("doc_id") < "doc_00000020").write.mode("append").parquet(inp)

    q = extract_stream(spark, inp, outp, ckpt)
    q.awaitTermination(120)
    got1 = read_extracted(spark, outp)
    assert got1.count() == 20
    assert _streamed_manifest_docs(outp) == 20

    # land more files; a fresh availableNow run picks up ONLY the new ones
    corpus.filter(F.col("doc_id") >= "doc_00000020").write.mode("append").parquet(inp)
    q2 = extract_stream(spark, inp, outp, ckpt)
    q2.awaitTermination(120)
    got2 = read_extracted(spark, outp)
    assert got2.count() == 40
    assert got2.select("doc_id").distinct().count() == 40  # no duplicates
    assert _streamed_manifest_docs(outp) == 40

    # batch-kernel equality on a sample doc
    from nreadspark.pipeline import extract as batch_extract

    sample = got2.filter(F.col("doc_id") == "doc_00000005").collect()[0]
    batch = (
        batch_extract(corpus.filter(F.col("doc_id") == "doc_00000005"))
        .collect()[0]
    )
    assert [tuple(s) for s in sample["spans"]] == [tuple(s) for s in batch["spans"]]


def test_resolve_chains_cycle_pages_not_dropped(spark):
    """Mutual next-link cycles have no root; such pages must surface as
    single-page roots instead of silently vanishing."""
    from nreadspark.multipage import resolve_chains

    rows = [
        ("a", "http://ex.com/a", "http://ex.com/b"),  # a <-> b cycle
        ("b", "http://ex.com/b", "http://ex.com/a"),
        ("c", "http://ex.com/c", "http://ex.com/d"),  # normal 2-page chain
        ("d", "http://ex.com/d", None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "next_page_url"])
    out = resolve_chains(df, "url").collect()
    by_root = {}
    for r in out:
        by_root.setdefault(r["root_doc_id"], []).append((r["page_num"], r["doc_id"]))
    # chain c -> d intact
    assert sorted(by_root["c"]) == [(1, "c"), (2, "d")]
    # cycle members recovered as their own single-page roots
    assert by_root["a"] == [(1, "a")]
    assert by_root["b"] == [(1, "b")]


def test_extract_multipage_single_kernel_pass(spark):
    """Every page is transcoded exactly once: the pages frame already
    carries spans + edges + the first-paragraph probe, so assembly never
    re-runs the kernel."""
    from nreadspark.multipage import extract_pages
    from nreadspark.pipeline import SPAN_TYPE
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("url", StringType()),
            StructField("spans", ArrayType(SPAN_TYPE)),
        ]
    )
    rows = [
        ("p1", "http://ex.com/a", [("text", _page(1, "http://ex.com/a?page=2"), None, 0)]),
    ]
    df = spark.createDataFrame(rows, schema)
    page = extract_pages(df).collect()[0]
    assert page["next_page_url"] == "http://ex.com/a?page=2"
    assert page["spans"]
    assert page["first_p_inner_len"] > 0


# ---------------------------------------------------------------------------
# PrettyPrint (SgmlDomSerializer.cs:70, XDocument.ToString(SaveOptions.None))
# and ReadingStyle/Margin/Size (Enums.cs:26-109, ctor cs:176-213)
# ---------------------------------------------------------------------------


def test_pretty_print_pure_element_content_indents():
    from nreadspark.dom import serialize_node_pretty

    doc = build_document("<html><head></head><body><div><p>hi</p></div></body></html>")
    out = serialize_node_pretty(doc.root)
    assert out == (
        "<html>\r\n"
        "  <head />\r\n"
        "  <body>\r\n"
        "    <div>\r\n"
        "      <p>hi</p>\r\n"
        "    </div>\r\n"
        "  </body>\r\n"
        "</html>"
    )


def test_pretty_print_mixed_content_stays_inline_but_nested_pure_indents():
    # .NET: text marks the scope mixed (no indentation at that level), but a
    # child element whose own content is pure resumes indenting inside.
    from nreadspark.dom import build_document as bd, serialize_node_pretty

    doc = bd("<html><body><p>text<b><i>x</i></b></p></body></html>")
    body = doc.get_body()
    p = body.children[0]
    out = serialize_node_pretty(p)
    assert out == "<p>text<b>\r\n    <i>x</i>\r\n  </b></p>"


def test_pretty_print_param_flows_through_serialize_document():
    doc = build_document("<html><head></head><body><div><p>x</p></div></body></html>")
    compact = serialize_document(doc)
    doc2 = build_document("<html><head></head><body><div><p>x</p></div></body></html>")
    pretty = serialize_document(doc2, SerializationParams(pretty_print=True))
    assert "\r\n  <body" in pretty or "\r\n  <head" in pretty
    # compact output has no indentation outside the doctype prefix
    assert "\r\n  " not in compact.split(">", 2)[2]


def test_reading_style_enums_reach_glue_classes():
    from nreadspark.kernel import ReadingMargin, ReadingSize, ReadingStyle

    para = "<p>Long enough paragraph, with commas, to be scored as content ok.</p>" * 5
    html = (
        "<html><head><title>T | S</title></head><body><div class='post'>"
        + para
        + "</div></body></html>"
    )
    opts = Options(
        reading_style=ReadingStyle.Terminal,
        reading_margin=ReadingMargin.XNarrow,
        reading_size=ReadingSize.XLarge,
    )
    out = transcode_to_html(html, opts=opts)
    assert 'class="style-terminal"' in out
    assert "margin-x-narrow size-x-large" in out
    # defaults (cs:59-69) remain Newspaper/Wide/Medium
    out_default = transcode_to_html(html)
    assert 'class="style-newspaper"' in out_default
    assert "margin-wide size-medium" in out_default


def test_real_readability_css_asset_embedded():
    html = "<html><head></head><body><p>hello, body, text, here.</p></body></html>"
    out = transcode_to_html(html)
    # markers from the vendored Apache-2.0 readability.css asset
    assert ".style-newspaper {font-family:" in out
    assert ".margin-x-wide {width:35%;}" in out
    assert ".size-medium {font-size:1.125em;}" in out


def test_pagination_cap_stub_without_transcoding_page_31():
    """A 31-entry chain yields 30 pages of content + the 'View Next Page'
    stub; the 31st page's content never appears (and is never transcoded --
    its html can even be invalid-but-nonempty)."""
    from nreadspark.multipage import MAX_PAGES, assemble_pages

    def page_html(n):
        body = f"Chain page {n}, with enough commas, to extract, properly." * 4
        return (
            f"<html><head><title>Chain | Site</title></head><body>"
            f"<div class='article content'><p>{body}</p><p>{body}</p></div></body></html>"
        )

    pages = [(page_html(n), f"http://ex.com/a?p={n}") for n in range(MAX_PAGES)]
    pages.append(("<<not even html>>", f"http://ex.com/a?p={MAX_PAGES}"))
    out = assemble_pages(pages)
    joined = " ".join(s.get("text") or "" for s in out["spans"])
    assert "View Next Page" in joined
    assert "Chain page 29," in joined
    assert "not even html" not in joined
    assert out["n_pages"] == MAX_PAGES
