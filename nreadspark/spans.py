"""Span <-> HTML conversion for the interleaved-documents table.

Input table shape (BASELINE.json input_hint):
    (doc_id: string,
     spans: array<struct<kind:string, text:string, media_ref:string, offset:int32>>)

* ``kind='text'``  : ``text`` holds an HTML fragment
* ``kind='image'`` : materializes as ``<img src="{media_ref}" />``
* ``kind='media'`` : materializes as ``<embed src="{media_ref}" />``

Output spans serialize the final ``readability-content`` element in document
order (the north rule's span-sequence equality ``(kind, text, media_ref,
order)``):

* text node                      -> ('text',  raw_text_value, None, i)
* <img>                          -> ('image', '', resolved src, i)
* surviving <embed>/<object>/<iframe> video
                                 -> ('embed', '', src/data, i)

Text spans carry the *raw* text-node value (what the reference's XHTML
serializer would emit between tags), not the GetInnerText-normalized form --
normalization is a scoring-side concept (NReadabilityTranscoder.cs:1345-1380),
the reference's output keeps original whitespace/entities.
"""

from __future__ import annotations

from .dom import Node

__all__ = ["spans_to_html", "extract_spans", "flatten_spans_text", "arrow_span_struct"]


def arrow_span_struct():
    """The engine-wide span struct as a pyarrow type, derived from
    pipeline.SPAN_TYPE, for code that builds span columns outside a Spark
    kernel (e.g. writing span-table inputs with pyarrow).  Kernels derive
    theirs from their own Spark output schema."""
    from pyspark.sql.pandas.types import to_arrow_type

    from .pipeline import SPAN_TYPE

    return to_arrow_type(SPAN_TYPE)

_MEDIA_TAGS = ("embed", "object", "iframe")


def spans_to_html(spans) -> str:
    """Reassemble a document's HTML from its (already offset-ordered) spans.
    Accepts any iterable of dicts/Rows with kind/text/media_ref fields."""
    parts = []
    for span in spans:
        kind = span["kind"]
        if kind == "text":
            parts.append(span["text"] or "")
        elif kind == "image":
            parts.append(f'<img src="{span["media_ref"] or ""}" />')
        else:  # 'media' / 'embed'
            parts.append(f'<embed src="{span["media_ref"] or ""}" />')
    return "".join(parts)


def extract_spans(article_content: Node) -> list[dict]:
    """Serialize the extracted article element into the output span sequence,
    document order, 0-based offsets: :func:`extract_spans_flat`'s columns as
    one dict per span."""
    kinds: list = []
    texts: list = []
    refs: list = []
    offs: list = []
    extract_spans_flat(article_content, kinds, texts, refs, offs)
    return [
        {"kind": k, "text": t, "media_ref": r, "offset": o}
        for k, t, r, o in zip(kinds, texts, refs, offs)
    ]


def extract_spans_flat(article_content: Node, kinds: list, texts: list, refs: list, offs: list) -> int:
    """The span emitter: append the span sequence of one document directly
    onto shared flat column lists (kind/text/media_ref/offset).
    Returns the number of spans appended.  Used by the Arrow-native pipeline
    so no per-span Python dicts are ever materialized."""
    base = len(kinds)
    stack = list(reversed(article_content.children))
    while stack:
        node = stack.pop()
        if node.is_text:
            kinds.append("text")
            texts.append(node.value)
            refs.append(None)
            offs.append(len(kinds) - 1 - base)
        elif node.is_element:
            if node.tag == "img":
                kinds.append("image")
                texts.append("")
                refs.append(node.get_attribute("src", "") or "")
                offs.append(len(kinds) - 1 - base)
            elif node.tag in _MEDIA_TAGS:
                kinds.append("embed")
                texts.append("")
                refs.append(node.get_attribute("src") or node.get_attribute("data") or "")
                offs.append(len(kinds) - 1 - base)
                # an <object> wrapping its own <embed> should not double-count
                continue
            else:
                if node.children:
                    stack.extend(reversed(node.children))
        # comments are dropped
    return len(kinds) - base


def flatten_spans_text(spans) -> str:
    """Concatenated text of a span sequence (probe-matching helper)."""
    return "".join(s["text"] or "" for s in spans if s["kind"] == "text")
