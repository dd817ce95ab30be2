"""Debug XHTML sink: serialize a transcoded document back to a full page.

Reimplements the reference's serializer semantics (SgmlDomSerializer.cs:40-78
doctype, :94-186 meta rewriting; DomSerializationParams.cs:1-60 toggles).
The span sequence is the engine's primary output (the north rule); this
module exists so a user of the reference library -- whose output is the
serialized XHTML article page -- can get the equivalent artifact, and for
golden-file eyeballing.

Spark surface: ``transcode_to_html_column`` adds a ``debug_html`` string
column via the same Arrow-batched kernel.
"""

from __future__ import annotations

from dataclasses import dataclass

from .dom import Document, Node, serialize_node, serialize_node_pretty

GENERATOR_NAME = "nreadspark 0.1"
_DOCTYPE = (
    '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0 Transitional//EN"\r\n'
    '"http://www.w3.org/TR/xhtml1/DTD/xhtml1-transitional.dtd">\r\n'
)


@dataclass
class SerializationParams:
    """Mirrors DomSerializationParams (DomSerializationParams.cs:5-58)."""

    pretty_print: bool = False
    dont_include_content_type_meta: bool = False
    dont_include_mobile_meta: bool = False
    dont_include_doctype: bool = False
    dont_include_generator_meta: bool = False


def _children_by_tag(element: Node, tag: str) -> list[Node]:
    return [c for c in element.children if c.is_element and c.tag == tag]


def _remove_meta(head: Node, attr: str, value: str) -> None:
    for meta in _children_by_tag(head, "meta"):
        if (meta.get_attribute(attr, "") or "").lower() == value.lower():
            meta.remove()
            return


def _add_first(head: Node, node: Node) -> None:
    node.parent = head
    head.children.insert(0, node)


def serialize_document(document: Document, params: SerializationParams | None = None) -> str:
    """SgmlDomSerializer.SerializeDocument (SgmlDomSerializer.cs:40-78).

    Meta handling order matches ProcessMetaElements (:94-99): content-type,
    mobile, generator -- each AddFirst()s, so the final order in <head> is
    generator, HandheldFriendly, Content-Type, <originals>.  The 'viewport'
    meta is removed unconditionally whenever meta processing runs
    (:129-138), even when mobile metas are not re-added.
    """
    params = params or SerializationParams()
    root = document.root
    if root is None:
        raise ValueError("The document must have a root.")
    if root.tag != "html":
        raise ValueError("The document's root must be an html element.")

    if not (
        params.dont_include_content_type_meta
        and params.dont_include_mobile_meta
        and params.dont_include_generator_meta
    ):
        heads = _children_by_tag(root, "head")
        if heads:
            head = heads[0]
        else:
            head = Node("head")
            head.parent = root
            root.children.insert(0, head)

        # ProcessMetaContentTypeElement (:103-125)
        if not params.dont_include_content_type_meta:
            _remove_meta(head, "http-equiv", "content-type")
            meta = Node(
                "meta",
                {"http-equiv": "Content-Type", "content": "text/html; charset=utf-8"},
            )
            _add_first(head, meta)

        # ProcessMobileSpecificMetaElements (:127-161): viewport and
        # HandheldFriendly are removed regardless; HandheldFriendly re-added
        # only when mobile metas are enabled
        _remove_meta(head, "name", "viewport")
        _remove_meta(head, "name", "handheldfriendly")
        if not params.dont_include_mobile_meta:
            _add_first(head, Node("meta", {"name": "HandheldFriendly", "content": "true"}))

        # ProcessMetaGeneratorElement (:163-186)
        if not params.dont_include_generator_meta:
            _remove_meta(head, "name", "generator")
            _add_first(head, Node("meta", {"name": "Generator", "content": GENERATOR_NAME}))

    # document.ToString(PrettyPrint ? SaveOptions.None : DisableFormatting)
    # (SgmlDomSerializer.cs:70)
    result = serialize_node_pretty(root) if params.pretty_print else serialize_node(root)
    if not params.dont_include_doctype:
        result = _DOCTYPE + result
    return result


def transcode_to_html(
    html: str,
    url: str | None = None,
    params: SerializationParams | None = None,
    opts=None,
) -> str:
    """Full reference-shaped pipeline: extract + glue + serialize to the
    XHTML article page (what NReadabilityTranscoder.Transcode returns,
    NReadabilityTranscoder.cs:224-257).  ``opts`` carries the transcoder
    constructor knobs incl. ReadingStyle/Margin/Size (cs:176-213)."""
    from .kernel import Options, transcode

    result = transcode(html, url, opts or Options())
    return serialize_document(result.document, params)


def transcode_to_html_column(df, html_col: str = "html", url_col: str | None = None):
    """Spark surface: (doc_id, html[, url]) -> (doc_id, debug_html) via the
    Arrow-batched kernel.  Debug/golden tooling -- the span pipeline
    (pipeline.extract) is the production path."""
    from pyspark.sql.types import StringType, StructField, StructType

    from .pipeline import map_rows

    cols = ["doc_id", html_col] + ([url_col] if url_col else [])

    out_schema = StructType(
        [StructField("doc_id", StringType()), StructField("debug_html", StringType())]
    )

    def row(doc_id, html, url=None):
        try:
            out = transcode_to_html(html, url) if html and html.strip() else None
        except Exception:
            out = None
        return [(doc_id, out)]

    return map_rows(df, cols, out_schema, row)
