"""In-process kernel passes, run in a pool of forked processes, one per core.

``reference`` is the correctness reference: ``kernel.transcode`` followed by
``spans.extract_spans``, digested per document.  ``paired`` times transcode
plus the flat span emit the pipeline uses, per document, untraced and with
the kernel's functions wrapped in spans, which gives the per-function split
and the tracing overhead.
"""

from __future__ import annotations

import hashlib
import time

from perfbench.tracer import Tracer


def span_digest(spans) -> str:
    """Digest of a span sequence as ``(kind, text, media_ref, offset)``."""
    seq = tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans)
    return hashlib.blake2b(repr(seq).encode("utf-8", "surrogatepass"), digest_size=16).hexdigest()


def _blank(html) -> bool:
    # the pipeline emits an empty span list for these without running the kernel
    return html is None or html.strip() == ""


def reference(chunk):
    """``[(doc_id, html)] -> [(doc_id, digest or None)]``; a digest of None
    marks a document the kernel raised on."""
    from nreadspark.kernel import Options, transcode
    from nreadspark.spans import extract_spans

    opts = Options()
    out = []
    for doc_id, html in chunk:
        if _blank(html):
            out.append((doc_id, span_digest([])))
            continue
        try:
            result = transcode(html, None, opts)
        except Exception:
            out.append((doc_id, None))
            continue
        out.append((doc_id, span_digest(extract_spans(result.article_content))))
    return out


# (module, attribute, span name): the kernel's stages as the pipeline calls
# them.  build_document is bound in both dom (re-parses through
# set_inner_html) and kernel (the page parse).
_WRAPPED = (
    ("nreadspark.dom", "build_document", "dom.build_document"),
    ("nreadspark.kernel", "build_document", "dom.build_document"),
    ("nreadspark.kernel", "prepare_document", "kernel.prepare_document"),
    ("nreadspark.kernel", "extract_article_content", "kernel.extract_article_content"),
    ("nreadspark.kernel", "glue_document", "kernel.glue_document"),
)


def _untraced(chunk) -> list[float]:
    from nreadspark.kernel import Options, transcode
    from nreadspark.spans import extract_spans_flat

    opts = Options()
    seconds = []
    for _doc_id, html in chunk:
        if _blank(html):
            continue
        started = time.perf_counter()
        try:
            result = transcode(html, None, opts)
            extract_spans_flat(result.article_content, [], [], [], [])
        except Exception:
            pass
        seconds.append(time.perf_counter() - started)
    return seconds


def _traced(index, chunk):
    import importlib

    from nreadspark.kernel import Options, transcode
    from nreadspark.spans import extract_spans_flat

    tracer = Tracer(prefix=f"k{index}.")
    saved = []
    for module_name, attr, name in _WRAPPED:
        module = importlib.import_module(module_name)
        original = getattr(module, attr)
        saved.append((module, attr, original))
        setattr(module, attr, tracer.wrap(name, original))
    run = tracer.wrap("kernel.transcode", transcode)
    emit = tracer.wrap("spans.extract_spans_flat", extract_spans_flat)
    opts = Options()
    seconds = []
    try:
        for _doc_id, html in chunk:
            if _blank(html):
                continue
            started = time.perf_counter()
            with tracer.span("kernel.doc"):
                try:
                    result = run(html, None, opts)
                    emit(result.article_content, [], [], [], [])
                except Exception:
                    pass
            seconds.append(time.perf_counter() - started)
    finally:
        for module, attr, original in saved:
            setattr(module, attr, original)
    return seconds, tracer.spans


def paired(job):
    """``(chunk_index, [(doc_id, html)]) -> (untraced seconds per doc,
    traced seconds per doc, spans)``.  Both passes run back to back over the
    same chunk, in an order that alternates with the chunk index so that
    warm caches favour neither."""
    index, chunk = job
    if index % 2:
        traced_seconds, spans = _traced(index, chunk)
        untraced_seconds = _untraced(chunk)
    else:
        untraced_seconds = _untraced(chunk)
        traced_seconds, spans = _traced(index, chunk)
    return untraced_seconds, traced_seconds, spans
