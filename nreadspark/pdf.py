"""PDF text + layout extraction into the engine's span model.

The north rule names the extraction tier as "HTML boilerplate strip,
PDF/layout parse, DOM heuristics"; this module is the PDF leg.  It is a
from-scratch, pure-stdlib reader of the PDF subset that crawl/synthetic
corpora produce (no reference counterpart: NReadability is HTML-only, so
this surface extends the engine the way SURVEY.md §2's training-data ops
do):

* object scan (``N G obj ... endobj``) without relying on the xref table --
  real-world crawled PDFs routinely have broken xrefs, and a linear scan is
  also the right shape for a batch engine (one pass over the bytes);
* streams with ``/Filter /FlateDecode`` (zlib) or no filter;
* page tree walk (Catalog -> Pages -> Kids) for correct page ORDER -- object
  numbering is not document order;
* content-stream tokenizer: ``BT``/``ET`` text blocks, ``Tj``/``'``/``"``/
  ``TJ`` show operators with ``(...)`` escapes and ``<hex>`` strings,
  ``Td``/``TD``/``Tm``/``T*`` line positioning (a vertical move starts a new
  line), ``Do`` on an ``/Subtype /Image`` XObject emits an image span at its
  position in content order;
* document ``/Info /Title`` metadata.

Output is the engine-wide span sequence ``(kind, text, media_ref, offset)``
-- the same schema the HTML kernel emits -- so every downstream operator
(dedup, quality, token stats, similarity) runs unchanged over PDF-sourced
documents.

Scale shape: ``extract_pdf`` is one ``mapInArrow`` stage over a binary
column, no shuffle, per-document error containment (a damaged PDF yields
a flagged row, never a failed task).
"""

from __future__ import annotations

import re
import zlib

__all__ = [
    "parse_pdf_spans",
    "extract_pdf_document",
    "extract_pdf",
    "make_pdf",
]

# ---------------------------------------------------------------------------
# low-level object model
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)


def _find_ref(body: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R", body)
    return int(m.group(1)) if m else None


def _find_refs_array(body: bytes, key: bytes) -> list[int]:
    """``/Key [1 0 R 2 0 R]`` or the single-ref form."""
    m = re.search(rb"/" + key + rb"\s*\[(.*?)\]", body, re.DOTALL)
    if m:
        return [int(x) for x in re.findall(rb"(\d+)\s+\d+\s+R", m.group(1))]
    single = _find_ref(body, key)
    return [single] if single is not None else []


_OBJ_START_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")


def _scan_objects(data: bytes) -> dict[int, bytes]:
    """Sequential object scan.  Stream payloads are skipped via their
    numeric ``/Length`` before searching for ``endobj`` -- compressed bytes
    can contain ``endobj``/``endstream`` by accident, so a naive regex cut
    truncates ~1-2%% of Flate streams."""
    objs: dict[int, bytes] = {}
    pos = 0
    n = len(data)
    while pos < n:
        m = _OBJ_START_RE.search(data, pos)
        if m is None:
            break
        start = m.end()
        search_from = start
        sm = re.compile(rb"stream\r?\n").search(data, start)
        if sm is not None:
            # only if this stream belongs to the current object (no endobj
            # between the header and the stream keyword)
            eo_probe = data.find(b"endobj", start, sm.start())
            if eo_probe < 0:
                lm = re.search(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)", data[start : sm.start()])
                if lm is not None:
                    search_from = sm.end() + int(lm.group(1))
                else:
                    es = data.find(b"endstream", sm.end())
                    search_from = es if es >= 0 else sm.end()
        end = data.find(b"endobj", search_from)
        if end < 0:
            end = n
        objs[int(m.group(1))] = data[start:end]
        pos = end + 6
    return objs


#: Per-stream inflate ceiling.  Crawl bytes are untrusted: a kilobyte
#: flate-bomb can inflate to GBs, and per-document error containment in
#: extract_pdf catches exceptions, not memory exhaustion -- so the bound
#: must be enforced at the decompressor.  64 MB dwarfs any legitimate
#: single content/image stream; overflow is treated as a per-doc parse
#: error (the containment path that already exists).
_MAX_INFLATE = 64 * 1024 * 1024


class FlateBombError(ValueError):
    """A FlateDecode stream inflated past _MAX_INFLATE (hostile input)."""


def _inflate_capped(raw: bytes, cap: int = _MAX_INFLATE) -> bytes:
    """zlib.decompress with a hard output ceiling: decompressobj stops at
    ``max_length`` instead of allocating unboundedly, so one hostile doc
    raises (caught per-document) rather than OOM-killing the executor."""
    d = zlib.decompressobj()
    out = d.decompress(raw, cap)
    if d.unconsumed_tail:
        # a stream that inflates to EXACTLY cap bytes parks its trailing
        # checksum in unconsumed_tail -- only call it a bomb if feeding the
        # tail back produces more output
        if d.decompress(d.unconsumed_tail, 1):
            raise FlateBombError(f"FlateDecode output exceeds {cap} bytes")
    if not d.eof:
        # parity with zlib.decompress on truncated input: per-doc parse error
        raise zlib.error("incomplete or truncated FlateDecode stream")
    return out


def _stream_bytes(body: bytes) -> bytes | None:
    """Stream payload of one object body.  A direct numeric ``/Length`` is
    authoritative (stream data may END in \\r or \\n bytes the delimiter
    regex would otherwise swallow -- that is why /Length exists); the
    regex delimiters are the fallback for indirect /Length refs."""
    raw = None
    lm = re.search(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)", body)
    if lm is not None:
        sm = re.search(rb"stream\r?\n", body)
        if sm is not None:
            start = sm.end()
            n = int(lm.group(1))
            if start + n <= len(body):
                raw = body[start : start + n]
    if raw is None:
        m = _STREAM_RE.search(body)
        if m is None:
            return None
        raw = m.group(1)
    if re.search(rb"/Filter\s*/FlateDecode", body) or re.search(
        rb"/Filter\s*\[\s*/FlateDecode\s*\]", body
    ):
        return _inflate_capped(raw)
    return raw


# ---------------------------------------------------------------------------
# PDF string literals
# ---------------------------------------------------------------------------

_ESCAPES = {
    ord("n"): "\n",
    ord("r"): "\r",
    ord("t"): "\t",
    ord("b"): "\b",
    ord("f"): "\f",
    ord("("): "(",
    ord(")"): ")",
    ord("\\"): "\\",
}


def _decode_literal(raw: bytes) -> str:
    """Body of a ``(...)`` string: backslash escapes incl. \\ddd octal; the
    bytes are PDFDocEncoding-adjacent -- we decode as latin-1 (byte-faithful)
    unless a UTF-16 BOM leads."""
    if raw[:2] in (b"\xfe\xff", b"\xff\xfe"):
        return raw.decode("utf-16", errors="replace")
    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        b = raw[i]
        if b != 0x5C:  # backslash
            out.append(chr(b))
            i += 1
            continue
        i += 1
        if i >= n:
            break
        e = raw[i]
        if e in _ESCAPES:
            out.append(_ESCAPES[e])
            i += 1
        elif 0x30 <= e <= 0x37:  # \ddd octal, up to 3 digits
            j = i
            while j < n and j - i < 3 and 0x30 <= raw[j] <= 0x37:
                j += 1
            out.append(chr(int(raw[i:j], 8)))
            i = j
        elif e in (0x0A, 0x0D):  # line continuation
            i += 1
            if e == 0x0D and i < n and raw[i] == 0x0A:
                i += 1
        else:
            out.append(chr(e))
            i += 1
    return "".join(out)


def _decode_hex_string(raw: bytes) -> str:
    # lenient per spec: whitespace (and, for robustness, any non-hex byte)
    # inside <...> is skipped; an odd final digit is padded with 0
    h = re.sub(rb"[^0-9A-Fa-f]", b"", raw)
    if len(h) % 2:
        h += b"0"
    b = bytes.fromhex(h.decode("ascii"))
    if b[:2] in (b"\xfe\xff", b"\xff\xfe"):
        return b.decode("utf-16", errors="replace")
    return b.decode("latin-1")


# ---------------------------------------------------------------------------
# content-stream tokenizer
# ---------------------------------------------------------------------------

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_NAME_RE = re.compile(rb"/[^\s/<>\[\]()]*")
_OP_RE = re.compile(rb"[A-Za-z'\"*]+")


def _tokenize_content(cs: bytes):
    """Yield ('str', text) | ('num', float) | ('name', str) | ('op', str) |
    ('[',None) | (']',None).  Dictionaries/inline images are skipped."""
    i, n = 0, len(cs)
    while i < n:
        c = cs[i : i + 1]
        if c in b" \t\r\n\x00":
            i += 1
        elif c == b"%":  # comment to EOL
            j = cs.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif c == b"(":
            depth, j = 1, i + 1
            while j < n and depth:
                b = cs[j]
                if b == 0x5C:
                    j += 2
                    continue
                if b == 0x28:
                    depth += 1
                elif b == 0x29:
                    depth -= 1
                j += 1
            yield ("str", _decode_literal(cs[i + 1 : j - 1]))
            i = j
        elif cs.startswith(b"<<", i):
            # skip dict balanced
            depth, j = 1, i + 2
            while j < n and depth:
                if cs.startswith(b"<<", j):
                    depth += 1
                    j += 2
                elif cs.startswith(b">>", j):
                    depth -= 1
                    j += 2
                else:
                    j += 1
            i = j
        elif c == b"<":
            j = cs.find(b">", i)
            j = n if j < 0 else j
            yield ("str", _decode_hex_string(cs[i + 1 : j]))
            i = j + 1
        elif c == b"[":
            yield ("[", None)
            i += 1
        elif c == b"]":
            yield ("]", None)
            i += 1
        elif c == b"/":
            m = _NAME_RE.match(cs, i)
            yield ("name", m.group(0)[1:].decode("latin-1"))
            i = m.end()
        elif c in b"+-.0123456789":
            m = _NUM_RE.match(cs, i)
            if m is None:
                i += 1
                continue
            yield ("num", float(m.group(0)))
            i = m.end()
        else:
            m = _OP_RE.match(cs, i)
            if m is None:
                i += 1
                continue
            op = m.group(0).decode("latin-1")
            if op == "BI":  # inline image: skip to EI
                j = cs.find(b"EI", m.end())
                yield ("op", "BI")
                i = n if j < 0 else j + 2
            else:
                yield ("op", op)
                i = m.end()


# kerning gap (thousandths of text space) below which a TJ adjustment is
# treated as an explicit word space -- the conventional extractor heuristic
_TJ_SPACE_THRESHOLD = -100.0


def _extract_page_spans(cs: bytes, image_names: set[str], spans: list) -> None:
    """Append (kind, text, media_ref) tuples for one content stream.

    Layout model: within BT/ET, a vertical move (Td/TD with ty != 0, Tm with
    a new y, or T*) ends the current line; each non-empty LINE becomes one
    text span -- the layout-parse granularity downstream dedup/quality ops
    want.  A ``Do`` of an image XObject flushes the pending line and emits
    an image span in content order."""
    line: list[str] = []
    stack: list[float] = []  # operand stack (numbers only)
    in_array = False
    array_parts: list[str] = []
    pending_name: str | None = None
    cur_y: float | None = None

    def flush_line() -> None:
        text = "".join(line).strip()
        line.clear()
        if text:
            spans.append(("text", text, None))

    for kind, val in _tokenize_content(cs):
        if kind == "[":
            in_array = True
            array_parts = []
        elif kind == "]":
            in_array = False
            line.append("".join(array_parts))
        elif kind == "str":
            if in_array:
                array_parts.append(val)
            else:
                stack.append(val)  # consumed by Tj/'/" below
        elif kind == "num":
            if in_array:
                if val <= _TJ_SPACE_THRESHOLD and array_parts and not array_parts[-1].endswith(" "):
                    array_parts.append(" ")
            else:
                stack.append(val)
        elif kind == "name":
            pending_name = val
        elif kind == "op":
            op = val
            if op in ("Tj", "'", '"'):
                s = next((x for x in reversed(stack) if isinstance(x, str)), None)
                if op in ("'", '"'):
                    flush_line()
                if s:
                    line.append(s)
            elif op == "TJ":
                pass  # array content already appended on ']'
            elif op in ("Td", "TD"):
                ty = stack[-1] if stack and isinstance(stack[-1], float) else 0.0
                if ty != 0.0:
                    flush_line()
            elif op == "Tm":
                y = stack[-1] if stack and isinstance(stack[-1], float) else None
                if cur_y is None or y != cur_y:
                    flush_line()
                cur_y = y
            elif op == "T*":
                flush_line()
            elif op == "ET":
                flush_line()
                cur_y = None
            elif op == "Do":
                if pending_name in image_names:
                    flush_line()
                    spans.append(("image", None, f"pdf:{pending_name}"))
            stack.clear()
            pending_name = None


# ---------------------------------------------------------------------------
# document-level extraction
# ---------------------------------------------------------------------------


def _page_order(objs: dict[int, bytes]) -> list[int]:
    """Catalog -> Pages tree walk; falls back to /Type /Page objects in
    object-number order when the tree is damaged."""
    catalog = next(
        (num for num, b in objs.items() if re.search(rb"/Type\s*/Catalog\b", b)), None
    )
    order: list[int] = []
    if catalog is not None:
        root = _find_ref(objs[catalog], b"Pages")
        stack = [root] if root is not None else []
        seen: set[int] = set()
        while stack:
            num = stack.pop(0)
            if num is None or num in seen or num not in objs:
                continue
            seen.add(num)
            body = objs[num]
            if re.search(rb"/Type\s*/Pages\b", body):
                stack = _find_refs_array(body, b"Kids") + stack
            elif re.search(rb"/Type\s*/Page\b", body):
                order.append(num)
    if not order:
        order = sorted(
            num
            for num, b in objs.items()
            if re.search(rb"/Type\s*/Page\b", b) and not re.search(rb"/Type\s*/Pages\b", b)
        )
    return order


def _image_xobject_names(page_body: bytes, objs: dict[int, bytes]) -> set[str]:
    names: set[str] = set()
    m = re.search(rb"/XObject\s*<<(.*?)>>", page_body, re.DOTALL)
    if not m:
        return names
    for nm, ref in re.findall(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R", m.group(1)):
        target = objs.get(int(ref))
        if target is not None and re.search(rb"/Subtype\s*/Image\b", target):
            names.add(nm.decode("latin-1"))
    return names


def extract_pdf_images(data: bytes):
    """Every ``/Subtype /Image`` XObject of the document, in
    object-number order:
    ``[(name, payload, pdf_filter, width, height, is_gray, bpc)]``.

    ``payload`` is the stream AFTER FlateDecode (raw samples) but
    VERBATIM for ``/Filter /DCTDecode`` -- a DCTDecode stream IS a
    complete ITU-T T.81 JPEG file (ISO 32000-1 7.4.8), which is exactly
    what the vendored decoder consumes; this is the bridge that lets
    figures inside PDFs join the image dedup tiers.  ``name`` is the
    first resource-dictionary name referencing the object (stable for
    single-alias documents; ``objN`` fallback otherwise).  Unsupported
    filters return their raw stream with the filter tag for the caller
    to tier as header-only.  Raises ValueError (incl. FlateBombError)
    on malformed documents -- same containment contract as
    :func:`parse_pdf_spans`."""
    objs = _scan_objects(data)
    names: dict[int, str] = {}
    for body in objs.values():
        m = re.search(rb"/XObject\s*<<(.*?)>>", body, re.DOTALL)
        if not m:
            continue
        for nm, ref in re.findall(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R", m.group(1)):
            names.setdefault(int(ref), nm.decode("latin-1"))
    out = []
    for num in sorted(objs):
        body = objs[num]
        if not re.search(rb"/Subtype\s*/Image\b", body):
            continue
        fm = re.search(rb"/Filter\s*\[?\s*/(\w+)", body)
        filt = fm.group(1).decode("latin-1") if fm else "none"
        wm = re.search(rb"/Width\s+(\d+)", body)
        hm = re.search(rb"/Height\s+(\d+)", body)
        bm = re.search(rb"/BitsPerComponent\s+(\d+)", body)
        try:
            # Flate inflated; DCTDecode verbatim.  A corrupt Flate stream
            # (zlib.error, incl. the bomb cap) degrades THIS image to the
            # header-only tier instead of poisoning the whole document --
            # the other figures still hash.
            payload = _stream_bytes(body)
        except (zlib.error, ValueError):
            payload = None
        out.append(
            (
                names.get(num, f"obj{num}"),
                payload,
                filt,
                int(wm.group(1)) if wm else None,
                int(hm.group(1)) if hm else None,
                re.search(rb"/ColorSpace\s*/DeviceGray\b", body) is not None,
                int(bm.group(1)) if bm else None,
            )
        )
    return out


def _doc_title(objs: dict[int, bytes], data: bytes) -> str | None:
    info = None
    m = re.search(rb"/Info\s+(\d+)\s+\d+\s+R", data)
    if m:
        info = objs.get(int(m.group(1)))
    if info is None:
        info = next((b for b in objs.values() if re.search(rb"/Title\s*\(", b)), None)
    if info is None:
        return None
    t = re.search(rb"/Title\s*\((.*?[^\\])\)", info, re.DOTALL)
    if t is None:
        t = re.search(rb"/Title\s*\(\)", info)
        return "" if t else None
    return _decode_literal(t.group(1))


def parse_pdf_spans(data: bytes) -> tuple[list[tuple], int, str | None]:
    """(spans as (kind, text, media_ref) tuples in document order, n_pages,
    title).  Raises on data that is not a parseable PDF."""
    if not data.startswith(b"%PDF"):
        raise ValueError("not a PDF (missing %PDF header)")
    objs = _scan_objects(data)
    if not objs:
        raise ValueError("no PDF objects found")
    pages = _page_order(objs)
    spans: list[tuple] = []
    for num in pages:
        body = objs[num]
        image_names = _image_xobject_names(body, objs)
        for cref in _find_refs_array(body, b"Contents"):
            cbody = objs.get(cref)
            if cbody is None:
                continue
            cs = _stream_bytes(cbody)
            if cs:
                _extract_page_spans(cs, image_names, spans)
    return spans, len(pages), _doc_title(objs, data)


def extract_pdf_document(data: bytes) -> dict:
    """One-document API mirroring ``nreadspark.extract_document``."""
    spans, n_pages, title = parse_pdf_spans(data)
    return {
        "spans": [
            {"kind": k, "text": t, "media_ref": r, "offset": i}
            for i, (k, t, r) in enumerate(spans)
        ],
        "title": title,
        "n_pages": n_pages,
        "content_extracted": any(k == "text" for k, _, _ in spans),
    }


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def extract_pdf(df, pdf_col: str = "pdf"):
    """(doc_id, pdf binary) -> (doc_id, spans, title, content_extracted,
    n_pages, error).

    One ``mapInArrow`` stage (:func:`nreadspark.pipeline.map_rows`), no
    shuffle; per-document error containment -- a corrupt PDF produces a
    row with ``error`` set and an empty span list, never a failed task (the
    HTML pipeline's poisoned-doc rule, pipeline.py)."""
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    # the engine-wide span model, shared with the HTML pipeline so unions
    # across tiers (e.g. the mixed_pipeline query) can never diverge
    from .pipeline import SPAN_TYPE, map_rows

    out_type = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("spans", ArrayType(SPAN_TYPE)),
            StructField("title", StringType()),
            StructField("content_extracted", BooleanType()),
            StructField("n_pages", IntegerType()),
            StructField("error", StringType()),
        ]
    )

    def row(doc_id, raw):
        error = None
        try:
            spans, n_pages, title = parse_pdf_spans(raw or b"")
        except Exception as exc:  # poisoned-doc containment
            spans, n_pages, title = [], 0, None
            error = f"{type(exc).__name__}: {exc}"[:200]
        return [
            (
                doc_id,
                [(k, t, r, i) for i, (k, t, r) in enumerate(spans)],
                title,
                any(k == "text" for k, _, _ in spans),
                n_pages,
                error,
            )
        ]

    return map_rows(df, ["doc_id", pdf_col], out_type, row)


# ---------------------------------------------------------------------------
# deterministic PDF writer (tests / synthetic corpus -- no external data)
# ---------------------------------------------------------------------------


def _escape_literal(s: str) -> bytes:
    out = s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
    # non-latin-1 code points can't ride a literal string; octal-escape the
    # latin-1 range, drop to '?' above it (the writer is for synthetic data)
    return out.encode("latin-1", errors="replace")


def make_pdf(
    title: str,
    pages: list[list[tuple]],
    compress: bool = True,
    images: dict[str, bytes] | None = None,
) -> bytes:
    """Build a small deterministic PDF.

    ``pages`` is a list of pages; each page is a list of
    ``("text", paragraph)`` / ``("image", name)`` tuples.  Every text tuple
    becomes one positioned line (own Td), every image an ``/XObject Do``.
    ``compress=True`` Flate-encodes content streams (exercises the reader's
    FlateDecode path).

    ``images`` (r8) maps an image NAME to a complete JPEG payload: that
    name's XObject is written ``/Filter /DCTDecode`` with the JPEG bytes
    verbatim as its stream (ISO 32000-1 7.4.8) and real /Width /Height
    read from the SOF header -- the write-side twin of
    :func:`extract_pdf_images`.  Names not in ``images`` keep the shared
    1x1 gray placeholder."""
    objs: list[bytes] = []  # 1-indexed bodies, object number = index+1

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    # 1x1 gray image xobject, shared by all placements
    img_data = b"\x80"
    image = add(
        b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 1 >>\n"
        b"stream\n" + img_data + b"\nendstream"
    )
    image_objs: dict[str, int] = {}
    for nm, payload in (images or {}).items():
        from .ops.multimodal import parse_image_header

        parsed = parse_image_header(payload)
        iw, ih = (parsed[1], parsed[2]) if parsed is not None else (0, 0)
        image_objs[nm] = add(
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /DCTDecode "
            b"/Length %d >>\nstream\n" % (iw, ih, len(payload))
            + payload
            + b"\nendstream"
        )

    page_nums: list[int] = []
    content_nums: list[tuple[int, int]] = []  # (page obj placeholder idx, content num)
    for page in pages:
        ops = [b"BT /F1 12 Tf 72 720 Td 14 TL"]
        y = 0
        img_names: list[str] = []
        for kind, val in page:
            if kind == "text":
                if y:
                    ops.append(b"0 -14 Td")
                ops.append(b"(" + _escape_literal(val) + b") Tj")
                y += 1
            else:
                ops.append(b"ET")
                nm = val.encode("latin-1")
                ops.append(b"q 100 0 0 50 72 400 cm /" + nm + b" Do Q")
                ops.append(b"BT /F1 12 Tf 72 %d Td" % (720 - 14 * y,))
                img_names.append(val)
        ops.append(b"ET")
        cs = b"\n".join(ops)
        if compress:
            comp = zlib.compress(cs)
            content = add(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
                + comp
                + b"\nendstream"
            )
        else:
            content = add(b"<< /Length %d >>\nstream\n" % len(cs) + cs + b"\nendstream")
        xobj = b""
        if img_names:
            xobj = (
                b"/XObject << "
                + b" ".join(
                    b"/%s %d 0 R" % (n.encode("latin-1"), image_objs.get(n, image))
                    for n in img_names
                )
                + b" >> "
            )
        page_nums.append(
            add(
                b"<< /Type /Page /Parent PAGESREF /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 %d 0 R >> %s>> /Contents %d 0 R >>"
                % (font, xobj, content)
            )
        )
        content_nums.append((page_nums[-1], content))

    pages_obj = add(
        b"<< /Type /Pages /Kids ["
        + b" ".join(b"%d 0 R" % n for n in page_nums)
        + b"] /Count %d >>" % len(page_nums)
    )
    # patch parent refs
    for n in page_nums:
        objs[n - 1] = objs[n - 1].replace(b"PAGESREF", b"%d 0 R" % pages_obj)
    catalog = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_obj)
    info = add(b"<< /Title (" + _escape_literal(title) + b") >>")

    out = [b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n"]
    offsets = [0]
    pos = len(out[0])
    for i, body in enumerate(objs, start=1):
        chunk = b"%d 0 obj\n" % i + body + b"\nendobj\n"
        offsets.append(pos)
        out.append(chunk)
        pos += len(chunk)
    xref_pos = pos
    xref = [b"xref\n0 %d\n" % (len(objs) + 1), b"0000000000 65535 f \n"]
    for off in offsets[1:]:
        xref.append(b"%010d 00000 n \n" % off)
    out.append(b"".join(xref))
    out.append(
        b"trailer\n<< /Size %d /Root %d 0 R /Info %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, catalog, info, xref_pos)
    )
    return b"".join(out)
