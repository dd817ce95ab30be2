"""PDF/layout extraction (north-rule tier: 'HTML boilerplate strip,
PDF/layout parse, DOM heuristics')."""

from __future__ import annotations

import re
import zlib

import pytest

from nreadspark.pdf import extract_pdf_document, make_pdf, parse_pdf_spans


def test_single_page_text_round_trip():
    pdf = make_pdf("My Title", [[("text", "Hello, world."), ("text", "Second line here.")]])
    doc = extract_pdf_document(pdf)
    assert doc["title"] == "My Title"
    assert doc["n_pages"] == 1
    assert [s["text"] for s in doc["spans"]] == ["Hello, world.", "Second line here."]
    assert [s["offset"] for s in doc["spans"]] == [0, 1]
    assert doc["content_extracted"] is True


def test_interleaved_image_span_in_content_order():
    pdf = make_pdf(
        "T",
        [[("text", "before"), ("image", "Im1"), ("text", "after")]],
    )
    doc = extract_pdf_document(pdf)
    assert [(s["kind"], s["text"], s["media_ref"]) for s in doc["spans"]] == [
        ("text", "before", None),
        ("image", None, "pdf:Im1"),
        ("text", "after", None),
    ]


def test_multi_page_order_follows_kids_not_object_numbers():
    pdf = make_pdf(
        "T",
        [[("text", "page one")], [("text", "page two")], [("text", "page three")]],
    )
    spans, n_pages, _ = parse_pdf_spans(pdf)
    assert n_pages == 3
    assert [t for _, t, _ in spans] == ["page one", "page two", "page three"]


def test_uncompressed_and_compressed_streams_agree():
    pages = [[("text", "Some, paragraph."), ("image", "ImA")]]
    a = parse_pdf_spans(make_pdf("T", pages, compress=True))[0]
    b = parse_pdf_spans(make_pdf("T", pages, compress=False))[0]
    assert a == b


def test_literal_string_escapes_round_trip():
    tricky = r"parens () and \ backslash" + " and\tescape"
    pdf = make_pdf("Ti(t)le \\ ok", [[("text", tricky)]])
    spans, _, title = parse_pdf_spans(pdf)
    assert spans[0][1] == tricky
    assert title == "Ti(t)le \\ ok"


def test_hex_strings_and_tj_arrays():
    # hand-rolled content stream: TJ array with kerning word-space, hex string
    cs = b"BT /F1 12 Tf 72 720 Td [(Hel) -20 (lo) -250 (world)] TJ T* <414243> Tj ET"
    content = b"<< /Length %d >>\nstream\n" % len(cs) + cs + b"\nendstream"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n" + content + b"\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    spans, n_pages, _ = parse_pdf_spans(pdf)
    assert n_pages == 1
    assert [t for _, t, _ in spans] == ["Hel" "lo" + " world", "ABC"]


def test_damaged_pdf_raises_and_spark_contains_it():
    with pytest.raises(ValueError):
        parse_pdf_spans(b"not a pdf at all")
    with pytest.raises(Exception):
        parse_pdf_spans(b"%PDF-1.4\njunk with no objects")


def test_inflate_cap_blocks_flate_bombs():
    """The capped inflater raises on output overflow instead of allocating
    unboundedly; legit payloads round-trip; truncated input keeps the old
    zlib.decompress error semantics."""
    from nreadspark.pdf import FlateBombError, _inflate_capped

    bomb = zlib.compress(b"\x00" * 100_000, 9)
    with pytest.raises(FlateBombError):
        _inflate_capped(bomb, cap=10_000)
    assert _inflate_capped(zlib.compress(b"hello"), cap=10_000) == b"hello"
    with pytest.raises(zlib.error):
        _inflate_capped(bomb[:20], cap=1 << 20)
    # a legit stream inflating to EXACTLY the cap parks its checksum in
    # unconsumed_tail -- that is not a bomb
    assert _inflate_capped(zlib.compress(b"x" * 1000), cap=1000) == b"x" * 1000


def test_flate_bomb_pdf_is_a_contained_parse_error():
    """A few-KB hostile PDF whose content stream inflates past the 64 MB
    per-stream cap must raise (-> per-doc error row in extract_pdf), never
    materialize the bomb."""
    from nreadspark.pdf import _MAX_INFLATE, FlateBombError

    pdf = make_pdf("T", [[("text", "hello world")]], compress=True)
    bomb = zlib.compress(b"\x00" * (_MAX_INFLATE + 1024), 9)
    patched = re.sub(
        rb"<< /Length \d+ /Filter /FlateDecode >>\nstream\n.*?\nendstream",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(bomb)
        + bomb
        + b"\nendstream",
        pdf,
        count=1,
        flags=re.S,
    )
    assert patched != pdf
    with pytest.raises(FlateBombError):
        parse_pdf_spans(patched)


def test_flate_corruption_is_an_error_not_a_hang():
    pdf = bytearray(make_pdf("T", [[("text", "hello world")]], compress=True))
    i = bytes(pdf).find(b"stream\n", bytes(pdf).find(b"/FlateDecode")) + len("stream\n")
    pdf[i : i + 4] = b"\x00\x00\x00\x00"
    with pytest.raises(zlib.error):
        parse_pdf_spans(bytes(pdf))


def test_spark_extract_pdf(spark):
    from pyspark.sql import functions as F

    from nreadspark.pdf import extract_pdf

    rows = []
    for i in range(24):
        pages = [
            [("text", f"Doc {i} paragraph one, with commas."), ("image", "Im1")],
            [("text", f"Doc {i} second page text.")],
        ]
        rows.append((str(i), make_pdf(f"Doc {i}", pages)))
    rows.append(("bad", b"%PDF-1.4 truncated garbage"))
    df = spark.createDataFrame(rows, "doc_id string, pdf binary")
    out = extract_pdf(df).cache()
    good = out.filter(F.col("error").isNull())
    assert good.count() == 24
    bad = out.filter(F.col("error").isNotNull()).collect()
    assert len(bad) == 1 and bad[0]["doc_id"] == "bad"
    assert bad[0]["content_extracted"] is False
    one = good.filter(F.col("doc_id") == "3").collect()[0]
    assert one["title"] == "Doc 3"
    assert one["n_pages"] == 2
    kinds = [s["kind"] for s in one["spans"]]
    assert kinds == ["text", "image", "text"]
    assert [s["offset"] for s in one["spans"]] == [0, 1, 2]
    out.unpersist()


def test_fuzz_pdf_parser_never_hangs_or_leaks_weird_errors():
    """Random mutations of a valid PDF must either parse or raise a normal
    exception quickly -- no hangs, no swallowed corruption."""
    import random
    import zlib as _zlib

    base = make_pdf("T", [[("text", "hello, world."), ("image", "Im1")], [("text", "p2")]])
    rng = random.Random(42)
    ok = failed = 0
    for _ in range(300):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 12)):
            op = rng.random()
            pos = rng.randrange(len(buf))
            if op < 0.5:
                buf[pos] = rng.randrange(256)
            elif op < 0.75:
                del buf[pos : pos + rng.randint(1, 20)]
            else:
                buf[pos:pos] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 8)))
        try:
            spans, n_pages, _ = parse_pdf_spans(bytes(buf))
            assert isinstance(spans, list) and n_pages >= 0
            ok += 1
        except Exception as exc:  # must be a clean exception, never a hang
            assert isinstance(exc, (ValueError, _zlib.error, KeyError, re.error, OverflowError))
            failed += 1
    assert ok + failed == 300


def test_fuzz_content_stream_tokenizer_terminates():
    import random

    from nreadspark.pdf import _extract_page_spans

    rng = random.Random(7)
    charset = b"()<>[]/\\ BT ET Tj TJ Td Tm T* Do 0123456789.-'\"abcdef%\n"
    for _ in range(300):
        cs = bytes(rng.choice(charset) for _ in range(rng.randint(0, 400)))
        spans = []
        _extract_page_spans(cs, {"Im1"}, spans)  # must terminate without error


def test_indirect_length_ref_is_not_misread_as_direct():
    """/Length 15 0 R (indirect ref) must not be parsed as direct length 1
    (regex backtracking hazard): fall back to the endstream delimiters."""
    cs = b"BT /F1 12 Tf 72 720 Td (indirect ok) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 15 0 R >>\nstream\n" + cs + b"\nendstream\nendobj\n"
        b"15 0 obj\n" + str(len(cs)).encode() + b"\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    )
    spans, n_pages, _ = parse_pdf_spans(pdf)
    assert [t for _, t, _ in spans] == ["indirect ok"]


def test_extract_pdf_images_round_trip():
    """make_pdf(images=...) writes a /DCTDecode XObject whose stream is
    the JPEG verbatim; extract_pdf_images returns it byte-identical with
    real dims, alongside the 1x1 gray placeholder."""
    from nreadspark.ops.images import synth_pixel
    from nreadspark.ops.jpeg import encode_blocky_jpeg
    from nreadspark.pdf import extract_pdf_images, make_pdf

    vals = [synth_pixel(5, bx, by) for by in range(8) for bx in range(8)]
    jpeg = encode_blocky_jpeg(8, 8, vals)
    raw = make_pdf(
        "T", [[("text", "hello"), ("image", "Fig1"), ("image", "Im1")]],
        images={"Fig1": jpeg},
    )
    imgs = {nm: rest for nm, *rest in extract_pdf_images(raw)}
    payload, filt, w, h, gray, bpc = imgs["Fig1"]
    assert payload == jpeg and filt == "DCTDecode" and (w, h) == (64, 64)
    p2, f2, w2, h2, g2, b2 = imgs["Im1"]
    assert p2 == b"\x80" and f2 == "none" and (w2, h2) == (1, 1) and g2 and b2 == 8
    # truncated payload: object walk finds nothing, no exception
    assert extract_pdf_images(raw[:40]) == []


def test_pdf_image_hashes_tiers_and_cross_format_dedup(spark):
    """pdf://d/Fig1 hashes equal jpg://d's (same embedded frame: a paper
    as PDF dedups against its figures on the web); placeholders take
    too-small; truncated docs take the no-images accounting row."""
    import pyarrow as pa

    from nreadspark.ops.images import (
        image_hashes,
        pdf_image_hashes,
        synth_pixel,
        synthesize_jpeg_corpus,
    )
    from nreadspark.ops.jpeg import encode_blocky_jpeg
    from nreadspark.pdf import make_pdf

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")

    def synth(it):
        for batch in it:
            ids = batch.column(0).to_pylist()
            pdfs = []
            for d in ids:
                vals = [synth_pixel(int(d) % 10, bx, by) for by in range(8) for bx in range(8)]
                raw = make_pdf(
                    f"D{d}", [[("image", "Fig1"), ("image", "Im1")]],
                    images={"Fig1": encode_blocky_jpeg(8, 8, vals)},
                )
                pdfs.append(raw[:40] if int(d) == 3 else raw)
            yield pa.RecordBatch.from_arrays(
                [pa.array([str(i) for i in ids], pa.string()),
                 pa.array(pdfs, pa.binary())],
                names=["doc_id", "pdf"],
            )

    pdf_df = docs.mapInArrow(synth, "doc_id string, pdf binary")
    got = {r["media_ref"]: r for r in pdf_image_hashes(pdf_df).collect()}
    jpg = {
        r["media_ref"]: r
        for r in image_hashes(
            synthesize_jpeg_corpus(docs, n_bases=10, corrupt_mod=5, progressive_mod=6)
        ).collect()
    }
    assert got["pdf://3"]["decoder"] == "no-images"
    for d in range(12):
        if d == 3:
            continue
        fig = got[f"pdf://{d}/Fig1"]
        assert fig["decoder"] == "pdfimg:jpeg" and (fig["width"], fig["height"]) == (64, 64)
        j = jpg[f"jpg://{d}"]
        for c in ("ahash_hi", "ahash_lo", "ghash_hi", "ghash_lo", "phash_hi", "phash_lo"):
            assert fig[c] == j[c], (d, c)
        assert got[f"pdf://{d}/Im1"]["decoder"] == "too-small"


def test_extract_pdf_images_mutation_fuzz():
    """Byte flips and truncations over a real PDF with an embedded JPEG:
    extract_pdf_images must return a list or raise ValueError -- no
    other exception type escapes (the parse_pdf_spans containment
    contract)."""
    import random

    from nreadspark.ops.images import synth_pixel
    from nreadspark.ops.jpeg import encode_blocky_jpeg
    from nreadspark.pdf import extract_pdf_images, make_pdf

    vals = [synth_pixel(5, bx, by) for by in range(8) for bx in range(8)]
    raw = make_pdf(
        "T", [[("text", "x"), ("image", "Fig1")]],
        images={"Fig1": encode_blocky_jpeg(8, 8, vals)},
    )
    random.seed(19)
    for _ in range(400):
        buf = bytearray(raw)
        for _ in range(random.randrange(1, 5)):
            buf[random.randrange(len(buf))] = random.randrange(256)
        for payload in (bytes(buf), bytes(buf[: random.randrange(len(buf))])):
            try:
                out = extract_pdf_images(payload)
                assert isinstance(out, list)
            except ValueError:
                pass
