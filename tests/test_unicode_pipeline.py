"""Non-ASCII end-to-end: the synthetic corpus is printable ASCII (so the
DuckDB oracles stay trivially engine-portable), but the real web is CJK /
emoji / RTL / combining marks.  These tests push such text through every
ingestion surface -- span reassembly, raw kernel, bytes-in with legacy
charsets -- and require byte-faithful text in the output spans."""

import pytest

from nreadspark import extract_document
from nreadspark.spans import flatten_spans_text

pyspark = pytest.importorskip("pyspark")

CJK = "日本語のテキストです、これは長い段落で、コンマも含まれています。"
EMOJI = "rocket \U0001f680 launch, family \U0001f468‍\U0001f469‍\U0001f467, flags \U0001f1fa\U0001f1f8, more words follow here."
RTL = "النص العربي هنا، مع فواصل، وكلمات كثيرة بما يكفي للتقييم."
COMBINING = "Zaz̩ółć gęślą jaźń, avec des accents, et encore des mots pour le score."


def _html(body: str) -> str:
    return (
        "<html><head><title>Ünïcode Tïtle | Site</title></head><body>"
        f"<div id='content' class='article'><p>{body}</p>"
        f"<p>{body} continued, with more commas, for the sibling merge.</p>"
        "</div></body></html>"
    )


@pytest.mark.parametrize("text", [CJK, EMOJI, RTL, COMBINING], ids=["cjk", "emoji", "rtl", "combining"])
def test_kernel_preserves_non_ascii(text):
    r = extract_document(_html(text))
    assert r["content_extracted"]
    flat = flatten_spans_text(r["spans"])
    assert text in flat  # byte-faithful, no mojibake/normalization
    # 'Ünïcode Tïtle' is 2 words, below E1's 3-word split minimum, so the
    # full title is kept (reference-faithful); the point here is that the
    # accented characters survive undamaged
    assert "Ünïcode Tïtle" in r["title"]


def test_spark_pipeline_round_trips_non_ascii(spark):
    """Interleaved spans -> JVM HTML reassembly -> Arrow -> kernel -> spans:
    the text must survive the double codec boundary bit-for-bit."""
    from nreadspark.pipeline import SPAN_TYPE, extract
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", StringType()), StructField("spans", ArrayType(SPAN_TYPE))]
    )
    rows = []
    for i, text in enumerate([CJK, EMOJI, RTL, COMBINING]):
        rows.append(
            (
                str(i),
                [
                    ("text", f"<html><head><title>T{i}</title></head><body>"
                             f"<div id='content' class='post'><p>{text}</p>", None, 0),
                    ("image", None, f"img://{i}", 1),
                    ("text", f"<p>{text} continued, with commas, enough for scoring.</p>"
                             "</div></body></html>", None, 2),
                ],
            )
        )
    out = {r["doc_id"]: r for r in extract(spark.createDataFrame(rows, schema)).collect()}
    for i, text in enumerate([CJK, EMOJI, RTL, COMBINING]):
        row = out[str(i)]
        assert row["content_extracted"], f"doc {i}"
        flat = "".join(s["text"] or "" for s in row["spans"])
        assert text in flat, f"doc {i}: non-ascii text mangled"


def test_bytes_in_legacy_charsets(spark):
    """UTF-8 with BOM, meta-declared legacy encodings, and UTF-16 headers
    must all decode to the same extracted text."""
    from pyspark.sql import functions as F

    from nreadspark.pipeline import extract_from_html_bytes

    body = "Résumé économique, déjà vu, ça va, précisément, encore des mots."
    html = _html(body)
    variants = [
        ("bom", "﻿".encode("utf-8") + html.encode("utf-8")),
        ("meta-8859", html.replace(
            "<head>", "<head><meta charset='iso-8859-1'>", 1).encode("iso-8859-1")),
        ("meta-1252", html.replace(
            "<head>", "<head><meta http-equiv='Content-Type' "
            "content='text/html; charset=windows-1252'>", 1).encode("cp1252")),
        ("utf16", html.encode("utf-16")),  # BOM-led
    ]
    df = spark.createDataFrame(variants, "doc_id string, raw binary")
    out = {r["doc_id"]: r for r in extract_from_html_bytes(df, bytes_col="raw").collect()}
    for name, _ in variants:
        assert out[name]["content_extracted"], name
        flat = "".join(s["text"] or "" for s in out[name]["spans"])
        assert body in flat, f"{name}: charset decode mangled the text"
