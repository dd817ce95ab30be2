"""Bytes-in ingestion: the fetcher semantics that survive into a batch
engine (reference UrlFetcher.cs) -- gzip/deflate bodies, Content-Type
charset, meta-tag charset sniff, BOM, fallback -- must yield span-identical
extractions to the pre-decoded string path."""

import gzip
import zlib

import pytest

from nreadspark.pipeline import decode_html_bytes

PAGE = (
    "<html><head><title>Prüfbericht | Säite</title>"
    '<meta http-equiv="Content-Type" content="text/html; charset={cs}" />'
    "</head><body><div id='content' class='post'>"
    "<p>Ein längerer Absatz, mit Kommata, und genug Text, um als Inhalt "
    "gewertet zu werden, über mehrere Sätze hinweg.</p>"
    "<p>Noch ein Absatz, ebenfalls länglich, damit die Gewichtung greift, "
    "süße Umlaute inklusive: äöüß.</p>"
    "</div></body></html>"
)


def test_meta_charset_latin1():
    html = PAGE.format(cs="iso-8859-1")
    assert decode_html_bytes(html.encode("latin-1")) == html


def test_header_charset_beats_meta():
    # meta says latin-1 but the header says utf-8; header wins (:192)
    html = PAGE.format(cs="iso-8859-1")
    raw = html.encode("utf-8")
    assert decode_html_bytes(raw, content_type="text/html; charset=utf-8") == html


def test_modern_meta_charset_form():
    html = "<html><head><meta charset='iso-8859-15'><title>T</title></head><body><p>œuvre €</p></body></html>"
    assert decode_html_bytes(html.encode("iso-8859-15")) == html


def test_bom_is_authoritative():
    html = PAGE.format(cs="iso-8859-1")  # lying meta tag
    raw = b"\xef\xbb\xbf" + html.encode("utf-8")
    assert decode_html_bytes(raw) == html


def test_utf16_bom():
    html = "<html><body><p>sixteen bits</p></body></html>"
    assert decode_html_bytes(html.encode("utf-16")) == html  # utf-16 adds BOM


def test_gzip_and_deflate_bodies():
    html = PAGE.format(cs="utf-8")
    raw = html.encode("utf-8")
    assert decode_html_bytes(gzip.compress(raw), content_encoding="gzip") == html
    assert decode_html_bytes(zlib.compress(raw), content_encoding="deflate") == html
    # raw deflate (.NET DeflateStream has no zlib wrapper)
    co = zlib.compressobj(wbits=-15)
    assert (
        decode_html_bytes(co.compress(raw) + co.flush(), content_encoding="deflate")
        == html
    )


def test_unknown_charset_falls_back():
    html = PAGE.format(cs="x-no-such-charset")
    assert decode_html_bytes(html.encode("utf-8")) == html


def test_no_signal_uses_fallback():
    body = "<html><body><p>plain ascii</p></body></html>"
    assert decode_html_bytes(body.encode(), fallback_encoding="utf-8") == body


def test_bytes_path_matches_string_path(spark):
    """The VERDICT done-criterion: a latin-1 + meta-charset page extracted
    from raw bytes must yield identical spans to the pre-decoded run."""
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from nreadspark.pipeline import extract_from_html, extract_from_html_bytes

    html = PAGE.format(cs="iso-8859-1")
    bytes_schema = StructType(
        [StructField("doc_id", StringType()), StructField("content", BinaryType())]
    )
    str_schema = StructType(
        [StructField("doc_id", StringType()), StructField("html", StringType())]
    )
    bdf = spark.createDataFrame([("d1", html.encode("latin-1"))], bytes_schema)
    sdf = spark.createDataFrame([("d1", html)], str_schema)

    from_bytes = extract_from_html_bytes(bdf).collect()[0]
    from_str = extract_from_html(sdf).collect()[0]

    assert from_bytes["title"] == from_str["title"]
    assert from_bytes["content_extracted"] is True
    b_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in from_bytes["spans"]]
    s_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in from_str["spans"]]
    assert b_spans == s_spans
    assert any("äöüß" in (t or "") for _, t, _, _ in b_spans)


def test_bytes_path_gzip_end_to_end(spark):
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from nreadspark.pipeline import extract_from_html_bytes

    html = PAGE.format(cs="utf-8")
    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("content", BinaryType()),
            StructField("cenc", StringType()),
        ]
    )
    df = spark.createDataFrame([("d1", gzip.compress(html.encode()), "gzip")], schema)
    out = extract_from_html_bytes(df, content_encoding_col="cenc").collect()[0]
    assert out["content_extracted"] is True
    assert out["title"]


def test_quoted_header_charset_and_meta_fallback_after_bad_header():
    from nreadspark.pipeline import decode_html_bytes

    body = "<html><body><p>ж</p></body></html>"  # cyrillic zhe
    raw = body.encode("cp1251")
    # quoted charset in the header (common real-HTTP form)
    assert decode_html_bytes(raw, 'text/html; charset="windows-1251"') == body
    # unusable header charset -> the meta tag must still be consulted
    meta_body = (
        '<html><head><meta http-equiv="Content-Type" '
        'content="text/html; charset=windows-1251" /></head>'
        "<body><p>ж</p></body></html>"
    )
    raw2 = meta_body.encode("cp1251")
    assert decode_html_bytes(raw2, "text/html; charset=bogus-enc") == meta_body


def test_undecodable_body_is_a_kernel_failure(spark):
    """A body the decoder cannot decode -- labelled gzip but not gzip -- is a
    failed row (``n_candidates`` -1, ``in_bytes`` of the raw body) that
    ``extraction_metrics`` counts, not an empty document."""
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from nreadspark.pipeline import extract_from_html_bytes, extraction_metrics

    raw = PAGE.format(cs="utf-8").encode()
    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("content", BinaryType()),
            StructField("cenc", StringType()),
        ]
    )
    df = spark.createDataFrame([("d1", raw, "gzip")], schema)
    out = extract_from_html_bytes(df, content_encoding_col="cenc")
    row = out.collect()[0]
    assert row["metrics"]["n_candidates"] == -1
    assert row["metrics"]["in_bytes"] == len(raw)
    assert row["content_extracted"] is False and row["spans"] == []
    assert extraction_metrics(out).collect()[0]["kernel_failures"] == 1


def _bytes_task_rows(bodies, max_doc_bytes):
    """The ``extract_from_html_bytes`` task over one in-process batch of
    ``(body, content_encoding)`` pairs, as rows."""
    import pyarrow as pa

    from nreadspark.pipeline import extract_from_html_bytes
    from tests.test_spark_pipeline import _CapturedCrossing

    n = len(bodies)
    batch = pa.RecordBatch.from_pydict(
        {
            "doc_id": [f"d{i}" for i in range(n)],
            "__bytes": pa.array([b for b, _ in bodies], pa.binary()),
            "__url": pa.array([None] * n, pa.string()),
            "__ctype": pa.array([None] * n, pa.string()),
            "__cenc": pa.array([enc for _, enc in bodies], pa.string()),
        }
    )
    task = extract_from_html_bytes(_CapturedCrossing(), max_doc_bytes=max_doc_bytes).task
    (out,) = task(iter([batch]))
    return out.to_pylist()


def _whole_body_rows(bodies, max_doc_bytes):
    """Rows from decoding each WHOLE body first, then the budget cut."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from nreadspark.pipeline import OUTPUT_SCHEMA, _extract_row, rows_to_batch

    rows = []
    for i, (body, enc) in enumerate(bodies):
        rows += _extract_row(f"d{i}", decode_html_bytes(body, None, enc), None, max_doc_bytes)
    return rows_to_batch(rows, to_arrow_schema(OUTPUT_SCHEMA)).to_pylist()


def _without_ms(rows):
    return [{**r, "metrics": {**r["metrics"], "ms": None}} for r in rows]


def test_deflate_bomb_inflates_only_as_far_as_the_budget(spark):
    """A gzip bomb under a 1000-byte budget: the row inflates a few KB,
    not the 16 MB body, and equals the row of the whole-body decode."""
    import tracemalloc

    bomb = gzip.compress(b"<html><body><p>" + b"a" * 16_000_000 + b"</p></body></html>")
    _bytes_task_rows([(gzip.compress(PAGE.format(cs="utf-8").encode()), "gzip")], 1000)
    tracemalloc.start()
    try:
        rows = _bytes_task_rows([(bomb, "gzip")], 1000)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 4_000_000, peak
    assert rows[0]["metrics"]["truncated"] is True
    assert _without_ms(rows) == _without_ms(_whole_body_rows([(bomb, "gzip")], 1000))


@pytest.mark.parametrize("max_doc_bytes", [None, 1000, 10_000])
def test_compressed_bodies_match_the_whole_body_decode(spark, max_doc_bytes):
    """gzip, zlib deflate, raw deflate and two-member gzip bodies, under
    and over the budget, give the rows of the whole-body decode; so does
    an ASCII page in UTF-32, whose 4 bytes per char and 4-byte BOM are the
    widest case the bounded inflate has to cover."""
    page = PAGE.format(cs="utf-8")
    big = page.replace("</div>", "<p>Ein Absatz über Größe.</p>" * 400 + "</div>").encode()
    co = zlib.compressobj(wbits=-15)
    raw_deflate = co.compress(big) + co.flush()
    ascii32 = (
        "<html><body><div><p>" + "plain ascii words, " * 600 + "</p></div></body></html>"
    ).encode("utf-32")
    bodies = [
        (gzip.compress(page.encode()), "gzip"),
        (gzip.compress(big), "gzip"),
        (zlib.compress(big), "deflate"),
        (raw_deflate, "deflate"),
        (gzip.compress(big[:7000]) + gzip.compress(big[7000:]), "x-gzip"),
        (gzip.compress(ascii32), "gzip"),
    ]
    got = _bytes_task_rows(bodies, max_doc_bytes)
    assert _without_ms(got) == _without_ms(_whole_body_rows(bodies, max_doc_bytes))
    assert all(r["content_extracted"] for r in got)
    if max_doc_bytes == 1000:
        assert all(r["metrics"]["truncated"] for r in got[1:])
