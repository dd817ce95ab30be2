"""WARC ingestion (nreadspark/warc.py): writer/parser round-trip (plain +
per-record gzip members), HTTP response splitting, malformed-record
containment with resync, and the Spark record-explode + extraction
composition with header-driven charset decode."""

import pytest

pyspark = pytest.importorskip("pyspark")

from nreadspark.warc import (  # noqa: E402
    build_http_response,
    build_warc,
    build_warc_record,
    iter_warc_records,
    parse_http_response,
)


PAGES = [
    (f"http://ex.com/p/{i}", f"<html><body><p>page {i} body</p></body></html>".encode(), "text/html")
    for i in range(4)
]


@pytest.mark.parametrize("gz", [False, True])
def test_round_trip(gz):
    blob = build_warc(PAGES, gzip_records=gz)
    recs = list(iter_warc_records(blob))
    # warcinfo + (request, response) per page, all error-free
    assert [h.get("warc-type") for h, _, e in recs] == (
        ["warcinfo"] + ["request", "response"] * 4
    )
    assert all(e is None for _, _, e in recs)
    responses = [(h, b) for h, b, _ in recs if h.get("warc-type") == "response"]
    for (h, block), (url, payload, _) in zip(responses, PAGES):
        assert h["warc-target-uri"] == url
        status, http_hdrs, got = parse_http_response(block)
        assert status == 200 and got == payload
        assert http_hdrs["content-type"] == "text/html"


def test_malformed_records_contained_with_resync():
    good = build_warc_record("response", build_http_response(b"<p>ok</p>"),
                             target_uri="http://ex.com/ok")
    # garbage prefix, then a record with a bad length, then a good record
    bad_len = good.replace(b"Content-Length: ", b"Content-Length: x", 1)
    blob = b"JUNKJUNK" + good + bad_len + good
    recs = list(iter_warc_records(blob))
    errors = [e for _, _, e in recs if e]
    oks = [(h, b) for h, b, e in recs if e is None]
    assert any("garbage" in e for e in errors)
    assert any("Content-Length" in e for e in errors)
    assert len(oks) == 2  # both good records still parsed


def test_truncated_block_is_flagged():
    good = build_warc_record("response", build_http_response(b"x" * 100),
                             target_uri="http://ex.com/t")
    recs = list(iter_warc_records(good[: len(good) // 2]))
    assert recs[-1][2] is not None and "truncated" in recs[-1][2]


def test_bare_body_block_passes_through():
    status, hdrs, payload = parse_http_response(b"<html>no http envelope</html>")
    assert status is None and hdrs == {} and payload.startswith(b"<html>")


def test_spark_record_explode_and_error_containment(spark):
    from nreadspark.warc import warc_records

    rows = [
        ("a", build_warc(PAGES[:2])),
        ("b", build_warc(PAGES[2:], gzip_records=True)),
        ("c", b"\x00\x01 not a warc at all"),
        ("d", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, warc binary")
    recs = warc_records(df).collect()
    by_doc = {}
    for r in recs:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len([r for r in by_doc["a"] if r["warc_type"] == "response"]) == 2
    assert len([r for r in by_doc["b"] if r["warc_type"] == "response"]) == 2
    assert all(r["error"] is None for r in by_doc["a"] + by_doc["b"])
    assert all(r["error"] is not None for r in by_doc["c"])  # garbage flagged
    assert "d" not in by_doc or all(r["error"] for r in by_doc["d"])


def test_blob_records_flush_in_bounded_batches():
    """A blob's records leave the task in batches of at most 512 rows, as a
    file's do: the blob source runs the same record loop, its task run
    in-process here."""
    import pyarrow as pa

    from nreadspark.warc import warc_records
    from tests.test_spark_pipeline import _CapturedCrossing

    blob = build_warc([(f"http://ex.com/{i}", b"<p>x</p>", "text/html") for i in range(700)])
    batch = pa.RecordBatch.from_pydict({"doc_id": ["a"], "warc": [blob]})
    out = list(warc_records(_CapturedCrossing()).task(iter([batch])))
    assert [b.num_rows for b in out] == [512, 512, 377]  # 1401 records
    rows = [r for b in out for r in b.to_pylist()]
    assert [r["record_idx"] for r in rows] == list(range(1401))
    assert all(r["error"] is None for r in rows)


def test_extract_warc_end_to_end_with_header_charset(spark):
    """Multi-record blobs through the full composition: HTTP-200 responses
    extracted under the HTTP-header charset (latin-1 'café' survives), 404
    responses and request/warcinfo records filtered, composite doc ids."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from nreadspark.warc import build_warc_record, extract_warc

    def page(i):
        return (
            f"<html><head><title>T{i} | Site</title></head><body>"
            f"<div id='content' class='post'><p>plenty of words here, with commas, "
            f"long enough to score as real content at the café {i}.</p>"
            f"<p>second paragraph, also long enough, with more commas {i}.</p>"
            f"</div></body></html>"
        ).encode("latin-1")

    def blob(i):
        ok = build_warc(
            [(f"http://ex.com/d/{i}", page(i), "text/html; charset=iso-8859-1")]
        )
        # append a 404 response record: must be filtered by status
        nf = build_warc_record(
            "response",
            b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n<p>nope</p>",
            target_uri=f"http://ex.com/missing/{i}",
        )
        return ok + nf

    rows = [(str(i), blob(i)) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id string, warc binary")
    out = extract_warc(df).collect()
    assert len(out) == 6  # one 200-response per blob; 404s filtered
    for r in out:
        assert r["doc_id"].endswith("#2")  # warcinfo=0, request=1, response=2
        assert r["content_extracted"]
        assert any("café" in (s["text"] or "") for s in r["spans"])


def test_non_response_records_keep_their_blocks(spark):
    """resource/conversion/warcinfo blocks must survive into the content
    column (the record table is the routing surface for non-HTML payloads)."""
    from nreadspark.warc import warc_records

    res = build_warc_record(
        "resource", b"PK\x03\x04 fake zip bytes", target_uri="http://ex.com/a.zip",
        content_type="application/zip",
    )
    info = build_warc_record(
        "warcinfo", b"software: x\r\n", content_type="application/warc-fields"
    )
    df = spark.createDataFrame([("a", info + res)], "doc_id string, warc binary")
    rows = {r["warc_type"]: r for r in warc_records(df).collect()}
    assert bytes(rows["resource"]["content"]) == b"PK\x03\x04 fake zip bytes"
    assert rows["resource"]["content_type"] == "application/zip"
    assert bytes(rows["warcinfo"]["content"]) == b"software: x\r\n"


def test_corrupt_gzip_member_keeps_good_prefix():
    """A flipped byte in a later gzip member must not lose the blob's valid
    leading records (and must not raise out of the iterator)."""
    from nreadspark.warc import _gzip_member

    good1 = build_warc_record("response", build_http_response(b"<p>one</p>"),
                              target_uri="http://ex.com/1")
    good2 = build_warc_record("response", build_http_response(b"<p>two</p>"),
                              target_uri="http://ex.com/2")
    m1, m2 = _gzip_member(good1), _gzip_member(good2)
    corrupted = m1 + m2[:10] + bytes([m2[10] ^ 0xFF]) + m2[11:]
    recs = list(iter_warc_records(corrupted))
    oks = [(h, b) for h, b, e in recs if e is None]
    errs = [e for _, _, e in recs if e]
    assert len(oks) == 1 and oks[0][0]["warc-target-uri"] == "http://ex.com/1"
    assert any("gzip" in e for e in errs)


# ---------------------------------------------------------------------------
# streaming parser + file-path source (round 6)
# ---------------------------------------------------------------------------


class _CountingReader:
    """File-like wrapper that counts compressed bytes actually pulled."""

    def __init__(self, blob: bytes):
        import io

        self._fh = io.BytesIO(blob)
        self.consumed = 0

    def read(self, n: int = -1) -> bytes:
        data = self._fh.read(n)
        self.consumed += len(data)
        return data


def _big_warc_gz(n_pages: int, body_bytes: int, compressible: bool = True) -> bytes:
    import random

    rng = random.Random(0)
    pages = []
    for i in range(n_pages):
        filler = (
            b"x" * body_bytes if compressible else rng.randbytes(body_bytes)
        )
        pages.append(
            (f"http://ex.com/{i}", b"<html><body><p>" + filler + b"</p></body></html>", "text/html")
        )
    return build_warc(pages, gzip_records=True)


def test_stream_parser_is_lazy_per_member():
    """Taking the FIRST records of a many-member .warc.gz must pull only a
    chunk-bounded prefix of the compressed stream -- the whole point of
    the per-member layout (a 1 GB crawl file must not inflate whole into
    task memory).  Incompressible bodies so the compressed file (~20 MB)
    dwarfs the parser's read chunk."""
    from nreadspark.warc import _READ_CHUNK, iter_warc_records_stream

    blob = _big_warc_gz(n_pages=100, body_bytes=200_000, compressible=False)
    assert len(blob) > 15 * _READ_CHUNK
    reader = _CountingReader(blob)
    it = iter_warc_records_stream(reader)
    for _ in range(5):  # warcinfo + 2 pages' request/response
        next(it)
    # 5 of 201 records: bounded by a few read chunks, not the file size
    assert reader.consumed <= 3 * _READ_CHUNK, (reader.consumed, len(blob))


def test_stream_parser_matches_eager_blob_parser():
    """Chunked streaming must yield byte-identical records to the
    in-memory path, including the malformed-record error rows."""
    from nreadspark.warc import iter_warc_records_stream

    good = build_warc(PAGES, gzip_records=True)
    mixed = (
        b"garbage prefix "
        + build_warc_record("response", build_http_response(b"<p>a</p>"), target_uri="http://e/1")
        + b"\x00\x01 mid garbage WAR"
        + build_warc_record("response", build_http_response(b"<p>b</p>"), target_uri="http://e/2")
    )
    for blob in (good, mixed):
        eager = list(iter_warc_records(blob))
        streamed = list(iter_warc_records_stream(_CountingReader(blob)))
        assert streamed == eager


def test_warc_path_source_end_to_end(spark, tmp_path):
    """warc_path_table lists without reading content; records stream out
    of the files; extract_warc_paths produces spans with <path>#<idx>
    ids."""
    from pyspark.sql import functions as F

    from nreadspark.warc import extract_warc_paths, warc_path_table, warc_records_from_paths

    d = tmp_path / "crawl"
    d.mkdir()
    for f in range(3):
        pages = [
            (f"http://ex.com/f{f}/p{i}",
             f"<html><body><p>file {f} page {i} content body here</p></body></html>".encode(),
             "text/html")
            for i in range(4)
        ]
        (d / f"part-{f}.warc.gz").write_bytes(build_warc(pages, gzip_records=True))

    paths = warc_path_table(spark, str(d))
    listed = paths.collect()
    assert len(listed) == 3 and all(r["size"] > 0 for r in listed)

    recs = warc_records_from_paths(paths)
    by_type = {r["warc_type"]: r["n"] for r in
               recs.groupBy("warc_type").agg(F.count("*").alias("n")).collect()}
    assert by_type == {"warcinfo": 3, "request": 12, "response": 12}
    assert recs.filter("error is not null").count() == 0

    out = extract_warc_paths(paths)
    rows = out.collect()
    assert len(rows) == 12
    for r in rows:
        path, _, idx = r["doc_id"].rpartition("#")
        assert path.endswith(".warc.gz") and idx.isdigit()
        text = " ".join(s["text"] for s in r["spans"] if s["kind"] == "text")
        assert "content body here" in text


def test_unsupported_scheme_is_contained(spark):
    """A path the worker can't open becomes an error ROW, not a task
    failure."""
    from nreadspark.warc import warc_records_from_paths

    df = spark.createDataFrame([("s3://bucket/f.warc.gz",)], "path string")
    rows = warc_records_from_paths(df).collect()
    assert len(rows) == 1 and "unsupported path scheme" in rows[0]["error"]


def test_stream_buffer_stays_bounded(tmp_path):
    """Parsing a multi-hundred-record multi-member file through the
    streaming parser must hold at most ~one record in the buffer: assert
    the parser's own peak buffer size, which is what bounds task RSS at
    the real ~1 GB file size (the heavyweight RSS soak lives in
    scratch/warc_stream_soak.py)."""
    import nreadspark.warc as W

    blob = _big_warc_gz(n_pages=300, body_bytes=30_000)  # ~9 MB decompressed
    path = tmp_path / "big.warc.gz"
    path.write_bytes(blob)

    peak = 0
    orig = W.iter_warc_records_stream

    def spying(stream):
        nonlocal peak
        gen = orig(stream)
        for rec in gen:
            frame = gen.gi_frame
            if frame is not None:
                peak = max(peak, len(frame.f_locals["buf"]))
            yield rec

    with open(path, "rb") as fh:
        n = sum(1 for _ in spying(fh))
    assert n == 601
    # one record is ~30 KB; whole-blob inflation would be ~9 MB
    assert peak < 1_200_000, peak


def test_run_warc_ingestion_with_per_file_resume(spark, tmp_path):
    """The crawl-ingestion job tier: glob -> streamed extraction ->
    bucketed output + manifests; resume recomputes exactly the missing
    buckets' FILES (the atomic crawl-store retry unit); a different file
    set recomputes everything (input fingerprint)."""
    import json
    import os

    from nreadspark.lineage import run_warc_ingestion

    d = tmp_path / "crawl"
    d.mkdir()
    for f in range(6):
        pages = [
            (f"http://ex.com/f{f}/p{i}",
             f"<html><body><p>ingest file {f} page {i} body with words</p></body></html>".encode(),
             "text/html")
            for i in range(5)
        ]
        (d / f"seg-{f}.warc.gz").write_bytes(build_warc(pages, gzip_records=True))
    out = str(tmp_path / "out")

    s1 = run_warc_ingestion(spark, str(d), out, n_buckets=4)
    assert s1["n_files"] == 6 and s1["buckets_skipped"] == 0
    assert s1["docs_computed"] == 30
    result = spark.read.parquet(out)
    assert result.count() == 30
    assert result.filter("content_extracted").count() == 30

    # full-resume: nothing recomputes
    s2 = run_warc_ingestion(spark, str(d), out, n_buckets=4)
    assert s2["buckets_computed"] == 0 and s2["buckets_skipped"] == s1["buckets_computed"]

    # delete one manifest -> exactly that bucket's files recompute
    manifests = sorted(
        p for p in os.listdir(os.path.join(out, "_lineage")) if p.startswith("bucket=")
    )
    victim = os.path.join(out, "_lineage", manifests[0])
    victim_docs = json.load(open(victim))["docs"]
    os.remove(victim)
    s3 = run_warc_ingestion(spark, str(d), out, n_buckets=4)
    assert s3["buckets_computed"] == 1
    assert s3["docs_computed"] == victim_docs
    assert spark.read.parquet(out).count() == 30  # dynamic overwrite: no dupes

    # a different file set must invalidate everything (fingerprint)
    (d / "seg-extra.warc.gz").write_bytes(
        build_warc([("http://ex.com/x", b"<html><body><p>extra page body words</p></body></html>", "text/html")],
                   gzip_records=True)
    )
    s4 = run_warc_ingestion(spark, str(d), out, n_buckets=4)
    assert s4["buckets_skipped"] == 0 and s4["n_files"] == 7
    assert spark.read.parquet(out).count() == 31


def test_inflate_bursts_are_bounded():
    """A single highly-compressible mega-member (bomb-shaped or just a
    huge record) must inflate in bounded bursts, never one giant
    allocation per compressed chunk."""
    import io

    import nreadspark.warc as W

    rec = build_warc_record("response", build_http_response(b"\x00" * (64 << 20)),
                            target_uri="http://ex.com/huge")
    member = W._gzip_member(rec)
    assert len(member) < (1 << 20)  # ~1000:1 -- the hazard shape
    sizes = [len(c) for c in W._iter_decompressed(io.BytesIO(member).read)]
    assert sum(sizes) == len(rec)
    assert max(sizes) <= W._MAX_INFLATE


def test_zero_row_files_still_commit_their_bucket(spark, tmp_path):
    """A crawl file with no extractable responses (warcinfo/request only)
    must still commit its bucket manifest -- otherwise every resume
    re-streams it forever."""
    from nreadspark.lineage import run_warc_ingestion

    d = tmp_path / "crawl"
    d.mkdir()
    # one normal file + one with zero 200-responses
    (d / "good.warc.gz").write_bytes(
        build_warc([("http://ex.com/p", b"<html><body><p>real page body words</p></body></html>", "text/html")],
                   gzip_records=True)
    )
    empty_records = build_warc_record(
        "warcinfo", b"software: x\r\n", content_type="application/warc-fields"
    ) + build_warc_record(
        "request", b"GET / HTTP/1.1\r\n\r\n",
        target_uri="http://ex.com/q",
        content_type="application/http;msgtype=request",
    )
    from nreadspark.warc import _gzip_member

    (d / "norsp.warc.gz").write_bytes(_gzip_member(empty_records))

    out = str(tmp_path / "out")
    s1 = run_warc_ingestion(spark, str(d), out, n_buckets=4)
    assert s1["docs_computed"] == 1
    # both files' buckets committed (possibly the same bucket)
    s2 = run_warc_ingestion(spark, str(d), out, n_buckets=4)
    assert s2["buckets_computed"] == 0  # nothing re-streams
    assert s2["buckets_skipped"] == s1["buckets_computed"]


def test_warc_parser_containment_fuzz():
    """Seeded mutation fuzz: the WARC iterators and the HTTP splitter
    must NEVER raise on corrupt bytes -- their contract is error rows /
    best-effort fields, and one bad record must not kill a task."""
    import io
    import random

    from nreadspark.warc import (
        _gzip_member,
        build_http_response,
        build_warc_record,
        iter_warc_records,
        iter_warc_records_stream,
        parse_http_response,
    )

    rng = random.Random(7)
    rec = build_warc_record(
        "response",
        build_http_response(b"<html><p>hi</p></html>", "text/html"),
        target_uri="http://a.com/x",
    )
    blob_plain = rec + build_warc_record(
        "warcinfo", b"software: x\r\n", content_type="application/warc-fields"
    )
    blob_gz = _gzip_member(rec) + _gzip_member(
        build_warc_record(
            "response", build_http_response(b"y" * 50, "text/plain"),
            target_uri="http://a.com/y",
        )
    )

    def mutate(base):
        raw = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            op = rng.randrange(3)
            if op == 0 and raw:
                raw[rng.randrange(len(raw))] = rng.randrange(256)
            elif op == 1 and len(raw) > 4:
                raw = raw[: rng.randrange(4, len(raw))]
            else:
                pos = rng.randrange(len(raw) + 1)
                raw = raw[:pos] + bytearray([rng.randrange(256)]) + raw[pos:]
        return bytes(raw)

    for _ in range(400):
        m = mutate(rng.choice([blob_plain, blob_gz]))
        list(iter_warc_records(m))
        list(iter_warc_records_stream(io.BytesIO(m)))
        parse_http_response(mutate(build_http_response(b"<p>x</p>" * 5, "text/html")))
