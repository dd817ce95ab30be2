"""CDX(J) index tier: SURT key parity (Python twin vs Spark column),
CDXJ parse containment, latest-capture fetch planning, and the
index-driven ranged WARC read end to end on real files."""

import json
import os
import zlib

import pytest

from nreadspark.cdx import build_cdxj_line, build_warc_with_index, surt_key

SURT_CASES = {
    "HTTP://www.Example.COM:80/Art/One?b=2&a=1#frag": "com,example)/art/one?a=1&b=2",
    "https://sub.Example.com/": "com,example,sub)/",
    "https://example.com/a//": "com,example)/a",
    "http://example.com/?utm_source=x&id=3": "com,example)/?id=3",
    "http://example.com:8080/x": "com,example:8080)/x",
    "https://example.com:443/x": "com,example)/x",
    "http://[2001:db8::1]:8080/x": "[2001:db8::1]:8080)/x",  # v6 literals don't reverse
    "http://u:p@host.org/X": "org,host)/x",
    "http://example.com/p#/route?q=1": "com,example)/p",  # '?' inside fragment
    "not a url": "not a url",
    "/relative/path": "/relative/path",
}


def test_surt_key_table():
    for url, want in SURT_CASES.items():
        assert surt_key(url) == want, url


def test_build_warc_with_index_offsets_are_exact():
    pages = [
        (f"http://s.com/p{i}", f"<html>{i}</html>".encode(), "text/html")
        for i in range(5)
    ]
    blob, lines = build_warc_with_index(pages, "f.warc.gz")
    assert len(lines) == 5
    for i, line in enumerate(lines):
        key, ts, blob_json = line.split(" ", 2)
        meta = json.loads(blob_json)
        member = blob[meta["offset"] : meta["offset"] + meta["length"]]
        rec = zlib.decompress(member, zlib.MAX_WBITS | 16)
        assert f"<html>{i}</html>".encode() in rec
        assert key == surt_key(meta["url"])


def test_surt_col_matches_python_twin(spark):
    """``surt_key_col`` equals the Python twin on the SURT table, the
    canonical-URL test's 200 generated messy URLs, and mixed-case param
    orders (params are lowercased BEFORE sorting, so ``?B=1&a=2`` keys as
    ``?a=2&b=1``)."""
    from pyspark.sql import Row
    from nreadspark.cdx import surt_key_col
    from tests.test_url_canonical import messy_urls

    urls = list(SURT_CASES) + ["http://u:p@host.org:8443/X/Y?z=1&a"] + messy_urls() + [
        "http://Ex.com/A?B=1&a=2",
        "http://ex.com/?B=1&a=2&UTM_x=3",
        "HTTP://WWW.EX.COM/X/Y/?Zeta=1&alpha=2&Fbclid=z#F",
        "https://ex.com:443/p?b&B&a=&A=1",
    ]
    df = spark.createDataFrame([Row(url=u) for u in dict.fromkeys(urls)])
    got = {r["url"]: r["urlkey"] for r in surt_key_col(df).collect()}
    assert got["http://ex.com/?B=1&a=2&UTM_x=3"] == "com,ex)/?a=2&b=1"
    for u in urls:
        assert got[u] == surt_key(u), u


def test_cdx_lines_parse_and_containment(spark):
    from pyspark.sql import Row
    from nreadspark.cdx import cdx_lines

    good = build_cdxj_line(
        "com,ex)/p", "20260101000000", "http://ex.com/p", "w.warc.gz", 10, 20
    )
    df = spark.createDataFrame(
        [Row(line=good), Row(line="brokenline"), Row(line="key ts {not json}")]
    )
    rows = {r["urlkey"]: r for r in cdx_lines(df).collect()}
    ok = rows["com,ex)/p"]
    assert not ok["cdx_error"]
    assert (ok["filename"], ok["offset"], ok["length"], ok["status"]) == (
        "w.warc.gz",
        10,
        20,
        200,
    )
    assert rows["brokenline"]["cdx_error"]
    assert rows["key"]["cdx_error"]


def test_plan_and_ranged_read_end_to_end(spark, tmp_path):
    from nreadspark.cdx import cdx_lines, plan_fetches, warc_records_from_ranges
    from pyspark.sql import Row, functions as F

    para = (
        "This is a long enough paragraph of article text, with commas, "
        "so the readability kernel scores it as real content rather than "
        "boilerplate chrome around the page. " * 3
    )
    pages = [
        (
            f"http://site{i % 3}.com/p{i}",
            f"<html><body><p>page {i} body. {para}</p></body></html>".encode(),
            "text/html",
        )
        for i in range(20)
    ]
    blob1, lines1 = build_warc_with_index(pages[:10], "w1.warc.gz")
    # w2 re-crawls p0 with a LATER timestamp: latest_only must pick w2
    blob2, lines2 = build_warc_with_index(
        [pages[0]] + pages[10:],
        "w2.warc.gz",
        timestamps=["20270101000000"]
        + [f"2026{(i % 12) + 1:02d}02000000" for i in range(10)],
    )
    (tmp_path / "w1.warc.gz").write_bytes(blob1)
    (tmp_path / "w2.warc.gz").write_bytes(blob2)
    ldf = spark.createDataFrame(
        [Row(line=l) for l in lines1 + lines2 + ["mangled"]]
    )
    cdx = cdx_lines(ldf)
    assert cdx.filter("cdx_error").count() == 1
    plan = plan_fetches(cdx, ["com,site0)"])
    rows = plan.collect()
    assert len(rows) == 7  # i % 3 == 0 for i in 0..19 -> 7 distinct urlkeys
    p0 = next(r for r in rows if r["urlkey"].endswith("/p0"))
    assert p0["filename"] == "w2.warc.gz" and p0["timestamp"] == "20270101000000"

    out = warc_records_from_ranges(plan, base_dir=str(tmp_path)).collect()
    assert len(out) == 7 and all(r["error"] is None for r in out)
    body = {r["target_uri"]: bytes(r["payload"]).decode() for r in out}
    assert body["http://site0.com/p0"].startswith("<html><body><p>page 0 body.")
    assert all(r["http_status"] == 200 for r in out)

    # containment: shifted offsets hit mid-member garbage, rows not tasks fail
    bad = plan.withColumn("offset", F.col("offset") + 7)
    badout = warc_records_from_ranges(bad, base_dir=str(tmp_path)).collect()
    assert len(badout) == 7 and all(r["error"] is not None for r in badout)

    # subdomain prefix semantics: "com,site0," selects subdomains only
    assert plan_fetches(cdx, ["com,site0,"]).count() == 0

    # the full index-driven path: plan -> ranged read -> extracted spans
    from nreadspark.cdx import extract_cdx_ranges

    spans = extract_cdx_ranges(plan, base_dir=str(tmp_path))
    srows = spans.collect()
    assert len(srows) == 7
    assert all(r["doc_id"].startswith(("w1.warc.gz#", "w2.warc.gz#")) for r in srows)
    texts = {r["doc_id"]: "".join(s["text"] or "" for s in r["spans"]) for r in srows}
    assert any("page 0 body" in t for t in texts.values())


def _ranged_rows(path, ranges):
    """Rows of ``warc_records_from_ranges`` over ``ranges`` of ``path``, its
    task run in-process, and the task's peak traced allocation in bytes."""
    import tracemalloc

    import pyarrow as pa

    from nreadspark.cdx import warc_records_from_ranges
    from tests.test_spark_pipeline import _CapturedCrossing

    batch = pa.RecordBatch.from_pydict(
        {
            "urlkey": ["k"] * len(ranges),
            "url": ["http://s.com/p"] * len(ranges),
            "filename": [str(path)] * len(ranges),
            "offset": [off for off, _ in ranges],
            "length": [length for _, length in ranges],
        }
    )
    task = warc_records_from_ranges(_CapturedCrossing()).task
    tracemalloc.start()
    try:
        (out,) = task(iter([batch]))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    return out.to_pylist(), peak


def test_ranged_read_stops_after_its_one_record(tmp_path):
    """A ranged read parses the member's first record and stops: a member
    whose record is followed by 64 MB of zeros (about 64 KB compressed --
    its length comes from the index, outside input) gives the same row as
    the bare record, without inflating the tail.  A plain (uncompressed)
    range parses too."""
    from nreadspark.warc import _gzip_member, build_http_response, build_warc_record

    payload = b"<html><body><p>ranged</p></body></html>"
    record = build_warc_record(
        "response", build_http_response(payload), target_uri="http://s.com/p"
    )
    co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    padded = co.compress(record) + b"".join(co.compress(bytes(1 << 20)) for _ in range(64))
    padded += co.flush()
    bare = _gzip_member(record)
    path = tmp_path / "r.warc.gz"
    path.write_bytes(bare + padded + record)
    ranges = [(0, len(bare)), (len(bare), len(padded)), (len(bare) + len(padded), len(record))]
    (row,), _ = _ranged_rows(path, ranges[:1])
    assert row["error"] is None and bytes(row["payload"]) == payload
    assert row["http_status"] == 200 and row["target_uri"] == "http://s.com/p"
    (tailed,), peak = _ranged_rows(path, ranges[1:2])
    assert {**tailed, "offset": 0} == {**row, "offset": 0}
    assert peak < 16 << 20, peak
    (plain,), _ = _ranged_rows(path, ranges[2:])
    assert {**plain, "offset": 0} == {**row, "offset": 0}
    # an index length far past the member bounds the bytes read, not a
    # buffer: 256 MB and 2^40 give the exact-length row in bounded memory
    for length in (256 << 20, 1 << 40):
        (over,), peak = _ranged_rows(path, [(0, length)])
        assert over == row
        assert peak < 16 << 20, (length, peak)


def test_schedule_frontier_politeness_slots(spark):
    """Per-domain quota: within any slot a domain never exceeds the
    quota; slot order is deterministic; other domains stay in slot 0."""
    from pyspark.sql import Row
    from nreadspark.cdx import schedule_frontier

    rows = [
        Row(urlkey=f"com,big)/p{i}", timestamp=f"2026010100000{i}", url=f"http://big.com/p{i}",
            filename="w", offset=i * 10, length=9)
        for i in range(5)
    ] + [
        Row(urlkey="com,small)/x", timestamp="20260101000000", url="http://small.com/x",
            filename="w", offset=100, length=9)
    ]
    df = spark.createDataFrame(rows)
    got = schedule_frontier(df, per_domain_per_slot=2).collect()
    by_domain_slot = {}
    for r in got:
        by_domain_slot.setdefault((r["domain"], r["slot"]), []).append(r["urlkey"])
    for (_, _), keys in by_domain_slot.items():
        assert len(keys) <= 2
    assert ("com,big", 2) in by_domain_slot  # 5 fetches at quota 2 -> 3 slots
    assert by_domain_slot[("com,small", 0)] == ["com,small)/x"]
    with pytest.raises(ValueError):
        schedule_frontier(df, per_domain_per_slot=0)


def test_wet_text_round_trip_and_lenient_decode(spark):
    """WET conversion records round-trip their text; an invalid byte
    becomes U+FFFD with utf8_valid=false instead of a task failure."""
    from pyspark.sql import Row
    from nreadspark.warc import build_warc_record, build_wet, wet_text

    good = build_wet([("http://a.com/1", "hello café"), ("http://a.com/2", "two")])
    bad = build_warc_record(
        "warcinfo", b"software: x\r\n", content_type="application/warc-fields"
    ) + build_warc_record(
        "conversion", "brok".encode() + b"\xff" + "en".encode(),
        target_uri="http://a.com/3", content_type="text/plain",
    )
    df = spark.createDataFrame(
        [Row(doc_id="g", warc=good), Row(doc_id="b", warc=bad)]
    )
    got = {r["doc_id"]: r for r in wet_text(df).collect()}
    assert got["g#1"]["text"] == "hello café" and got["g#1"]["utf8_valid"]
    assert got["g#2"]["text"] == "two"
    assert got["b#1"]["text"] == "brok�en"
    assert not got["b#1"]["utf8_valid"]
    assert got["b#1"]["url"] == "http://a.com/3"


def test_run_cdx_ingestion_with_per_file_resume(spark, tmp_path):
    """The index-driven job tier: CDXJ shards -> prefix plan -> ranged
    reads -> bucketed output + manifests; resume recomputes exactly the
    missing buckets' files; a different SELECTION recomputes everything
    (the fingerprint covers prefixes, not just the index listing)."""
    import json as _json
    import os

    from nreadspark.lineage import run_cdx_ingestion

    para = (
        "A long enough paragraph of article text, with commas, so the "
        "readability kernel keeps it as content. " * 3
    )
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    all_lines = []
    for f in range(6):
        pages = [
            (
                f"http://site{f}.com/p{i}",
                f"<html><body><p>file {f} page {i}. {para}</p></body></html>".encode(),
                "text/html",
            )
            for i in range(5)
        ]
        blob, lines = build_warc_with_index(pages, f"seg-{f}.warc.gz")
        (crawl / f"seg-{f}.warc.gz").write_bytes(blob)
        all_lines.extend(lines)
    idx = tmp_path / "index"
    idx.mkdir()
    (idx / "cdx-00000").write_text("\n".join(all_lines[:15]) + "\n")
    (idx / "cdx-00001").write_text("\n".join(all_lines[15:]) + "\n")
    out = str(tmp_path / "out")
    prefixes = [f"com,site{f})" for f in range(6)]

    s1 = run_cdx_ingestion(
        spark, str(idx), prefixes, out, warc_base_dir=str(crawl), n_buckets=4
    )
    assert s1["n_index_files"] == 2 and s1["buckets_skipped"] == 0
    assert s1["docs_computed"] == 30
    result = spark.read.parquet(out)
    assert result.count() == 30
    assert result.filter("content_extracted").count() == 30

    s2 = run_cdx_ingestion(
        spark, str(idx), prefixes, out, warc_base_dir=str(crawl), n_buckets=4
    )
    assert s2["buckets_computed"] == 0 and s2["buckets_skipped"] == 4

    manifests = sorted(
        p for p in os.listdir(os.path.join(out, "_lineage")) if p.startswith("bucket=")
    )
    victim = os.path.join(out, "_lineage", manifests[0])
    victim_docs = _json.load(open(victim))["docs"]
    os.remove(victim)
    s3 = run_cdx_ingestion(
        spark, str(idx), prefixes, out, warc_base_dir=str(crawl), n_buckets=4
    )
    assert s3["buckets_computed"] == 1
    assert s3["docs_computed"] == victim_docs
    assert spark.read.parquet(out).count() == 30

    # a narrower SELECTION is a different input: full recompute
    s4 = run_cdx_ingestion(
        spark, str(idx), ["com,site0)"], out, warc_base_dir=str(crawl), n_buckets=4
    )
    assert s4["buckets_skipped"] == 0
    assert s4["docs_computed"] == 5
    assert spark.read.parquet(out).count() == 5

    # a file: URI base dir opens through the file-path source's opener and
    # ingests every doc (not an error row per range committed as done)
    out_uri = str(tmp_path / "out_uri")
    s5 = run_cdx_ingestion(
        spark, str(idx), prefixes, out_uri, warc_base_dir=crawl.as_uri(), n_buckets=4
    )
    assert s5["docs_computed"] == 30
    assert spark.read.parquet(out_uri).filter("content_extracted").count() == 30


def test_plan_fetches_status_filter_and_all_captures(spark):
    from pyspark.sql import Row
    from nreadspark.cdx import cdx_lines, plan_fetches

    lines = [
        build_cdxj_line("com,a)/p", "20260101000000", "http://a.com/p", "w", 0, 9, status=404),
        build_cdxj_line("com,a)/p", "20260201000000", "http://a.com/p", "w", 9, 9),
        build_cdxj_line("com,a)/p", "20260301000000", "http://a.com/p", "w", 18, 9),
    ]
    cdx = cdx_lines(spark.createDataFrame([Row(line=l) for l in lines]))
    latest = plan_fetches(cdx, ["com,a)"]).collect()
    assert len(latest) == 1 and latest[0]["timestamp"] == "20260301000000"
    everything = plan_fetches(cdx, ["com,a)"], statuses=(), latest_only=False)
    assert everything.count() == 3


def test_plan_fetches_null_status_opt_in(spark):
    """Some CDXJ emitters omit 'status' on well-formed records; the
    default stays strict, include_null_status=True keeps those rows."""
    import json
    from pyspark.sql import Row
    from nreadspark.cdx import cdx_lines, plan_fetches

    no_status = "com,a)/q 20260101000000 " + json.dumps(
        {"url": "http://a.com/q", "filename": "w", "offset": 0, "length": 9}
    )
    lines = [
        build_cdxj_line("com,a)/p", "20260101000000", "http://a.com/p", "w", 0, 9),
        no_status,
    ]
    cdx = cdx_lines(spark.createDataFrame([Row(line=l) for l in lines]))
    assert cdx.filter("cdx_error").count() == 0  # well-formed, just no status
    strict = plan_fetches(cdx, ["com,a)"])
    assert {r["urlkey"] for r in strict.collect()} == {"com,a)/p"}
    lenient = plan_fetches(cdx, ["com,a)"], include_null_status=True)
    assert {r["urlkey"] for r in lenient.collect()} == {"com,a)/p", "com,a)/q"}


def test_run_crawl_planning_job_with_domain_bucket_resume(spark, tmp_path):
    """--plan-output promoted to the job surface (r7): CDXJ index (+
    sitemaps) -> slotted plan table + per-domain-bucket manifests;
    resume recomputes only missing buckets; changing the slot width is
    a different plan (fingerprint covers it)."""
    import json as _json
    import os

    from nreadspark.lineage import run_crawl_planning
    from nreadspark.sitemap import build_sitemap_xml

    idx = tmp_path / "index"
    idx.mkdir()
    lines = []
    for d in range(4):
        for i in range(4):
            # two captures for p0 (latest wins), one for the rest
            lines.append(build_cdxj_line(
                f"com,site{d})/p{i}", "20260101000000",
                f"http://site{d}.com/p{i}", f"seg-{d}.warc.gz", i * 100, 90))
        lines.append(build_cdxj_line(
            f"com,site{d})/p0", "20260301000000",
            f"http://site{d}.com/p0", f"seg-{d}x.warc.gz", 0, 90))
    (idx / "cdx-00000").write_text("\n".join(lines) + "\n")
    prefixes = [f"com,site{d})" for d in range(4)]

    # --- archival re-read mode -------------------------------------------
    out_a = str(tmp_path / "plan_archival")
    s1 = run_crawl_planning(spark, str(idx), prefixes, out_a, n_buckets=4)
    assert s1["mode"] == "archival" and s1["urls_planned"] == 16
    plan = spark.read.parquet(out_a)
    rows = {(r["urlkey"]): r for r in plan.collect()}
    assert rows["com,site1)/p0"]["timestamp"] == "20260301000000"  # latest
    # politeness: 4 urls per domain at slot width 1 -> slots 0..3
    assert plan.filter("domain = 'com,site2'").agg(
        {"slot": "max"}).collect()[0][0] == 3
    s2 = run_crawl_planning(spark, str(idx), prefixes, out_a, n_buckets=4)
    assert s2["buckets_computed"] == 0 and s2["buckets_skipped"] == 4

    # delete one manifest: exactly that domain bucket recomputes
    manifests = sorted(
        p for p in os.listdir(os.path.join(out_a, "_lineage"))
        if p.startswith("bucket=")
    )
    os.remove(os.path.join(out_a, "_lineage", manifests[0]))
    s3 = run_crawl_planning(spark, str(idx), prefixes, out_a, n_buckets=4)
    assert s3["buckets_computed"] == 1
    assert spark.read.parquet(out_a).count() == 16

    # a different slot width is a different plan: full recompute
    s4 = run_crawl_planning(
        spark, str(idx), prefixes, out_a, n_buckets=4, per_domain_per_slot=2
    )
    assert s4["buckets_skipped"] == 0
    plan4 = spark.read.parquet(out_a)
    assert plan4.agg({"slot": "max"}).collect()[0][0] == 1  # 4 urls / width 2

    # --- sitemap-refresh mode --------------------------------------------
    maps = tmp_path / "maps"
    maps.mkdir()
    for d in range(4):
        entries = [
            # p0: declared modified AFTER its latest capture
            (f"http://site{d}.com/p0", "2026-05-01"),
            # p1: declared older than its capture -> fresh, not planned
            (f"http://site{d}.com/p1", "2025-12-01"),
            # p9: never captured -> 'new'
            (f"http://site{d}.com/p9?a=1&b=2", None),
        ]
        (maps / f"site{d}.xml").write_text(build_sitemap_xml(entries))
    out_r = str(tmp_path / "plan_refresh")
    r1 = run_crawl_planning(
        spark, str(idx), prefixes, out_r,
        sitemap_glob=str(maps), n_buckets=4,
    )
    assert r1["mode"] == "refresh" and r1["n_sitemap_files"] == 4
    refresh = spark.read.parquet(out_r)
    reasons = {
        (r["urlkey"], r["reason"]) for r in refresh.collect()
    }
    for d in range(4):
        assert (f"com,site{d})/p0", "modified") in reasons
        # escaped '&amp;' in the sitemap decodes -> urlkey keeps the query
        assert (f"com,site{d})/p9?a=1&b=2", "new") in reasons
        assert not any(k == f"com,site{d})/p1" for k, _ in reasons)
    r2 = run_crawl_planning(
        spark, str(idx), prefixes, out_r,
        sitemap_glob=str(maps), n_buckets=4,
    )
    assert r2["buckets_computed"] == 0 and r2["buckets_skipped"] == 4
