"""Mega-document skew soak: a crawl tail's pathological documents (one
>=50 MB synthetic mega-doc plus a heavy 100 KB tail) must flow through the
extraction pipeline under Arrow batch caps without holding a task --
bounded by the ``max_doc_bytes`` truncate-with-flag budget -- while normal
documents in the same job stay byte-identical to an unguarded run.

The mega-doc is synthesized JVM-side (``repeat``), so the driver never
materializes it; the budget's JVM pre-chop means it never crosses the
exchange at full size either.
"""

import time

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

# generous wall ceiling for ONE truncated-to-1MB document's kernel time:
# the budget bounds the parse cost; without it the 50 MB doc would parse
# ~50x longer (and an unbounded tail doc, forever)
PER_DOC_MS_CEILING = 60_000.0
MEGA_BYTES = 50 * 1024 * 1024
BUDGET = 1024 * 1024

_CONFS = {
    "spark.sql.shuffle.partitions": "8",
    # cap Arrow batches so one batch cannot collect several tail docs
    "spark.sql.execution.arrow.maxRecordsPerBatch": "16",
}


@pytest.fixture(scope="module")
def spark(spark):
    # restore the shared session's values (conf.unset would fall back to
    # Spark's built-in defaults instead)
    saved = {k: spark.conf.get(k) for k in _CONFS}
    for k, v in _CONFS.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)


def _corpus(spark, n_normal=64):
    """n_normal ~1 KB docs + 8 heavy-tail ~100 KB docs + one 50 MB mega-doc,
    all as single-text-span documents built JVM-side."""
    para = "<p>This paragraph carries enough prose, plus some more words, to score properly.</p>"
    normal = spark.range(n_normal).select(
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("doc_id"),
        F.lit(12).alias("copies"),
    )
    tail = spark.range(8).select(
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("doc_id"),
        F.lit(100 * 1024 // len(para) + 1).alias("copies"),
    )
    mega = spark.range(1).select(
        F.lit("mega").alias("doc_id"),
        F.lit(MEGA_BYTES // len(para) + 1).alias("copies"),
    )
    docs = normal.unionByName(tail).unionByName(mega)
    html = F.concat(
        F.lit("<html><body><div id='main'>"),
        F.expr(f"repeat('{para}', copies)"),
        F.lit("</div></body></html>"),
    )
    return docs.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                html.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


def test_mega_doc_completes_within_budget(spark):
    from nreadspark.pipeline import extract, extraction_metrics, repartition_for_extraction

    docs = _corpus(spark)
    started = time.perf_counter()
    out = extract(repartition_for_extraction(docs), max_doc_bytes=BUDGET)
    rows = {r["doc_id"]: r for r in out.collect()}
    wall_s = time.perf_counter() - started

    # (a) the job completed; every document produced a row
    assert len(rows) == 64 + 8 + 1

    # (b) the mega-doc was truncated to the byte budget and still extracted
    mega = rows["mega"]
    assert mega["metrics"]["truncated"] is True
    assert mega["metrics"]["in_bytes"] <= BUDGET
    assert mega["metrics"]["ms"] <= PER_DOC_MS_CEILING
    assert mega["content_extracted"] and len(mega["spans"]) > 0

    # (c) nothing else was flagged, and the whole battery respected the
    # per-doc ceiling (the tail parses whole -- it is under the budget)
    for doc_id, r in rows.items():
        if doc_id != "mega":
            assert r["metrics"]["truncated"] is False, doc_id
        assert r["metrics"]["ms"] <= PER_DOC_MS_CEILING, doc_id
    assert wall_s < 300, f"soak took {wall_s:.0f}s -- a task stalled"

    m = extraction_metrics(out).collect()[0]
    assert m["docs_truncated"] == 1
    assert m["docs"] == 73


def test_budget_does_not_change_normal_docs(spark):
    """Guarded and unguarded runs are span-identical for documents under
    the budget -- the flag contract is 'truncated rows are marked, all
    other rows are untouched'."""
    from nreadspark.pipeline import extract

    docs = _corpus(spark, n_normal=16).filter(F.col("doc_id") != "mega")
    plain = {r["doc_id"]: r for r in extract(docs).collect()}
    guarded = {r["doc_id"]: r for r in extract(docs, max_doc_bytes=BUDGET).collect()}
    assert set(plain) == set(guarded)
    for doc_id in plain:
        assert guarded[doc_id]["metrics"]["truncated"] is False
        assert plain[doc_id]["spans"] == guarded[doc_id]["spans"], doc_id
        assert plain[doc_id]["title"] == guarded[doc_id]["title"]


def test_exact_byte_truncation_no_mojibake(spark):
    """Truncation lands on a UTF-8 boundary (errors='ignore' on the byte
    slice): a multibyte-heavy document must not gain replacement chars."""
    from nreadspark.pipeline import extract_from_html

    body = "<html><body><p>" + "日本語テキスト" * 40_000 + "</p></body></html>"
    df = spark.createDataFrame([("cjk", body)], "doc_id string, html string")
    budget = 100_000
    row = extract_from_html(df, max_doc_bytes=budget).collect()[0]
    assert row["metrics"]["truncated"] is True
    assert row["metrics"]["in_bytes"] <= budget
    text = "".join(s["text"] or "" for s in row["spans"])
    assert "�" not in text
    assert "日本語" in text
