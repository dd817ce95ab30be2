"""Spark-level tests: kernel-through-mapInPandas equality with direct Python,
skew partitioning, and checkpoint/resume lineage."""

import json
import os
import shutil

import pytest

pyspark = pytest.importorskip("pyspark")

from nreadspark import extract_document  # noqa: E402
from nreadspark.corpus import build_corpus_df, generate_document  # noqa: E402
from nreadspark.lineage import completed_buckets, run_extraction  # noqa: E402
from nreadspark.pipeline import extract, html_from_spans_col  # noqa: E402
from nreadspark.spans import spans_to_html  # noqa: E402

N_DOCS = 48


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("nreadspark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture(scope="module")
def corpus_df(spark):
    return build_corpus_df(spark, N_DOCS, num_partitions=4).cache()


def test_html_reassembly_matches_python(spark, corpus_df):
    rows = corpus_df.select("doc_id", "spans", html_from_spans_col().alias("html")).collect()
    assert len(rows) == N_DOCS
    for row in rows:
        spans = [s.asDict() for s in row["spans"]]
        assert row["html"] == spans_to_html(spans), row["doc_id"]


def test_spark_extraction_equals_local_kernel(spark, corpus_df):
    """The north-rule invariant: Spark output == direct-Python kernel output,
    row for row, span for span."""
    out = {r["doc_id"]: r for r in extract(corpus_df).collect()}
    assert len(out) == N_DOCS
    for i in range(N_DOCS):
        doc_id, spans, _family = generate_document(i)
        local = extract_document(spans_to_html(spans))
        row = out[doc_id]
        spark_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]
        ]
        local_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in local["spans"]
        ]
        assert spark_spans == local_spans, doc_id
        assert row["title"] == local["title"]
        assert row["content_extracted"] == local["content_extracted"]


def test_media_survival_through_spark(spark, corpus_df):
    out = extract(corpus_df).collect()
    media_docs = [
        r for r in out if any(s["kind"] in ("image", "embed") for s in r["spans"])
    ]
    assert media_docs, "interleaved_media family must keep media spans"
    for row in media_docs:
        for s in row["spans"]:
            if s["kind"] == "image":
                assert s["media_ref"].startswith("img://")


def test_extraction_plan_prunes_columns(spark, corpus_df, tmp_path):
    """Scan of a wide table must read only (doc_id, spans)."""
    wide = corpus_df.withColumn("noise", html_from_spans_col())
    path = str(tmp_path / "wide")
    wide.write.parquet(path)
    df = spark.read.parquet(path)
    plan = extract(df)._jdf.queryExecution().executedPlan().toString()
    assert "noise" not in plan.split("ReadSchema")[-1][:400]


def test_lineage_run_and_resume(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    df = build_corpus_df(spark, 32, num_partitions=4)

    summary1 = run_extraction(spark, df, out_dir, n_buckets=8)
    assert summary1["buckets_computed"] >= 1
    assert summary1["docs_computed"] == 32
    result1 = spark.read.parquet(out_dir)
    assert result1.count() == 32

    # full resume: nothing left to do
    summary2 = run_extraction(spark, df, out_dir, n_buckets=8)
    assert summary2["docs_computed"] == 0
    assert summary2["buckets_skipped"] == summary1["buckets_computed"]

    # simulate a crash: drop two bucket manifests + their data dirs
    victims = sorted(completed_buckets(out_dir))[:2]
    for b in victims:
        os.remove(os.path.join(out_dir, "_lineage", f"bucket={b}.json"))
        shutil.rmtree(os.path.join(out_dir, f"bucket={b}"), ignore_errors=True)

    summary3 = run_extraction(spark, df, out_dir, n_buckets=8)
    assert summary3["buckets_computed"] == len(victims)

    # no dup / no missing doc_ids after resume
    final = spark.read.parquet(out_dir)
    assert final.count() == 32
    assert final.select("doc_id").distinct().count() == 32

    # manifests carry metrics
    with open(os.path.join(out_dir, "_lineage", f"bucket={victims[0]}.json")) as fh:
        manifest = json.load(fh)
    assert manifest["docs"] >= 1
    assert "kernel_ms" in manifest and "in_bytes" in manifest


def test_poisoned_document_does_not_kill_job(spark):
    from nreadspark.pipeline import SPAN_TYPE
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("spans", ArrayType(SPAN_TYPE)),
        ]
    )
    rows = [
        ("ok", [("text", "<p>Fine, good, text here ok.</p>", None, 0)]),
        ("null_spans", [("text", None, None, 0)]),
        ("empty", []),
    ]
    df = spark.createDataFrame(rows, schema)
    out = {r["doc_id"]: r for r in extract(df).collect()}
    assert len(out) == 3
    assert out["empty"]["content_extracted"] is False
    assert out["null_spans"]["content_extracted"] is False


def _run_kernel(htmls):
    """The extraction kernel over one in-process batch, as rows."""
    import pyarrow as pa

    from nreadspark.pipeline import _extract_batches

    batch = pa.RecordBatch.from_pydict(
        {"doc_id": [f"d{i}" for i in range(len(htmls))], "__html": htmls}
    )
    (out,) = _extract_batches(iter([batch]))
    return out.to_pylist()


@pytest.mark.parametrize("appended", ["kind", "span"])
def test_failed_document_leaves_an_empty_row(monkeypatch, appended):
    """A document whose span emission raises after appending part of a span
    (``kind``) or a whole one (``span``) leaves an empty flagged row, and the
    documents around it keep their spans."""
    import nreadspark.spans as spans_mod

    paragraph = "<p>Paragraph {} of story {}, with words, commas, and text.</p>"
    htmls = [
        f"<html><head><title>Story {i}</title></head><body><div>"
        + "".join(paragraph.format(j, i) for j in range(6))
        + f'<img src="/img/{i}.png"></div></body></html>'
        for i in range(3)
    ]
    clean = _run_kernel(htmls)
    real = spans_mod.extract_spans_flat
    calls = []

    def poisoned(article_content, kinds, texts, refs, offs):
        calls.append(1)
        if len(calls) != 2:
            return real(article_content, kinds, texts, refs, offs)
        kinds.append("text")
        if appended == "span":
            texts.append("leaked")
            refs.append(None)
            offs.append(0)
        raise RuntimeError("poisoned span emission")

    monkeypatch.setattr(spans_mod, "extract_spans_flat", poisoned)
    rows = _run_kernel(htmls)
    assert rows[1]["spans"] == []
    assert rows[1]["metrics"]["n_candidates"] == -1
    assert rows[1]["title"] is None
    assert rows[1]["content_extracted"] is False
    assert rows[1]["next_page_url"] is None
    for i in (0, 2):
        assert rows[i]["spans"] == clean[i]["spans"] != []
        assert rows[i]["title"] == clean[i]["title"] == f"Story {i}"


def test_kernel_drops_cached_zip_finders(monkeypatch, tmp_path):
    """PySpark calls importlib.invalidate_caches() on every task; a cached
    zipimporter re-reads its whole archive then.  After an extraction task no
    zip finder is left to re-read, and the zip still imports."""
    import importlib
    import sys
    import zipfile
    import zipimport

    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/first.py", "VALUE = 1\n")
        zf.writestr("zpkg/second.py", "VALUE = 2\n")
    saved_cache = dict(sys.path_importer_cache)
    monkeypatch.syspath_prepend(str(archive))
    try:
        importlib.import_module("zpkg.first")
        _run_kernel(["<html><body><p>One paragraph of text, long enough.</p></body></html>"])

        rereads = []
        real = zipimport.zipimporter.invalidate_caches

        def counting(self):
            rereads.append(self.archive)
            return real(self)

        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counting)
        importlib.invalidate_caches()
        assert rereads == []
        assert importlib.import_module("zpkg.second").VALUE == 2
    finally:
        for name in ("zpkg", "zpkg.first", "zpkg.second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
