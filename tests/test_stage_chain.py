"""The curation jobs' stage chain (lineage.StageRunner): every stage's
checkpoint fingerprint, as its _layout.json records it, is pinned to the
values the hand-built chains committed, so existing checkpoints keep
resuming; and a finished media run is read back from its final marker
alone."""

import json
import pathlib

import pytest

pyspark = pytest.importorskip("pyspark")

GOOD = "the committee published a careful report, with several findings, and it ends well."

_KW = dict(
    min_words=5, minhash_threshold=0.5, line_min_repeats=4, line_delimiter=",",
    n_buckets=2, input_fingerprint="pin:text",
)

URL_HYGIENE = {
    "blocklist": "91ee5c02a785d49b7903d7fbaa6e4fe0",
    "url_cap": 2,
    "url_col": "url",
    "url_dedup": 1,
}
MODEL = "91a1d066e84576c61b5c11dd378169fe"


def _layout_params(out):
    """{stage: fingerprint} from every _layout.json under ``out``."""
    got = {}
    for path in pathlib.Path(out).rglob("_layout.json"):
        stage_dir = path.parent.parent
        stage = stage_dir.name if stage_dir.parent.name == "_stages" else "final"
        got[stage] = json.loads(path.read_text())["params"]
    return got


def _docs(spark):
    rows = [
        ("1", "http://a.org/x", GOOD + " contact alice@example.com please."),
        ("2", "http://spamfarm.biz/a", GOOD + " blocked."),
        ("3", "http://b.org/y", "a perfectly ordinary independent document, with words, ending."),
    ]
    return spark.createDataFrame(rows, "doc_id string, url string, text string")


def _media(spark):
    return spark.createDataFrame(
        [("doc://a", "document", b"%PDF"), ("doc://b", "document", b"???")],
        "media_ref string, media_kind string, payload binary",
    )


def test_default_text_chain_fingerprints_are_pinned(spark, tmp_path):
    from curate import curate_resumable

    out = str(tmp_path / "plain")
    curate_resumable(spark, _docs(spark).select("doc_id", "text"), out, **_KW)
    assert _layout_params(out) == {
        "quality": {"input": "pin:text", "min_words": 5, "text_col": "text"},
        "line_clean": {
            "input": "pin:text", "line_delimiter": ",", "line_min_repeats": 4,
            "min_words": 5, "text_col": "text",
        },
        "pairs": {
            "input": "pin:text", "line_delimiter": ",", "line_min_repeats": 4,
            "min_words": 5, "minhash_threshold": 0.5, "text_col": "text",
        },
        "final": {
            "input": "pin:text", "line_delimiter": ",", "line_min_repeats": 4,
            "min_words": 5, "minhash_threshold": 0.5, "text_col": "text",
        },
    }


def test_text_chain_with_every_optional_stage_is_pinned(spark, tmp_path):
    """url_hygiene's own fingerprint is the one stage not pinned: it now
    holds its knobs under one ``url_hygiene`` key, the form every stage
    after it always carried."""
    from curate import curate_resumable

    from nreadspark.ops.quality_model import QualityModel

    out = str(tmp_path / "all")
    curate_resumable(
        spark, _docs(spark), out,
        url_col="url", blocked_domains=["spamfarm.biz"], max_docs_per_domain=2,
        url_dedup=True,
        quality_model=QualityModel([0.0] * 16, bias=5.0, n_buckets=16),
        decontam_eval=spark.createDataFrame(
            [("e1", "held out phrase")], "eval_id string, text string"
        ),
        decontam_n=8, pii=True, **_KW,
    )
    got = _layout_params(out)
    assert set(got) == {
        "url_hygiene", "quality", "model_filter", "line_clean", "decontam",
        "pii_scrub", "pairs", "final",
    }
    del got["url_hygiene"]
    base = {"input": "pin:text", "url_hygiene": URL_HYGIENE}
    tail = {
        "decontam_n": 8, "eval": None, "line_delimiter": ",", "line_min_repeats": 4,
        "min_words": 5, "model": MODEL, "model_threshold": 0.0, "text_col": "text",
    }
    assert got == {
        "quality": {**base, "min_words": 5, "text_col": "text"},
        "model_filter": {
            **base, "min_words": 5, "model": MODEL, "model_threshold": 0.0,
            "text_col": "text",
        },
        "line_clean": {
            **base, "line_delimiter": ",", "line_min_repeats": 4, "min_words": 5,
            "model": MODEL, "model_threshold": 0.0, "text_col": "text",
        },
        "decontam": {**base, **tail},
        "pii_scrub": {**base, **tail, "pii": 1},
        "pairs": {**base, **tail, "pii": 1, "minhash_threshold": 0.5},
        "final": {**base, **tail, "pii": 1, "minhash_threshold": 0.5},
    }


def test_media_chain_fingerprints_are_pinned(spark, tmp_path):
    import curate_media as cm

    out = str(tmp_path / "media")
    cm.curate_media_resumable(spark, _media(spark), out, n_buckets=2, input_fingerprint="pin:media")
    pairs = {
        "input": "pin:media", "max_decode_pixels": 65536, "max_hamming": 3,
        "n_bands": 4, "which": "phash",
    }
    assert _layout_params(out) == {
        "hashes": {"input": "pin:media", "max_decode_pixels": 65536},
        "pairs": pairs,
        "final": pairs,
    }


def _jobs_of(spark, fn, group="stage_chain_resume"):
    """``(fn(), number of Spark jobs it scheduled)``.  Each test counts in
    a job group of its own: the status tracker keeps a group's jobs across
    calls."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_finished_media_run_reads_back_from_the_final_marker(spark, tmp_path):
    """A full resume returns the finished run's stats from the final
    marker: one re-read of the survivors, where re-reading every stage's
    checkpoint scheduled 2 jobs on this table."""
    import curate_media as cm

    media = _media(spark)
    out = str(tmp_path / "curated")
    kw = dict(n_buckets=2, input_fingerprint="t:finished")
    first = cm.curate_media_resumable(spark, media, out, **kw)
    again, n_jobs = _jobs_of(spark, lambda: cm.curate_media_resumable(spark, media, out, **kw))
    assert again["resumed_stages"] == ["hashes", "pairs", "final"]
    assert again["stage_wall_s"] == {}
    per_run = ("resumed_stages", "stage_wall_s")
    assert {k: v for k, v in again.items() if k not in per_run} == {
        k: v for k, v in first.items() if k not in per_run
    }
    assert again["decoder_counts"] == {"unsupported-kind": 2}
    assert again["final"] == {"n_survivors": 2}
    assert n_jobs < 2, n_jobs


def test_committed_stage_is_read_with_its_recorded_schema(spark, tmp_path):
    """Resuming a committed stage schedules no Spark job: its files are read
    with the schema its marker records, not a footer-inferred one.  A
    zero-row stage reads back empty with that schema too."""
    from pyspark.sql import functions as F

    from nreadspark.lineage import StageRunner

    stages = [("full", {"k": 1}), ("empty", {})]
    df = spark.createDataFrame(
        [(str(i), i * 1.5, [i]) for i in range(6)], "doc_id string, score double, ids array<int>"
    )

    def run(runner):
        full = runner.run("full", lambda: (df, {"docs": F.count("*")}))
        return full, runner.run("empty", lambda: (full.limit(0), {}))

    run(StageRunner(spark, str(tmp_path / "run"), stages, n_buckets=4))
    runner = StageRunner(spark, str(tmp_path / "run"), stages, n_buckets=4)
    (full, empty), n_jobs = _jobs_of(spark, lambda: run(runner), group="stage_read")
    assert runner.resumed_stages == ["full", "empty"]
    assert n_jobs == 0, n_jobs
    assert full.schema == df.schema and empty.schema == df.schema
    assert sorted(full.collect()) == sorted(df.collect())
    assert empty.count() == 0 and runner.stats["full"] == {"docs": 6}
