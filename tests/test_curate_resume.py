"""Kill-and-resume for the curation job's per-stage, per-bucket lineage
(jobs/curate.py curate_resumable): a crash mid-pipeline must not re-pay
completed stages, stage stats must sum correctly across the resume, and a
partially-written stage must fill in only its missing buckets with no
duplicate or lost doc_ids (mirrors lineage.run_extraction's contract)."""

import os
import shutil
import sys

import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("curate-resume-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _docs(spark):
    body = (
        "this article has plenty of decent words, proper length, and it "
        "even terminates with punctuation."
    )
    rows = [
        ("1", "SUBSCRIBE NOW, " + body),
        ("2", "SUBSCRIBE NOW, " + body + " tiny tail."),
        ("3", "SUBSCRIBE NOW, " + body + " other tail."),
        ("4", "SUBSCRIBE NOW, a completely different story, told with other words, ends well."),
        ("5", "too short."),
        ("6", "this one has braces { code } and plenty of words to pass the length rule today."),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


_KW = dict(
    min_words=5, minhash_threshold=0.5, line_min_repeats=4,
    line_delimiter=",", n_buckets=4,
)


def _run(spark, docs, out, **kw):
    from curate import curate_resumable

    merged = {**_KW, **kw}
    return curate_resumable(spark, docs, out, **merged)


def test_kill_after_line_clean_resumes_without_recompute(spark, tmp_path, monkeypatch):
    docs = _docs(spark)

    # reference: one clean uninterrupted run
    ref_df, ref_stats = _run(spark, docs, str(tmp_path / "clean"))
    ref_ids = {r["doc_id"] for r in ref_df.select("doc_id").collect()}
    assert ref_ids == {"1", "4"}
    assert ref_stats["resumed_stages"] == []

    # crashed run: dies right after the line_clean stage marker commits
    out = str(tmp_path / "curated")
    with pytest.raises(RuntimeError, match="injected failure after stage line_clean"):
        _run(spark, docs, out, fail_after_stage="line_clean")
    assert os.path.isfile(os.path.join(out, "_stages", "quality", "_lineage", "_stage.json"))
    assert os.path.isfile(os.path.join(out, "_stages", "line_clean", "_lineage", "_stage.json"))
    assert not os.path.isdir(os.path.join(out, "_stages", "pairs"))

    # resume: completed stages must load from checkpoint -- poison their
    # operators so any recompute fails loudly
    import nreadspark.ops.dedup as dedup_mod
    import nreadspark.ops.textstats as textstats_mod

    def _boom(name):
        def _fail(*_a, **_k):
            raise AssertionError(f"{name} recomputed on resume")

        return _fail

    monkeypatch.setattr(textstats_mod, "c4_quality_filter", _boom("quality stage"))
    monkeypatch.setattr(dedup_mod, "line_dedup", _boom("line_clean stage"))
    got_df, got_stats = _run(spark, docs, out)

    assert got_stats.pop("resumed_stages") == ["quality", "line_clean"]
    ref_stats.pop("resumed_stages")
    # stage walls describe a particular run (resumed stages report none) --
    # the resumed run must have timed ONLY the stages it recomputed
    assert set(got_stats.pop("stage_wall_s")) == {"pairs", "final"}
    ref_stats.pop("stage_wall_s")
    assert got_stats == ref_stats  # summed identically across the resume
    assert {r["doc_id"] for r in got_df.select("doc_id").collect()} == ref_ids


def test_unknown_fail_after_stage_is_rejected_before_any_work(spark, tmp_path):
    """A crash hook naming no stage of this run (a typo) must fail up
    front, not run to completion and let a kill-and-resume test pass
    without ever crashing."""
    out = str(tmp_path / "curated")
    with pytest.raises(ValueError, match="line-clean"):
        _run(spark, _docs(spark), out, fail_after_stage="line-clean")
    assert not os.path.exists(out)


def test_partial_final_stage_fills_missing_buckets_only(spark, tmp_path):
    docs = _docs(spark)
    out = str(tmp_path / "curated")
    _, stats = _run(spark, docs, out)

    # simulate a crash mid-write of the FINAL stage: one bucket's manifest
    # + data vanish, and the stage marker (committed last) never landed
    lineage_dir = os.path.join(out, "_lineage")
    victims = [n for n in os.listdir(lineage_dir) if n.startswith("bucket=")]
    assert victims
    victim = victims[0]
    bucket = victim[len("bucket=") : -len(".json")]
    os.remove(os.path.join(lineage_dir, victim))
    shutil.rmtree(os.path.join(out, f"bucket={bucket}"), ignore_errors=True)
    os.remove(os.path.join(lineage_dir, "_stage.json"))

    survivors = {n for n in os.listdir(lineage_dir) if n.startswith("bucket=")}
    mtimes = {
        n: os.path.getmtime(os.path.join(lineage_dir, n)) for n in survivors
    }

    got_df, got_stats = _run(spark, docs, out)
    assert {r["doc_id"] for r in got_df.select("doc_id").collect()} == {"1", "4"}
    assert got_stats["surviving_docs"] == stats["surviving_docs"]
    # earlier stages loaded from checkpoint; final recomputed only the hole
    assert set(got_stats["resumed_stages"]) == {"quality", "line_clean", "pairs"}
    for n in survivors:  # intact bucket manifests were not rewritten
        assert os.path.getmtime(os.path.join(lineage_dir, n)) == mtimes[n]


def test_zero_pair_stage_resumes_from_empty_schema(spark, tmp_path):
    """A corpus with no near-duplicates commits a ZERO-row pairs stage;
    resume must rebuild the empty frame from the recorded schema (an empty
    partitioned parquet dir has nothing to infer from)."""
    rows = [
        ("a", "a genuinely unique article, with plenty of words, ending properly."),
        ("b", "another entirely different story, told at decent length, closing well."),
        ("c", "thirdly a separate report, containing its own words, finishing cleanly."),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = str(tmp_path / "curated")
    with pytest.raises(RuntimeError, match="injected failure after stage pairs"):
        _run(spark, docs, out, line_min_repeats=3, fail_after_stage="pairs")
    from nreadspark.lineage import completed_buckets

    # a zero-row stage still commits a manifest for every processed bucket
    assert completed_buckets(os.path.join(out, "_stages", "pairs")) == set(range(4))
    got_df, got_stats = _run(spark, docs, out, line_min_repeats=3)
    assert got_stats["near_dup_pairs"] == 0
    assert got_stats["resumed_stages"] == ["quality", "line_clean", "pairs"]
    assert {r["doc_id"] for r in got_df.collect()} == {"a", "b", "c"}


def test_no_resume_with_changed_buckets_cleans_stale_layout(spark, tmp_path):
    """Dynamic partition overwrite only replaces buckets present in the new
    data: a --no-resume rerun with a DIFFERENT --n-buckets must not leak
    the old layout's partitions/manifests into the re-read stage output."""
    docs = _docs(spark)
    out = str(tmp_path / "curated")
    _run(spark, docs, out, n_buckets=4)
    # sanity: the 4-bucket layout committed some bucket dirs
    old_buckets = {n for n in os.listdir(out) if n.startswith("bucket=")}
    assert old_buckets and max(int(b.split("=")[1]) for b in old_buckets) >= 2

    got_df, got_stats = _run(spark, docs, out, n_buckets=2, resume=False)
    assert {r["doc_id"] for r in got_df.select("doc_id").collect()} == {"1", "4"}
    assert got_stats["surviving_docs"] == 2
    # no stale 4-bucket partitions or manifests anywhere
    for stage_dir in [out] + [
        os.path.join(out, "_stages", s) for s in ("quality", "line_clean", "pairs")
    ]:
        for name in os.listdir(stage_dir):
            if name.startswith("bucket="):
                assert int(name.split("=")[1]) < 2, (stage_dir, name)
        lineage_dir = os.path.join(stage_dir, "_lineage")
        for name in os.listdir(lineage_dir):
            if name.startswith("bucket="):
                assert int(name[len("bucket=") : -len(".json")]) < 2, (stage_dir, name)

    # a RESUME against the new layout short-circuits on the final marker
    # (no stage recompute at all -- the full stats come from the marker)
    again_df, again_stats = _run(spark, docs, out, n_buckets=2)
    assert again_stats["resumed_stages"] == ["quality", "line_clean", "pairs", "final"]
    assert again_stats["surviving_docs"] == 2 and again_stats["input_docs"] == 6
    assert {r["doc_id"] for r in again_df.select("doc_id").collect()} == {"1", "4"}
    # while a mismatched n_buckets invalidates the markers and recomputes
    redo_df, redo_stats = _run(spark, docs, out, n_buckets=4)
    assert redo_stats["resumed_stages"] == []
    assert {r["doc_id"] for r in redo_df.select("doc_id").collect()} == {"1", "4"}


def test_clean_stages_removes_checkpoints_after_success(spark, tmp_path):
    docs = _docs(spark)
    out = str(tmp_path / "curated")
    got_df, got_stats = _run(spark, docs, out, clean_stages=True)
    assert {r["doc_id"] for r in got_df.select("doc_id").collect()} == {"1", "4"}
    assert got_stats["stages_cleaned"] is True
    assert not os.path.isdir(os.path.join(out, "_stages"))
    # the final output + its lineage survive untouched
    assert os.path.isfile(os.path.join(out, "_lineage", "_stage.json"))


def test_completed_job_short_circuits_after_stage_cleanup(spark, tmp_path, monkeypatch):
    """Rerunning a COMPLETED job (stages cleaned, final marker present)
    must return the committed survivors without recomputing anything --
    poison every stage operator to prove it."""
    docs = _docs(spark)
    out = str(tmp_path / "curated")
    _, first = _run(spark, docs, out, clean_stages=True)
    assert first["stages_cleaned"] is True

    import nreadspark.ops.dedup as dedup_mod
    import nreadspark.ops.textstats as textstats_mod

    for mod, name in [
        (textstats_mod, "c4_quality_filter"),
        (dedup_mod, "line_dedup"),
        (dedup_mod, "minhash_lsh_candidates"),
        (dedup_mod, "keep_canonical"),
    ]:
        monkeypatch.setattr(
            mod, name,
            lambda *a, _n=name, **k: (_ for _ in ()).throw(AssertionError(f"{_n} recomputed")),
        )
    got_df, got_stats = _run(spark, docs, out)
    assert got_stats["resumed_stages"] == ["quality", "line_clean", "pairs", "final"]
    assert got_stats["input_docs"] == 6 and got_stats["surviving_docs"] == 2
    assert {r["doc_id"] for r in got_df.select("doc_id").collect()} == {"1", "4"}


def test_markerless_crash_with_changed_buckets_recomputes_cleanly(spark, tmp_path):
    """A stage that crashed BEFORE its marker committed still recorded its
    bucket layout (_layout.json, committed before any data): resuming with
    a different --n-buckets must clean the partial old-layout buckets and
    recompute, not trust them as done."""
    docs = _docs(spark)
    out = str(tmp_path / "curated")
    with pytest.raises(RuntimeError, match="injected"):
        _run(spark, docs, out, n_buckets=4, fail_after_stage="quality")
    qdir = os.path.join(out, "_stages", "quality")
    # simulate the marker never landing (crash mid-commit): manifests stay
    os.remove(os.path.join(qdir, "_lineage", "_stage.json"))
    assert any(n.startswith("bucket=") for n in os.listdir(qdir))

    got_df, got_stats = _run(spark, docs, out, n_buckets=2)
    assert got_stats["resumed_stages"] == []  # nothing trusted
    assert got_stats["input_docs"] == 6
    assert {r["doc_id"] for r in got_df.select("doc_id").collect()} == {"1", "4"}
    # the quality stage was rebuilt under the new layout only
    for name in os.listdir(qdir):
        if name.startswith("bucket="):
            assert int(name.split("=")[1]) < 2, name


def test_changed_params_invalidate_checkpoints(spark, tmp_path):
    """A resume under different pipeline knobs must NOT trust checkpoints
    computed under the old ones: the layout/stage markers fingerprint the
    params, so changing min_words recomputes from scratch (no silent
    mixed-config corpus, and no stale short-circuit)."""
    docs = _docs(spark)
    out = str(tmp_path / "curated")
    _, first = _run(spark, docs, out)
    assert first["surviving_docs"] == 2

    # same output dir, stricter quality bar: doc 4 (12 words) now fails
    redo_df, redo = _run(spark, docs, out, min_words=13)
    assert redo["resumed_stages"] == []  # nothing trusted, incl. final
    assert redo["quality_dropped"] == 3  # docs 4, 5, 6
    assert {r["doc_id"] for r in redo_df.select("doc_id").collect()} == {"1"}

    # rerunning with the SAME new params short-circuits on the new marker
    again_df, again = _run(spark, docs, out, min_words=13)
    assert again["resumed_stages"] == ["quality", "line_clean", "pairs", "final"]
    assert {r["doc_id"] for r in again_df.select("doc_id").collect()} == {"1"}


def test_legacy_manifests_without_layout_marker_are_not_trusted(spark, tmp_path):
    """Bucket manifests with NO layout marker (a pre-layout-marker dir, or
    a deleted marker) have unverifiable bucketing: the resume must clean
    and recompute rather than trust them."""
    docs = _docs(spark)
    out = str(tmp_path / "curated")
    with pytest.raises(RuntimeError, match="injected"):
        _run(spark, docs, out, fail_after_stage="quality")
    qlineage = os.path.join(out, "_stages", "quality", "_lineage")
    os.remove(os.path.join(qlineage, "_layout.json"))
    os.remove(os.path.join(qlineage, "_stage.json"))
    assert any(n.startswith("bucket=") for n in os.listdir(qlineage))

    got_df, got = _run(spark, docs, out)
    assert "quality" not in got["resumed_stages"]
    assert {r["doc_id"] for r in got_df.select("doc_id").collect()} == {"1", "4"}


def test_short_circuit_honors_requested_stage_cleanup(spark, tmp_path):
    """Cleanup requested on a rerun of a completed job (run 1 kept stages)
    must still delete _stages/ -- the short-circuit path cleans too."""
    docs = _docs(spark)
    out = str(tmp_path / "curated")
    _run(spark, docs, out)  # clean_stages default False: stages kept
    assert os.path.isdir(os.path.join(out, "_stages"))
    _, stats = _run(spark, docs, out, clean_stages=True)
    assert stats["resumed_stages"][-1] == "final"
    assert stats["stages_cleaned"] is True
    assert not os.path.isdir(os.path.join(out, "_stages"))


def test_changed_input_invalidates_checkpoints(spark, tmp_path):
    """Rerunning into the same --output with a DIFFERENT input must
    recompute, not short-circuit on the final marker (or trust stage
    checkpoints) computed from the old corpus.  Input identity comes from
    the source-file listing (lineage.input_fingerprint) for parquet-backed
    frames."""
    in_a = str(tmp_path / "in_a")
    in_b = str(tmp_path / "in_b")
    _docs(spark).write.parquet(in_a)
    # corpus B: different doc set entirely
    spark.createDataFrame(
        [("7", "a fresh corpus, with brand new words, terminating nicely."),
         ("8", "another fresh document, also quite wordy, and it ends.")],
        "doc_id string, text string",
    ).write.parquet(in_b)

    out = str(tmp_path / "curated")
    df_a, stats_a = _run(spark, spark.read.parquet(in_a), out, clean_stages=False)
    assert {r["doc_id"] for r in df_a.select("doc_id").collect()} == {"1", "4"}

    # same output dir, new input: must NOT return corpus A's survivors
    df_b, stats_b = _run(spark, spark.read.parquet(in_b), out, clean_stages=False)
    assert stats_b["resumed_stages"] == []
    assert {r["doc_id"] for r in df_b.select("doc_id").collect()} == {"7", "8"}

    # unchanged input still short-circuits on the completed final marker
    df_b2, stats_b2 = _run(spark, spark.read.parquet(in_b), out, clean_stages=False)
    assert "final" in stats_b2["resumed_stages"]
    assert {r["doc_id"] for r in df_b2.select("doc_id").collect()} == {"7", "8"}


def test_run_extraction_changed_input_recomputes(spark, tmp_path):
    """lineage.run_extraction has the same input-identity gap closed: a
    resume pointed at a different input cleans and recomputes every bucket
    instead of skipping buckets committed from the old corpus."""
    from pyspark.sql import functions as F

    from nreadspark.corpus import build_corpus_df
    from nreadspark.lineage import run_extraction

    in_a = str(tmp_path / "ex_in_a")
    in_b = str(tmp_path / "ex_in_b")
    build_corpus_df(spark, 12, seed=1).write.parquet(in_a)
    build_corpus_df(spark, 20, seed=2).write.parquet(in_b)
    out = str(tmp_path / "ex_out")

    s1 = run_extraction(spark, spark.read.parquet(in_a), out, n_buckets=4)
    assert s1["docs_computed"] == 12
    # same input resumes: all buckets skip
    s2 = run_extraction(spark, spark.read.parquet(in_a), out, n_buckets=4)
    assert s2["buckets_skipped"] == s1["buckets_computed"] and s2["docs_computed"] == 0
    # different input: full recompute, output holds ONLY corpus B
    s3 = run_extraction(spark, spark.read.parquet(in_b), out, n_buckets=4)
    assert s3["buckets_skipped"] == 0 and s3["docs_computed"] == 20
    assert spark.read.parquet(out).select(F.count("*")).collect()[0][0] == 20
