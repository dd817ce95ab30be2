"""Extended curation pipeline (jobs/curate.py optional stages): the
model-filter and decontamination stages drop exactly the planted docs,
both stages checkpoint/resume like the core four, toggling a stage or
swapping the model invalidates downstream checkpoints, and the default
(no optional stages) path is byte-identical to before."""

import pytest

pyspark = pytest.importorskip("pyspark")


GOOD = "the committee published a careful report, with several findings, and it ends well."
SPAMMY = "casino bonus click now, free spins jackpot winner, subscribe subscribe now."
LEAK = "held out benchmark phrase alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"


def _docs(spark):
    rows = [
        ("1", GOOD),
        ("2", GOOD + " second copy differs a little."),
        ("3", SPAMMY),
        ("4", f"an otherwise fine document, {LEAK}, which ends politely."),
        ("5", "a perfectly ordinary independent document, with words, that also ends."),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def _train_model(spark):
    from nreadspark.ops.quality_model import train_quality_model

    labeled = spark.createDataFrame(
        [(i, GOOD + f" variant {i}.", 1) for i in range(8)]
        + [(100 + i, SPAMMY + f" variant {i}.", 0) for i in range(8)],
        "doc_id long, text string, label int",
    )
    return train_quality_model(labeled, n_buckets=256)


def _eval_df(spark):
    return spark.createDataFrame(
        [("e1", f"question about {LEAK} here")], "eval_id string, text string"
    )


def test_extended_stages_drop_planted_docs_and_resume(spark, tmp_path):
    from curate import curate_resumable

    model = _train_model(spark)
    kw = dict(
        min_words=5, minhash_threshold=0.5, line_min_repeats=4,
        line_delimiter=",", n_buckets=4,
        quality_model=model, decontam_eval=_eval_df(spark), decontam_n=8,
    )
    out = str(tmp_path / "curated")
    df, stats = curate_resumable(spark, _docs(spark), out, clean_stages=False, **kw)
    kept = {r["doc_id"] for r in df.select("doc_id").collect()}
    # 3 dropped by the model, 4 by decontamination, 2 by near-dup of 1
    assert kept == {"1", "5"}
    assert stats["model_dropped"] == 1
    assert stats["decontaminated_dropped"] == 1
    assert stats["resumed_stages"] == []

    # completed-job rerun short-circuits through ALL six stages
    df2, stats2 = curate_resumable(spark, _docs(spark), out, clean_stages=False, **kw)
    assert stats2["resumed_stages"] == [
        "quality", "model_filter", "line_clean", "decontam", "pairs", "final"
    ]
    assert {r["doc_id"] for r in df2.select("doc_id").collect()} == kept


def test_model_swap_invalidates_downstream(spark, tmp_path):
    """A different model must recompute (params fingerprint carries the
    weight hash), not reuse the old model_filter checkpoint."""
    from curate import curate_resumable

    from nreadspark.ops.quality_model import QualityModel

    kw = dict(min_words=5, minhash_threshold=0.5, line_min_repeats=4,
              line_delimiter=",", n_buckets=4)
    out = str(tmp_path / "curated")
    strict = _train_model(spark)
    _, s1 = curate_resumable(
        spark, _docs(spark), out, clean_stages=False,
        quality_model=strict, **kw,
    )
    assert s1["model_dropped"] == 1
    # keep-everything model: bias strongly positive, zero weights
    lax = QualityModel([0.0] * 256, bias=5.0, n_buckets=256)
    df2, s2 = curate_resumable(
        spark, _docs(spark), out, clean_stages=False,
        quality_model=lax, **kw,
    )
    # the rules-only quality stage is UPSTREAM of the model and resumes;
    # model_filter and everything after recompute under the new fingerprint
    assert s2["resumed_stages"] == ["quality"]
    assert s2["model_dropped"] == 0
    kept = {r["doc_id"] for r in df2.select("doc_id").collect()}
    assert "3" in kept  # the spammy doc survives the lax model


def test_kill_after_decontam_resumes_upstream_stages(spark, tmp_path):
    from curate import curate_resumable

    kw = dict(min_words=5, minhash_threshold=0.5, line_min_repeats=4,
              line_delimiter=",", n_buckets=4, decontam_eval=_eval_df(spark),
              decontam_n=8)
    out = str(tmp_path / "curated")
    with pytest.raises(RuntimeError, match="injected failure after stage decontam"):
        curate_resumable(
            spark, _docs(spark), out, fail_after_stage="decontam",
            clean_stages=False, **kw,
        )
    df, stats = curate_resumable(spark, _docs(spark), out, clean_stages=False, **kw)
    assert stats["resumed_stages"] == ["quality", "line_clean", "decontam"]
    assert "4" not in {r["doc_id"] for r in df.select("doc_id").collect()}


def test_default_path_unchanged_without_optional_stages(spark, tmp_path):
    from curate import curate_resumable

    kw = dict(min_words=5, minhash_threshold=0.5, line_min_repeats=4,
              line_delimiter=",", n_buckets=4)
    df, stats = curate_resumable(
        spark, _docs(spark), str(tmp_path / "plain"), clean_stages=False, **kw
    )
    assert "model_dropped" not in stats and "decontaminated_dropped" not in stats
    kept = {r["doc_id"] for r in df.select("doc_id").collect()}
    # without the model, the spammy doc survives (rules alone keep it);
    # without decontam, the leak doc survives
    assert {"3", "4"} <= kept


def test_plain_checkpoints_survive_the_optional_stage_upgrade(spark, tmp_path):
    """With both optional stages off, the params fingerprints are
    byte-identical to the 4-stage pipeline's: a completed plain run
    short-circuits on rerun even under the extended code path (and an
    idle model_threshold cannot invalidate anything)."""
    from curate import curate_resumable

    kw = dict(min_words=5, minhash_threshold=0.5, line_min_repeats=4,
              line_delimiter=",", n_buckets=4)
    out = str(tmp_path / "plain")
    _, s1 = curate_resumable(spark, _docs(spark), out, clean_stages=False, **kw)
    assert s1["resumed_stages"] == []
    _, s2 = curate_resumable(
        spark, _docs(spark), out, clean_stages=False, model_threshold=0.7, **kw
    )
    assert s2["resumed_stages"] == ["quality", "line_clean", "pairs", "final"]
    # the byte-identity claim, proven against the markers themselves: for a
    # lineage-less input no 'input' key joins the params chain at all, so
    # genuinely pre-fingerprint-era markers (which lack the key) match too
    import json as _json
    import pathlib

    markers = list(pathlib.Path(out).rglob("_layout.json"))
    assert markers
    for marker in markers:
        params = _json.loads(marker.read_text()).get("params", {})
        assert "input" not in params, marker


def test_pii_stage_scrubs_and_checkpoints(spark, tmp_path):
    """The optional pii_scrub stage redacts planted identifiers before the
    pair graph, reports per-category totals, resumes like every other
    stage, and its presence is fingerprint-gated (toggling it on
    invalidates only downstream)."""
    from curate import curate_resumable

    rows = [
        ("1", GOOD + " contact alice@example.com for details."),
        ("2", GOOD + " my ssn is 123-45-6789 sadly."),
        ("3", "a perfectly ordinary independent document, with words, ending."),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = str(tmp_path / "pii")
    kw = dict(min_words=5, minhash_threshold=0.9, line_min_repeats=100,
              line_delimiter=",", n_buckets=4, clean_stages=False)

    df, stats = curate_resumable(spark, docs, out, pii=True, **kw)
    assert stats["pii_redactions"]["emails"] == 1
    assert stats["pii_redactions"]["ssns"] == 1
    texts = {r["doc_id"]: r["text"] for r in df.collect()}
    assert "<EMAIL>" in texts["1"] and "alice@" not in texts["1"]
    assert "<SSN>" in texts["2"] and "123-45-6789" not in texts["2"]
    assert "pii_scrub" in stats["stage_wall_s"]

    # full rerun resumes every stage including pii_scrub
    _, s2 = curate_resumable(spark, docs, out, pii=True, **kw)
    assert "pii_scrub" in s2["resumed_stages"]

    # plain run into a DIFFERENT output has no pii keys anywhere
    _, s3 = curate_resumable(spark, docs, str(tmp_path / "plain"), **kw)
    assert "pii_redactions" not in s3


def test_pii_toggle_invalidates_only_downstream(spark, tmp_path):
    """Turning the pii stage ON over a completed plain run must resume
    quality/line_clean (their params are untouched) and recompute from
    the pii stage on."""
    from curate import curate_resumable

    docs = _docs(spark)
    out = str(tmp_path / "toggle")
    kw = dict(min_words=5, minhash_threshold=0.9, line_min_repeats=100,
              line_delimiter=",", n_buckets=4, clean_stages=False)
    _, s1 = curate_resumable(spark, docs, out, **kw)
    assert s1["resumed_stages"] == []
    _, s2 = curate_resumable(spark, docs, out, pii=True, **kw)
    assert s2["resumed_stages"] == ["quality", "line_clean"]
    assert "pii_redactions" in s2


def test_all_three_optional_stages_compose(spark, tmp_path):
    """model_filter + decontam + pii_scrub together: seven stages, each
    dropping/redacting exactly its planted target, full-resume green."""
    from curate import curate_resumable

    rows = [
        ("1", GOOD + " contact alice@example.com please."),
        ("2", GOOD + " a second fine doc that differs."),
        ("3", SPAMMY),                                        # model drops
        ("4", f"an otherwise fine document, {LEAK}, ending."),  # decontam drops
        ("5", "a perfectly ordinary independent document, with words, ending."),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = str(tmp_path / "all")
    kw = dict(min_words=5, minhash_threshold=0.9, line_min_repeats=100,
              line_delimiter=",", n_buckets=4, clean_stages=False,
              quality_model=_train_model(spark), decontam_eval=_eval_df(spark),
              decontam_n=8, pii=True)
    df, stats = curate_resumable(spark, docs, out, **kw)
    kept = {r["doc_id"]: r["text"] for r in df.collect()}
    assert "3" not in kept and "4" not in kept
    assert stats["model_dropped"] == 1 and stats["decontaminated_dropped"] == 1
    assert stats["pii_redactions"]["emails"] == 1
    assert "<EMAIL>" in kept["1"] and "alice@" not in kept["1"]
    assert set(stats["stage_wall_s"]) == {
        "quality", "model_filter", "line_clean", "decontam", "pii_scrub",
        "pairs", "final",
    }
    _, s2 = curate_resumable(spark, docs, out, **kw)
    assert s2["resumed_stages"] == [
        "quality", "model_filter", "line_clean", "decontam", "pii_scrub",
        "pairs", "final",
    ]


def test_url_hygiene_stage(spark, tmp_path):
    """r7 optional stage 0: blocklist + per-domain cap + canonical-URL
    dedup run FIRST; stats per sub-step; resume skips it; toggling the
    cap invalidates the whole chain (fingerprint folds downstream)."""
    from curate import curate_resumable

    texts = [
        "the committee reviewed seventeen budget proposals, and most were rejected early.",
        "a lighthouse keeper counts passing ships, logging weather and tides each evening.",
        "volcanic soil grows excellent coffee, though harvests vary with altitude and rain.",
        "the orchestra rehearsed the second movement, slowly, until the phrasing settled.",
        "migratory cranes rest at the shallow lake, feeding before the long northern leg.",
        "an old printing press still runs on market days, stamping posters and menus.",
        "glacier melt feeds the valley river, powering two small turbines downstream.",
        "the museum restored a merchant ship, plank by plank, over eleven patient years.",
        "night markets sell grilled squid and paper lanterns, closing well after midnight.",
        "a beekeeper splits strong hives in spring, selling nucleus colonies to neighbors.",
        "desert truck routes follow ancient caravan wells, marked by whitewashed cairns.",
    ]
    it = iter(texts)
    rows = []
    # 6 docs on a mega-domain (cap 2 keeps the 2 lowest doc_ids)
    for i in range(6):
        rows.append((f"{i}", f"http://megacorp.com/p{i}", next(it)))
    # 2 docs on a blocked domain
    rows.append(("10", "http://spamfarm.biz/a", next(it)))
    rows.append(("11", "http://sub.spamfarm.biz/b", next(it)))
    # canonical-URL duplicates (tracking params + default port)
    rows.append(("20", "http://ok.org/page?utm_source=x", next(it)))
    rows.append(("21", "http://OK.org:80/page", next(it)))
    # a plain survivor
    rows.append(("30", "http://fine.net/x", next(it)))
    docs = spark.createDataFrame(rows, "doc_id string, url string, text string")

    out = str(tmp_path / "cur")
    kept, stats = curate_resumable(
        spark, docs, out,
        n_buckets=4,
        input_fingerprint="t:urlhygiene",
        url_col="url",
        blocked_domains=["spamfarm.biz"],
        max_docs_per_domain=2,
        url_dedup=True,
    )
    ids = {r["doc_id"] for r in kept.collect()}
    # blocked domain gone (incl. subdomain via registrable-domain match);
    # megacorp capped to its 2 lowest ids; url dups collapsed to min id
    assert ids == {"0", "1", "20", "30"}
    assert stats["url_input_docs"] == 11
    assert stats["after_blocklist"] == 9
    assert stats["after_domain_cap"] == 5
    assert "url_hygiene" in stats["stage_wall_s"]

    # full resume: every stage incl. url_hygiene loads from checkpoint
    kept2, stats2 = curate_resumable(
        spark, docs, out,
        n_buckets=4,
        input_fingerprint="t:urlhygiene",
        url_col="url",
        blocked_domains=["spamfarm.biz"],
        max_docs_per_domain=2,
        url_dedup=True,
        clean_stages=False,
    )
    assert {r["doc_id"] for r in kept2.collect()} == ids
    assert "url_hygiene" in stats2["resumed_stages"]

    # changing the cap is a different plan: nothing resumes
    kept3, stats3 = curate_resumable(
        spark, docs, out,
        n_buckets=4,
        input_fingerprint="t:urlhygiene",
        url_col="url",
        blocked_domains=["spamfarm.biz"],
        max_docs_per_domain=3,
        url_dedup=True,
    )
    assert stats3["resumed_stages"] == []
    assert {r["doc_id"] for r in kept3.collect()} == ids | {"2"}
