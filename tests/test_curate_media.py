"""Resumable media-curation job (jobs/curate_media.py): kind routing,
survivor semantics, kill-and-resume, and param-change invalidation."""

import pytest

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("curate-media-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _media(spark, tmp_path):
    """Mixed media table written to parquet (file lineage for the input
    fingerprint): 12 images + 12 videos + 12 audio + 2 unsupported rows;
    image/video/audio share bases mod 6, so cross-modality clusters
    exist by construction."""
    from pyspark.sql import functions as F

    from nreadspark.ops.audio import synthesize_id3_corpus
    from nreadspark.ops.images import (
        synthesize_jpeg_corpus,
        synthesize_mp4_corpus,
    )

    # corrupt/stub residues REACHABLE: doc 7 corrupt (7%29==7), doc 11
    # stub/opaque/wav (11%23==11) in every corpus
    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    img = synthesize_jpeg_corpus(docs, n_bases=6, corrupt_mod=29, progressive_mod=23)
    vid = synthesize_mp4_corpus(docs, n_bases=6, corrupt_mod=29, opaque_mod=23)
    aud = synthesize_id3_corpus(docs, n_bases=6, nocover_mod=29, wav_mod=23)
    media = (
        img.select("media_ref", F.lit("image").alias("media_kind"), "payload")
        .unionByName(vid.select("media_ref", F.lit("video").alias("media_kind"), "payload"))
        .unionByName(aud.select("media_ref", F.lit("audio").alias("media_kind"), "payload"))
        .unionByName(
            spark.createDataFrame(
                [("doc://a", "document", b"%PDF"), ("doc://b", "document", b"???")],
                "media_ref string, media_kind string, payload binary",
            )
        )
    )
    path = str(tmp_path / "media_src")
    media.write.parquet(path)
    return spark.read.parquet(path)


def test_curate_media_end_to_end_and_resume(spark, tmp_path):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "curate_media", "/root/repo/jobs/curate_media.py"
    )
    cm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cm)

    media = _media(spark, tmp_path)
    out = str(tmp_path / "curated")

    # crash right after the decode stage commits
    with pytest.raises(RuntimeError, match="injected failure"):
        cm.curate_media_resumable(
            spark, media, out, max_hamming=0, n_buckets=4,
            fail_after_stage="hashes",
        )
    stats = cm.curate_media_resumable(spark, media, out, max_hamming=0, n_buckets=4)
    # the decode stage must NOT be re-paid
    assert stats["resumed_stages"] == ["hashes"]
    dc = stats["decoder_counts"]
    assert dc["unsupported-kind"] == 2
    assert dc["pixels:jpeg"] == 10 and dc["keyframe:jpeg"] == 10 and dc["cover:jpeg"] == 10
    # every row is accounted for: 3*12 media + 2 unsupported
    assert stats["hashes"].get("n_hashed") == 38

    # survivor semantics: hashable rows collapse per base ACROSS
    # modalities; excluded tiers + unsupported rows all survive
    final = spark.read.parquet(out).drop("bucket")
    rows = final.collect()
    hashed = [r for r in rows if r["phash_hi"] is not None]
    bases = {(r["phash_hi"], r["phash_lo"]) for r in hashed}
    assert len(hashed) == len(bases)  # one survivor per duplicate cluster
    # each cross-modality cluster collapses to its lexically-first ref:
    # aud:// sorts before jpg:// and vid://
    assert len(hashed) == 6 and all(r["media_ref"].startswith("aud://") for r in hashed)
    # excluded tiers + unsupported rows all survive untouched
    tiers = {r["decoder"] for r in rows}
    assert {"unsupported-kind", "undecodable", "header:jpeg", "header:mp4",
            "no-cover", "no-id3"} <= tiers
    assert len(rows) == 6 + 8  # 6 cluster survivors + 8 unhashable rows

    # full resume: everything short-circuits
    stats2 = cm.curate_media_resumable(spark, media, out, max_hamming=0, n_buckets=4)
    assert set(stats2["resumed_stages"]) == {"hashes", "pairs", "final"}

    # re-tuning the radius re-pays pairs+final but never the decode
    stats3 = cm.curate_media_resumable(spark, media, out, max_hamming=2, n_buckets=4)
    assert stats3["resumed_stages"] == ["hashes"]


def test_unknown_fail_after_stage_is_rejected_before_any_work(spark, tmp_path):
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "curate_media",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "jobs", "curate_media.py"),
    )
    cm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cm)

    out = str(tmp_path / "curated")
    with pytest.raises(ValueError, match="hash"):
        cm.curate_media_resumable(
            spark, _media(spark, tmp_path), out, n_buckets=4, fail_after_stage="hash"
        )
    assert not os.path.exists(out)
