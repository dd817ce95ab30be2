"""Resumable MEDIA curation job: the multimodal twin of jobs/curate.py.

Input is a media table ``(media_ref, media_kind, payload)`` -- the shape
a crawl ingest writes next to its documents table.  The pipeline is the
oracle-checked operator chain from __spark_entry__.py:

1. ``hashes`` -- perceptual hashes per payload, routed by kind through
   the schema-identical kernels (image -> ``image_hashes``, video ->
   ``video_keyframe_hashes`` MJPEG/cover-art lift, audio ->
   ``audio_cover_hashes`` ID3 APIC lift); unknown kinds keep an
   ``unsupported-kind`` accounting row.  THE expensive stage (all the
   decode work) -- exactly what the bucket checkpoint protects.
2. ``pairs`` -- banded near-dup self-join on the chosen 64-bit hash
   (pigeonhole-exact for ``max_hamming < n_bands``).
3. ``final`` -- connected components -> canonical survivors; the output
   is the surviving rows of the hash table (undecodable/header-tier
   rows never pair, so they survive untouched -- counted, not dropped).

Every stage runs through ``lineage.StageRunner``, the stage runner the
text-curation job uses too: it commits under ``<output>/_stages/<stage>/``
with the same per-bucket manifests + atomic markers as the extraction
job's bucket writer, and derives each stage's fingerprint from the stage
table below: re-tuning ``max_hamming`` re-pays the pair join and
survivors but never the decode.  A finished run returns its stats from
the final marker without running any stage.

Stats: each stage reports its committed row count (``n_hashed``,
``n_pairs``, ``n_survivors``), counted in the runner's per-bucket
manifest aggregation and summed over every committed manifest, so it is
exact across a resume and costs no Spark job; ``decoder_counts`` is one
grouping of the committed hashes, run inside the ``final`` build.
``resumed_stages`` lists the stages loaded from checkpoint and
``stage_wall_s`` times only the stages this run computed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nreadspark import lineage


def curate_media_resumable(
    spark,
    media,
    output_path: str,
    which: str = "phash",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_decode_pixels: int = 1 << 16,
    n_buckets: int = 16,
    resume: bool = True,
    fail_after_stage: str | None = None,
    input_fingerprint: str | None = None,
) -> dict:
    """Run the 3-stage media dedup with per-stage bucketed checkpoints;
    returns the stats dict (per-stage rows/wall, per-decoder counts,
    resumed stages).  ``fail_after_stage`` ('hashes' | 'pairs' |
    'final') is the crash-injection hook the resume tests use; any other
    name is a ValueError before any work."""
    from nreadspark.ops.audio import audio_cover_hashes
    from nreadspark.ops.dedup import keep_canonical
    from nreadspark.ops.images import (
        HASH_SCHEMA,
        image_hashes,
        near_dup_image_pairs,
        video_keyframe_hashes,
    )

    runner = lineage.StageRunner(
        spark, output_path,
        [
            ("hashes", {"max_decode_pixels": max_decode_pixels}),
            ("pairs", {"which": which, "max_hamming": max_hamming, "n_bands": n_bands}),
            ("final", {}),
        ],
        n_buckets, resume, fail_after_stage,
        input_id=input_fingerprint if input_fingerprint is not None
        else lineage.input_fingerprint(media),
    )

    def result(stage_stats, resumed_stages):
        final = dict(stage_stats["final"])
        counts = final.pop("decoder_counts")
        return {
            "resumed_stages": resumed_stages, "stage_wall_s": runner.stage_wall_s,
            **stage_stats, "final": final, "decoder_counts": counts,
        }

    done = runner.committed("final")
    if done is not None:
        return result(done[1], list(runner.params))

    # --- stage 1: hashes (route by kind; the decode stage) ---------------
    def build_hashes():
        routed = [
            image_hashes(
                media.filter(F.col("media_kind") == "image"),
                max_decode_pixels=max_decode_pixels,
            ),
            video_keyframe_hashes(
                media.filter(F.col("media_kind") == "video"),
                max_decode_pixels=max_decode_pixels,
            ),
            audio_cover_hashes(
                media.filter(F.col("media_kind") == "audio"),
                max_decode_pixels=max_decode_pixels,
            ),
        ]
        nulls = [F.lit(None).cast(f.dataType).alias(f.name) for f in HASH_SCHEMA[1:-1]]
        other = media.filter(
            ~F.col("media_kind").isin("image", "video", "audio")
        ).select("media_ref", *nulls, F.lit("unsupported-kind").alias("decoder"))
        hdf = routed[0]
        for r in routed[1:] + [other]:
            hdf = hdf.unionByName(r)
        return hdf, {"n_hashed": F.count("*")}

    hdf = runner.run("hashes", build_hashes, id_col="media_ref")

    # --- stage 2: banded near-dup pairs ----------------------------------
    pairs = runner.run(
        "pairs",
        lambda: (
            near_dup_image_pairs(hdf, max_hamming=max_hamming, which=which, n_bands=n_bands),
            {"n_pairs": F.count("*")},
        ),
        id_col="ref_a",
    )

    # --- stage 3: survivors (final) ---------------------------------------
    def build_final():
        survivors = keep_canonical(
            hdf.select("media_ref"), pairs,
            id_col="media_ref", src_col="ref_a", dst_col="ref_b",
        )
        counts = hdf.groupBy("decoder").agg(F.count("*").alias("n")).collect()
        return hdf.join(survivors, "media_ref", "left_semi"), {
            "n_survivors": F.count("*"),
            "decoder_counts": {r["decoder"]: r["n"] for r in counts},
        }

    runner.run("final", build_final, id_col="media_ref")
    return result(runner.stats, runner.resumed_stages)
