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
job's bucket writer, and each stage's params fold into every DOWNSTREAM
fingerprint: re-tuning ``max_hamming`` re-pays the pair join and
survivors but never the decode.
"""

from __future__ import annotations

import time

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
        spark, output_path, ("hashes", "pairs", "final"), n_buckets, resume,
        fail_after_stage,
    )
    if input_fingerprint is None:
        input_fingerprint = lineage.input_fingerprint(media)
    stats: dict = {"resumed_stages": [], "stage_wall_s": {}}
    hparams = {
        "input": input_fingerprint,
        "max_decode_pixels": max_decode_pixels,
    }

    def stage(name, params, build, id_col, rows_stat_key):
        t0 = time.perf_counter()
        df, stats[name], resumed = runner.run(
            name, params, lambda: (build(), {}), id_col=id_col,
            rows_stat_key=rows_stat_key,
        )
        if resumed:
            stats["resumed_stages"].append(name)
        stats["stage_wall_s"][name] = round(time.perf_counter() - t0, 3)
        return df

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
        return hdf

    hdf = stage("hashes", hparams, build_hashes, "media_ref", "n_hashed")
    stats["decoder_counts"] = {
        r["decoder"]: r["n"]
        for r in hdf.groupBy("decoder").agg(F.count("*").alias("n")).collect()
    }

    # --- stage 2: banded near-dup pairs ----------------------------------
    pparams = {**hparams, "which": which, "max_hamming": max_hamming, "n_bands": n_bands}
    pairs = stage(
        "pairs", pparams,
        lambda: near_dup_image_pairs(
            hdf, max_hamming=max_hamming, which=which, n_bands=n_bands
        ),
        "ref_a", "n_pairs",
    )

    # --- stage 3: survivors (final) ---------------------------------------
    def build_final():
        survivors = keep_canonical(
            hdf.select("media_ref"), pairs,
            id_col="media_ref", src_col="ref_a", dst_col="ref_b",
        )
        return hdf.join(survivors, "media_ref", "left_semi")

    stage("final", pparams, build_final, "media_ref", "n_survivors")
    return stats
