"""Perceptual image hashing (ops/images.py): integer-exact hash math vs
brute-force recomputation, the encode->decode round trip, containment
tags, the 4-band hamming guarantee, and the Bloom-prefiltered
cross-snapshot dedup's output equality with the exact op."""

import pytest

from nreadspark.ops.images import (
    GRID,
    ahash64,
    encode_gray_png,
    ghash64,
    synth_pixel,
)
from nreadspark.ops.multimodal import png_luma_milli


def _lumas(base: int, size: int = 16):
    return [
        synth_pixel(base, x, y) * 1000 for y in range(size) for x in range(size)
    ]


def _brute_bits(w, h, lumas):
    """Independent recomputation of block sums + both bit rules."""
    sums = [0] * 64
    counts = [0] * 64
    for y in range(h):
        for x in range(w):
            j = (y * GRID // h) * GRID + (x * GRID // w)
            sums[j] += lumas[y * w + x]
            counts[j] += 1
    total, n = sum(sums), w * h
    abits = [1 if sums[j] * n > total * counts[j] else 0 for j in range(64)]
    gbits = []
    for j in range(64):
        nj = (j // GRID) * GRID + ((j % GRID) + 1) % GRID
        gbits.append(1 if sums[j] * counts[nj] > sums[nj] * counts[j] else 0)
    return abits, gbits


def _unpack(hi, lo):
    return [(lo >> j) & 1 for j in range(32)] + [(hi >> j) & 1 for j in range(32)]


def test_round_trip_and_luma_consistency():
    """encode_gray_png -> png_luma_milli recovers the exact pixels, and
    the feature tier's mean ``sum(lumas) / 1000 / (w*h)`` is exactly the
    pixels' mean."""
    size = 16
    for base in (0, 5, 42, 96):
        px = bytes(
            synth_pixel(base, x, y) for y in range(size) for x in range(size)
        )
        raw = encode_gray_png(size, size, px)
        w, h, lumas = png_luma_milli(raw)
        assert (w, h) == (size, size)
        assert lumas == [p * 1000 for p in px]
        assert sum(lumas) / 1000 / (size * size) == sum(px) / (size * size)


def test_hash_bits_match_brute_force_including_odd_sizes():
    """ahash64/ghash64 equal an independent bit-by-bit recomputation,
    including non-divisible (floor-mapped) sizes."""
    for w, h in ((16, 16), (8, 8), (10, 12), (9, 17)):
        lumas = [
            synth_pixel(3, x, y) * 1000 + (x * y) % 7 for y in range(h) for x in range(w)
        ]
        abits, gbits = _brute_bits(w, h, lumas)
        assert _unpack(*ahash64(w, h, lumas)) == abits
        assert _unpack(*ghash64(w, h, lumas)) == gbits


def test_hash_halves_are_int32_range():
    for base in range(0, 97, 7):
        for v in ahash64(16, 16, _lumas(base)) + ghash64(16, 16, _lumas(base)):
            assert 0 <= v < 2**32


def test_identical_pixels_identical_hash_and_local_edit_is_near():
    """Same pixels -> same hash; saturating ONE 2x2 block whose bit was 0
    flips that bit but leaves the hash within a few bits -- the property
    that makes the hash 'perceptual'."""
    a = ahash64(16, 16, _lumas(7))
    assert a == ahash64(16, 16, _lumas(7))
    abits = _unpack(*a)
    j = abits.index(0)  # a below-mean block
    by, bx = j // 8, j % 8
    bumped = _lumas(7)
    for dy in range(2):
        for dx in range(2):
            bumped[(by * 2 + dy) * 16 + (bx * 2 + dx)] = 255_000
    c = ahash64(16, 16, bumped)
    cbits = _unpack(*c)
    assert cbits[j] == 1  # the edited block crossed the mean
    hamming = sum(x != y for x, y in zip(abits, cbits))
    assert 1 <= hamming <= 8


def test_image_hashes_kernel_and_containment(spark):
    """Spark kernel hashes match the pure-Python twins; corrupt payloads
    and oversized images take their tags with NULL hashes, not failures."""
    from pyspark.sql import Row
    from nreadspark.ops.images import image_hashes

    rows = []
    for base in (1, 2, 1):  # base 1 twice -> identical hashes
        px = bytes(synth_pixel(base, x, y) for y in range(16) for x in range(16))
        rows.append(Row(media_ref=f"img://{len(rows)}", payload=encode_gray_png(16, 16, px)))
    rows.append(Row(media_ref="img://corrupt", payload=rows[0].payload[:16]))
    rows.append(Row(media_ref="img://big", payload=encode_gray_png(300, 300, bytes(300 * 300))))
    rows.append(Row(media_ref="img://tiny", payload=encode_gray_png(4, 4, bytes(16))))
    df = spark.createDataFrame(rows)
    got = {r["media_ref"]: r for r in image_hashes(df, max_decode_pixels=1 << 16).collect()}
    assert got["img://corrupt"]["decoder"] == "undecodable"
    assert got["img://corrupt"]["ahash_hi"] is None
    assert got["img://big"]["decoder"] == "capped"
    assert got["img://big"]["width"] == 300  # IHDR dims read O(1) pre-cap
    assert got["img://tiny"]["decoder"] == "too-small"
    for i, base in ((0, 1), (1, 2), (2, 1)):
        r = got[f"img://{i}"]
        assert r["decoder"] == "pixels:png"
        assert (r["ahash_hi"], r["ahash_lo"]) == ahash64(16, 16, _lumas(base))
        assert (r["ghash_hi"], r["ghash_lo"]) == ghash64(16, 16, _lumas(base))
    assert (got["img://0"]["ahash_hi"], got["img://0"]["ahash_lo"]) == (
        got["img://2"]["ahash_hi"],
        got["img://2"]["ahash_lo"],
    )


def test_near_dup_pairs_band_guarantee(spark):
    """Crafted hash rows: hamming 0 and 3 pairs are returned (even when
    the 3 differing bits span 3 DIFFERENT bands), a hamming-4 pair is
    not; NULL rows are ignored; max_hamming>3 is rejected."""
    from pyspark.sql import Row
    from nreadspark.ops.images import near_dup_image_pairs

    base_hi, base_lo = 0x12345678, 0x0BCDEF01
    rows = [
        Row(media_ref="a", ahash_hi=base_hi, ahash_lo=base_lo),
        Row(media_ref="b", ahash_hi=base_hi, ahash_lo=base_lo),  # hamming 0
        # hamming 3, one bit in each of bands 0 (lo bit 0), 1 (lo bit 16),
        # 2 (hi bit 0) -- only band 3 agrees
        Row(media_ref="c", ahash_hi=base_hi ^ 1, ahash_lo=base_lo ^ 1 ^ (1 << 16)),
        # hamming 4 from 'a': one bit per band -> no band agrees AND the
        # exact filter would reject it anyway
        Row(
            media_ref="d",
            ahash_hi=base_hi ^ 1 ^ (1 << 16),
            ahash_lo=base_lo ^ 1 ^ (1 << 16),
        ),
        Row(media_ref="e", ahash_hi=None, ahash_lo=None),
    ]
    df = spark.createDataFrame(rows)
    pairs = {
        (r["ref_a"], r["ref_b"]): r["hamming"]
        for r in near_dup_image_pairs(df, max_hamming=3).collect()
    }
    assert pairs[("a", "b")] == 0
    assert pairs[("a", "c")] == 3
    assert pairs[("b", "c")] == 3
    assert ("a", "d") not in pairs
    assert not any("e" in p for p in pairs)
    with pytest.raises(ValueError):
        near_dup_image_pairs(df, max_hamming=4)
    with pytest.raises(ValueError):
        near_dup_image_pairs(df, max_hamming=3, n_bands=3)


def test_near_dup_pairs_wider_radius_with_more_bands(spark):
    """n_bands=8 -> exact for hamming <= 7: a pair with 7 differing bits
    spread across 7 DIFFERENT 8-bit bands (only band 7 agrees) is found."""
    from pyspark.sql import Row
    from nreadspark.ops.images import near_dup_image_pairs

    base_hi, base_lo = 0x0A0B0C0D, 0x01020304
    # flip bit 0 of each of the 8-bit bands 0..6 (bands 0..3 in lo, 4..6 in hi)
    flip_lo = (1 << 0) | (1 << 8) | (1 << 16) | (1 << 24)
    flip_hi = (1 << 0) | (1 << 8) | (1 << 16)
    rows = [
        Row(media_ref="a", ahash_hi=base_hi, ahash_lo=base_lo),
        Row(media_ref="b", ahash_hi=base_hi ^ flip_hi, ahash_lo=base_lo ^ flip_lo),
    ]
    df = spark.createDataFrame(rows)
    got = near_dup_image_pairs(df, max_hamming=7, n_bands=8).collect()
    assert len(got) == 1 and got[0]["hamming"] == 7
    # at 4x16-bit bands every band differs -> valid radii can't reach 7
    assert near_dup_image_pairs(df, max_hamming=3, n_bands=4).count() == 0


def test_synthesized_corpus_plants_dup_clusters(spark):
    """synthesize_png_corpus: same doc_id % n_bases -> identical hashes;
    corrupt rows are contained."""
    from nreadspark.ops.images import image_hashes, synthesize_png_corpus

    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    hdf = image_hashes(synthesize_png_corpus(docs, n_bases=10, corrupt_mod=29))
    got = {r["media_ref"]: r for r in hdf.collect()}
    assert got["img://7"]["decoder"] == "undecodable"  # 7 % 29 == 7
    assert (got["img://3"]["ahash_hi"], got["img://3"]["ahash_lo"]) == (
        got["img://13"]["ahash_hi"],
        got["img://13"]["ahash_lo"],
    )


def test_bloom_dedup_matches_exact(spark):
    """dedup_against_reference_bloom == dedup_against_reference, even with
    a deliberately undersized filter (bits_per_key=1, n_probes=1: heavy
    false-positive load only routes rows through the exact join)."""
    from pyspark.sql import functions as F
    from nreadspark.ops.dedup import (
        dedup_against_reference,
        dedup_against_reference_bloom,
    )

    corpus = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document body "), (F.col("id") % 120).cast("string")).alias(
            "text"
        ),
    )
    reference = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("  DOCUMENT BODY "), F.col("id").cast("string"), F.lit(" ")).alias(
            "text"
        ),
    )
    exact = {
        r["doc_id"]: r["in_reference"]
        for r in dedup_against_reference(corpus, reference).collect()
    }
    assert any(exact.values()) and not all(exact.values())
    for kwargs in ({}, {"bits_per_key": 1, "n_probes": 1}, {"expected_ref_count": 60}):
        got = {
            r["doc_id"]: r["in_reference"]
            for r in dedup_against_reference_bloom(corpus, reference, **kwargs).collect()
        }
        assert got == exact, kwargs
    # empty reference short-circuits to all-False with no bitset build
    empty = dedup_against_reference_bloom(
        corpus, reference.filter(F.lit(False))
    ).collect()
    assert len(empty) == 400 and not any(r["in_reference"] for r in empty)


def test_bloom_dedup_tolerates_null_texts(spark):
    """NULL texts on either side must not break the exact-twin contract:
    a NULL reference fingerprint used to flow into the bitset gather as
    (__word=NULL, __bits=NULL) and crash the driver (bitset[None]=None);
    corpus-side NULLs must come back in_reference=False, same as the
    exact join's NULL semantics."""
    from pyspark.sql import functions as F
    from nreadspark.ops.dedup import (
        dedup_against_reference,
        dedup_against_reference_bloom,
    )

    corpus = spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 7, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("body "), (F.col("id") % 20).cast("string")))
        .alias("text"),
    )
    reference = spark.range(0, 10).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 1, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("body "), F.col("id").cast("string")))
        .alias("text"),
    )
    exact = {
        r["doc_id"]: r["in_reference"]
        for r in dedup_against_reference(corpus, reference).collect()
    }
    bloom = {
        r["doc_id"]: r["in_reference"]
        for r in dedup_against_reference_bloom(corpus, reference).collect()
    }
    assert bloom == exact
    assert not bloom[7] and not bloom[17]  # NULL corpus texts -> False
    # all-NULL reference degrades to the empty-reference short-circuit
    all_null = dedup_against_reference_bloom(
        corpus, reference.select("doc_id", F.lit(None).cast("string").alias("text"))
    ).collect()
    assert len(all_null) == 50 and not any(r["in_reference"] for r in all_null)


def test_adam7_interlaced_png_round_trip():
    """Adam7 interlacing (r7): seven independently-filtered sub-images
    scattered by the public pass geometry; interlaced and plain encodes
    of the same pixels decode identically, tiny/edge dims included."""
    import random

    from nreadspark.ops.images import encode_gray_png
    from nreadspark.ops.multimodal import png_luma_milli

    random.seed(5)
    for w, h in [(16, 16), (13, 9), (1, 1), (7, 3), (8, 1), (1, 8), (64, 64)]:
        px = bytes(random.randrange(256) for _ in range(w * h))
        assert png_luma_milli(encode_gray_png(w, h, px, interlaced=True)) == (
            w, h, [v * 1000 for v in px]
        ), (w, h)
    px = bytes(random.randrange(256) for _ in range(256))
    raw = encode_gray_png(16, 16, px, interlaced=True)
    with pytest.raises(ValueError):
        png_luma_milli(raw[: len(raw) // 2])


def test_phash_matches_brute_force_and_bounds():
    """phash64 == an independent pure-Python recomputation of the
    definition (closed-form resize -> integer-basis DCT -> lower-median
    comparison), including odd sizes on both the up- and down-sampling
    sides of the 32x32 resize; halves stay int32-range."""
    import random

    from nreadspark.ops.images import PHASH_BASIS, PHASH_SIZE, phash64

    def brute(w, h, lumas):
        n = PHASH_SIZE

        def cell(x, y):
            sx, ex = x * w // n, max(x * w // n + 1, (x + 1) * w // n)
            sy, ey = y * h // n, max(y * h // n + 1, (y + 1) * h // n)
            s = sum(
                lumas[yy * w + xx] for yy in range(sy, ey) for xx in range(sx, ex)
            )
            return s // ((ex - sx) * (ey - sy))

        p = [[cell(x, y) for x in range(n)] for y in range(n)]
        coefs = [
            sum(
                PHASH_BASIS[u][yy] * PHASH_BASIS[v][xx] * p[yy][xx]
                for yy in range(n)
                for xx in range(n)
            )
            for u in range(8)
            for v in range(8)
        ]
        med = sorted(coefs)[31]
        bits = [1 if c > med else 0 for c in coefs]
        lo = sum(1 << j for j in range(32) if bits[j])
        hi = sum(1 << (j - 32) for j in range(32, 64) if bits[j])
        return hi, lo

    random.seed(5)
    for w, h in [(16, 16), (64, 64), (13, 9), (40, 31), (33, 64)]:
        lumas = [random.randrange(256) * 1000 for _ in range(w * h)]
        got = phash64(w, h, lumas)
        assert got == brute(w, h, lumas), (w, h)
        assert 0 <= got[0] < 1 << 32 and 0 <= got[1] < 1 << 32


def test_phash_rides_the_banded_pair_join(spark):
    """near_dup_image_pairs is hash-generic: which='phash' surfaces the
    planted same-base duplicate clusters at hamming 0, and the PNG/GIF
    cross-codec rows hash identically (lossless pixels, same formula)."""
    from nreadspark.ops.images import (
        image_hashes,
        near_dup_image_pairs,
        synthesize_gif_corpus,
        synthesize_png_corpus,
    )

    docs = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    png = image_hashes(synthesize_png_corpus(docs, n_bases=12, corrupt_mod=7))
    pairs = {
        (r["ref_a"], r["ref_b"]): r["hamming"]
        for r in near_dup_image_pairs(png, max_hamming=0, which="phash").collect()
    }
    # doc 13 and doc 1 share base 1 (13 % 12); both odd -> interlaced
    assert pairs[("img://1", "img://13")] == 0
    gif = {
        r["media_ref"]: (r["phash_hi"], r["phash_lo"])
        for r in image_hashes(
            synthesize_gif_corpus(docs, n_bases=12, corrupt_mod=7)
        ).collect()
        if r["phash_hi"] is not None
    }
    png_rows = {
        r["media_ref"]: (r["phash_hi"], r["phash_lo"])
        for r in png.collect()
        if r["phash_hi"] is not None
    }
    for ref, hv in gif.items():
        assert png_rows["img://" + ref.split("//")[1]] == hv


def test_hash_six_bit_parity():
    """hash_six (shared-integral fast path used by every hash kernel)
    is bit-identical to the three standalone hash functions, across
    square/odd/up-sampled dims and the sub-grid fallback."""
    import random

    from nreadspark.ops.images import ahash64, ghash64, hash_six, phash64

    random.seed(11)
    for w, h in [(16, 16), (64, 64), (13, 9), (40, 31), (9, 64), (8, 8), (5, 5)]:
        lumas = [random.randrange(256) * 1000 for _ in range(w * h)]
        assert hash_six(w, h, lumas) == (
            ahash64(w, h, lumas) + ghash64(w, h, lumas) + phash64(w, h, lumas)
        ), (w, h)
