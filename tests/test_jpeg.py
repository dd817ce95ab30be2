"""Vendored baseline JPEG decoder (nreadspark/ops/jpeg.py): DC-only
exactness, general round trips, subsampling/restart/containment, and
the image_hashes jpeg + header tiers."""

import random

import pytest

from nreadspark.ops.jpeg import (
    decode_jpeg_luma_milli,
    encode_blocky_jpeg,
    encode_gray_jpeg,
)


def _blocky_vals(base):
    from nreadspark.ops.images import synth_pixel

    return [synth_pixel(base, bx, by) for by in range(8) for bx in range(8)]


def test_dc_only_blocks_decode_exactly_gray_and_420():
    """Constant 8x8 blocks are DC-only: ANY compliant IDCT reproduces
    them bit-for-bit -- the decoder-independent exactness contract the
    oracle relies on.  The 4:2:0 color twin must yield the same luma."""
    vals = _blocky_vals(5)
    raw = encode_blocky_jpeg(8, 8, vals)
    w, h, lumas = decode_jpeg_luma_milli(raw)
    assert (w, h) == (64, 64)
    assert all(
        lumas[y * 64 + x] == vals[(y // 8) * 8 + (x // 8)] * 1000
        for y in range(64)
        for x in range(64)
    )
    w2, h2, lumas2 = decode_jpeg_luma_milli(encode_blocky_jpeg(8, 8, vals, color_420=True))
    assert (w2, h2) == (64, 64) and lumas2 == lumas


def test_general_roundtrip_within_quant_tolerance():
    """Full forward-DCT encode -> decode on random and smooth images:
    AC/run-length/ZRL/EOB paths, restart markers, odd dimensions.
    Error bound: quantization step q contributes <= ~q+1 per pixel."""
    random.seed(7)
    px = bytes(random.randrange(256) for _ in range(80 * 56))
    for q, ri, tol in [(1, 0, 2), (1, 3, 2), (2, 5, 3), (4, 0, 6)]:
        raw = encode_gray_jpeg(80, 56, px, quant=q, restart_interval=ri)
        w, h, l = decode_jpeg_luma_milli(raw)
        assert (w, h) == (80, 56)
        assert max(abs(l[i] // 1000 - px[i]) for i in range(80 * 56)) <= tol, (q, ri)
    smooth = bytes((x + y) % 256 for y in range(56) for x in range(80))
    _, _, l = decode_jpeg_luma_milli(encode_gray_jpeg(80, 56, smooth))
    assert max(abs(l[i] // 1000 - smooth[i]) for i in range(80 * 56)) == 0
    w, h, l = decode_jpeg_luma_milli(encode_gray_jpeg(13, 9, bytes(range(117))))
    assert (w, h, len(l)) == (13, 9, 117)


def test_containment_rejections():
    vals = _blocky_vals(1)
    raw = encode_blocky_jpeg(8, 8, vals)
    with pytest.raises(ValueError):
        decode_jpeg_luma_milli(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError):
        decode_jpeg_luma_milli(raw[:40])  # truncated mid-segment
    with pytest.raises(ValueError):
        decode_jpeg_luma_milli(raw, max_pixels=100)  # 64x64 > cap
    from nreadspark.ops.images import _PROGRESSIVE_STUB
    from nreadspark.ops.multimodal import parse_image_header

    assert parse_image_header(_PROGRESSIVE_STUB) == ("jpeg", 64, 64)
    with pytest.raises(ValueError):
        decode_jpeg_luma_milli(_PROGRESSIVE_STUB)


def test_image_hashes_jpeg_and_header_tiers(spark):
    """image_hashes over the JPEG corpus: pixels:jpeg hashes equal the
    PNG-path hashes for the same luma (cross-codec dedup works);
    progressive rows keep dims under header:jpeg; gray/color twins
    collide exactly."""
    from pyspark.sql import Row
    from nreadspark.ops.images import (
        ahash64,
        encode_gray_png,
        image_hashes,
        synth_pixel,
        synthesize_jpeg_corpus,
        _PROGRESSIVE_STUB,
    )

    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    hdf = image_hashes(synthesize_jpeg_corpus(docs, n_bases=10, corrupt_mod=29))
    got = {r["media_ref"]: r for r in hdf.collect()}
    assert got["jpg://7"]["decoder"] == "undecodable"  # 7 % 29 == 7
    assert got["jpg://11"]["decoder"] == "header:jpeg"  # 11 % 89 == 11
    assert (got["jpg://11"]["width"], got["jpg://11"]["height"]) == (64, 64)
    assert got["jpg://11"]["ahash_hi"] is None
    assert got["jpg://0"]["decoder"] == "pixels:jpeg"  # gray baseline
    assert got["jpg://1"]["decoder"] == "pixels:jpeg"  # 4:2:0 baseline
    assert got["jpg://2"]["decoder"] == "pixels:jpeg"  # progressive
    # gray (id 3) and color (id 13) twins: same base -> identical hashes
    assert (got["jpg://3"]["ahash_hi"], got["jpg://3"]["ahash_lo"]) == (
        got["jpg://13"]["ahash_hi"],
        got["jpg://13"]["ahash_lo"],
    )
    # progressive (id 2) and gray-baseline (id 12) twins hash identically
    assert (got["jpg://2"]["ahash_hi"], got["jpg://2"]["ghash_lo"]) == (
        got["jpg://12"]["ahash_hi"],
        got["jpg://12"]["ghash_lo"],
    )
    # cross-codec agreement: a 64x64 PNG with the same blocky pixels
    # hashes identically to the JPEG (block-constant => same block sums)
    vals = _blocky_vals(3)
    px = bytes(vals[(y // 8) * 8 + (x // 8)] for y in range(64) for x in range(64))
    png_hash = ahash64(64, 64, [v * 1000 for v in px])
    assert (got["jpg://3"]["ahash_hi"], got["jpg://3"]["ahash_lo"]) == png_hash
    # a complete-header GIF takes header:gif with dims, not undecodable
    gif = b"GIF89a" + (20).to_bytes(2, "little") + (30).to_bytes(2, "little") + bytes(8)
    g = image_hashes(
        spark.createDataFrame([Row(media_ref="g", payload=gif)])
    ).collect()[0]
    assert g["decoder"] == "header:gif" and (g["width"], g["height"]) == (20, 30)


def test_gif_lzw_round_trip_and_interlace():
    """Real LZW (growing code widths, clear-on-full, interlace) round
    trips exactly -- GIF is lossless, the PNG-style exactness contract."""
    import random

    from nreadspark.ops.multimodal import encode_gif, gif_luma_milli

    pal = bytes(v for i in range(256) for v in (i, i, i))
    random.seed(3)
    for w, h, interlaced in [(16, 16, False), (16, 16, True), (13, 9, False), (120, 120, False)]:
        idx = bytes(random.randrange(256) for _ in range(w * h))
        dw, dh, lumas = gif_luma_milli(encode_gif(w, h, idx, pal, interlaced=interlaced))
        assert (dw, dh) == (w, h)
        assert lumas == [i * 1000 for i in idx], (w, h, interlaced)
    # repetitive content drives deep LZW strings + real compression
    idx = (b"abcabcabd" * 2000)[: 120 * 120]
    raw = encode_gif(120, 120, idx, pal)
    assert len(raw) < 2000  # actually compressed
    assert gif_luma_milli(raw)[2] == [i * 1000 for i in idx]
    # color palette: luma = r*299 + g*587 + b*114
    pal4 = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    _, _, l = gif_luma_milli(encode_gif(4, 4, bytes([0, 1, 2, 3] * 4), pal4))
    assert l[:4] == [255 * 299, 255 * 587, 255 * 114, 10 * 299 + 20 * 587 + 30 * 114]
    for bad in [b"GIF89a", b"\x89PNG", encode_gif(4, 4, bytes(16), pal4)[:20]]:
        with pytest.raises(ValueError):
            gif_luma_milli(bad)


def test_image_hashes_gif_tier_cross_codec(spark):
    """pixels:gif rides image_hashes; a GIF and a PNG of the same pixel
    formula hash identically (cross-codec dedup), interlacing doesn't
    change the hash, corrupt rows contained."""
    from nreadspark.ops.images import (
        image_hashes,
        synthesize_gif_corpus,
        synthesize_png_corpus,
    )

    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    gif = {r["media_ref"]: r for r in image_hashes(
        synthesize_gif_corpus(docs, n_bases=10, corrupt_mod=29)).collect()}
    png = {r["media_ref"]: r for r in image_hashes(
        synthesize_png_corpus(docs, n_bases=10, corrupt_mod=29)).collect()}
    assert gif["gif://7"]["decoder"] == "undecodable"
    assert gif["gif://4"]["decoder"] == "pixels:gif"  # progressive-scan
    assert gif["gif://5"]["decoder"] == "pixels:gif"  # interlaced
    for d in (3, 4, 13):
        assert (gif[f"gif://{d}"]["ahash_hi"], gif[f"gif://{d}"]["ahash_lo"]) == (
            png[f"img://{d}"]["ahash_hi"], png[f"img://{d}"]["ahash_lo"]
        ), d
    # interlaced 13 vs progressive 4: wrong pairing -- same BASE pairs:
    assert (gif["gif://3"]["ghash_hi"], gif["gif://3"]["ghash_lo"]) == (
        gif["gif://13"]["ghash_hi"], gif["gif://13"]["ghash_lo"]
    )


def test_webp_header_dims():
    import struct

    from nreadspark.ops.multimodal import parse_image_header

    def riff(fourcc, chunk):
        body = fourcc + struct.pack("<I", len(chunk)) + chunk
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body

    # payload: 3-byte frame tag, 3-byte start code, 14-bit dims
    vp8 = bytes(3) + b"\x9d\x01\x2a" + struct.pack("<HH", 320, 240) + bytes(8)
    assert parse_image_header(riff(b"VP8 ", vp8)) == ("webp", 320, 240)
    bits = (319) | (239 << 14)
    vp8l = b"\x2f" + struct.pack("<I", bits) + bytes(8)
    assert parse_image_header(riff(b"VP8L", vp8l)) == ("webp", 320, 240)
    vp8x = bytes(4) + (319).to_bytes(3, "little") + (239).to_bytes(3, "little") + bytes(4)
    assert parse_image_header(riff(b"VP8X", vp8x)) == ("webp", 320, 240)
    assert parse_image_header(b"RIFF\x00\x00\x00\x00WEBPJUNK" + bytes(20)) is None


def test_progressive_decode_equals_baseline_decode():
    """Successive approximation is lossless once all scans arrive: a
    progressive encoding of the SAME quantized coefficients must decode
    to exactly the baseline encoding's pixels -- two entirely different
    entropy paths (DC/AC first+refinement scans with EOB runs vs one
    sequential scan) converging bit-for-bit."""
    from nreadspark.ops.jpeg import encode_gray_jpeg_progressive

    random.seed(11)
    for w, h, q in [(8, 8, 1), (80, 56, 1), (13, 9, 1), (80, 56, 4), (200, 120, 8)]:
        px = bytes(random.randrange(256) for _ in range(w * h))
        base = decode_jpeg_luma_milli(encode_gray_jpeg(w, h, px, quant=q))
        prog = decode_jpeg_luma_milli(encode_gray_jpeg_progressive(w, h, px, quant=q))
        assert base == prog, (w, h, q)
    # deep cross-block EOB runs + refinement correction-bit weaving
    sparse = bytearray(128 for _ in range(96 * 96))
    for i in range(0, 96 * 96, 997):
        sparse[i] = 255
    assert decode_jpeg_luma_milli(
        encode_gray_jpeg_progressive(96, 96, bytes(sparse))
    ) == decode_jpeg_luma_milli(encode_gray_jpeg(96, 96, bytes(sparse)))
    smooth = bytes((x + y) % 256 for y in range(56) for x in range(80))
    assert decode_jpeg_luma_milli(
        encode_gray_jpeg_progressive(80, 56, smooth)
    ) == decode_jpeg_luma_milli(encode_gray_jpeg(80, 56, smooth))


def test_progressive_exactness_on_gradient_formula_images():
    """The shape that caught a real encoder desync (r7): >=16 consecutive
    zero-history positions followed by a correction-only position inside
    one refinement band -- pending ZRLs must flush at EVERY nonzero
    position, not only at newly-nonzero ones.  The synthetic-formula
    images hit it reliably; random images do not."""
    from nreadspark.ops.images import synth_pixel
    from nreadspark.ops.jpeg import encode_gray_jpeg_progressive

    for base in (0, 1, 4, 23, 40, 77, 96):
        px = bytes(
            synth_pixel(base, x, y) for y in range(64) for x in range(64)
        )
        assert decode_jpeg_luma_milli(
            encode_gray_jpeg_progressive(64, 64, px)
        ) == decode_jpeg_luma_milli(encode_gray_jpeg(64, 64, px)), base


def test_color_progressive_420_interleaved_dc_and_chroma_skip():
    """Progressive YCbCr 4:2:0: interleaved DC first+refinement scans
    with subsampling, per-component AC scans where the chroma ones are
    SKIPPED wholesale by the decoder -- flat blocks keep exactness."""
    from nreadspark.ops.images import synth_pixel
    from nreadspark.ops.jpeg import encode_blocky_jpeg_progressive_420

    for base in (0, 5, 40, 96):
        vals = [synth_pixel(base, bx, by) for by in range(8) for bx in range(8)]
        prog = decode_jpeg_luma_milli(encode_blocky_jpeg_progressive_420(8, 8, vals))
        plain = decode_jpeg_luma_milli(encode_blocky_jpeg(8, 8, vals, color_420=True))
        assert prog == plain, base


def test_decoder_containment_fuzz():
    """Seeded mutation fuzz over all three vendored decoders: every
    corrupt payload must raise ValueError (the containment contract) or
    decode -- never any other exception type, never unbounded work.
    This caught two real escapes in r7: zlib.error through the PNG
    inflate, and IndexErrors in truncated SOS/SOF headers."""
    from nreadspark.ops.images import encode_gray_png
    from nreadspark.ops.jpeg import encode_gray_jpeg_progressive
    from nreadspark.ops.multimodal import encode_gif, gif_luma_milli, png_luma_milli

    rng = random.Random(123)
    px = bytes(rng.randrange(256) for _ in range(32 * 32))
    pal = bytes(v for i in range(256) for v in (i, i, i))
    targets = [
        (decode_jpeg_luma_milli, encode_gray_jpeg(32, 32, px), {"max_pixels": 1 << 16}),
        (decode_jpeg_luma_milli, encode_gray_jpeg_progressive(32, 32, px), {"max_pixels": 1 << 16}),
        (decode_jpeg_luma_milli, encode_blocky_jpeg(4, 4, list(range(16)), color_420=True), {"max_pixels": 1 << 16}),
        (gif_luma_milli, encode_gif(32, 32, px, pal), {"max_pixels": 1 << 16}),
        (png_luma_milli, encode_gray_png(32, 32, px, interlaced=True), {}),
        (png_luma_milli, encode_gray_png(32, 32, px), {}),
        # uncapped, as extract_media_features(max_decode_pixels=None) runs them
        (decode_jpeg_luma_milli, encode_gray_jpeg(32, 32, px), {"max_pixels": None}),
        (gif_luma_milli, encode_gif(32, 32, px, pal), {"max_pixels": None}),
    ]

    def mutate(base):
        raw = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            op = rng.randrange(3)
            if op == 0 and raw:
                raw[rng.randrange(len(raw))] = rng.randrange(256)
            elif op == 1 and len(raw) > 4:
                raw = raw[: rng.randrange(4, len(raw))]
            else:
                pos = rng.randrange(len(raw) + 1)
                raw = raw[:pos] + bytearray([rng.randrange(256)]) + raw[pos:]
        return bytes(raw)

    for fn, base, kw in targets:
        for _ in range(300):
            try:
                fn(mutate(base), **kw)
            except ValueError:
                pass


def test_baseline_ns1_multicomponent_noninterleaved():
    """Baseline frames may carry one Ns=1 scan PER component instead of
    one interleaved scan; per T.81 A.2 such a scan rasters the
    component's OWN block grid, not the frame MCU grid (ADVICE r7: the
    MCU walk silently scrambled luma when dims were MCU-aligned).  Build
    a 4:2:0 frame whose luma scan is non-interleaved and check the
    decode equals the grayscale encoding of the same plane; 32x16 makes
    raster order differ from MCU order (2 MCUs of 2x2 luma blocks)."""
    import struct

    from nreadspark.ops.jpeg import (
        AC_LUMA_BITS,
        AC_LUMA_VALS,
        DC_LUMA_BITS,
        DC_LUMA_VALS,
        _BitWriter,
        _encode_block,
        _HuffTable,
        _quantize_gray,
        _seg,
    )

    w, h = 32, 16
    random.seed(11)
    px = bytes(random.randrange(256) for _ in range(w * h))
    quant = 1
    dct = _HuffTable(DC_LUMA_BITS, DC_LUMA_VALS)
    act = _HuffTable(AC_LUMA_BITS, AC_LUMA_VALS)
    bw, bh, quantized = _quantize_gray(w, h, px, quant)

    def ns1_scan(comp_id, blocks):
        wtr = _BitWriter()
        pred = 0
        for blk in blocks:
            pred = _encode_block(wtr, blk, pred, dct, act)
        return _seg(0xDA, bytes([1, comp_id, 0x00, 0, 63, 0])) + wtr.flush()

    out = b"\xff\xd8"
    out += _seg(0xDB, bytes([0x00]) + bytes([quant] * 64))
    # SOF0: 3 components, luma 2x2 (full res), chroma 1x1 -> 4:2:0
    out += _seg(
        0xC0,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    out += _seg(0xC4, bytes([0x00] + DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += _seg(0xC4, bytes([0x10] + AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
    # luma scan: NON-interleaved raster over the 4x2 luma block grid
    out += ns1_scan(1, [quantized[i].tolist() for i in range(bw * bh)])
    # chroma scans: one 8x8 zero block each (half-res plane of 32x16)
    zero = [0] * 64
    out += ns1_scan(2, [zero] * 2)
    out += ns1_scan(3, [zero] * 2)
    out += b"\xff\xd9"

    got = decode_jpeg_luma_milli(out)
    want = decode_jpeg_luma_milli(encode_gray_jpeg(w, h, px, quant=quant))
    assert got == want


def test_mp4_keyframe_extraction_and_containment():
    """extract_mp4_keyframe lifts the first SOI..EOI frame from mdat
    bodies and covr/data atoms, refuses non-BMFF and opaque-codec
    payloads, and never raises on mutated containers."""
    from nreadspark.ops.images import synth_pixel
    from nreadspark.ops.jpeg import encode_blocky_jpeg
    from nreadspark.ops.multimodal import extract_mp4_keyframe, parse_mp4_header

    def box(t, body):
        return (8 + len(body)).to_bytes(4, "big") + t + body

    vals = [synth_pixel(3, bx, by) for by in range(8) for bx in range(8)]
    jpeg = encode_blocky_jpeg(8, 8, vals)
    ftyp = box(b"ftyp", b"isom" + bytes(4) + b"isomiso2")
    mvhd = bytes(12) + (1000).to_bytes(4, "big") + (4000).to_bytes(4, "big") + bytes(80)
    moov = box(b"moov", box(b"mvhd", mvhd))
    # two samples: only the FIRST frame is lifted
    mp4 = ftyp + moov + box(b"mdat", jpeg * 2)
    assert extract_mp4_keyframe(mp4) == jpeg
    # cover art path: moov/udta/meta(FullBox)/ilst/covr/data
    cov = box(
        b"moov",
        box(b"udta", box(b"meta", bytes(4) + box(b"ilst", box(b"covr", box(b"data", bytes(8) + jpeg))))),
    )
    assert extract_mp4_keyframe(ftyp + cov) == jpeg
    # opaque codec (no SOI) -> None; container still parses
    opaque = ftyp + moov + box(b"mdat", bytes([0, 0, 0, 1, 0x65]) + bytes(64))
    assert extract_mp4_keyframe(opaque) is None
    assert parse_mp4_header(opaque) is not None
    # SOI with no EOI -> None (truncated frame never escapes the box)
    assert extract_mp4_keyframe(ftyp + box(b"mdat", jpeg[:-2])) is None
    assert extract_mp4_keyframe(b"\x89PNG\r\n\x1a\n" + bytes(16)) is None
    # mutation fuzz: byte flips + truncations must never raise
    random.seed(13)
    for _ in range(300):
        buf = bytearray(mp4)
        for _ in range(random.randrange(1, 4)):
            buf[random.randrange(len(buf))] = random.randrange(256)
        extract_mp4_keyframe(bytes(buf))
        extract_mp4_keyframe(bytes(buf[: random.randrange(len(buf))]))


def test_video_keyframe_hashes_cross_container_dedup(spark):
    """vid://X's keyframe hashes equal jpg://X's image hashes (same
    embedded frame), opaque codecs land on header:mp4, truncated rows
    undecodable -- video payloads join the image dedup tiers."""
    from nreadspark.ops.images import (
        image_hashes,
        synthesize_jpeg_corpus,
        synthesize_mp4_corpus,
        video_keyframe_hashes,
    )

    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    vid = {
        r["media_ref"]: r
        for r in video_keyframe_hashes(
            synthesize_mp4_corpus(docs, n_bases=10, corrupt_mod=29, opaque_mod=23)
        ).collect()
    }
    jpg = {
        r["media_ref"]: r
        for r in image_hashes(
            synthesize_jpeg_corpus(docs, n_bases=10, corrupt_mod=997, progressive_mod=997)
        ).collect()
    }
    assert vid["vid://7"]["decoder"] == "undecodable"  # 7 % 29 == 7
    assert vid["vid://11"]["decoder"] == "header:mp4"  # 11 % 23 == 11
    assert vid["vid://11"]["ahash_hi"] is None
    for d in (0, 1, 2, 3, 5):
        v, j = vid[f"vid://{d}"], jpg[f"jpg://{d}"]
        assert v["decoder"] == "keyframe:jpeg"
        for c in ("ahash_hi", "ahash_lo", "ghash_hi", "ghash_lo", "phash_hi", "phash_lo"):
            assert v[c] == j[c], (d, c)


def test_dedup_cross_container_pairs(spark):
    """The banded phash pair join over the UNION of image and video hash
    tables surfaces jpg://X ~ vid://X at hamming 0 (same embedded
    frame), and excluded tiers (corrupt/opaque/header) never pair."""
    from nreadspark.ops.images import (
        image_hashes,
        near_dup_image_pairs,
        synthesize_jpeg_corpus,
        synthesize_mp4_corpus,
        video_keyframe_hashes,
    )

    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    jh = image_hashes(
        synthesize_jpeg_corpus(docs, n_bases=50, corrupt_mod=29, progressive_mod=23)
    )
    vh = video_keyframe_hashes(
        synthesize_mp4_corpus(docs, n_bases=50, corrupt_mod=29, opaque_mod=23)
    )
    pairs = {
        (r["ref_a"], r["ref_b"])
        for r in near_dup_image_pairs(
            jh.unionByName(vh), max_hamming=0, which="phash"
        ).collect()
    }
    # every non-excluded doc pairs across containers (distinct bases)
    for d in range(20):
        expected = d != 7 and d != 11  # 7%29==7 corrupt; 11%23==11 stub/opaque
        assert ((f"jpg://{d}", f"vid://{d}") in pairs) == expected, d
