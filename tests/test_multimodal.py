"""Multimodal decode tiers: the stdlib header parser must read real PNG /
GIF / JPEG containers (crafted with valid structure, incl. a fully valid
zlib-compressed PNG), and the Spark kernels must surface the parsed
dimensions with the right decoder tag."""

import struct
import zlib

import pytest

from nreadspark.ops.multimodal import parse_image_header


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def make_real_png(w: int, h: int) -> bytes:
    """A fully valid minimal PNG (correct CRCs, real zlib IDAT)."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + bytes(w) for _ in range(h))  # filter 0 + zeros
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def make_gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + b"\x3b"


def make_jpeg(w: int, h: int) -> bytes:
    """SOI + APP0 (JFIF) + SOF0 carrying the dimensions."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", h, w) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0


def test_header_parse_real_png():
    assert parse_image_header(make_real_png(320, 200)) == ("png", 320, 200)


def test_header_parse_gif():
    assert parse_image_header(make_gif(17, 31)) == ("gif", 17, 31)


def test_header_parse_jpeg_sof_scan():
    assert parse_image_header(make_jpeg(640, 480)) == ("jpeg", 640, 480)


def test_header_parse_rejects_garbage():
    assert parse_image_header(b"") is None
    assert parse_image_header(b"\x00" * 64) is None
    assert parse_image_header(b"\x89PNG\r\n\x1a\n" + b"\x00" * 4) is None  # truncated
    assert parse_image_header(b"\xff\xd8\xff\xe0\x00\x02") is None  # no SOF


def test_header_parse_synthetic_fake_png():
    """The synthesized media payloads are structurally valid PNG prefixes."""
    hx = (
        "89504e470d0a1a0a0000000d49484452"
        + format(100, "08x")
        + format(50, "08x")
        + "080600000000000000"
        + "abcdef" * 3
    )
    assert parse_image_header(bytes.fromhex(hx)) == ("png", 100, 50)


def _filter_row(ftype: int, line: bytes, prev: bytes, ch: int) -> bytes:
    """Forward PNG filter (the encoder side), to craft test vectors."""
    out = bytearray()
    for x, v in enumerate(line):
        a = line[x - ch] if x >= ch else 0
        b = prev[x] if prev else 0
        c = prev[x - ch] if (prev and x >= ch) else 0
        if ftype == 0:
            out.append(v)
        elif ftype == 1:
            out.append((v - a) & 0xFF)
        elif ftype == 2:
            out.append((v - b) & 0xFF)
        elif ftype == 3:
            out.append((v - (a + b) // 2) & 0xFF)
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((v - pred) & 0xFF)
    return bytes(out)


def make_png_pixels(rows: list[bytes], ch: int, color_type: int, filters: list[int], plte: bytes | None = None) -> bytes:
    """Encode raw pixel rows into a valid PNG using the given per-row filters."""
    w = len(rows[0]) // ch
    ihdr = struct.pack(">IIBBBBB", w, len(rows), 8, color_type, 0, 0, 0)
    raw = b""
    prev = b""
    for ftype, line in zip(filters, rows):
        raw += bytes([ftype]) + _filter_row(ftype, line, prev, ch)
        prev = line
    chunks = _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        chunks += _png_chunk(b"PLTE", plte)
    chunks += _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + chunks


def png_mean(raw: bytes):
    """``(w, h, mean ITU-R 601 luma)`` of a PNG through ``png_luma_milli``
    -- the feature tier's ``sum(lumas) / 1000 / (w*h)``."""
    from nreadspark.ops.multimodal import png_luma_milli

    w, h, lumas = png_luma_milli(raw)
    return w, h, sum(lumas) / 1000 / (w * h)


def test_png_pixel_decode_all_filters():
    """The vendored decoder must invert every PNG filter type (incl. Paeth)."""
    rows = [bytes((x * 13 + y * 41) % 256 for x in range(6)) for y in range(5)]
    expected = sum(sum(r) for r in rows) / 30
    for filters in ([0] * 5, [1] * 5, [0, 2, 2, 2, 2], [3] * 5, [0, 4, 4, 4, 4], [0, 1, 2, 3, 4]):
        png = make_png_pixels(rows, ch=1, color_type=0, filters=filters)
        assert png_mean(png) == (6, 5, expected), filters


def test_png_pixel_decode_color_formats():
    # RGB 2x1: red + blue -> mean luma = (299/1000*255 + 114/1000*255) / 2
    rgb = make_png_pixels([bytes([255, 0, 0, 0, 0, 255])], ch=3, color_type=2, filters=[0])
    w, h, mean = png_mean(rgb)
    assert (w, h) == (2, 1) and abs(mean - (0.299 * 255 + 0.114 * 255) / 2) < 1e-9
    # RGBA: alpha ignored
    rgba = make_png_pixels([bytes([255, 0, 0, 7, 0, 0, 255, 9])], ch=4, color_type=6, filters=[0])
    assert abs(png_mean(rgba)[2] - mean) < 1e-9
    # palette: index 0 -> white, index 1 -> black
    pal = make_png_pixels([bytes([0, 1])], ch=1, color_type=3, filters=[0], plte=bytes([255, 255, 255, 0, 0, 0]))
    assert abs(png_mean(pal)[2] - 127.5) < 1e-9
    # gray+alpha: luma channel only
    ga = make_png_pixels([bytes([100, 3, 200, 5])], ch=2, color_type=4, filters=[0])
    assert png_mean(ga)[2] == 150.0


def test_png_pixel_decode_rejects_incomplete():
    from nreadspark.ops.multimodal import png_luma_milli

    # the synthetic header-only prefixes must NOT pixel-decode
    hx = "89504e470d0a1a0a0000000d49484452" + format(10, "08x") + format(4, "08x") + "080600000000000000" + "abcdef"
    with pytest.raises(ValueError):
        png_luma_milli(bytes.fromhex(hx))
    with pytest.raises(ValueError):
        png_luma_milli(b"GIF89a" + b"\x00" * 16)
    # palette index beyond the PLTE table: documented ValueError, not an
    # IndexError escaping the contract (nor a silently wrong mean)
    bad_pal = make_png_pixels(
        [bytes([0, 3])], ch=1, color_type=3, filters=[0],
        plte=bytes([255, 255, 255, 0, 0, 0]),
    )
    with pytest.raises(ValueError):
        png_luma_milli(bad_pal)


def make_mp4(duration_ms: int, timescale: int = 1000, n_tracks: int = 1, version: int = 0) -> bytes:
    """Minimal valid ISO BMFF: ftyp + moov(mvhd + trak*n) + empty mdat."""
    ftyp = struct.pack(">I", 20) + b"ftypisom" + struct.pack(">I", 0x200) + b"isom"
    dur = duration_ms * timescale // 1000
    if version:
        body = b"\x01\x00\x00\x00" + b"\x00" * 16 + struct.pack(">I", timescale) + struct.pack(">Q", dur) + b"\x00" * 80
    else:
        body = b"\x00\x00\x00\x00" + b"\x00" * 8 + struct.pack(">II", timescale, dur) + b"\x00" * 80
    mvhd = struct.pack(">I", 8 + len(body)) + b"mvhd" + body
    traks = (struct.pack(">I", 8) + b"trak") * n_tracks
    moov = struct.pack(">I", 8 + len(mvhd) + len(traks)) + b"moov" + mvhd + traks
    return ftyp + moov + struct.pack(">I", 8) + b"mdat"


def test_mp4_header_parse_versions_and_tracks():
    from nreadspark.ops.multimodal import parse_mp4_header

    assert parse_mp4_header(make_mp4(12_000)) == ("isom", 1000, 12_000, 1)
    # non-millisecond timescale converts; version-1 (64-bit) mvhd parses
    assert parse_mp4_header(make_mp4(5_000, timescale=90_000)) == ("isom", 90_000, 5_000, 1)
    assert parse_mp4_header(make_mp4(7_500, version=1, n_tracks=3)) == ("isom", 1000, 7_500, 3)


def test_mp4_header_parse_rejects_and_degrades():
    from nreadspark.ops.multimodal import parse_mp4_header

    assert parse_mp4_header(b"") is None
    assert parse_mp4_header(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16) is None
    # valid ftyp but truncated moov: brand survives, duration is None
    raw = make_mp4(9_000)
    got = parse_mp4_header(raw[:28])
    assert got is not None and got[0] == "isom" and got[2] is None


def test_mp4_truncated_v1_mvhd_yields_no_duration():
    """A version-1 mvhd body shorter than 32 bytes must NOT be read with
    version-0 field offsets (that would return timestamp bytes as a bogus
    timescale/duration)."""
    from nreadspark.ops.multimodal import parse_mp4_header

    ftyp = struct.pack(">I", 20) + b"ftypisom" + struct.pack(">I", 0x200) + b"isom"
    # v1 marker + flags + 16 bytes of (nonzero) 64-bit times = 20-byte body
    body = b"\x01\x00\x00\x00" + b"\xde\xad\xbe\xef" * 4
    mvhd = struct.pack(">I", 8 + len(body)) + b"mvhd" + body
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    got = parse_mp4_header(ftyp + moov)
    assert got == ("isom", None, None, 0)


def test_synthetic_mp4_payload_round_trips():
    """synthesize_media_df's closed-form video hex must be a container the
    real box walk reads back: duration == the doc's duration_ms column."""
    from nreadspark.ops.multimodal import (
        _MP4_FTYP_HEX,
        _MP4_MDAT_TYPE_HEX,
        _MP4_MOOV_HDR_HEX,
        _MP4_MVHD_POST_HEX,
        _MP4_MVHD_PRE_HEX,
        _MP4_TRAK_HEX,
        parse_mp4_header,
    )

    for doc_id in (0, 5, 95):
        dur = (doc_id % 29) * 1000 + 1000
        k = doc_id % 50 + 1
        hx = (
            _MP4_FTYP_HEX + _MP4_MOOV_HDR_HEX + _MP4_MVHD_PRE_HEX
            + format(dur, "08x") + _MP4_MVHD_POST_HEX + _MP4_TRAK_HEX
            + format(8 + 3 * k, "08x") + _MP4_MDAT_TYPE_HEX + "abcdef" * k
        )
        assert parse_mp4_header(bytes.fromhex(hx)) == ("isom", 1000, dur, 1)


def make_wav(n_samples: int, sample_rate: int = 8000, channels: int = 1, bits: int = 16) -> bytes:
    data = bytes(n_samples * channels * (bits // 8))
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * channels * (bits // 8),
        channels * (bits // 8), bits,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_header_parse():
    from nreadspark.ops.multimodal import parse_wav_header

    assert parse_wav_header(make_wav(16000)) == ("wav", 1, 8000, 16, 2000)
    assert parse_wav_header(make_wav(4410, 44100, 2, 16)) == ("wav", 2, 44100, 16, 100)
    assert parse_wav_header(b"") is None
    assert parse_wav_header(b"RIFF\x00\x00\x00\x00JUNK") is None
    # fmt-less RIFF/WAVE degrades to no-duration, not a crash
    got = parse_wav_header(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    assert got == ("wav", None, None, None, None)


def test_synthetic_wav_payload_round_trips():
    from nreadspark.ops.multimodal import _WAV_FMT_HEX, _WAV_RIFF_HEX, parse_wav_header

    for k in (1, 2, 50):
        hx = (
            _WAV_RIFF_HEX + format(36 + 3 * k, "02x") + "000000"
            + _WAV_FMT_HEX + format(3 * k, "02x") + "000000" + "abcdef" * k
        )
        # PCM 8-bit mono @1000 Hz: duration_ms == data byte count == 3k
        assert parse_wav_header(bytes.fromhex(hx)) == ("wav", 1, 1000, 8, 3 * k)


def test_extract_features_decodes_real_images(spark):
    """A real PNG flowing through the Spark kernel gets real dimensions and
    a 'real decoder' tag (pixel decode when complete, header parse
    otherwise)."""
    from nreadspark.ops.multimodal import extract_media_features

    rows = [
        ("png1", "image", make_real_png(12, 34), 12, 34, 0),
        ("gif1", "image", make_gif(5, 6), 5, 6, 0),
        ("jpg1", "image", make_jpeg(7, 8), 7, 8, 0),
        ("bin1", "audio", b"\x00\x01\x02\x03", None, None, 0),
    ]
    from nreadspark.ops.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    assert (out["png1"]["decoded_width"], out["png1"]["decoded_height"]) == (12, 34)
    # a COMPLETE png pixel-decodes through the vendored stdlib decoder; the
    # all-zero test image must surface mean luma 0 through the feature vec
    assert out["png1"]["decoder"] == "pixels:png"
    assert out["png1"]["features"] == [0.0] * 8
    assert (out["gif1"]["decoded_width"], out["gif1"]["decoded_height"]) == (5, 6)
    assert (out["jpg1"]["decoded_width"], out["jpg1"]["decoded_height"]) == (7, 8)
    assert out["bin1"]["decoder"] == "stub"
    assert out["bin1"]["decoded_width"] is None
    assert out["bin1"]["n_bytes"] == 4


def test_features_tag_mp4_payloads(spark):
    from nreadspark.ops.multimodal import MEDIA_SCHEMA, extract_media_features

    rows = [
        ("vid1", "video", make_mp4(3_000), None, None, 3000),
        ("aud1", "audio", make_wav(16000), None, None, 0),
        ("bin1", "audio", b"\x00\x01\x02\x03", None, None, 0),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    assert out["vid1"]["decoder"] == "header:mp4"
    assert out["vid1"]["decoded_width"] is None
    assert out["vid1"]["decoded_duration_ms"] == 3000
    assert out["aud1"]["decoder"] == "header:wav"
    assert out["aud1"]["decoded_duration_ms"] == 2000
    assert out["bin1"]["decoder"] == "stub"
    assert out["bin1"]["decoded_duration_ms"] is None


def test_frame_sampling_derives_duration_from_bytes(spark):
    """The MP4 duration comes from the mvhd box, not the metadata column:
    a wrong/NULL column value must not change the frame count.  Non-BMFF
    video payloads fall back to the column with decoder='stub'."""
    from nreadspark.ops.multimodal import MEDIA_SCHEMA, sample_video_frames

    rows = [
        ("vid1", "video", make_mp4(4_500), None, None, None),  # NULL column
        ("vid2", "video", make_mp4(9_999, timescale=90_000), None, None, 1),
        ("leg1", "video", b"not-a-container", None, None, 2_100),
        # non-BMFF payload AND NULL duration column (arrives as NaN through
        # Arrow): must be skipped, not crash the stage on int(NaN)
        ("legnull", "video", b"also-not-a-container", None, None, None),
        ("img1", "image", b"\x89PNG", None, None, 0),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_video_frames(df, every_ms=1000, max_frames=32).collect()
    by_ref = {}
    for r in out:
        by_ref.setdefault(r["media_ref"], []).append(r)
    assert len(by_ref["vid1"]) == 5 and by_ref["vid1"][0]["decoder"] == "header:mp4"
    assert len(by_ref["vid2"]) == 10  # 9999ms // 1000 + 1
    assert len(by_ref["leg1"]) == 3 and by_ref["leg1"][0]["decoder"] == "stub"
    assert "legnull" not in by_ref  # no duration from bytes OR column
    assert "img1" not in by_ref
    # frame payloads are the documented deterministic stubs in BOTH modes
    import hashlib

    expect = hashlib.md5(f"{make_mp4(4_500).hex()}:0".encode()).hexdigest().encode()
    assert bytes(by_ref["vid1"][0]["frame_payload"]) == expect


def test_resize_structural_and_passthrough(spark):
    from nreadspark.ops.multimodal import MEDIA_SCHEMA, parse_image_header, resize_images

    rows = [
        ("png1", "image", make_real_png(100, 80), 100, 80, 0),
        ("bin1", "audio", b"\x99" * 10, None, None, 0),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_ref"]: r for r in resize_images(df, 224, 224).collect()}
    assert out["png1"]["resized"] is True
    assert parse_image_header(bytes(out["png1"]["payload"]))[1:] == (224, 224)
    assert out["bin1"]["resized"] is False
    assert bytes(out["bin1"]["payload"]) == b"\x99" * 10


def test_png_pixel_tier_capped_by_pixel_count(spark):
    """The vendored PNG pixel decode is a pure-Python per-pixel loop; on a
    metadata sweep it must not run for large images.  Dimensions come from
    the O(1) IHDR parse first: payloads beyond ``max_decode_pixels`` take
    the header tier, small ones still pixel-decode, and ``None`` opts in to
    full decode at any size."""
    from nreadspark.ops.multimodal import MEDIA_SCHEMA, extract_media_features

    big = make_real_png(400, 400)  # 160k pixels > default 64k cap
    small = make_real_png(12, 34)
    df = spark.createDataFrame(
        [("big", "image", big, 400, 400, 0), ("small", "image", small, 12, 34, 0)],
        MEDIA_SCHEMA,
    )
    out = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    # ':capped' marks cap-skipped (stub features) vs genuinely header-only
    assert out["big"]["decoder"] == "header:png:capped"
    assert (out["big"]["decoded_width"], out["big"]["decoded_height"]) == (400, 400)
    assert out["small"]["decoder"] == "pixels:png"
    # opt-in uncapped: the big PNG pixel-decodes (all-zero image -> luma 0)
    out2 = {
        r["media_ref"]: r
        for r in extract_media_features(df, max_decode_pixels=None).collect()
    }
    assert out2["big"]["decoder"] == "pixels:png"
    assert out2["big"]["features"] == [0.0] * 8


def test_media_features_jpeg_and_gif_pixel_tiers(spark):
    """extract_media_features now shares the JPEG/GIF pixel decoders with
    the hash tier: complete payloads get pixels:<codec> + real mean-luma
    features; header-only prefixes keep the header tier."""
    from pyspark.sql import Row
    from nreadspark.ops.images import synth_pixel
    from nreadspark.ops.jpeg import encode_blocky_jpeg
    from nreadspark.ops.multimodal import encode_gif, extract_media_features

    vals = [synth_pixel(4, bx, by) for by in range(8) for bx in range(8)]
    jpg = encode_blocky_jpeg(8, 8, vals)
    pal = bytes(v for i in range(256) for v in (i, i, i))
    px = bytes(vals[(y // 8) * 8 + (x // 8)] for y in range(64) for x in range(64))
    gif = encode_gif(64, 64, px, pal)
    rows = [
        Row(media_ref="j", media_kind="image", payload=jpg),
        Row(media_ref="g", media_kind="image", payload=gif),
        Row(media_ref="jh", media_kind="image", payload=jpg[:90]),  # SOI+DQT+SOF, no scan
    ]
    got = {
        r["media_ref"]: r
        for r in extract_media_features(spark.createDataFrame(rows)).collect()
    }
    mean = sum(px) / len(px) / 255.0
    assert got["j"]["decoder"] == "pixels:jpeg"
    assert got["g"]["decoder"] == "pixels:gif"
    assert abs(got["j"]["features"][0] - mean) < 1e-9
    assert abs(got["g"]["features"][0] - mean) < 1e-9
    assert (got["j"]["decoded_width"], got["g"]["decoded_height"]) == (64, 64)
    assert got["jh"]["decoder"] == "header:jpeg"


def test_media_features_cap_reaches_the_frame_decoder(spark):
    """``extract_media_features`` decodes through the hash tiers' codec
    table, so the pixel cap reaches the GIF decoder: a GIF whose logical
    screen says 16x16 but whose frame is 2048x2048 stops at the cap and
    keeps the header tier, the tier ``image_hashes`` gives the same bytes.
    Zero-pixel images (a 0x4 PNG, a 0x3 GIF) have no mean and keep their
    header tier too; a zero-pixel frame behind an 8x8-or-larger screen
    keeps ``header:gif`` in the hash tier instead of failing the task."""
    from nreadspark.ops.images import encode_gray_png, image_hashes
    from nreadspark.ops.multimodal import MEDIA_SCHEMA, encode_gif, extract_media_features

    def screen(gif: bytes, w: int, h: int) -> bytes:
        return gif[:6] + struct.pack("<HH", w, h) + gif[10:]

    big_frame = screen(encode_gif(2048, 2048, bytes(2048 * 2048), bytes(6)), 16, 16)
    empty_gif = encode_gif(0, 3, b"", bytes(6))
    rows = [
        ("crafted", "image", big_frame, None, None, 0),
        ("png0x4", "image", encode_gray_png(0, 4, b""), None, None, 0),
        ("gif0x3", "image", empty_gif, None, None, 0),
        ("gif16-0x3", "image", screen(empty_gif, 16, 16), None, None, 0),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r["media_ref"]: (r["decoder"], r["decoded_width"], r["decoded_height"])
        for r in extract_media_features(df).collect()
    }
    hashes = {
        r["media_ref"]: (r["decoder"], r["width"], r["height"])
        for r in image_hashes(df).collect()
    }
    assert feats == {
        "crafted": ("header:gif", 16, 16),
        "png0x4": ("header:png", 0, 4),
        "gif0x3": ("header:gif", 0, 3),
        "gif16-0x3": ("header:gif", 16, 16),
    }
    assert hashes["crafted"] == feats["crafted"]
    assert hashes["gif16-0x3"] == feats["gif16-0x3"]
