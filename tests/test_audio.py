"""Audio fingerprint tier (ops/audio.py): PCM8 WAV parse round trip,
integer-exact hash math vs brute force, Spark kernel parity + containment,
and the shared banded-hamming pair join over fingerprint tables."""

import random

import pytest

from nreadspark.ops.audio import (
    N_WINDOWS,
    ehash64,
    encode_pcm8_wav,
    ghash64,
    synth_sample,
    wav_pcm_samples,
)


def _samples(base: int, n: int = 2048) -> bytes:
    return bytes(synth_sample(base, t) for t in range(n))


def test_wav_round_trip_and_header_parity():
    from nreadspark.ops.multimodal import parse_wav_header

    raw = encode_pcm8_wav(_samples(5))
    rate, bits, data = wav_pcm_samples(raw)
    assert (rate, bits, data) == (1000, 8, _samples(5))
    # the fingerprint parser and the feature-tier header parser agree
    assert parse_wav_header(raw) == ("wav", 1, 1000, 8, 2048)


def test_wav_parse_rejections():
    with pytest.raises(ValueError):
        wav_pcm_samples(b"RIFF1234WAV")  # truncated
    with pytest.raises(ValueError):
        wav_pcm_samples(b"\x89PNG\r\n\x1a\n" + bytes(16))
    # stereo formats are refused, not mis-fingerprinted
    import struct

    fmt = struct.pack("<HHIIHH", 1, 2, 1000, 2000, 2, 8)
    stereo = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + bytes(4)
    )
    with pytest.raises(ValueError):
        wav_pcm_samples(stereo)


def test_hash_bits_match_brute_force():
    """ehash/ghash equal an independent recomputation, including a
    non-divisible sample count (floor-mapped windows)."""
    for n in (2048, 1000, 777):
        data = _samples(3, n)
        sums = [0] * N_WINDOWS
        counts = [0] * N_WINDOWS
        for t, s in enumerate(data):
            j = t * N_WINDOWS // n
            sums[j] += abs(s - 128)
            counts[j] += 1
        total = sum(sums)
        ebits = [1 if sums[j] * n > total * counts[j] else 0 for j in range(N_WINDOWS)]
        gbits = [
            1 if sums[j] * counts[(j + 1) % N_WINDOWS] > sums[(j + 1) % N_WINDOWS] * counts[j] else 0
            for j in range(N_WINDOWS)
        ]

        def unpack(hi, lo):
            return [(lo >> j) & 1 for j in range(32)] + [(hi >> j) & 1 for j in range(32)]

        assert unpack(*ehash64(data)) == ebits, n
        assert unpack(*ghash64(data)) == gbits, n


def test_identical_samples_identical_hash():
    assert ehash64(_samples(7)) == ehash64(_samples(7))
    assert ghash64(_samples(7)) == ghash64(_samples(7))


def test_audio_fingerprints_kernel_and_containment(spark):
    from pyspark.sql import Row
    from nreadspark.ops.audio import audio_fingerprints

    rows = [
        Row(media_ref="aud://0", payload=encode_pcm8_wav(_samples(1))),
        Row(media_ref="aud://1", payload=encode_pcm8_wav(_samples(2))),
        Row(media_ref="aud://2", payload=encode_pcm8_wav(_samples(1))),  # dup of 0
        Row(media_ref="aud://corrupt", payload=b"RIFFxxxx"),
        Row(media_ref="aud://short", payload=encode_pcm8_wav(bytes(range(32)))),
        Row(media_ref="aud://long", payload=encode_pcm8_wav(bytes(200) * 30)),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["media_ref"]: r
        for r in audio_fingerprints(df, max_decode_samples=4096).collect()
    }
    assert got["aud://corrupt"]["decoder"] == "undecodable"
    assert got["aud://corrupt"]["ehash_hi"] is None
    assert got["aud://short"]["decoder"] == "too-short"
    assert got["aud://long"]["decoder"] == "capped"
    assert got["aud://long"]["n_samples"] == 6000  # parsed pre-cap
    for ref, base in (("aud://0", 1), ("aud://1", 2), ("aud://2", 1)):
        r = got[ref]
        assert r["decoder"] == "pcm8" and r["sample_rate"] == 1000
        assert (r["ehash_hi"], r["ehash_lo"]) == ehash64(_samples(base))
        assert (r["ghash_hi"], r["ghash_lo"]) == ghash64(_samples(base))
    assert (got["aud://0"]["ehash_hi"], got["aud://0"]["ehash_lo"]) == (
        got["aud://2"]["ehash_hi"],
        got["aud://2"]["ehash_lo"],
    )


def test_pair_join_consumes_audio_fingerprints(spark):
    """The image tier's banded pair join speaks any hi/lo hash table --
    planted duplicate audio surfaces at hamming 0."""
    from nreadspark.ops.audio import audio_fingerprints, synthesize_wav_corpus
    from nreadspark.ops.images import near_dup_image_pairs

    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    fdf = audio_fingerprints(synthesize_wav_corpus(docs, n_bases=10, corrupt_mod=29))
    pairs = {
        (r["ref_a"], r["ref_b"]): r["hamming"]
        for r in near_dup_image_pairs(fdf, max_hamming=0, which="ehash").collect()
    }
    assert pairs[("aud://13", "aud://3")] == 0  # same base 3 (string-ordered)
    assert not any("aud://7" in p for pair in pairs for p in pair)  # corrupt


def test_pcm16_decode_and_fingerprint():
    """16-bit PCM (the dominant real WAV layout): struct-unpacked signed
    samples, energy |s| (midpoint 0), same 64-window math; containment
    still rejects stereo/odd-length/24-bit."""
    import struct

    from nreadspark.ops.audio import (
        ehash64,
        encode_pcm16_wav,
        ghash64,
        pcm_energies,
        wav_pcm_samples,
    )

    vals = [((37 * 3 + 13 * t + (t * t) % 251) % 256) * 257 - 32768 for t in range(256)]
    raw = encode_pcm16_wav(vals, rate=8000)
    rate, bits, data = wav_pcm_samples(raw)
    assert (rate, bits) == (8000, 16)
    assert list(struct.unpack("<256h", data)) == vals
    assert pcm_energies(data, 16) == [abs(v) for v in vals]
    # bit-by-bit recompute of the energy hash from the energies
    energies = [abs(v) for v in vals]
    sums = [0] * 64
    counts = [0] * 64
    for t, e in enumerate(energies):
        sums[t * 64 // 256] += e
        counts[t * 64 // 256] += 1
    total = sum(sums)
    expect = [1 if sums[j] * 256 > total * counts[j] else 0 for j in range(64)]
    hi, lo = ehash64(data, 16)
    got = [(lo >> j) & 1 for j in range(32)] + [(hi >> j) & 1 for j in range(32)]
    assert got == expect
    assert ghash64(data, 16) != (0, 0)
    # odd data length for 16-bit is rejected
    bad = bytearray(raw)
    bad[-12:-8] = (int.from_bytes(bad[-12:-8], "little") - 1).to_bytes(4, "little")
    with pytest.raises(ValueError):
        wav_pcm_samples(bytes(bad[:-1]))
    # 24-bit stays rejected
    fmt24 = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
    wav24 = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt24) + 8 + 6) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt24)) + fmt24
        + b"data" + struct.pack("<I", 6) + bytes(6)
    )
    with pytest.raises(ValueError):
        wav_pcm_samples(wav24)


def test_audio_fingerprints_pcm16_tags_and_dup_clusters(spark):
    """audio_fingerprints over a 16-bit synthetic corpus: decoder='pcm16',
    same-base doc_ids collide exactly, corrupt rows contained."""
    from nreadspark.ops.audio import audio_fingerprints, synthesize_wav_corpus

    docs = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    fdf = audio_fingerprints(
        synthesize_wav_corpus(docs, n_bases=10, corrupt_mod=29, bits=16)
    )
    got = {r["media_ref"]: r for r in fdf.collect()}
    assert got["aud://7"]["decoder"] == "undecodable"  # 7 % 29 == 7
    ok = [r for r in got.values() if r["decoder"] == "pcm16"]
    assert len(ok) == 29
    assert (got["aud://3"]["ehash_hi"], got["aud://3"]["ehash_lo"]) == (
        got["aud://13"]["ehash_hi"],
        got["aud://13"]["ehash_lo"],
    )


def test_mp3_header_tier(spark):
    """MP3 payloads take the counted-not-dropped header tier: frame sync
    (after an ID3v2 tag) yields the sample rate under decoder='header:mp3';
    hashes stay NULL; garbage stays 'undecodable'."""
    from pyspark.sql import Row
    from nreadspark.ops.audio import audio_fingerprints, parse_mp3_header

    # MPEG1 L3 128k 44.1k stereo: frame_len = 144000*128//44100 = 417
    hdr = bytes([0xFF, 0xFB, 0x90, 0x00])
    frame = hdr + bytes(413)  # one COMPLETE frame (sync @ end-of-payload)
    assert parse_mp3_header(frame) == (44100, 128, 2)
    two = frame + hdr + bytes(413)  # second sync validates the first
    assert parse_mp3_header(two) == (44100, 128, 2)
    id3 = b"ID3" + bytes([3, 0, 0, 0, 0, 0, 10]) + bytes(10) + two
    assert parse_mp3_header(id3) == (44100, 128, 2)
    # MPEG2 L3 16k 22.05k mono, padded: frame_len = 72000*16//22050+1 = 53
    mono_v2 = bytes([0xFF, 0xF3, 0x22, 0xC0]) + bytes(49)
    assert parse_mp3_header(mono_v2) == (22050, 16, 1)
    assert parse_mp3_header(b"\xff\xfb") is None  # too short
    assert parse_mp3_header(bytes(64)) is None
    assert parse_mp3_header(b"RIFF" + bytes(40)) is None
    # a lone sync followed by junk of the wrong length is REJECTED
    # (ADVICE r7: ~20% of random 4KiB+ binaries carry one sync pattern)
    assert parse_mp3_header(hdr + bytes(100)) is None
    random.seed(3)
    for _ in range(20):
        blob = bytes(random.randrange(256) for _ in range(8192))
        assert parse_mp3_header(blob) is None

    rows = [
        Row(media_ref="a", payload=id3),
        Row(media_ref="b", payload=b"not audio at all"),
    ]
    got = {
        r["media_ref"]: r
        for r in audio_fingerprints(spark.createDataFrame(rows)).collect()
    }
    assert got["a"]["decoder"] == "header:mp3"
    assert got["a"]["sample_rate"] == 44100 and got["a"]["ehash_hi"] is None
    assert got["b"]["decoder"] == "undecodable"


def _id3_tag(apic_body: bytes | None, ver: int = 3) -> bytes:
    def ss(n):
        return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])

    body = b""
    if apic_body is not None:
        fsize = ss(len(apic_body)) if ver >= 4 else len(apic_body).to_bytes(4, "big")
        body = b"APIC" + fsize + b"\x00\x00" + apic_body
    body += bytes(12)
    return b"ID3" + bytes([ver, 0, 0]) + ss(len(body)) + body


def test_extract_id3_cover_matrix():
    """APIC extraction: v2.3/v2.4 framing, latin1/utf-8/utf-16
    descriptions, no-APIC tags, non-ID3 payloads, and mutation fuzz
    containment (returns None, never raises)."""
    from nreadspark.ops.audio import extract_id3_cover
    from nreadspark.ops.images import synth_pixel
    from nreadspark.ops.jpeg import encode_blocky_jpeg

    vals = [synth_pixel(2, bx, by) for by in range(8) for bx in range(8)]
    jpeg = encode_blocky_jpeg(8, 8, vals)
    latin = bytes([0]) + b"image/jpeg\x00" + bytes([3]) + b"cover\x00" + jpeg
    utf16 = (
        bytes([1]) + b"image/jpeg\x00" + bytes([3])
        + "cover".encode("utf-16-le") + b"\x00\x00" + jpeg
    )
    utf8 = bytes([3]) + b"image/jpeg\x00" + bytes([3]) + b"c\x00" + jpeg
    assert extract_id3_cover(_id3_tag(latin, 3)) == jpeg
    assert extract_id3_cover(_id3_tag(latin, 4)) == jpeg
    assert extract_id3_cover(_id3_tag(utf16, 3)) == jpeg
    assert extract_id3_cover(_id3_tag(utf8, 4)) == jpeg
    assert extract_id3_cover(_id3_tag(None)) is None
    assert extract_id3_cover(b"RIFF" + bytes(40)) is None
    assert extract_id3_cover(b"ID3" + bytes(3)) is None
    base = _id3_tag(latin, 3)
    random.seed(17)
    for _ in range(300):
        buf = bytearray(base)
        for _ in range(random.randrange(1, 4)):
            buf[random.randrange(len(buf))] = random.randrange(256)
        got = extract_id3_cover(bytes(buf))
        assert got is None or isinstance(got, bytes)
        extract_id3_cover(bytes(buf[: random.randrange(len(buf))]))


def test_audio_cover_hashes_cross_modality(spark):
    """aud://X's cover hashes equal jpg://X's image hashes (same
    embedded artwork); no-cover/no-id3 tiers account for the rest."""
    from nreadspark.ops.audio import audio_cover_hashes, synthesize_id3_corpus
    from nreadspark.ops.images import image_hashes, synthesize_jpeg_corpus

    docs = spark.range(0, 20).withColumnRenamed("id", "doc_id")
    aud = {
        r["media_ref"]: r
        for r in audio_cover_hashes(
            synthesize_id3_corpus(docs, n_bases=10, nocover_mod=29, wav_mod=23)
        ).collect()
    }
    jpg = {
        r["media_ref"]: r
        for r in image_hashes(
            synthesize_jpeg_corpus(docs, n_bases=10, corrupt_mod=5, progressive_mod=6)
        ).collect()
    }
    assert aud["aud://7"]["decoder"] == "no-cover"   # 7 % 29 == 7
    assert aud["aud://11"]["decoder"] == "no-id3"    # 11 % 23 == 11
    for d in range(20):
        if d in (7, 11):
            continue
        a, j = aud[f"aud://{d}"], jpg[f"jpg://{d}"]
        assert a["decoder"] == "cover:jpeg", d
        for c in ("ahash_hi", "ahash_lo", "ghash_hi", "ghash_lo", "phash_hi", "phash_lo"):
            assert a[c] == j[c], (d, c)


def test_audio_cover_hashes_decode_gif_covers(spark):
    """A GIF cover goes through the same codec table as a standalone image:
    it hashes as ``cover:gif``, equal to the GIF image of the same base."""
    from nreadspark.ops.audio import audio_cover_hashes
    from nreadspark.ops.images import image_hashes, synth_pixel
    from nreadspark.ops.multimodal import encode_gif

    base = 5
    palette = bytes(v for i in range(256) for v in (i, i, i))
    px = bytes(synth_pixel(base, x, y) for y in range(16) for x in range(16))
    gif = encode_gif(16, 16, px, palette)
    apic = bytes([0]) + b"image/gif\x00" + bytes([3]) + b"cover\x00" + gif
    rows = [("aud", _id3_tag(apic, 3)), ("gif", gif)]
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    cover = audio_cover_hashes(df.filter("media_ref = 'aud'")).collect()[0]
    image = image_hashes(df.filter("media_ref = 'gif'")).collect()[0]
    assert image["decoder"] == "pixels:gif"
    assert cover["decoder"] == "cover:gif"
    assert (cover["width"], cover["height"]) == (16, 16)
    for c in ("ahash_hi", "ahash_lo", "ghash_hi", "ghash_lo", "phash_hi", "phash_lo"):
        assert cover[c] == image[c], c


def test_out_of_range_header_fields_are_contained(spark):
    """A PNG whose IHDR width is 2^31 and a WAV whose sample rate is 2^31
    (corrupt: the specs cap both below, and neither fits its int32 output
    column) take the undecodable tiers with NULL hashes in every media
    operator -- standalone, and the PNG as an ID3 cover -- instead of
    failing the task.  An MP4 or WAV header whose duration comes to 2^31
    ms or more keeps its header tier with a NULL duration."""
    import struct

    from nreadspark.ops.audio import audio_cover_hashes, audio_fingerprints
    from nreadspark.ops.images import image_hashes
    from nreadspark.ops.multimodal import extract_media_features

    ihdr = struct.pack(">IIBBBBB", 1 << 31, 64, 8, 0, 0, 0, 0)
    png = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr + bytes(4)
    wav = encode_pcm8_wav(_samples(3), rate=1 << 31)
    apic = bytes([0]) + b"image/png\x00" + bytes([3]) + b"cover\x00" + png

    def box(kind, body):
        return struct.pack(">I", 8 + len(body)) + kind + body

    # mvhd v0: duration 0xFFFFFFF0 at timescale 1000 (~49.7 days)
    mvhd = bytes(12) + struct.pack(">II", 1000, 0xFFFFFFF0) + bytes(80)
    mp4 = box(b"ftyp", b"isom" + bytes(4)) + box(b"moov", box(b"mvhd", mvhd))
    # 1 kHz 8-bit mono declaring 4e9 data bytes (4e9 ms)
    fmt = struct.pack("<HHIIHH", 1, 1, 1000, 1000, 1, 8)
    long_wav = b"RIFF" + bytes(4) + b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    long_wav += b"data" + struct.pack("<I", 4_000_000_000) + bytes(64)
    rows = [
        ("png", "image", png),
        ("wav", "audio", wav),
        ("id3", "audio", _id3_tag(apic)),
        ("mp4", "video", mp4),
        ("long_wav", "audio", long_wav),
    ]
    df = spark.createDataFrame(rows, "media_ref string, media_kind string, payload binary")
    hashes = ("ahash_hi", "ahash_lo", "ghash_hi", "ghash_lo", "phash_hi", "phash_lo")
    images = {r["media_ref"]: r for r in image_hashes(df).collect()}
    covers = {r["media_ref"]: r for r in audio_cover_hashes(df).collect()}
    afp = {r["media_ref"]: r for r in audio_fingerprints(df).collect()}
    feats = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    assert images["png"]["decoder"] == covers["id3"]["decoder"] == "undecodable"
    assert afp["wav"]["decoder"] == "undecodable"
    for r in (images["png"], covers["id3"]):
        assert [r[c] for c in ("width", "height", *hashes)] == [None] * 8
    afp_cols = ("n_samples", "sample_rate", "ehash_hi", "ehash_lo", "ghash_hi", "ghash_lo")
    assert [afp["wav"][c] for c in afp_cols] == [None] * 6
    assert feats["png"]["decoder"] == "stub"
    assert feats["png"]["decoded_width"] is feats["png"]["decoded_height"] is None
    assert feats["wav"]["decoder"] == "header:wav"
    assert feats["mp4"]["decoder"] == "header:mp4"
    assert feats["long_wav"]["decoder"] == "header:wav"
    assert feats["mp4"]["decoded_duration_ms"] is feats["long_wav"]["decoded_duration_ms"] is None
