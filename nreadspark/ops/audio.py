"""Audio fingerprinting + audio near-duplicate pairs over binary WAV
payloads -- the audio leg of multimodal dedup (re-encoded clips, the same
recording with trimmed silence or one glitched window land within a few
bits of each other).

Fingerprint family (the energy-profile shape classic audio fingerprints
reduce to -- Haitsma-Kalker-style band-energy comparisons, collapsed to
the time axis since this container has no FFT dependency):

* **eHash (energy hash)**: split the sample stream into 64 equal time
  windows; bit j = 1 where window j's mean energy (|sample - 128|, the
  8-bit PCM midpoint) exceeds the GLOBAL mean energy.
* **gHash (gradient hash)**: bit j = 1 where window j's mean energy
  exceeds the next window's (wrapping) -- the temporal twin of the image
  tier's gradient hash.

Everything is INTEGER-EXACT (window membership is the floor mapping
``j = t*64 // n``; every mean comparison is cross-multiplied) so an
external SQL engine reproduces each bit from the generative sample
formula -- the same oracle discipline as ``ops.images``, whose
``_pack``/near-dup machinery this module reuses:
:func:`nreadspark.ops.images.near_dup_image_pairs` consumes the
fingerprint table directly (``which='ehash'``) because any 64-bit hash
packed as two int32-range halves speaks the same banded-hamming
protocol.

Scale shape: fingerprinting is ONE ``mapInArrow`` crossing, the one every
media kernel shares (``pipeline.map_rows``: payload in, 16 bytes of
hash out, zero shuffles); pair generation is the shared
banded self-join (exact for hamming < n_bands by pigeonhole).

The PCM parser is pure stdlib, per-payload error containment throughout;
non-PCM8 payloads take tags, never task failures.  Reference parity:
NReadability has no audio pipeline -- beyond-reference multimodal
surface, sibling to ``ops/images.py``.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..pipeline import map_rows
from .images import _NO_HASH, GRID, HASH_SCHEMA, _block_values, _gated_hashes, _pack
from .multimodal import _riff_chunks, _synthesize_media, parse_image_header

N_WINDOWS = GRID * GRID  # 64 windows -> 64-bit hashes, shared band math

AFP_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("n_samples", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("ehash_hi", LongType()),
        StructField("ehash_lo", LongType()),
        StructField("ghash_hi", LongType()),
        StructField("ghash_lo", LongType()),
        StructField("decoder", StringType()),
    ]
)


def wav_pcm_samples(raw: bytes):
    """(sample_rate, bits, data: bytes) from a RIFF/WAVE payload holding
    8- or 16-bit mono PCM -- the two layouts that cover nearly all real
    PCM WAV files.  Walks the chunks with ``ops.multimodal._riff_chunks``,
    the walker ``parse_wav_header`` reads too, but unlike that header
    parse refuses a chunk shorter than its declared length;
    ``ValueError`` for anything else (stereo, float, ADPCM, MP3-in-WAV,
    truncated chunks) -- the caller's containment tier."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = None
    data = None
    for ctype, clen, body in _riff_chunks(raw):
        if len(body) < clen:
            raise ValueError("truncated chunk")
        if ctype == b"fmt ":
            fmt = body
        elif ctype == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("short fmt chunk")
    audio_fmt, channels, rate = struct.unpack("<HHI", fmt[:8])
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_fmt != 1 or channels != 1 or bits not in (8, 16):
        raise ValueError(f"unsupported WAV (fmt={audio_fmt}, ch={channels}, bits={bits})")
    if rate >= 1 << 31:  # corrupt: past the int32 sample_rate column
        raise ValueError(f"sample rate out of range: {rate}")
    if bits == 16 and len(data) % 2:
        raise ValueError("odd data length for 16-bit PCM")
    return rate, bits, data


# MPEG-1/2 Layer III frame-header constants (public ISO 11172-3 / 13818-3
# tables): bitrate kbps by (version_group, bitrate_index), sample rate by
# (version, samplerate_index)
_MP3_BITRATES_V1 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_BITRATES_V2 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}


def _mp3_frame_at(raw: bytes, i: int):
    """Validate a Layer III frame header at offset ``i``: returns
    ``(sample_rate, bitrate_kbps, n_channels, frame_len)`` or None.
    ``frame_len`` is the ISO 11172-3 slot formula (144 x bitrate /
    sample_rate for MPEG1, half the slot count for MPEG2/2.5, plus the
    padding bit) -- what lets a caller demand the NEXT frame's sync."""
    if i + 4 > len(raw) or raw[i] != 0xFF or (raw[i + 1] & 0xE0) != 0xE0:
        return None
    version = (raw[i + 1] >> 3) & 0x3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    layer = (raw[i + 1] >> 1) & 0x3  # 1 = Layer III
    br_idx = raw[i + 2] >> 4
    sr_idx = (raw[i + 2] >> 2) & 0x3
    if version == 1 or layer != 1 or not 0 < br_idx < 15 or sr_idx >= 3:
        return None
    rate = _MP3_RATES[version][sr_idx]
    kbps = (_MP3_BITRATES_V1 if version == 3 else _MP3_BITRATES_V2)[br_idx]
    padding = (raw[i + 2] >> 1) & 0x1
    slots = 144000 if version == 3 else 72000
    frame_len = slots * kbps // rate + padding
    channels = 1 if ((raw[i + 3] >> 6) & 0x3) == 3 else 2
    return rate, kbps, channels, frame_len


def parse_mp3_header(raw: bytes):
    """(sample_rate, bitrate_kbps, n_channels) from the first MPEG Layer
    III frame sync in the payload (skipping a leading ID3v2 tag) --
    the counted-not-dropped metadata tier for the web's dominant
    compressed-audio format; full MP3 synthesis decoding is out of the
    vendored-stdlib scope (the native seam's job).  Returns ``None``
    when no valid frame header is found in the first 4 KiB.

    A lone sync pattern is weak evidence (~6e-5 per offset -- ~20% of
    random 4 KiB+ binaries contain one, ADVICE r7), so a match only
    counts when the frame length computed FROM the header lands on a
    second valid sync -- or exactly on end-of-payload (single-frame /
    truncated-tail streams)."""
    i = 0
    if raw[:3] == b"ID3" and len(raw) >= 10:
        # syncsafe 28-bit tag size
        size = (
            (raw[6] & 0x7F) << 21
            | (raw[7] & 0x7F) << 14
            | (raw[8] & 0x7F) << 7
            | (raw[9] & 0x7F)
        )
        i = 10 + size
    end = min(len(raw) - 4, i + 4096)
    while i <= end:
        hit = _mp3_frame_at(raw, i)
        if hit is not None:
            rate, kbps, channels, frame_len = hit
            nxt = i + frame_len
            if nxt == len(raw) or _mp3_frame_at(raw, nxt) is not None:
                return rate, kbps, channels
        i += 1
    return None


def pcm_energies(data: bytes, bits: int = 8) -> list[int]:
    """Per-sample ENERGY: |s - midpoint|.  8-bit PCM is unsigned with
    midpoint 128; 16-bit PCM is little-endian SIGNED with midpoint 0 --
    the same physical quantity, so both depths feed the identical
    64-window integer hash math (a clip re-encoded 8->16 bit lands
    within a few bits, which is the whole point of the fingerprint)."""
    if bits == 8:
        return [s - 128 if s >= 128 else 128 - s for s in data]
    vals = struct.unpack("<%dh" % (len(data) // 2), data)
    return [v if v >= 0 else -v for v in vals]


def _window_sums(energies) -> tuple[list[int], list[int]]:
    """(sums, counts) of per-sample energy over the N_WINDOWS
    floor-mapped time windows -- the 1-D twin of the image block sums."""
    n = len(energies)
    sums = [0] * N_WINDOWS
    counts = [0] * N_WINDOWS
    for t, e in enumerate(energies):
        j = t * N_WINDOWS // n
        sums[j] += e
        counts[j] += 1
    return sums, counts


def ehash64(samples, bits: int = 8) -> tuple[int, int]:
    """Energy hash: bit j = window-j mean energy > global mean energy,
    cross-multiplied (``S_j * n > T * C_j``) -- integer-exact.
    ``samples`` is the raw PCM byte stream at the given depth.
    Overflow headroom: max energy 32768 x 2^20-sample cap x 2^20 rows
    of cross-multiply ~ 2^55 < int64."""
    sums, counts = _window_sums(pcm_energies(bytes(samples), bits))
    total, n = sum(sums), sum(counts)
    bits_out = [
        1 if sums[j] * n > total * counts[j] else 0 for j in range(N_WINDOWS)
    ]
    return _pack(bits_out)


def ghash64(samples, bits: int = 8) -> tuple[int, int]:
    """Gradient hash: bit j = window-j mean energy > next window's
    (wrapping), cross-multiplied."""
    sums, counts = _window_sums(pcm_energies(bytes(samples), bits))
    bits_out = []
    for j in range(N_WINDOWS):
        nj = (j + 1) % N_WINDOWS
        bits_out.append(1 if sums[j] * counts[nj] > sums[nj] * counts[j] else 0)
    return _pack(bits_out)


def audio_fingerprints(
    media_df: DataFrame,
    ref_col: str = "media_ref",
    payload_col: str = "payload",
    max_decode_samples: int | None = 1 << 20,
) -> DataFrame:
    """(media_ref, n_samples, sample_rate, ehash_hi/lo, ghash_hi/lo,
    decoder): fingerprints per WAV payload, ONE Arrow crossing, zero
    shuffles.  Tags: ``pcm8``/``pcm16`` on success, ``too-short`` under
    64 samples, ``capped`` past ``max_decode_samples`` (~1M samples = 17
    minutes of phone-quality mono; production swaps in a native
    decoder), ``undecodable`` otherwise -- NULL hashes, never failures."""
    no_hash = (None,) * 4

    def row(ref, raw):
        raw = raw or b""
        try:
            rate, bits, data = wav_pcm_samples(raw)
        except ValueError:
            # counted-not-dropped tier for the dominant compressed format:
            # an MP3 frame header yields the sample rate (hashes stay NULL
            # -- synthesis decoding is the native seam's job)
            mp3 = parse_mp3_header(raw)
            if mp3 is None:
                return [(ref, None, None, *no_hash, "undecodable")]
            return [(ref, None, mp3[0], *no_hash, "header:mp3")]
        n = len(data) // (bits // 8)
        if n < N_WINDOWS:
            return [(ref, n, rate, *no_hash, "too-short")]
        if max_decode_samples is not None and n > max_decode_samples:
            return [(ref, n, rate, *no_hash, "capped")]
        return [(ref, n, rate, *ehash64(data, bits), *ghash64(data, bits), f"pcm{bits}")]

    return map_rows(media_df, [ref_col, payload_col], AFP_SCHEMA, row)


# ---------------------------------------------------------------------------
# deterministic synthetic WAV corpus (tests + oracles)


def encode_pcm8_wav(samples: bytes, rate: int = 1000) -> bytes:
    """Minimal VALID RIFF/WAVE encoder: PCM 8-bit mono."""
    return _encode_pcm_wav(bytes(samples), rate, 8)


def encode_pcm16_wav(samples, rate: int = 1000) -> bytes:
    """Minimal VALID RIFF/WAVE encoder: PCM 16-bit mono (little-endian
    signed ``samples``, the dominant real-world WAV layout)."""
    data = struct.pack("<%dh" % len(samples), *samples)
    return _encode_pcm_wav(data, rate, 16)


def _encode_pcm_wav(data: bytes, rate: int, bits: int) -> bytes:
    block = bits // 8
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * block, block, bits)
    riff_len = 4 + (8 + len(fmt)) + (8 + len(data))
    return (
        b"RIFF"
        + struct.pack("<I", riff_len)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def synth_sample(base: int, t: int) -> int:
    """The closed-form sample function shared with the SQL oracle."""
    return (37 * base + 13 * t + (t * t) % 251) % 256


def synthesize_wav_corpus(
    docs_df: DataFrame,
    n_samples: int = 2048,
    n_bases: int = 97,
    corrupt_mod: int = 101,
    bits: int = 8,
) -> DataFrame:
    """(doc_id, media_ref, payload): deterministic PCM WAVs,
    ``sample(t) = (37*(doc_id % n_bases) + 13t + t² mod 251) mod 256`` --
    closed form in doc_id so a SQL oracle recomputes the exact
    fingerprints without parsing WAV bytes.  ``bits=16`` stretches each
    8-bit value to the signed range (``v*257 - 32768``, the classic
    8->16 bit-replication upscale) so the 16-bit oracle is the same
    formula with ``abs(v*257 - 32768)`` energies.  ``doc_id % n_bases``
    collisions plant exact-duplicate clusters; ``doc_id % corrupt_mod ==
    7`` rows are truncated to exercise containment."""
    if bits not in (8, 16):
        raise ValueError("bits must be 8 or 16")

    def make(doc_id):
        base = int(doc_id) % n_bases
        vals = [synth_sample(base, t) for t in range(n_samples)]
        if bits == 8:
            raw = encode_pcm8_wav(bytes(vals))
        else:
            raw = encode_pcm16_wav([v * 257 - 32768 for v in vals])
        if int(doc_id) % corrupt_mod == 7:
            raw = raw[:10]
        return f"aud://{doc_id}", raw

    return _synthesize_media(docs_df, make)


# ---------------------------------------------------------------------------
# ID3v2 attached pictures (cover art): the image hiding inside audio files
# ---------------------------------------------------------------------------


def _syncsafe(b: bytes) -> int:
    return (b[0] & 0x7F) << 21 | (b[1] & 0x7F) << 14 | (b[2] & 0x7F) << 7 | (b[3] & 0x7F)


def extract_id3_cover(raw: bytes) -> bytes | None:
    """First APIC (attached picture) payload of an ID3v2.3/2.4 tag, or
    None -- music files routinely embed their cover art as a JPEG/PNG
    inside the tag (id3.org 4.14), so audio payloads carry a hashable
    image the cross-modality dedup tiers should see.

    Frame sizes are syncsafe in v2.4 and plain big-endian in v2.3; the
    APIC body is ``encoding byte | MIME (NUL-terminated latin1) |
    picture type | description (encoding-terminated) | image data``.
    UTF-16 encodings (1/2) terminate the description with a DOUBLE NUL
    on a 2-byte boundary.  Bounded entirely by the tag's declared size;
    malformed structures return None, never raise."""
    if raw[:3] != b"ID3" or len(raw) < 10:
        return None
    ver = raw[3]
    flags = raw[5]
    end = min(len(raw), 10 + _syncsafe(raw[6:10]))
    i = 10
    if flags & 0x40 and i + 4 <= end:  # extended header
        if ver >= 4:
            i += _syncsafe(raw[i : i + 4])  # size INCLUDES itself (v2.4)
        else:
            i += 4 + int.from_bytes(raw[i : i + 4], "big")  # excludes (v2.3)
    while i + 10 <= end:
        fid = raw[i : i + 4]
        if fid == b"\x00\x00\x00\x00":  # padding reached
            break
        fsize = (
            _syncsafe(raw[i + 4 : i + 8])
            if ver >= 4
            else int.from_bytes(raw[i + 4 : i + 8], "big")
        )
        if fsize <= 0 or i + 10 + fsize > end:
            break
        if fid == b"APIC":
            body = raw[i + 10 : i + 10 + fsize]
            if not body:
                return None
            enc = body[0]
            j = body.find(b"\x00", 1)  # MIME terminator
            if j < 0 or j + 2 > len(body):
                return None
            j += 2  # past NUL + picture-type byte
            if enc in (0, 3):  # latin1 / utf-8
                k = body.find(b"\x00", j)
                if k < 0:
                    return None
                k += 1
            else:  # utf-16 variants: double NUL on a 2-byte boundary
                k = j
                while k + 1 < len(body) and body[k : k + 2] != b"\x00\x00":
                    k += 2
                if k + 1 >= len(body):
                    return None
                k += 2
            return body[k:] or None
        i += 10 + fsize
    return None


def audio_cover_hashes(
    media_df: DataFrame,
    ref_col: str = "media_ref",
    payload_col: str = "payload",
    max_decode_pixels: int | None = 1 << 16,
) -> DataFrame:
    """Perceptual hashes of the COVER ART embedded in audio payloads
    (r8): lift the first ID3v2 APIC picture and decode it through the
    image tiers, so an album's artwork dedups across its tracks and
    against the standalone crawl image corpus (same ``HASH_SCHEMA``,
    same banded pair join).

    Tiers: ``cover:jpeg`` / ``cover:png`` / ``cover:gif`` (decoded),
    ``capped`` / ``too-small`` (header-gated), ``header:<codec>``
    (recognized image, undecodable pixels), ``no-cover`` (an ID3 tag
    without an APIC frame), ``no-id3`` (payloads without an ID3v2 tag at
    all -- WAVs land here), ``undecodable`` (an APIC whose picture no
    header parser recognizes) -- every audio row is accounted for."""
    def row(ref, raw):
        raw = raw or b""
        if raw[:3] != b"ID3":
            return [(ref, None, None, *_NO_HASH, "no-id3")]
        cover = extract_id3_cover(raw)
        if cover is None:
            return [(ref, None, None, *_NO_HASH, "no-cover")]
        parsed = parse_image_header(cover)
        if parsed is None:
            return [(ref, None, None, *_NO_HASH, "undecodable")]
        return [(ref, *_gated_hashes(cover, parsed, max_decode_pixels, "cover"))]

    return map_rows(media_df, [ref_col, payload_col], HASH_SCHEMA, row)


def synthesize_id3_corpus(
    docs_df: DataFrame,
    n_bases: int = 97,
    nocover_mod: int = 101,
    wav_mod: int = 89,
) -> DataFrame:
    """(doc_id, media_ref, payload): deterministic MP3-shaped payloads --
    an ID3v2 tag (v2.3 on even ids, v2.4 syncsafe frames on odd; every
    third intact id a UTF-16 description) whose APIC cover is the SAME
    64x64 constant-block baseline JPEG as :func:`..images.
    synthesize_jpeg_corpus`, followed by one complete MPEG1 Layer III
    frame -- so the closed-form JPEG oracle transfers to the cover tier
    and aud://X's cover hashes equal jpg://X's (cross-modality dedup).
    ``% nocover_mod == 7`` rows carry a tag WITHOUT an APIC (no-cover);
    ``% wav_mod == 11`` rows are plain WAVs (no-id3)."""
    from .jpeg import encode_blocky_jpeg

    def ss(n: int) -> bytes:
        return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])

    mp3_frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + bytes(413)

    def make(doc_id):
        d = int(doc_id)
        if d % wav_mod == 11:
            return f"aud://{d}", encode_pcm8_wav(bytes(128 for _ in range(64)))
        ver = 4 if d % 2 else 3
        if d % nocover_mod == 7:
            body = bytes(16)  # padding only: tag, no APIC
        else:
            jpeg = encode_blocky_jpeg(GRID, GRID, _block_values(d % n_bases))
            if d % 3 == 0:
                desc = bytes([1]) + "cover".encode("utf-16-le") + b"\x00\x00"
            else:
                desc = bytes([0]) + b"cover\x00"
            apic = desc[:1] + b"image/jpeg\x00" + bytes([3]) + desc[1:] + jpeg
            fsize = ss(len(apic)) if ver >= 4 else len(apic).to_bytes(4, "big")
            body = b"APIC" + fsize + b"\x00\x00" + apic + bytes(8)
        return f"aud://{d}", b"ID3" + bytes([ver, 0, 0]) + ss(len(body)) + body + mp3_frame

    return _synthesize_media(docs_df, make)
