"""Multimodal column plumbing: images/audio/video as opaque binary columns
with typed metadata, processed per row behind the library's one Arrow
crossing (:func:`nreadspark.pipeline.map_rows`, which every media kernel in
``ops.images`` and ``ops.audio`` also runs through).

Decode strategy (three tiers, best available wins):

1. **Pixel decode** -- the vendored pure-Python decoders for complete
   PNGs (``png_luma_milli``: zlib inflate + spec unfilter incl. Paeth),
   JPEGs (``ops.jpeg``) and GIFs (LZW), all returning integer scale-1000
   luma through one codec table (``_LUMA_DECODERS`` / ``_decode_luma``),
   feed the mean-luma feature path (``decoder='pixels:<codec>'``) and
   the perceptual hashes of ``ops.images``, below one pixel cap.
2. **Header parse** -- real, spec-compliant stdlib parsers for PNG / GIF /
   JPEG image headers (``parse_image_header``), ISO BMFF / MP4 video
   containers (``parse_mp4_header``: mvhd timescale+duration, trak count)
   and RIFF/WAVE audio (``parse_wav_header``); each container has one
   walker (``_bmff_boxes``, ``_riff_chunks``) that its other readers
   share.  This runs everywhere and is what a 100 TB metadata sweep
   would use anyway (full decode of every payload is rarely the goal).
3. **Stub** -- deterministic sha256-derived fake features for payloads no
   parser understands; video FRAME payloads are always deterministic stubs
   (no ffmpeg in this env), explicitly marked via the ``decoder`` column.

The synthetic media table (``synthesize_media_df``) builds payloads from hex
strings entirely JVM-side (``unhex`` over concat/repeat), with structurally
valid PNG signatures+IHDR for images -- so the header parser exercises the
real code path AND an external SQL engine can reconstruct the exact bytes
(and their md5) for correctness oracles.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..pipeline import map_rows
from .jpeg import decode_jpeg_luma_milli

MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sha256", StringType()),
        StructField("payload_md5", StringType()),  # md5 of the lowercase hex
        StructField("decoded_width", IntegerType()),
        StructField("decoded_height", IntegerType()),
        StructField("decoded_duration_ms", IntegerType()),
        StructField("decoder", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def _synthesize_media(docs_df: DataFrame, make) -> DataFrame:
    """(doc_id, media_ref, payload): one row per input row, ``doc_id`` in
    its input type and ``make(doc_id) -> (media_ref, payload)`` -- the
    shape every ``synthesize_*_corpus`` function returns."""
    schema = StructType(
        [
            docs_df.schema["doc_id"],
            StructField("media_ref", StringType()),
            StructField("payload", BinaryType()),
        ]
    )
    return map_rows(docs_df, ["doc_id"], schema, lambda d: [(d, *make(d))])


_PNG_SIG_HEX = "89504e470d0a1a0a"
_PNG_IHDR_PRE_HEX = "0000000d49484452"  # IHDR length + type
_PNG_IHDR_POST_HEX = "0806000000" + "00000000"  # depth/color/etc + CRC field

# Structurally valid ISO BMFF (MP4) pieces for the synthetic videos, all
# closed-form so a SQL oracle can rebuild the byte stream:
#   ftyp(20) | moov(124) = mvhd(108) + empty trak(8) | mdat(8 + filler)
# mvhd is version 0 with timescale 1000, so its u32 duration field IS the
# duration in milliseconds.
_MP4_FTYP_HEX = "000000146674797069736f6d0000020069736f6d"  # 20-byte ftyp
_MP4_MOOV_HDR_HEX = "0000007c6d6f6f76"  # moov, size 124
_MP4_MVHD_PRE_HEX = (
    "0000006c6d766864"  # mvhd, size 108
    + "00000000"  # version 0 + flags
    + "00000000" + "00000000"  # creation/modification time
    + "000003e8"  # timescale 1000 (ticks == milliseconds)
)
_MP4_MVHD_POST_HEX = (
    "00010000"  # rate 1.0
    + "01000000"  # volume 1.0 + reserved s16
    + "00000000" * 2  # reserved u32[2]
    + "000100000000000000000000"  # unity matrix rows 1-3
    + "000000000001000000000000"
    + "000000000000000040000000"
    + "00000000" * 6  # pre_defined
    + "00000001"  # next_track_ID
)
_MP4_TRAK_HEX = "000000087472616b"  # one (empty) track box
_MP4_MDAT_TYPE_HEX = "6d646174"

# Structurally valid RIFF/WAVE pieces (little-endian!): PCM, mono, 8-bit at
# 1000 Hz, so duration_ms == data-chunk byte length exactly -- closed-form
# for the SQL oracle.  Layout: 'RIFF' | riff_size | 'WAVE' | fmt(16) |
# 'data' | data_len | filler.
_WAV_RIFF_HEX = "52494646"
_WAV_FMT_HEX = (
    "57415645"  # 'WAVE'
    + "666d7420" + "10000000"  # 'fmt ', chunk size 16
    + "0100" + "0100"  # PCM, 1 channel
    + "e8030000" + "e8030000"  # sample rate 1000, byte rate 1000
    + "0100" + "0800"  # block align 1, bits 8
    + "64617461"  # 'data'
)


def _hex8(col):
    return F.lpad(F.lower(F.hex(col)), 8, "0")


def _hex_u32le_small(col):
    """Little-endian u32 hex for values < 256 (one live byte + 3 zeros)."""
    return F.concat(F.lpad(F.lower(F.hex(col)), 2, "0"), F.lit("000000"))


def synthesize_media_df(spark, docs_df: DataFrame) -> DataFrame:
    """Deterministic fake media table from doc ids, built JVM-side from hex.

    Images are structurally valid PNG prefixes (signature + IHDR carrying
    the real width/height big-endian) + a repeated filler; every 5th row is
    a 'video' with a structurally valid MP4 (ftyp + moov[mvhd carrying the
    real duration at timescale 1000 + one trak] + an mdat box wrapping the
    filler) and rows with doc_id % 5 == 3 are 'audio' with a structurally
    valid RIFF/WAVE (PCM 8-bit mono at 1000 Hz, so duration_ms equals the
    data-chunk byte count) -- the real box/chunk walks of
    ``parse_mp4_header`` / ``parse_wav_header`` are exercised end to end.
    All fields are closed-form in doc_id, so DuckDB can rebuild the exact
    hex/md5."""
    is_video = F.pmod("doc_id", F.lit(5)) == 0
    is_audio = F.pmod("doc_id", F.lit(5)) == 3
    width = (F.pmod("doc_id", F.lit(1889)) + 32).cast("int")
    height = (F.pmod("doc_id", F.lit(1049)) + 32).cast("int")
    duration_ms = ((F.pmod("doc_id", F.lit(29)) * 1000) + 1000).cast("int")
    n_fill = (F.pmod("doc_id", F.lit(50)) + 1).cast("int")
    filler = F.repeat(F.lit("abcdef"), n_fill)
    png_hex = F.concat(
        F.lit(_PNG_SIG_HEX + _PNG_IHDR_PRE_HEX),
        _hex8(width),
        _hex8(height),
        F.lit(_PNG_IHDR_POST_HEX),
        filler,
    )
    mp4_hex = F.concat(
        F.lit(_MP4_FTYP_HEX + _MP4_MOOV_HDR_HEX + _MP4_MVHD_PRE_HEX),
        _hex8(duration_ms),
        F.lit(_MP4_MVHD_POST_HEX + _MP4_TRAK_HEX),
        _hex8(F.lit(8) + n_fill * 3),  # mdat box size = 8 + filler bytes
        F.lit(_MP4_MDAT_TYPE_HEX),
        filler,
    )
    wav_hex = F.concat(
        F.lit(_WAV_RIFF_HEX),
        _hex_u32le_small(F.lit(36) + n_fill * 3),  # riff size = 36 + data
        F.lit(_WAV_FMT_HEX),
        _hex_u32le_small(n_fill * 3),  # data chunk length
        filler,
    )
    audio_duration_ms = (n_fill * 3).cast("int")  # 1000 B/s, 8-bit mono
    return docs_df.select(
        F.concat(
            F.when(is_video, F.lit("vid://"))
            .when(is_audio, F.lit("aud://"))
            .otherwise(F.lit("img://")),
            F.col("doc_id").cast("string"),
        ).alias("media_ref"),
        F.when(is_video, F.lit("video"))
        .when(is_audio, F.lit("audio"))
        .otherwise(F.lit("image"))
        .alias("media_kind"),
        F.unhex(
            F.when(is_video, mp4_hex).when(is_audio, wav_hex).otherwise(png_hex)
        ).alias("payload"),
        width.alias("width"),
        height.alias("height"),
        F.when(is_video, duration_ms)
        .when(is_audio, audio_duration_ms)
        .otherwise(F.lit(0).cast("int"))
        .alias("duration_ms"),
    )


def parse_image_header(raw: bytes):
    """Spec-compliant stdlib header parse for PNG / GIF / JPEG.

    Returns ``(codec, width, height)`` or ``None``.  This is a *real*
    decoder for the metadata tier: signatures and dimension fields are read
    exactly as the container specs define them (PNG IHDR big-endian u32s,
    GIF logical-screen little-endian u16s, JPEG SOFn scan)."""
    if len(raw) >= 24 and raw[:8] == b"\x89PNG\r\n\x1a\n" and raw[12:16] == b"IHDR":
        w, h = struct.unpack(">II", raw[16:24])
        # the PNG spec caps both at 2^31-1; past that the header is corrupt
        # (and would not fit the int32 dimension columns)
        return ("png", w, h) if max(w, h) < 1 << 31 else None
    if len(raw) >= 10 and raw[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", raw[6:10])
        return ("gif", w, h)
    if len(raw) >= 30 and raw[:4] == b"RIFF" and raw[8:12] == b"WEBP":
        # WebP (RIFF container): VP8 lossy (frame tag + 14-bit dims),
        # VP8L lossless (bit-packed 14-bit dims), VP8X extended (24-bit
        # minus-one dims) -- all public container-spec field reads
        fourcc = raw[12:16]
        if fourcc == b"VP8 " and len(raw) >= 30 and raw[23:26] == b"\x9d\x01\x2a":
            w = int.from_bytes(raw[26:28], "little") & 0x3FFF
            h = int.from_bytes(raw[28:30], "little") & 0x3FFF
            return ("webp", w, h)
        if fourcc == b"VP8L" and len(raw) >= 25 and raw[20] == 0x2F:
            bits = int.from_bytes(raw[21:25], "little")
            return ("webp", (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
        if fourcc == b"VP8X" and len(raw) >= 30:
            w = int.from_bytes(raw[24:27], "little") + 1
            h = int.from_bytes(raw[27:30], "little") + 1
            return ("webp", w, h)
        return None
    if len(raw) >= 4 and raw[:2] == b"\xff\xd8":
        i = 2
        while i + 9 <= len(raw):
            if raw[i] != 0xFF:
                break
            marker = raw[i + 1]
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                i += 2
                continue
            seg_len = int.from_bytes(raw[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= len(raw):
                    h, w = struct.unpack(">HH", raw[i + 5 : i + 9])
                    return ("jpeg", w, h)
                break
            i += 2 + seg_len
    return None


def _bmff_boxes(raw: bytes, start: int, end: int):
    """``(box_type, body_start, box_end)`` of each ISO BMFF box in
    ``raw[start:end]``, as ISO 14496-12 defines the header: a big-endian
    u32 size, a u64 largesize when that size is 1, and a box running to
    ``end`` when it is 0.  Stops at a box that undercuts its own header
    or overruns ``end`` (malformed/truncated: the boxes before it stand)."""
    i = start
    while i + 8 <= end:
        size = int.from_bytes(raw[i : i + 4], "big")
        hdr = 8
        if size == 1:  # 64-bit largesize
            if i + 16 > end:
                return
            size = int.from_bytes(raw[i + 8 : i + 16], "big")
            hdr = 16
        elif size == 0:  # box runs to the end of its parent
            size = end - i
        if size < hdr or i + size > end:
            return
        yield raw[i + 4 : i + 8], i + hdr, i + size
        i += size


def parse_mp4_header(raw: bytes):
    """Spec-compliant stdlib ISO BMFF (MP4) metadata parse: a top-level box
    walk (:func:`_bmff_boxes`; ftyp / moov / trak / mdat) reading mvhd
    version 0/1 timescale+duration and one count per trak box.

    Returns ``(major_brand, timescale, duration_ms, n_tracks)`` or ``None``
    when the payload is not BMFF.  ``duration_ms`` is None for a valid
    container without a parseable mvhd (e.g. fragmented/streamed files where
    moov arrives elsewhere) and for a duration of 2^31 ms or more."""
    if len(raw) < 12 or raw[4:8] != b"ftyp":
        return None
    major_brand = raw[8:12].decode("latin-1", errors="replace")
    timescale = duration = None
    n_tracks = 0

    def walk(start: int, end: int, depth: int) -> None:
        nonlocal timescale, duration, n_tracks
        for btype, body_start, box_end in _bmff_boxes(raw, start, end):
            if btype == b"moov" and depth == 0:
                walk(body_start, box_end, depth + 1)
            elif btype == b"trak":
                n_tracks += 1
            elif btype == b"mvhd":
                body = raw[body_start:box_end]
                version = body[0] if body else None
                # a truncated v1 body must NOT fall through to the v0 field
                # offsets (that would read the middle of the u64 timestamps
                # as timescale/duration) -- truncated boxes yield None
                if version == 1:
                    if len(body) >= 32:
                        timescale = int.from_bytes(body[20:24], "big")
                        duration = int.from_bytes(body[24:32], "big")
                elif version == 0 and len(body) >= 20:
                    timescale = int.from_bytes(body[12:16], "big")
                    duration = int.from_bytes(body[16:20], "big")

    walk(0, len(raw), 0)
    duration_ms = None
    if timescale and duration is not None:
        duration_ms = duration * 1000 // timescale
        if duration_ms >= 1 << 31:  # corrupt: past the int32 duration columns
            duration_ms = None
    return (major_brand, timescale, duration_ms, n_tracks)


def extract_mp4_keyframe(raw: bytes, max_scan: int = 1 << 22) -> bytes | None:
    """First embedded JPEG frame of an ISO BMFF payload, or None.

    Two box-aware sources (the :func:`_bmff_boxes` walk of
    :func:`parse_mp4_header`): ``mdat`` bodies -- an MJPEG track's
    samples are raw ITU-T T.81 frames, so the first SOI..EOI run IS the
    first keyframe -- and ``moov/udta/meta/ilst/covr`` ``data`` bodies
    (cover art).  Inside valid entropy-coded data ``FFD9`` can only be
    the real EOI (FF is always stuffed as FF00 or a marker), so the
    first EOI after the SOI bounds the frame.  Scanning stops after
    ``max_scan`` bytes per box -- a keyframe lives at the FRONT of its
    box, and an unbounded scan of a multi-GB H.264 mdat for a SOI that
    is not there would be pure waste.  Codecs without embedded JPEG
    (H.264/5, VP9, AV1...) return None -- the caller keeps those on the
    ``header:mp4`` counted-not-dropped tier."""
    if len(raw) < 12 or raw[4:8] != b"ftyp":
        return None

    def scan_jpeg(body: bytes):
        j = body.find(b"\xff\xd8\xff")
        if j < 0:
            return None
        k = body.find(b"\xff\xd9", j + 3)
        if k < 0:
            return None
        return body[j : k + 2]

    def walk(start: int, end: int, depth: int) -> bytes | None:
        for btype, body_start, box_end in _bmff_boxes(raw, start, end):
            hit = None
            if btype == b"mdat" or (btype == b"data" and depth > 0):
                hit = scan_jpeg(raw[body_start : min(box_end, body_start + max_scan)])
            elif btype in (b"moov", b"udta", b"ilst", b"covr") and depth < 6:
                hit = walk(body_start, box_end, depth + 1)
            elif btype == b"meta" and depth < 6:
                # FullBox: 4 bytes of version+flags precede the children
                hit = walk(body_start + 4, box_end, depth + 1)
            if hit is not None:
                return hit
        return None

    return walk(0, len(raw), 0)


def _riff_chunks(raw: bytes):
    """``(chunk_type, declared_len, body)`` of each RIFF chunk after the
    12-byte ``RIFF <size> <form>`` header: little-endian u32 lengths,
    word-aligned chunks.  ``body`` is short when the payload ends inside
    the chunk; each caller keeps its own rule for that."""
    i = 12
    while i + 8 <= len(raw):
        clen = int.from_bytes(raw[i + 4 : i + 8], "little")
        yield raw[i : i + 4], clen, raw[i + 8 : i + 8 + clen]
        i += 8 + clen + (clen & 1)  # chunks are word-aligned


def parse_wav_header(raw: bytes):
    """Spec-compliant stdlib RIFF/WAVE metadata parse: a chunk walk
    (:func:`_riff_chunks`) reading the fmt chunk (channels, sample rate,
    bits) and the data chunk's declared size, exactly as the RIFF
    container defines them (little-endian u16/u32).

    Returns ``(codec, n_channels, sample_rate, bits_per_sample,
    duration_ms)`` or ``None`` when the payload is not RIFF/WAVE.
    ``duration_ms`` is None if either chunk is missing/truncated, or if the
    declared data size gives 2^31 ms or more."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        return None
    n_channels = sample_rate = bits = data_len = None
    for ctype, clen, body in _riff_chunks(raw):
        if ctype == b"fmt " and len(body) >= 16:
            n_channels = int.from_bytes(body[2:4], "little")
            sample_rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif ctype == b"data":
            data_len = clen  # declared size, even if payload is truncated
    duration_ms = None
    if data_len is not None and n_channels and sample_rate and bits:
        bytes_per_sec = sample_rate * n_channels * (bits // 8)
        if bytes_per_sec:
            duration_ms = data_len * 1000 // bytes_per_sec
            if duration_ms >= 1 << 31:  # corrupt: past the int32 duration columns
                duration_ms = None
    return ("wav", n_channels, sample_rate, bits, duration_ms)


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_unfilter(raw: bytes):
    """Chunk walk + zlib inflate + per-scanline unfilter (None/Sub/Up/
    Average/Paeth as the PNG spec defines them, Adam7 de-interlaced) of
    :func:`png_luma_milli`.

    Returns ``(w, h, color_type, plte, out)`` where ``out`` is the raw
    unfiltered sample bytes (``w*h*channels``).  Raises ``ValueError``
    for anything that is not a decodable 8-bit PNG."""
    import zlib

    if len(raw) < 8 or raw[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, ihdr, idat, plte = 8, None, bytearray(), None
    while pos + 8 <= len(raw):
        clen = int.from_bytes(raw[pos : pos + 4], "big")
        ctype = raw[pos + 4 : pos + 8]
        data = raw[pos + 8 : pos + 8 + clen]
        if len(data) < clen:
            raise ValueError("truncated chunk")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h = struct.unpack(">II", ihdr[:8])
    bit_depth, color_type, _comp, _filt, interlace = ihdr[8:13]
    if bit_depth != 8 or interlace not in (0, 1) or color_type not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG (depth={bit_depth}, color={color_type})")
    ch = _PNG_CHANNELS[color_type]
    # absolute ceiling: corrupt IHDR dims would otherwise size the
    # interlace scatter buffer (and the per-pixel Python work) unboundedly
    if w * h > (1 << 26):
        raise ValueError("image too large for the vendored decoder")
    # bounded inflate: a legit stream is exactly the scanline total
    # (interlaced passes sum to <= w*h*ch + 2h filter bytes); a zip-bomb
    # IDAT stops at the bound instead of inflating to whatever it likes
    bound = w * h * ch + 2 * h + 64
    try:
        data = zlib.decompressobj().decompress(bytes(idat), bound)
    except zlib.error as exc:
        # corrupt deflate must stay inside the ValueError containment
        # contract -- a zlib.error would escape the tier logic and kill
        # the task on one bad payload
        raise ValueError(f"bad IDAT stream: {exc}") from exc
    if interlace == 0:
        out, consumed = _unfilter_region(data, 0, w, h, ch)
        if consumed is None:
            raise ValueError("short pixel data")
        return w, h, color_type, plte, out
    # Adam7: seven independently-filtered sub-images, scattered onto the
    # full grid by the public pass geometry
    out = bytearray(h * w * ch)
    offset = 0
    for x0, y0, dx, dy in _ADAM7_PASSES:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        sub, consumed = _unfilter_region(data, offset, pw, ph, ch)
        if consumed is None:
            raise ValueError("short pixel data (interlaced pass)")
        offset += consumed
        for j in range(ph):
            for i in range(pw):
                src = (j * pw + i) * ch
                dst = ((y0 + j * dy) * w + (x0 + i * dx)) * ch
                out[dst : dst + ch] = sub[src : src + ch]
    return w, h, color_type, plte, out


_ADAM7_PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter_region(data, start: int, w: int, h: int, ch: int):
    """Unfilter one (sub-)image of ``h`` scanlines x ``w`` pixels from
    ``data[start:]``; returns (samples, bytes_consumed) or (None, None)
    when the stream is short."""
    stride = w * ch
    if len(data) - start < h * (stride + 1):
        return None, None
    out = bytearray(h * stride)
    prev_off = -stride
    for y in range(h):
        row_start = start + y * (stride + 1)
        ftype = data[row_start]
        line = data[row_start + 1 : row_start + 1 + stride]
        off = y * stride
        if ftype == 0:  # None
            out[off : off + stride] = line
        elif ftype == 1:  # Sub
            for x in range(stride):
                a = out[off + x - ch] if x >= ch else 0
                out[off + x] = (line[x] + a) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                b = out[prev_off + off + x] if y else 0
                out[off + x] = (line[x] + b) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = out[off + x - ch] if x >= ch else 0
                b = out[prev_off + off + x] if y else 0
                out[off + x] = (line[x] + (a + b) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = out[off + x - ch] if x >= ch else 0
                b = out[prev_off + off + x] if y else 0
                c = out[prev_off + off + x - ch] if (y and x >= ch) else 0
                out[off + x] = (line[x] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"bad filter type {ftype}")
    return out, h * (stride + 1)


def png_luma_milli(raw: bytes):
    """Vendored pure-stdlib PNG pixel decoder: ``(w, h, lumas)`` with
    ``lumas`` a row-major list of INTEGER ``r*299 + g*587 + b*114``
    values (the ITU-R 601 luma behind PIL's ``convert('L')`` at scale
    1000; gray samples count as ``v*1000``, palettes are looked up, alpha
    is ignored), so every consumer (the mean-luma features, the
    perceptual hashes in ``ops.images``) stays integer-exact and an
    external SQL oracle can reproduce the arithmetic bit for bit.
    8-bit gray / RGB / palette / gray+alpha / RGBA, interlaced or not;
    ``ValueError`` for anything else (the caller's tier logic falls back
    to the header parse)."""
    w, h, color_type, plte, out = _png_unfilter(raw)
    if color_type == 0:
        return w, h, [v * 1000 for v in out]
    if color_type == 4:  # gray + alpha: luma channel only
        return w, h, [v * 1000 for v in out[0::2]]
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        if max(out, default=0) * 3 + 3 > len(plte):
            raise ValueError("palette index out of PLTE range")
        rgb = bytearray()
        for idx in out:
            rgb += plte[idx * 3 : idx * 3 + 3]
        out = rgb
    step = 3 if color_type in (2, 3) else 4
    return w, h, [
        out[i] * 299 + out[i + 1] * 587 + out[i + 2] * 114
        for i in range(0, len(out), step)
    ]


# ---------------------------------------------------------------------------
# vendored GIF pixel decode (LZW) -- third leg of the pure-stdlib image
# tier.  GIF is LOSSLESS, so like PNG (and unlike general JPEG) a
# closed-form pixel oracle is exact.  Public-spec provenance: GIF89a
# specification (CompuServe, public) + the standard GIF-variant LZW.


def _gif_subblocks(raw: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a GIF sub-block chain starting at ``pos``; returns
    (data, position after the terminator)."""
    out = bytearray()
    while True:
        if pos >= len(raw):
            raise ValueError("truncated sub-block chain")
        n = raw[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        block = raw[pos : pos + n]
        if len(block) < n:
            raise ValueError("truncated sub-block")
        out += block
        pos += n


def _gif_lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> list[int]:
    """GIF-variant LZW: LSB-first codes, clear/EOI specials, code width
    grows when the table fills (cap 12 bits)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError("bad LZW minimum code size")
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [(i,) for i in range(clear)] + [None, None]
    table = list(base)
    code_size = min_code_size + 1
    out: list[int] = []
    acc = nbits = 0
    prev: tuple[int, ...] | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = list(base)
                code_size = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= len(table) or table[code] is None:
                    raise ValueError("bad first LZW code")
                entry = table[code]
            elif code < len(table) and table[code] is not None:
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("LZW code out of range")
            out.extend(entry)
            if len(out) > max_pixels:
                raise ValueError("LZW output exceeds pixel count")
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
    raise ValueError("LZW stream ended without EOI")


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_luma_milli(raw: bytes, max_pixels: int | None = None):
    """Decode the FIRST frame of a GIF to the integer scale-1000 luma
    matrix ``(w, h, lumas)`` -- the exact convention of
    :func:`png_luma_milli` (``r*299 + g*587 + b*114`` over the palette
    entries), so GIF payloads feed the same perceptual-hash consumers.
    Interlaced frames are de-interlaced; animated GIFs hash frame 1
    (later frames are deltas against rendered state -- out of scope,
    and frame 1 is the perceptual identity of the asset); transparency
    is ignored (the transparent index's palette color counts, exactly
    what hashing the undisposed first frame means).  ``ValueError`` for
    anything else -- the caller's containment tier."""
    if len(raw) < 13 or raw[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    flags = raw[10]
    pos = 13
    global_ct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        global_ct = raw[pos : pos + 3 * n]
        if len(global_ct) < 3 * n:
            raise ValueError("truncated global color table")
        pos += 3 * n
    while pos < len(raw):
        b = raw[pos]
        if b == 0x21:  # extension: label + sub-blocks
            _, pos = _gif_subblocks(raw, pos + 2)
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(raw):
                raise ValueError("truncated image descriptor")
            w, h = struct.unpack("<HH", raw[pos + 5 : pos + 9])
            # caller cap + an absolute ceiling (corrupt descriptors could
            # otherwise drive huge Python-list work before the short-data
            # check fires); 64 MP is past any sane vendored-tier decode
            if max_pixels is not None and w * h > max_pixels:
                raise ValueError("image exceeds max_pixels")
            if w * h > (1 << 26):
                raise ValueError("image too large for the vendored decoder")
            iflags = raw[pos + 9]
            pos += 10
            ct = global_ct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                ct = raw[pos : pos + 3 * n]
                if len(ct) < 3 * n:
                    raise ValueError("truncated local color table")
                pos += 3 * n
            if ct is None:
                raise ValueError("no color table")
            if pos >= len(raw):
                raise ValueError("missing LZW data")
            mcs = raw[pos]
            data, pos = _gif_subblocks(raw, pos + 1)
            idx = _gif_lzw_decode(data, mcs, w * h)
            if len(idx) < w * h:
                raise ValueError("short pixel data")
            idx = idx[: w * h]
            if max(idx, default=0) * 3 + 3 > len(ct):
                raise ValueError("palette index out of color-table range")
            luma = [ct[i * 3] * 299 + ct[i * 3 + 1] * 587 + ct[i * 3 + 2] * 114 for i in idx]
            if iflags & 0x40:  # interlaced: rows arrive in 4 passes
                rows = []
                for start, step in _GIF_INTERLACE_PASSES:
                    rows.extend(range(start, h, step))
                out = [0] * (w * h)
                for src, dst in enumerate(rows):
                    out[dst * w : (dst + 1) * w] = luma[src * w : (src + 1) * w]
                luma = out
            return w, h, luma
        elif b == 0x3B:  # trailer before any frame
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
    raise ValueError("no image frame")


# The vendored pixel tiers, by the codec ``parse_image_header`` names: each
# returns ``(w, h, lumas)`` at scale 1000 or raises ValueError.  JPEG and
# GIF take the pixel cap THROUGH (defense in depth): the header gate reads
# the first SOFn / the logical screen, and a corrupt payload could desync
# that from the frame the decoder actually uses.
_LUMA_DECODERS = {
    "png": lambda raw, max_pixels: png_luma_milli(raw),
    "jpeg": lambda raw, max_pixels: decode_jpeg_luma_milli(raw, max_pixels=max_pixels),
    "gif": lambda raw, max_pixels: gif_luma_milli(raw, max_pixels=max_pixels),
}


def _decode_luma(codec: str, raw: bytes, max_pixels: int | None):
    """``(w, h, lumas)`` through the codec table -- the one pixel decode of
    the feature and hash tiers -- or None when the codec has no vendored
    decoder, its decoder refuses the payload, or the frame has no pixels
    (a 0-wide frame has no mean and no hash grid)."""
    decode = _LUMA_DECODERS.get(codec)
    if decode is None:
        return None
    try:
        decoded = decode(raw, max_pixels)
    except ValueError:
        return None
    return decoded if decoded[0] * decoded[1] else None


def encode_gif(
    w: int,
    h: int,
    indices: bytes,
    palette: bytes,
    interlaced: bool = False,
) -> bytes:
    """Real GIF89a encoder (true LZW with growing code widths + clear-on-
    full, optional interlacing) for tests and closed-form synthetic
    corpora -- the write-side twin of :func:`gif_luma_milli`."""
    n = len(palette) // 3
    depth = max(1, (n - 1).bit_length())
    if (1 << depth) * 3 != len(palette):
        raise ValueError("palette length must be 3 * 2^k")
    if len(indices) != w * h:
        raise ValueError("index buffer does not match dimensions")
    mcs = max(2, depth)
    clear = 1 << mcs
    eoi = clear + 1

    if interlaced:
        rows = []
        for start, step in _GIF_INTERLACE_PASSES:
            rows.extend(range(start, h, step))
        seq = bytearray()
        for r in rows:
            seq += indices[r * w : (r + 1) * w]
        indices = bytes(seq)

    out_bits = bytearray()
    acc = nbits = 0

    def emit(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out_bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    nxt = eoi + 1
    code_size = mcs + 1
    emit(clear, code_size)
    buf = b""
    for byte in indices:
        cand = buf + bytes([byte])
        if cand in table:
            buf = cand
            continue
        emit(table[buf], code_size)
        if nxt < 4096:
            table[cand] = nxt
            nxt += 1
            # one-late widen: the decoder rebuilds the entry for our emit
            # j only while reading emit j+1, so its width change lands on
            # emit j+2 -- the encoder therefore widens when the code just
            # ASSIGNED equals 1<<code_size (one assignment after the
            # (1<<code_size)-1 entry), not when it equals (1<<size)-1
            if nxt - 1 == (1 << code_size) and code_size < 12:
                code_size += 1
        else:
            emit(clear, code_size)
            table = {bytes([i]): i for i in range(clear)}
            nxt = eoi + 1
            code_size = mcs + 1
        buf = bytes([byte])
    if buf:
        emit(table[buf], code_size)
    emit(eoi, code_size)
    if nbits:
        out_bits.append(acc & 0xFF)

    header = b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x80 | (depth - 1), 0, 0])
    body = bytearray(header + palette)
    body += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    body.append(0x40 if interlaced else 0)
    body.append(mcs)
    i = 0
    while i < len(out_bits):
        chunk = bytes(out_bits[i : i + 255])
        body.append(len(chunk))
        body += chunk
        i += 255
    body += b"\x00\x3b"
    return bytes(body)


def _fake_features(payload: bytes, n: int = 8) -> list[float]:
    """Deterministic stand-in for a decoded-image feature vector."""
    digest = hashlib.sha256(payload or b"").digest()
    return [int.from_bytes(digest[i * 4 : i * 4 + 4], "big") / 2**32 for i in range(n)]


def extract_media_features(
    media_df: DataFrame, max_decode_pixels: int | None = 1 << 16
) -> DataFrame:
    """Arrow-batched feature/metadata extraction over binary payloads.

    Per payload: sizes + hashes always; then the decode tiers -- the
    vendored pure-Python pixel decoders for complete PNGs /
    baseline+progressive JPEGs / GIFs, through the codec table the
    perceptual-hash tiers of ``ops.images`` use (``_decode_luma``;
    ``decoder='pixels:<codec>'``, the mean luma ``sum(lumas) / 1000 /
    (w*h)`` as the feature vector), else the stdlib header parse
    (``decoder='header:<codec>'``), else the deterministic stub
    (``decoder='stub'``).  ``payload_md5`` is md5 of the lowercase hex of
    the bytes (SQL engines generally hash strings, not blobs).

    ``max_decode_pixels`` caps the VENDORED pixel tier: the stdlib PNG
    unfilter is a pure-Python per-pixel loop, O(width*height*channels), so
    a single camera photo would cost tens of millions of Python iterations
    and dominate a metadata sweep.  The header dimensions are read first
    -- O(1) -- and payloads beyond the cap take the header tier instead,
    keeping header-only sweeps header-speed; the cap also reaches the JPEG
    and GIF decoders, so a frame larger than its header claims stops at
    the cap and keeps the header tier.  Cap-skipped payloads are tagged
    ``decoder='header:<codec>:capped'`` (dimensions real, features the
    deterministic stub) so consumers can distinguish them from genuinely
    undecodable header-only payloads.  Default 65 536 pixels (256x256);
    pass ``None`` to opt in to full decode at any size."""

    def row(ref, kind, raw):
        raw = raw or b""
        w = h = feats = dur_ms = None
        decoder = "stub"
        parsed = parse_image_header(raw)
        if parsed is not None:
            codec, w, h = parsed
            decoder = f"header:{codec}"
            capped = max_decode_pixels is not None and w * h > max_decode_pixels
            if codec in _LUMA_DECODERS and capped:
                # the cap (not undecodability) skipped the pixel tier:
                # surface that in the decoder tag so callers can tell capped
                # payloads (stub features, not mean-luma) from genuinely
                # header-only ones
                decoder += ":capped"
            else:
                decoded = _decode_luma(codec, raw, max_decode_pixels)
                if decoded is not None:
                    w, h, lumas = decoded
                    decoder = f"pixels:{codec}"
                    feats = [sum(lumas) / 1000 / (w * h) / 255.0] * 8
        else:  # container metadata tiers
            mp4 = parse_mp4_header(raw)
            wav = None if mp4 else parse_wav_header(raw)
            if mp4 is not None:
                decoder, dur_ms = "header:mp4", mp4[2]
            elif wav is not None:
                decoder, dur_ms = "header:wav", wav[4]
        return [
            (
                ref,
                kind,
                len(raw),
                hashlib.sha256(raw).hexdigest(),
                hashlib.md5(raw.hex().encode()).hexdigest(),
                w,
                h,
                dur_ms,
                decoder,
                feats if feats is not None else _fake_features(raw),
            )
        ]

    return map_rows(media_df, ["media_ref", "media_kind", "payload"], FEATURES_SCHEMA, row)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("resized", BooleanType()),
    ]
)


def resize_images(media_df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Resize plumbing: binary-in/binary-out Arrow-batched kernel.

    Payloads whose *header parses as an image* get a structural resize --
    a rebuilt PNG prefix carrying the target dimensions plus a
    deterministic filler sized to the target pixel count (the batch
    shape, schema and metadata flow a real resample + re-encode kernel
    would use).  Non-image payloads pass through unchanged with
    ``resized=false``."""
    filler_len = max(16, (target_w * target_h) // 256)
    resized_png = (
        bytes.fromhex(_PNG_SIG_HEX + _PNG_IHDR_PRE_HEX)
        + struct.pack(">II", target_w, target_h)
        + bytes.fromhex(_PNG_IHDR_POST_HEX)
        + (b"\xab\xcd\xef" * (filler_len // 3 + 1))[:filler_len]
    )

    def row(ref, kind, raw):
        raw = raw or b""
        if parse_image_header(raw) is not None:
            return [(ref, kind, resized_png, target_w, target_h, True)]
        return [(ref, kind, raw, None, None, False)]

    return map_rows(media_df, ["media_ref", "media_kind", "payload"], RESIZE_SCHEMA, row)


FRAME_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", IntegerType()),
        StructField("frame_payload", BinaryType()),
        StructField("decoder", StringType()),
    ]
)


def sample_video_frames(media_df: DataFrame, every_ms: int = 1000, max_frames: int = 32) -> DataFrame:
    """Frame-sampling plumbing: the 1->N row expansion an ffmpeg keyframe
    sampler produces, as an Arrow-batched kernel.  Non-video rows emit
    nothing; output row count is min(duration_ms // every_ms + 1, max_frames)
    per video.

    Duration comes from the BYTES when possible: ``parse_mp4_header`` reads
    mvhd timescale+duration from the container (``decoder='header:mp4'``);
    only payloads no parser understands, or whose header duration is out
    of range, fall back to the input ``duration_ms`` column
    (``decoder='stub'``).  The frame payload itself
    is ALWAYS a deterministic stub -- the ASCII md5 of
    ``<payload hex>:<frame idx>`` -- reconstructable by a SQL oracle; a real
    ffmpeg kernel swaps only that inner function (no ffmpeg in this env)."""

    def rows(ref, kind, raw, dur):
        if kind != "video":
            return
        raw = raw or b""
        parsed = parse_mp4_header(raw)
        if parsed is not None and parsed[2] is not None:
            dur_ms, decoder = parsed[2], "header:mp4"
        else:
            dur_ms, decoder = int(dur or 0), "stub"
        if not dur_ms:
            return
        for i in range(min(dur_ms // every_ms + 1, max_frames)):
            frame = hashlib.md5(f"{raw.hex()}:{i}".encode()).hexdigest().encode()
            yield (ref, i, i * every_ms, frame, decoder)

    cols = ["media_ref", "media_kind", "payload", "duration_ms"]
    return map_rows(media_df, cols, FRAME_SCHEMA, rows)
