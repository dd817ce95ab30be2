"""Perceptual image hashing + image near-duplicate pairs over binary
payload columns -- the image half of what "dedup" means in a multimodal
training corpus (re-encoded thumbnails, resized mirrors, same image with
one changed pixel all hash within a few bits of each other).

Hash family (public-domain folklore, the aHash / dHash family popularized
by the pHash project and Krawetz's average-hash writeups):

* **aHash (average hash)**: downsample to an 8x8 block grid, bit j = 1
  where block j's mean luma exceeds the GLOBAL mean.
* **gHash (gradient hash)**: bit j = 1 where block j's mean luma exceeds
  its right neighbor's (wrapping at each row end) -- our fixed-grid
  variant of dHash: classic dHash compares a 9x8 resample's horizontal
  neighbors, which needs non-uniform resampling for widths not divisible
  by 9; the wraparound variant keeps every block an exact integer sum.
* **pHash (DCT hash, r8)**: resize to 32x32, 2-D DCT-II, keep the 8x8
  low-frequency corner, bit j = 1 where coefficient j exceeds the
  median (lower order-stat #32 of the 64) -- the standard robustness
  upgrade over aHash/gHash for brightness/contrast-shifted near-dups
  (a global luma shift moves only the DC term; a contrast stretch
  scales all coefficients positively, leaving >-vs-median bits mostly
  intact).  Our variant is INTEGER-exact: the 8 needed DCT basis rows
  are rounded to scale 2^14 (:data:`PHASH_BASIS` -- rounding the basis
  only perturbs the transform below perceptual relevance, while making
  every coefficient a bounded int64 any SQL engine reproduces bit for
  bit), and the resize is the deterministic integer scheme of
  :func:`_resize32`.

Everything is INTEGER-EXACT by construction so an external SQL engine can
replicate hashes bit for bit: luma is held at scale 1000 (``r*299 +
g*587 + b*114``, via :func:`nreadspark.ops.multimodal.png_luma_milli`),
block membership is the floor mapping ``bx = x*8 // w`` (exact equal
blocks when 8 | w), and every mean comparison is cross-multiplied
(``S_j * n_total > T * C_j``) instead of divided.  The 64 bits pack into
TWO non-negative int32-range BIGINTs ``(hi, lo)`` -- bits 32..63 and
0..31 -- sidestepping 64-bit sign traps in both engines; hamming distance
is ``bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)``.

Scale shape: hashing is ONE ``mapInArrow`` crossing, the one every media
kernel shares (``pipeline.map_rows``: payload bytes cross Arrow
once, 16 bytes of hash come back); pair generation bands the 64
bits into four 16-bit keys and self-joins the (ref, band, key) frame --
by pigeonhole any pair within hamming 3 agrees on at least one of 4
bands, so the band join is EXACT for ``max_hamming <= 3``, never
quadratic in the corpus.  Identical-hash mega-clusters (the exact-dup
case) still pair quadratically WITHIN a bucket, as any pair output must;
feed the pairs into ``ops.dedup.connected_components`` +
``dedup_survivors`` for the keep/drop decision, or cap with the minhash
star-collapse pattern (``ops/dedup.py``) if cluster sizes are unbounded.

The vendored pure-Python decoders (PNG, JPEG, GIF) are the one pixel
tier, reached through ``ops.multimodal``'s codec table (``_decode_luma``)
that ``extract_media_features`` decodes through too; payloads past
``max_decode_pixels`` or undecodable are tagged, never dropped.

Reference parity note: NReadability has no image pipeline -- this module
is part of the beyond-reference training-data surface (brief: multimodal
columns as first-class).
"""

from __future__ import annotations

import math
import zlib
import struct

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..pipeline import map_rows
from .multimodal import (
    _decode_luma,
    _synthesize_media,
    encode_gif,
    extract_mp4_keyframe,
    parse_image_header,
    parse_mp4_header,
)

GRID = 8  # 8x8 blocks -> 64-bit hashes; fixed so band math stays exact

HASH_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("ahash_hi", LongType()),
        StructField("ahash_lo", LongType()),
        StructField("ghash_hi", LongType()),
        StructField("ghash_lo", LongType()),
        StructField("phash_hi", LongType()),
        StructField("phash_lo", LongType()),
        StructField("decoder", StringType()),
    ]
)

PHASH_SIZE = 32  # resize target; the DCT keeps the 8x8 low-freq corner
PHASH_SCALE = 1 << 14

# The 8 low-frequency rows of the 32-point DCT-II basis, rounded to
# integer scale 2^14: B[u][x] = round(cos(pi*u*(2x+1)/64) * 2^14).
# This table is the SINGLE source of truth -- the SQL oracle inlines
# these very integers as literals, so kernel and oracle agree exactly
# regardless of either engine's libm.
PHASH_BASIS = tuple(
    tuple(
        int(round(math.cos(math.pi * u * (2 * x + 1) / 64) * PHASH_SCALE))
        for x in range(PHASH_SIZE)
    )
    for u in range(GRID)
)


def _block_sums(w: int, h: int, lumas: list[int]):
    """(sums, counts) over the GRID x GRID floor-mapped blocks, row-major
    j = by*GRID + bx with bx = x*GRID // w -- exact integer arithmetic.

    Vectorized (r8): ``x*G//w == b`` iff ``ceil(b*w/G) <= x <
    ceil((b+1)*w/G)``, so the floor mapping partitions rows/columns at
    fixed boundaries and block sums fall out of ONE int64 integral
    image -- measured 0.45 ms -> ~0.02 ms per 64x64 image, which is the
    bulk of the hash cost on the lossless (PNG/GIF) pixel paths.  The
    per-pixel loop is kept for sub-grid images (callers normally gate
    those as too-small)."""
    if w < GRID or h < GRID:
        sums = [0] * (GRID * GRID)
        counts = [0] * (GRID * GRID)
        for y in range(h):
            by = y * GRID // h
            row = by * GRID
            base = y * w
            for x in range(w):
                j = row + x * GRID // w
                sums[j] += lumas[base + x]
                counts[j] += 1
        return sums, counts
    import numpy as np

    a = np.asarray(lumas, dtype=np.int64).reshape(h, w)
    integ = np.zeros((h + 1, w + 1), dtype=np.int64)
    np.cumsum(np.cumsum(a, axis=0), axis=1, out=integ[1:, 1:])
    xb = np.array([-(-b * w // GRID) for b in range(GRID + 1)])
    yb = np.array([-(-b * h // GRID) for b in range(GRID + 1)])
    sums = (
        integ[np.ix_(yb[1:], xb[1:])]
        - integ[np.ix_(yb[:-1], xb[1:])]
        - integ[np.ix_(yb[1:], xb[:-1])]
        + integ[np.ix_(yb[:-1], xb[:-1])]
    )
    counts = (yb[1:] - yb[:-1])[:, None] * (xb[1:] - xb[:-1])[None, :]
    return sums.reshape(-1).tolist(), counts.reshape(-1).tolist()


def _pack(bits: list[int]) -> tuple[int, int]:
    """64 bits (j ascending) -> (hi, lo): lo = bits 0..31, hi = 32..63.
    Both land in [0, 2^32), so BIGINT sign never enters the picture."""
    lo = sum(1 << j for j in range(32) if bits[j])
    hi = sum(1 << (j - 32) for j in range(32, 64) if bits[j])
    return hi, lo


def ahash64(w: int, h: int, lumas: list[int]) -> tuple[int, int]:
    """Average hash: bit j = block-j mean > global mean, cross-multiplied
    (``S_j * n > T * C_j``) so the comparison is integer-exact."""
    sums, counts = _block_sums(w, h, lumas)
    total, n = sum(sums), w * h
    bits = [1 if sums[j] * n > total * counts[j] else 0 for j in range(GRID * GRID)]
    return _pack(bits)


def ghash64(w: int, h: int, lumas: list[int]) -> tuple[int, int]:
    """Gradient hash: bit j = block-j mean > right neighbor's mean
    (wrapping at each row end), cross-multiplied."""
    sums, counts = _block_sums(w, h, lumas)
    bits = []
    for j in range(GRID * GRID):
        nj = (j // GRID) * GRID + ((j % GRID) + 1) % GRID
        bits.append(1 if sums[j] * counts[nj] > sums[nj] * counts[j] else 0)
    return _pack(bits)


def _resize32(w: int, h: int, lumas: list[int]):
    """Deterministic integer 32x32 resize: cell x covers source columns
    ``[x*w//32, max(x*w//32 + 1, (x+1)*w//32))`` (same for rows) -- the
    floor-mapped AREA mean when the source is larger than 32 (every cell
    gets >= 1 whole pixel), degrading to nearest-neighbor sampling when
    smaller (ranges overlap) -- and the cell value is the floor-divided
    integer mean of scale-1000 lumas.  One closed form both the numpy
    kernel and the SQL oracle implement verbatim."""
    import numpy as np

    a = np.asarray(lumas, dtype=np.int64).reshape(h, w)
    # integral image: cumulative sums with a zero row/col prepended
    integ = np.zeros((h + 1, w + 1), dtype=np.int64)
    np.cumsum(np.cumsum(a, axis=0), axis=1, out=integ[1:, 1:])
    n = PHASH_SIZE
    sx = np.array([x * w // n for x in range(n)])
    ex = np.maximum(sx + 1, np.array([(x + 1) * w // n for x in range(n)]))
    sy = np.array([y * h // n for y in range(n)])
    ey = np.maximum(sy + 1, np.array([(y + 1) * h // n for y in range(n)]))
    sums = (
        integ[np.ix_(ey, ex)]
        - integ[np.ix_(sy, ex)]
        - integ[np.ix_(ey, sx)]
        + integ[np.ix_(sy, sx)]
    )
    counts = (ey - sy)[:, None] * (ex - sx)[None, :]
    return sums // counts  # P32[y][x], int64


def phash64(w: int, h: int, lumas: list[int]) -> tuple[int, int]:
    """DCT perceptual hash: 32x32 integer resize -> 8x8 low-frequency
    corner of the 2-D DCT-II (integer basis :data:`PHASH_BASIS`) ->
    bit ``j = u*8 + v`` set where ``C[u][v]`` exceeds the 64
    coefficients' lower median (order stat #32).  Bound: |B| <= 2^14,
    P32 <= 255000 < 2^18, so |C| <= 32^2 * 2^(14+14+18) ~ 2^56 --
    int64-safe in numpy and BIGINT-safe in any oracle."""
    import numpy as np

    p32 = _resize32(w, h, lumas)
    basis = np.asarray(PHASH_BASIS, dtype=np.int64)
    coefs = basis @ p32 @ basis.T  # C[u][v], u = row (y) frequency
    flat = coefs.reshape(-1)
    med = int(np.sort(flat)[GRID * GRID // 2 - 1])
    bits = [1 if int(flat[j]) > med else 0 for j in range(GRID * GRID)]
    return _pack(bits)


def hash_six(w: int, h: int, lumas: list[int]) -> tuple[int, int, int, int, int, int]:
    """(ahash_hi, ahash_lo, ghash_hi, ghash_lo, phash_hi, phash_lo) --
    bit-identical to calling the three hash functions separately (pinned
    by test), but the int64 integral image is built ONCE and shared by
    the block sums and the 32x32 resize (each standalone call rebuilds
    it; the hash kernels call this instead)."""
    import numpy as np

    # the int64 cross-multiplies bound as 255000 * (w*h)^2 <= 2^63, i.e.
    # w*h <= ~6M px; past 4M (far above every decode cap) fall back to
    # the Python-int paths, which are arbitrary-precision
    if w < GRID or h < GRID or w * h > 4_000_000:
        return ahash64(w, h, lumas) + ghash64(w, h, lumas) + phash64(w, h, lumas)
    a = np.asarray(lumas, dtype=np.int64).reshape(h, w)
    integ = np.zeros((h + 1, w + 1), dtype=np.int64)
    np.cumsum(np.cumsum(a, axis=0), axis=1, out=integ[1:, 1:])

    def cells(xs, xe, ys, ye):
        return (
            integ[np.ix_(ye, xe)]
            - integ[np.ix_(ys, xe)]
            - integ[np.ix_(ye, xs)]
            + integ[np.ix_(ys, xs)]
        )

    # aHash / gHash over the GRID x GRID floor-mapped blocks
    xb = np.array([-(-b * w // GRID) for b in range(GRID + 1)])
    yb = np.array([-(-b * h // GRID) for b in range(GRID + 1)])
    sums = cells(xb[:-1], xb[1:], yb[:-1], yb[1:]).reshape(-1)
    counts = ((yb[1:] - yb[:-1])[:, None] * (xb[1:] - xb[:-1])[None, :]).reshape(-1)
    total, n = int(sums.sum()), w * h
    abits = (sums * n > total * counts).astype(np.int64)
    nj = np.array([(j // GRID) * GRID + ((j % GRID) + 1) % GRID for j in range(GRID * GRID)])
    gbits = (sums * counts[nj] > sums[nj] * counts).astype(np.int64)
    # pHash over the 32x32 resize from the SAME integral
    npx = PHASH_SIZE
    sx = np.array([x * w // npx for x in range(npx)])
    ex = np.maximum(sx + 1, np.array([(x + 1) * w // npx for x in range(npx)]))
    sy = np.array([y * h // npx for y in range(npx)])
    ey = np.maximum(sy + 1, np.array([(y + 1) * h // npx for y in range(npx)]))
    p32 = cells(sx, ex, sy, ey) // ((ey - sy)[:, None] * (ex - sx)[None, :])
    basis = np.asarray(PHASH_BASIS, dtype=np.int64)
    flat = (basis @ p32 @ basis.T).reshape(-1)
    med = int(np.sort(flat)[GRID * GRID // 2 - 1])
    pbits = (flat > med).astype(np.int64)
    return (
        _pack(abits.tolist()) + _pack(gbits.tolist()) + _pack(pbits.tolist())
    )


_NO_HASH = (None,) * 6


def _gated_hashes(raw: bytes, parsed, max_pixels: int | None, tier: str):
    """``(width, height, <six hashes>, decoder)`` for an image payload whose
    header parsed as ``(codec, w, h)`` -- the one header gate of every
    perceptual-hash container: ``capped`` past ``max_pixels`` and
    ``too-small`` under the 8x8 grid (header dims, nothing decoded), else
    decoded through the codec table (``multimodal._decode_luma``) and
    hashed as ``<tier>:<codec>`` with the DECODED dims; a recognized codec
    whose pixels do not decode keeps its header dims as
    ``header:<codec>``."""
    codec, w, h = parsed
    if max_pixels is not None and w * h > max_pixels:
        return (w, h, *_NO_HASH, "capped")
    if w < GRID or h < GRID:
        return (w, h, *_NO_HASH, "too-small")
    decoded = _decode_luma(codec, raw, max_pixels)
    if decoded is None:
        return (w, h, *_NO_HASH, f"header:{codec}")
    dw, dh, lumas = decoded
    return (dw, dh, *hash_six(dw, dh, lumas), f"{tier}:{codec}")


def image_hashes(
    media_df: DataFrame,
    ref_col: str = "media_ref",
    payload_col: str = "payload",
    max_decode_pixels: int | None = 1 << 16,
) -> DataFrame:
    """(media_ref, width, height, ahash_hi/lo, ghash_hi/lo, phash_hi/lo,
    decoder): perceptual hashes per payload, ONE Arrow crossing, zero
    shuffles.

    Decode tiers per payload: ``pixels:png`` / ``pixels:jpeg`` /
    ``pixels:gif`` via the vendored pure-Python decoders (PNG unfilter;
    baseline+progressive JPEG in ``ops.jpeg``; GIF LZW), through the one
    codec table ``extract_media_features`` also decodes with
    (``multimodal._decode_luma``, the cap passed through); dimensions are
    read O(1) from the header FIRST, so oversized payloads cost nothing
    and take ``capped``, images smaller than the 8x8 grid take
    ``too-small``.  A payload whose codec is recognized but whose pixels
    the vendored decoders cannot decode (WebP, a scanless progressive
    JPEG, a frame with no pixels, ...) keeps its parsed dimensions
    with ``header:<codec>`` -- counted and cap-able rather than lumped
    ``undecodable``.  Non-hashed rows keep NULL hash columns --
    containment, never a task failure."""

    def row(ref, raw):
        raw = raw or b""
        parsed = parse_image_header(raw)
        if parsed is None:
            return [(ref, None, None, *_NO_HASH, "undecodable")]
        return [(ref, *_gated_hashes(raw, parsed, max_decode_pixels, "pixels"))]

    return map_rows(media_df, [ref_col, payload_col], HASH_SCHEMA, row)


def video_keyframe_hashes(
    media_df: DataFrame,
    ref_col: str = "media_ref",
    payload_col: str = "payload",
    max_decode_pixels: int | None = 1 << 16,
) -> DataFrame:
    """Perceptual hashes for VIDEO payloads via the first embedded JPEG
    keyframe (r8): MJPEG tracks and cover-art atoms are pure ITU-T T.81
    payloads the vendored decoder already handles, so those videos stop
    being metadata-only and join the image dedup tiers (same
    ``HASH_SCHEMA``, same banded pair join downstream).

    Tiers per payload: ``keyframe:jpeg`` (embedded frame found and
    decoded -- width/height are the FRAME's), ``capped`` (frame found,
    dims over ``max_decode_pixels``), ``header:mp4`` (valid BMFF
    container, no decodable embedded JPEG -- H.264-family codecs land
    here, counted-not-dropped, as do frames under the 8x8 grid; NULL
    dims), ``undecodable`` (not BMFF).  ONE Arrow crossing, zero
    shuffles; all decode work is bounded by the O(1) header gate + the
    per-box scan cap in :func:`..multimodal.extract_mp4_keyframe`."""

    def row(ref, raw):
        raw = raw or b""
        if parse_mp4_header(raw) is None:
            return [(ref, None, None, *_NO_HASH, "undecodable")]
        kf = extract_mp4_keyframe(raw)
        parsed = parse_image_header(kf) if kf is not None else None
        if parsed is not None and parsed[0] == "jpeg":
            out = _gated_hashes(kf, parsed, max_decode_pixels, "keyframe")
            if out[-1] in ("capped", "keyframe:jpeg"):
                return [(ref, *out)]
        return [(ref, None, None, *_NO_HASH, "header:mp4")]

    return map_rows(media_df, [ref_col, payload_col], HASH_SCHEMA, row)


def pdf_image_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    pdf_col: str = "pdf",
    max_decode_pixels: int | None = 1 << 16,
) -> DataFrame:
    """Perceptual hashes for the images EMBEDDED in PDF documents (r8):
    one output row per ``/Subtype /Image`` XObject, ``media_ref =
    pdf://<doc_id>/<name>`` -- so figures inside PDFs join the same
    dedup tiers as standalone crawl images (a paper hosted as HTML and
    as PDF dedups on its figures).

    Tiers: ``pdfimg:jpeg`` (DCTDecode stream -- a complete T.81 payload
    -- decoded by the vendored decoder), ``pdfimg:gray`` (uncompressed /
    Flate 8-bit DeviceGray samples hashed directly), ``capped`` /
    ``too-small`` (gated on the image dictionary's dims), ``header:pdfimg``
    (recognized image object, pixels not decodable -- counted, never
    dropped).  A document whose walk raises emits ONE ``pdf://<doc_id>``
    row tagged ``undecodable``; a document with no image objects at all
    (including truncated payloads whose object walk finds nothing) emits
    one ``no-images`` row, so every input document is accounted for.  ONE
    Arrow crossing, zero shuffles."""
    from ..pdf import extract_pdf_images

    def rows(doc_id, raw):
        try:
            imgs = extract_pdf_images(raw or b"")
        except ValueError:
            yield (f"pdf://{doc_id}", None, None, *_NO_HASH, "undecodable")
            return
        if not imgs:
            # truncated/object-less documents land here too: the object
            # walk finds nothing rather than raising
            yield (f"pdf://{doc_id}", None, None, *_NO_HASH, "no-images")
        for nm, data, filt, w, h, gray, bpc in imgs:
            ref = f"pdf://{doc_id}/{nm}"
            dims_known = w is not None and h is not None
            if dims_known and max_decode_pixels is not None and w * h > max_decode_pixels:
                yield (ref, w, h, *_NO_HASH, "capped")
                continue
            if dims_known and (w < GRID or h < GRID):
                yield (ref, w, h, *_NO_HASH, "too-small")
                continue
            decoded = tier = None
            if data is not None and filt == "DCTDecode":
                parsed = parse_image_header(data)
                if parsed is not None and parsed[0] == "jpeg":
                    decoded, tier = _decode_luma("jpeg", data, max_decode_pixels), "pdfimg:jpeg"
            elif data is not None and gray and bpc == 8 and dims_known and len(data) >= w * h:
                decoded, tier = (w, h, [b * 1000 for b in data[: w * h]]), "pdfimg:gray"
            if decoded is None:
                yield (ref, w, h, *_NO_HASH, "header:pdfimg")
            else:
                dw, dh, lumas = decoded
                yield (ref, dw, dh, *hash_six(dw, dh, lumas), tier)

    return map_rows(df, [id_col, pdf_col], HASH_SCHEMA, rows)


def near_dup_image_pairs(
    hash_df: DataFrame,
    max_hamming: int = 3,
    ref_col: str = "media_ref",
    which: str = "ahash",
    n_bands: int = 4,
) -> DataFrame:
    """(ref_a, ref_b, hamming): unordered pairs within ``max_hamming``
    bits on the chosen 64-bit hash (columns ``{which}_hi``/``{which}_lo``
    -- any 64-bit perceptual hash packed as two int32-range halves works,
    the audio fingerprint included).

    EXACT for ``max_hamming < n_bands``: the 64 bits split into
    ``n_bands`` equal bands, and a pair differing in fewer bits than
    there are bands must agree on >= 1 band (pigeonhole), so the band
    self-join sees every qualifying pair; the exact ``bit_count(xor)``
    filter then removes band-collision noise.  Wider radii cost recall^
    -1 nothing but candidate volume: at ``n_bands=8`` the 8-bit band
    keys collide 256x more often than 16-bit ones -- the standard
    banding trade.  Scale shape: ONE shuffle on (band, key); per-key
    fan-out is bounded by how many images share a band -- identical-
    image mega-clusters are the one unbounded case, same as every pair
    emitter in ``ops.dedup`` (route through connected components /
    star-collapse downstream).  NULL-hash rows (undecodable payloads)
    are excluded up front."""
    if n_bands not in (2, 4, 8, 16):
        raise ValueError("n_bands must divide 64 with bands within one half")
    if not 0 <= max_hamming < n_bands:
        raise ValueError(
            f"max_hamming must be in [0, {n_bands - 1}] for the {n_bands}-band guarantee"
        )
    hi, lo = f"{which}_hi", f"{which}_lo"
    base = hash_df.select(ref_col, hi, lo).filter(
        F.col(hi).isNotNull() & F.col(lo).isNotNull()
    )
    width = 64 // n_bands  # bands never straddle the hi/lo split
    band_mask = (1 << width) - 1
    half = n_bands // 2
    bands = [
        F.shiftrightunsigned(lo, i * width).bitwiseAND(F.lit(band_mask))
        for i in range(half)
    ] + [
        F.shiftrightunsigned(hi, i * width).bitwiseAND(F.lit(band_mask))
        for i in range(half)
    ]
    banded = base.select(
        ref_col,
        hi,
        lo,
        F.posexplode(F.array(*bands)).alias("band", "band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{ref_col}") < F.col(f"b.{ref_col}")),
        )
        .select(
            F.col(f"a.{ref_col}").alias("ref_a"),
            F.col(f"b.{ref_col}").alias("ref_b"),
            (
                F.bit_count(F.col(f"a.{hi}").bitwiseXOR(F.col(f"b.{hi}")))
                + F.bit_count(F.col(f"a.{lo}").bitwiseXOR(F.col(f"b.{lo}")))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# deterministic synthetic PNG corpus (tests + oracles)


def encode_gray_png(w: int, h: int, pixels: bytes, interlaced: bool = False) -> bytes:
    """Minimal VALID grayscale-8 PNG encoder (real CRCs, zlib IDAT,
    filter-0 scanlines; optional Adam7 interlacing) -- lets tests and
    synthesizers produce payloads the full vendored decode path
    round-trips."""

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1 if interlaced else 0)
    if interlaced:
        from .multimodal import _ADAM7_PASSES

        scanlines = bytearray()
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            for j in range(ph):
                scanlines.append(0)
                scanlines += bytes(
                    pixels[(y0 + j * dy) * w + (x0 + i * dx)] for i in range(pw)
                )
        scanlines = bytes(scanlines)
    else:
        scanlines = b"".join(
            b"\x00" + pixels[y * w : (y + 1) * w] for y in range(h)
        )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines, 6))
        + chunk(b"IEND", b"")
    )


def synth_pixel(base: int, x: int, y: int) -> int:
    """The closed-form pixel function shared with the SQL oracle."""
    return (37 * base + 13 * x + 29 * y) % 256


def synthesize_png_corpus(
    docs_df: DataFrame,
    size: int = 16,
    n_bases: int = 97,
    corrupt_mod: int = 101,
) -> DataFrame:
    """(doc_id, media_ref, payload): deterministic grayscale PNGs,
    ``pixel(x, y) = (37*(doc_id % n_bases) + 13x + 29y) % 256`` -- closed
    form in doc_id so a SQL oracle recomputes the exact hashes WITHOUT
    decoding PNG bytes (the Spark side's encode->decode round trip is
    thereby verified end to end against generative ground truth).
    Odd doc_ids are Adam7-INTERLACED (r7; same pixels, same hashes --
    the de-interlace path rides the same oracle); ``doc_id % n_bases``
    collisions plant exact-duplicate clusters; ``doc_id % corrupt_mod ==
    7`` rows are truncated to 16 bytes to exercise the containment
    tier."""

    def make(doc_id):
        base = int(doc_id) % n_bases
        px = bytes(synth_pixel(base, x, y) for y in range(size) for x in range(size))
        raw = encode_gray_png(size, size, px, interlaced=bool(int(doc_id) % 2))
        if int(doc_id) % corrupt_mod == 7:
            raw = raw[:16]
        return f"img://{doc_id}", raw

    return _synthesize_media(docs_df, make)


def synthesize_gif_corpus(
    docs_df: DataFrame,
    size: int = 16,
    n_bases: int = 97,
    corrupt_mod: int = 101,
) -> DataFrame:
    """(doc_id, media_ref, payload): deterministic GIFs with a grayscale
    palette (entry i = (i,i,i), so luma = i*1000) and the SAME pixel
    formula as :func:`synthesize_png_corpus` -- GIF is lossless, so the
    PNG oracle SQL transfers verbatim, and a gif://X hashes identically
    to the img://X PNG of the same base (cross-codec dedup).  Odd
    doc_ids are INTERLACED (same pixels, same hashes -- the
    de-interlace path under oracle test); ``doc_id % corrupt_mod == 7``
    rows are truncated."""
    gray_palette = bytes(v for i in range(256) for v in (i, i, i))

    def make(doc_id):
        d = int(doc_id)
        base = d % n_bases
        px = bytes(synth_pixel(base, x, y) for y in range(size) for x in range(size))
        raw = encode_gif(size, size, px, gray_palette, interlaced=bool(d % 2))
        if d % corrupt_mod == 7:
            raw = raw[:8]
        return f"gif://{d}", raw

    return _synthesize_media(docs_df, make)


# a minimal SOF2 (progressive) JPEG prefix: parse_image_header reads real
# 64x64 dims from it, but the baseline decoder must refuse -- the probe
# for the 'header:jpeg' counted-not-dropped tier
_PROGRESSIVE_STUB = (
    b"\xff\xd8"
    + b"\xff\xc2" + (2 + 15).to_bytes(2, "big")
    + bytes([8]) + (64).to_bytes(2, "big") + (64).to_bytes(2, "big")
    + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    + b"\xff\xd9"
)


def _block_values(base: int) -> list[int]:
    """The 64 constant 8x8-block values of the synthetic 64x64 JPEGs:
    ``block(bx, by) = synth_pixel(base, bx, by)``, row-major."""
    return [synth_pixel(base, bx, by) for by in range(GRID) for bx in range(GRID)]


def synthesize_jpeg_corpus(
    docs_df: DataFrame,
    n_bases: int = 97,
    corrupt_mod: int = 101,
    progressive_mod: int = 89,
) -> DataFrame:
    """(doc_id, media_ref, payload): deterministic 64x64 baseline JPEGs
    whose 8x8 blocks are CONSTANT with ``block(bx, by) = (37*(doc_id %
    n_bases) + 13*bx + 29*by) % 256`` -- DC-only, so ANY compliant
    decoder (ours, libjpeg, PIL) reproduces the block values EXACTLY and
    a SQL oracle recomputes the hashes from the 64 block values without
    parsing JPEG bytes.  Each hash-grid block of a 64x64 image is
    exactly one JPEG block, so the oracle reduces to ``bit j = v_j * 64
    > sum(v)`` (counts cancel).

    Three encodings of the SAME luma rotate by ``doc_id % 3``: gray
    baseline, YCbCr 4:2:0 baseline (interleave/subsample/chroma-skip),
    and PROGRESSIVE gray (the six-scan successive-approximation script
    -- DC-only blocks survive it exactly) -- all three hash identically,
    planting cross-encoding duplicate pairs.  ``doc_id % corrupt_mod ==
    7`` rows are truncated (``undecodable``); ``doc_id %
    progressive_mod == 11`` rows are a scanless SOF2 stub with parseable
    dims (the ``header:jpeg`` tier -- dims without decodable pixels)."""
    from .jpeg import encode_blocky_jpeg, encode_gray_jpeg_progressive

    def make(doc_id):
        d = int(doc_id)
        if d % progressive_mod == 11:
            return f"jpg://{d}", _PROGRESSIVE_STUB
        vals = _block_values(d % n_bases)
        layout = d % 3
        if layout == 2:
            px = bytes(
                vals[(y // 8) * GRID + (x // 8)]
                for y in range(8 * GRID)
                for x in range(8 * GRID)
            )
            raw = encode_gray_jpeg_progressive(8 * GRID, 8 * GRID, px)
        else:
            raw = encode_blocky_jpeg(GRID, GRID, vals, color_420=(layout == 1))
        if d % corrupt_mod == 7:
            raw = raw[:16]
        return f"jpg://{d}", raw

    return _synthesize_media(docs_df, make)


def synthesize_mp4_corpus(
    docs_df: DataFrame,
    n_bases: int = 97,
    corrupt_mod: int = 101,
    opaque_mod: int = 89,
) -> DataFrame:
    """(doc_id, media_ref, payload): deterministic MJPEG-in-MP4 videos
    (r8) -- a structurally valid ISO BMFF container (ftyp + moov[mvhd
    v0, timescale 1000] + mdat) whose mdat's first sample is the SAME
    64x64 constant-block baseline JPEG as
    :func:`synthesize_jpeg_corpus` (``block(bx,by) = (37*(doc_id %
    n_bases) + 13bx + 29by) % 256``), so the closed-form JPEG oracle
    transfers verbatim to the keyframe tier and a vid://X keyframe
    hashes identically to jpg://X (cross-container dedup).  Even
    doc_ids carry a second identical JPEG sample (only the FIRST may be
    hashed); ``% opaque_mod == 11`` rows carry an opaque non-JPEG mdat
    (the H.264-family stand-in -- ``header:mp4`` tier); ``% corrupt_mod
    == 7`` rows are truncated to 10 bytes (``undecodable``)."""
    from .jpeg import encode_blocky_jpeg

    def box(btype: bytes, body: bytes) -> bytes:
        return (8 + len(body)).to_bytes(4, "big") + btype + body

    mvhd_body = bytes(12) + (1000).to_bytes(4, "big") + (4000).to_bytes(4, "big") + bytes(80)
    head = box(b"ftyp", b"isom" + bytes(4) + b"isomiso2") + box(b"moov", box(b"mvhd", mvhd_body))

    def make(doc_id):
        d = int(doc_id)
        if d % opaque_mod == 11:
            # opaque codec stand-in: NAL-ish bytes, no SOI
            mdat = bytes([0, 0, 0, 1, 0x65]) + bytes(64)
        else:
            jpeg = encode_blocky_jpeg(GRID, GRID, _block_values(d % n_bases))
            mdat = jpeg * 2 if d % 2 == 0 else jpeg
        raw = head + box(b"mdat", mdat)
        if d % corrupt_mod == 7:
            raw = raw[:10]
        return f"vid://{d}", raw

    return _synthesize_media(docs_df, make)
