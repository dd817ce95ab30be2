"""Property tests for the round-6 tiers: SURT canonicalization
invariances (hypothesis-generated URL components), perceptual-hash
invariance under PNG re-encoding, and audio-fingerprint tolerance of
extra WAV chunks."""

import string
import struct
import zlib

from hypothesis import given, settings, strategies as st

from nreadspark.cdx import surt_key

_LABEL = st.text(alphabet=string.ascii_letters + string.digits, min_size=1, max_size=8)
_PATHSEG = st.text(alphabet=string.ascii_letters + string.digits + "-_", min_size=0, max_size=8)
_PARAM = st.tuples(
    st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=5),
    st.text(alphabet=string.ascii_letters + string.digits, min_size=0, max_size=5),
)


def _build(scheme, labels, port, segs, params, frag):
    host = ".".join(labels)
    url = f"{scheme}://{host}"
    if port:
        url += f":{port}"
    url += "/" + "/".join(segs)
    if params:
        url += "?" + "&".join(f"{k}={v}" for k, v in params)
    if frag:
        url += f"#{frag}"
    return url


@settings(max_examples=200, deadline=None)
@given(
    labels=st.lists(_LABEL, min_size=1, max_size=4),
    segs=st.lists(_PATHSEG, min_size=0, max_size=4),
    params=st.lists(_PARAM, min_size=0, max_size=5),
    frag=st.text(alphabet=string.ascii_letters + "?/", max_size=8),
    data=st.data(),
)
def test_surt_invariances(labels, segs, params, frag, data):
    """The SURT key is invariant under scheme/host case, query-param
    order, fragments, tracking params, and the default port."""
    base = _build("http", labels, None, segs, params, None)
    key = surt_key(base)
    # host/scheme case
    upper = _build("HTTP", [l.upper() for l in labels], None, segs, params, None)
    assert surt_key(upper) == key
    # param order
    shuffled = data.draw(st.permutations(params))
    assert surt_key(_build("http", labels, None, segs, list(shuffled), None)) == key
    # fragment (may contain '?')
    assert surt_key(_build("http", labels, None, segs, params, frag or None)) == key
    # tracking params vanish
    tracked = params + [("utm_source", "x"), ("fbclid", "y")]
    assert surt_key(_build("http", labels, None, segs, tracked, None)) == key
    # default port
    assert surt_key(_build("http", labels, "80", segs, params, None)) == key


@settings(max_examples=50, deadline=None)
@given(
    base=st.integers(min_value=0, max_value=255),
    level=st.sampled_from([0, 1, 6, 9]),
)
def test_image_hash_invariant_under_reencoding(base, level):
    """aHash/gHash depend on PIXELS, not on the deflate level or chunk
    framing the encoder happened to choose."""
    from nreadspark.ops.images import ahash64, ghash64, synth_pixel
    from nreadspark.ops.multimodal import png_luma_milli

    px = bytes(synth_pixel(base, x, y) for y in range(16) for x in range(16))
    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 0, 0, 0, 0)
    scan = b"".join(b"\x00" + px[y * 16 : (y + 1) * 16] for y in range(16))

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))

    # split the IDAT stream into two chunks at an arbitrary point too
    z = zlib.compress(scan, level)
    cut = len(z) // 2
    raw = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", z[:cut])
        + chunk(b"IDAT", z[cut:])
        + chunk(b"IEND", b"")
    )
    w, h, lumas = png_luma_milli(raw)
    assert (w, h) == (16, 16)
    assert lumas == [p * 1000 for p in px]
    # same hashes as the canonical single-chunk level-6 encoding
    from nreadspark.ops.images import encode_gray_png

    w2, h2, lumas2 = png_luma_milli(encode_gray_png(16, 16, px))
    assert ahash64(w, h, lumas) == ahash64(w2, h2, lumas2)
    assert ghash64(w, h, lumas) == ghash64(w2, h2, lumas2)


@settings(max_examples=50, deadline=None)
@given(base=st.integers(min_value=0, max_value=96), n=st.integers(min_value=64, max_value=512))
def test_audio_fingerprint_tolerates_extra_chunks(base, n):
    """An extra (LIST) chunk between fmt and data leaves the fingerprint
    unchanged -- the chunk walk takes fields wherever they sit."""
    from nreadspark.ops.audio import ehash64, encode_pcm8_wav, synth_sample, wav_pcm_samples

    samples = bytes(synth_sample(base, t) for t in range(n))
    plain = encode_pcm8_wav(samples)
    # splice a LIST chunk after fmt (offset: RIFF(12) + fmt hdr(8) + fmt(16))
    insert_at = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    padded = plain[:insert_at] + extra + plain[insert_at:]
    # RIFF size field should grow, but the parser never checks it -- both
    # decode to the same samples
    rate, bits, data = wav_pcm_samples(padded)
    assert (bits, data) == (8, samples)
    assert ehash64(data) == ehash64(samples)
