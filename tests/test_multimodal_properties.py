"""Property tests for the container/pixel parsers: encode->decode round
trips over randomized inputs, and total-function behavior (None or a
well-formed tuple, never an unhandled crash) on arbitrary byte garbage --
crawl payloads are adversarial, so the parsers must be total."""

from hypothesis import assume, given, settings, strategies as st

from nreadspark.ops.multimodal import (
    parse_image_header,
    parse_mp4_header,
    parse_wav_header,
    png_luma_milli,
)
from tests.test_multimodal import make_mp4, make_png_pixels, make_wav


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 9),
    h=st.integers(1, 7),
    data=st.data(),
)
def test_png_pixel_roundtrip_gray_any_filters(w, h, data):
    rows = [
        bytes(data.draw(st.integers(0, 255)) for _ in range(w)) for _ in range(h)
    ]
    filters = [data.draw(st.integers(0, 4)) for _ in range(h)]
    png = make_png_pixels(rows, ch=1, color_type=0, filters=filters)
    dw, dh, lumas = png_luma_milli(png)
    assert (dw, dh) == (w, h)
    assert abs(sum(lumas) / 1000 / (w * h) - sum(sum(r) for r in rows) / (w * h)) < 1e-9


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 6),
    h=st.integers(1, 4),
    data=st.data(),
)
def test_png_pixel_roundtrip_rgb_any_filters(w, h, data):
    rows = [
        bytes(data.draw(st.integers(0, 255)) for _ in range(w * 3)) for _ in range(h)
    ]
    filters = [data.draw(st.integers(0, 4)) for _ in range(h)]
    png = make_png_pixels(rows, ch=3, color_type=2, filters=filters)
    dw, dh, lumas = png_luma_milli(png)
    assert (dw, dh) == (w, h)
    mean = sum(lumas) / 1000 / (w * h)
    expect = sum(
        (r[i] * 299 + r[i + 1] * 587 + r[i + 2] * 114) / 1000
        for r in rows
        for i in range(0, w * 3, 3)
    ) / (w * h)
    assert abs(mean - expect) < 1e-9


@settings(max_examples=50, deadline=None)
@given(dur=st.integers(0, 10**7), ts=st.integers(1, 10**6), n=st.integers(0, 5), v=st.integers(0, 1))
def test_mp4_duration_roundtrip(dur, ts, n, v):
    # version-0 mvhd carries u32 tick counts; v1 exists for anything bigger
    assume(v == 1 or dur * ts // 1000 <= 0xFFFFFFFF)
    got = parse_mp4_header(make_mp4(dur, timescale=ts, n_tracks=n, version=v))
    assert got is not None and got[1] == ts and got[3] == n
    # encode floors to ticks; decode floors back to ms
    assert got[2] == (dur * ts // 1000) * 1000 // ts


@settings(max_examples=50, deadline=None)
@given(
    n=st.integers(0, 10**5),
    rate=st.integers(1, 192_000),
    ch=st.integers(1, 8),
    bits=st.sampled_from([8, 16, 24, 32]),
)
def test_wav_duration_roundtrip(n, rate, ch, bits):
    got = parse_wav_header(make_wav(n, rate, ch, bits))
    assert got == ("wav", ch, rate, bits, n * ch * (bits // 8) * 1000 // (rate * ch * (bits // 8)))


@settings(max_examples=200, deadline=None)
@given(raw=st.binary(max_size=256))
def test_parsers_total_on_garbage(raw):
    for fn in (parse_image_header, parse_mp4_header, parse_wav_header):
        out = fn(raw)
        assert out is None or isinstance(out, tuple)
    try:
        png_luma_milli(raw)
    except ValueError:
        pass  # the documented rejection path


@settings(max_examples=120, deadline=None)
@given(raw=st.binary(max_size=400), data=st.data())
def test_parsers_total_on_mutated_valid_payloads(data, raw):
    """Bit-flipped VALID containers (the realistic corruption) must also
    never escape the documented error contract."""
    base = data.draw(
        st.sampled_from(
            [
                make_mp4(5000),
                make_wav(800),
                make_png_pixels([bytes(range(6))], ch=1, color_type=0, filters=[0]),
            ]
        )
    )
    mutated = bytearray(base)
    for _ in range(data.draw(st.integers(1, 8))):
        i = data.draw(st.integers(0, len(mutated) - 1))
        mutated[i] = data.draw(st.integers(0, 255))
    mutated = bytes(mutated) + raw
    for fn in (parse_image_header, parse_mp4_header, parse_wav_header):
        out = fn(mutated)
        assert out is None or isinstance(out, tuple)
    try:
        png_luma_milli(mutated)
    except ValueError:
        pass
