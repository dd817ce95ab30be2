"""Vendored baseline JPEG (ITU-T T.81) decoder -- the container-constraint
pixel tier for the dominant web image format, sibling of the pure-stdlib
PNG unfilter in ``ops.multimodal``.

Scope (deliberate, documented):

* baseline sequential DCT (SOF0/1) AND progressive DCT (SOF2: spectral
  selection + successive approximation, DC/AC first and refinement
  scans, EOB runs -- the full T.81 Annex G Huffman path), 8-bit
  precision, grayscale or YCbCr; arithmetic coding, hierarchical and
  lossless modes raise ``ValueError`` and take the header-dims tier
  upstream (``decoder='header:jpeg'``);
* the luma plane ONLY: the perceptual-hash consumers need Y, and JPEG
  stores Y as its own component, so chroma blocks are entropy-SKIPPED
  (their coefficient lengths must be parsed to advance the bit stream)
  but never dequantized/IDCT'd -- roughly a 1.5-2x decode saving at
  4:2:0;
* Y must be stored at full resolution (``h_y == Hmax and v_y == Vmax``,
  true for all standard subsampling layouts 4:4:4 / 4:2:2 / 4:2:0).

Exactness: a general JPEG's decoded pixels are IDCT-implementation-
defined (T.81 only bounds the error), so unlike PNG there is no
bit-exact cross-decoder contract for arbitrary payloads.  The oracle
strategy therefore uses DC-ONLY images (every 8x8 block constant): for
those, any compliant IDCT reproduces the block value EXACTLY (the DC
basis function is flat), so a closed-form SQL oracle can recompute
hashes without touching JPEG bytes, and any other compliant decoder
(libjpeg, PIL) would agree with it exactly.
The numpy matrix IDCT here keeps float error ~1e-13 on DC-only blocks
-- far below the round-to-nearest threshold.  Progressive gets a second
exactness lever: successive approximation is LOSSLESS once all scans
arrive, so a progressive encoding of the same quantized coefficients
must decode to exactly the baseline encoding's pixels -- pinned by
round-trip tests through two entirely different entropy paths.

Throughput: the entropy loop is pure Python (same vendored-tier
trade as the PNG unfilter, measured and documented in
BENCH/BASELINE.md); the ``max_decode_pixels`` caps of the callers bound
its cost per payload.

Public-spec provenance: marker structure, zigzag order, canonical
Huffman construction (F.2.2.3 MINCODE/MAXCODE/VALPTR) and the Annex K
example Huffman tables are all from the public ITU-T T.81 standard.  No
reference-repo counterpart (NReadability has no image pipeline).
"""

from __future__ import annotations

import struct

# zigzag index -> linear (row*8 + col), generated from the diagonal rule
ZIGZAG: list[int] = []
for _s in range(15):
    _rng = range(max(0, _s - 7), min(_s, 7) + 1)
    for _r in (_rng if _s % 2 else reversed(_rng)):
        ZIGZAG.append(_r * 8 + (_s - _r))

# ITU-T T.81 Annex K.3 example Huffman tables (the de-facto standard set)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


class _HuffTable:
    """Canonical Huffman decode arrays (T.81 F.2.2.3: MINCODE / MAXCODE /
    VALPTR per code length) + an encode map for the synthetic encoder."""

    def __init__(self, bits: list[int], vals: list[int]):
        if len(bits) != 16 or sum(bits) != len(vals):
            raise ValueError("malformed Huffman table")
        self.counts = list(bits)
        self.vals = list(vals)
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        self.encode: dict[int, tuple[int, int]] = {}
        for length in range(1, 17):
            self.mincode[length] = code
            self.valptr[length] = k
            for _ in range(bits[length - 1]):
                self.encode[vals[k]] = (code, length)
                code += 1
                k += 1
            self.maxcode[length] = code - 1
            code <<= 1


class _BitReader:
    """MSB-first bit reader over de-stuffed entropy bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("entropy stream exhausted")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _decode_symbol(r: _BitReader, t: _HuffTable) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        # the zero-count guard matters on corrupt streams: a length with
        # no codes has maxcode = mincode-1, and a garbage accumulated
        # code below mincode would otherwise index vals negatively
        if t.counts[length - 1] and t.mincode[length] <= code <= t.maxcode[length]:
            return t.vals[t.valptr[length] + code - t.mincode[length]]
    raise ValueError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _idct_blocks(blocks):
    """Vectorized 2-D type-III DCT (the JPEG IDCT) over an (n, 8, 8)
    float array of dequantized coefficients, orthonormal scaling."""
    import numpy as np

    global _IDCT_M
    try:
        M = _IDCT_M
    except NameError:
        x = np.arange(8)
        M = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) * np.sqrt(
            2.0 / 8
        )
        M[0, :] = np.sqrt(1.0 / 8)
        _IDCT_M = M
    # f = M^T F M  (per block)
    return np.einsum("ur,nuv,vc->nrc", M, blocks, M, optimize=True)


def _split_entropy(raw: bytes, start: int) -> tuple[list[bytes], int]:
    """De-stuff the entropy-coded segment beginning at ``start`` into
    restart-delimited chunks.  Returns (chunks, index_after_segment)."""
    chunks: list[bytearray] = [bytearray()]
    i = start
    n = len(raw)
    while i < n:
        b = raw[i]
        if b != 0xFF:
            chunks[-1].append(b)
            i += 1
            continue
        if i + 1 >= n:
            break
        m = raw[i + 1]
        if m == 0x00:  # stuffed 0xFF data byte
            chunks[-1].append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn: new chunk, reader realigns
            chunks.append(bytearray())
            i += 2
        else:  # real marker (EOI or next header) ends the segment
            break
    return [bytes(c) for c in chunks], i


class _FrameState:
    """Per-frame coefficient store: the luma component's blocks on the
    LOGICAL grid (``index = by * bw + bx`` over the interleave-padded
    grid), accumulated across however many scans the stream carries --
    one for baseline, several for progressive."""

    # absolute allocation ceiling, independent of the caller's max_pixels:
    # the coefficient store is Python lists, and a corrupt SOF claiming
    # 65535x65535 would otherwise allocate ~67M blocks before any caller
    # cap could fire.  64 MP is far past anything the pure-Python entropy
    # loop could decode in reasonable time anyway.
    MAX_BLOCKS = 1 << 20  # 1M 8x8 blocks = 64 MP

    def __init__(self, w, h, comps, progressive):
        if comps[0][1] != max(c[1] for c in comps) or comps[0][2] != max(
            c[2] for c in comps
        ):
            raise ValueError("luma not stored at full resolution")
        self.w, self.h = w, h
        self.progressive = progressive
        if len(comps) == 1:
            comps = [(comps[0][0], 1, 1, comps[0][3])]
        self.comps = comps
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        self.mcus_x = (w + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mcus_y = (h + 8 * self.vmax - 1) // (8 * self.vmax)
        self.luma_id = comps[0][0]
        self.hy, self.vy = comps[0][1], comps[0][2]
        self.bw = self.mcus_x * self.hy  # interleave-padded block grid
        self.bh = self.mcus_y * self.vy
        # non-interleaved grid (what single-component scans iterate):
        # can be NARROWER than the padded grid when w % mcu_width != 0
        self.nw = (w + 7) // 8
        self.nh = (h + 7) // 8
        if self.bw * self.bh > self.MAX_BLOCKS:
            raise ValueError("image too large for the vendored decoder")
        self.coefs = [[0] * 64 for _ in range(self.bw * self.bh)]


def decode_jpeg_luma_milli(raw: bytes, max_pixels: int | None = None):
    """Decode a JPEG's LUMA plane: ``(w, h, lumas)`` with ``lumas`` a
    row-major list of ``Y*1000`` integers -- the same scale-1000
    convention as :func:`~nreadspark.ops.multimodal.png_luma_milli` (and
    the identical quantity: JPEG's Y IS the ITU-R 601 luma).

    Handles baseline sequential (SOF0/1) AND progressive (SOF2: spectral
    selection + successive approximation, DC/AC first and refinement
    scans, EOB runs) -- both accumulate into one coefficient store, so
    the IDCT/assembly path is shared and a progressive encoding of the
    same quantized coefficients decodes to EXACTLY the baseline pixels
    (the property the round-trip tests pin).  Chroma stays cheap: its
    non-interleaved scans are skipped wholesale (the entropy segment
    boundary is found without decoding), and interleaved scans only
    parse its coefficient lengths.  ``ValueError`` on anything outside
    this scope (arithmetic coding, hierarchical, 12-bit, lossless) --
    the caller's containment tier."""
    import numpy as np

    if len(raw) < 4 or raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, _HuffTable] = {}
    ac_tables: dict[int, _HuffTable] = {}
    st: _FrameState | None = None
    restart_interval = 0
    saw_scan = False
    i = 2
    n = len(raw)
    while i + 2 <= n:
        if raw[i] != 0xFF:
            raise ValueError("marker expected")
        marker = raw[i + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if i + 4 > n:
            raise ValueError("truncated segment header")
        seg_len = int.from_bytes(raw[i + 2 : i + 4], "big")
        body = raw[i + 4 : i + 2 + seg_len]
        if len(body) != seg_len - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0xF
                j += 1
                if pq == 0:
                    q = list(body[j : j + 64])
                    j += 64
                else:
                    q = [
                        int.from_bytes(body[j + 2 * k : j + 2 * k + 2], "big")
                        for k in range(64)
                    ]
                    j += 128
                if len(q) != 64:
                    raise ValueError("truncated DQT")
                qtables[tq] = q
        elif marker == 0xC4:  # DHT
            j = 0
            while j + 17 <= len(body):
                tc, th = body[j] >> 4, body[j] & 0xF
                bits = list(body[j + 1 : j + 17])
                cnt = sum(bits)
                vals = list(body[j + 17 : j + 17 + cnt])
                if len(vals) != cnt:
                    raise ValueError("truncated DHT")
                (dc_tables if tc == 0 else ac_tables)[th] = _HuffTable(bits, vals)
                j += 17 + cnt
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            if len(body) < 6 or len(body) < 6 + 3 * body[5]:
                raise ValueError("truncated SOF header")
            prec = body[0]
            h, w = struct.unpack(">HH", body[1:5])
            nc = body[5]
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
            if max_pixels is not None and w * h > max_pixels:
                raise ValueError("image exceeds max_pixels")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            st = _FrameState(w, h, comps, progressive=(marker == 0xC2))
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG coding (arithmetic/hierarchical/lossless)")
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:  # SOS
            if st is None:
                raise ValueError("SOS before SOF")
            if not body or len(body) < 1 + 2 * body[0] + 3:
                raise ValueError("truncated SOS header")
            ns = body[0]
            sel = []
            for s in range(ns):
                cs, tables = body[1 + 2 * s], body[2 + 2 * s]
                sel.append((cs, tables >> 4, tables & 0xF))
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            chunks, i = _split_entropy(raw, i + 2 + seg_len)
            _decode_sos(
                st, sel, ss, se, ah, al, chunks, dc_tables, ac_tables,
                restart_interval,
            )
            saw_scan = True
            continue
        i += 2 + seg_len
    if st is None or not saw_scan:
        raise ValueError("no SOS segment")
    yq = qtables.get(st.comps[0][3])
    if yq is None:
        raise ValueError("missing quantization table")
    return _finish_luma(np, st, yq)


class _ChunkReader:
    """Restart-aware bit source: units (MCUs or blocks) are counted and
    the reader hops to the next restart chunk at each interval."""

    def __init__(self, chunks, interval, on_restart):
        self._iter = iter(chunks)
        self.reader = _BitReader(next(self._iter))
        self.interval = interval
        self.on_restart = on_restart
        self.units = 0

    def step(self) -> None:
        if self.units and self.interval and self.units % self.interval == 0:
            try:
                self.reader = _BitReader(next(self._iter))
            except StopIteration:
                raise ValueError("missing restart marker") from None
            self.on_restart()


def _decode_sos(st, sel, ss, se, ah, al, chunks, dc_tables, ac_tables, dri):
    frame_by_id = {c[0]: c for c in st.comps}
    for cs, _, _ in sel:
        if cs not in frame_by_id:
            raise ValueError("scan component not in frame")
    if st.progressive and not (
        (ss == 0 and se == 0) or (len(sel) == 1 and 1 <= ss <= se <= 63)
    ):
        raise ValueError("invalid progressive band")
    if not st.progressive and (ss, se, ah, al) != (0, 63, 0, 0):
        raise ValueError("invalid sequential scan parameters")

    if len(sel) == 1 and sel[0][0] != st.luma_id:
        # chroma-only scan: every scan's entropy-coded segment is
        # self-contained (already skipped to the next marker), so a
        # non-luma Ns=1 scan -- baseline or progressive -- costs nothing
        return

    if len(sel) > 1 or (not st.progressive and len(st.comps) == 1):
        # multi-component MCU scan (baseline full band / progressive DC),
        # or the baseline single-component frame (full band, MCU == block)
        _decode_interleaved(st, sel, ss, se, ah, al, chunks, dc_tables, ac_tables, dri)
    else:
        # Ns=1 scan of a multi-component frame: per T.81 A.2 this is
        # NON-interleaved -- raster order over the component's own block
        # grid, not the frame MCU grid (ADVICE r7: routing baseline here
        # through the MCU walk scrambled luma silently when the dims
        # were MCU-aligned).  Applies to baseline and progressive alike.
        _decode_single(st, sel[0], ss, se, ah, al, chunks, dc_tables, ac_tables, dri)


def _decode_interleaved(st, sel, ss, se, ah, al, chunks, dc_tables, ac_tables, dri):
    """All-components MCU scan: baseline full band, or progressive DC
    (first / refinement).  Chroma coefficients are parsed for their bit
    lengths only."""
    if st.progressive and se != 0:
        raise ValueError("interleaved AC scan is not legal JPEG")
    by_id = {c[0]: c for c in st.comps}
    order = [by_id[cs] for cs, _, _ in sel]
    tables = {cs: (td, ta) for cs, td, ta in sel}
    preds = {c[0]: 0 for c in st.comps}

    def on_restart():
        for k in preds:
            preds[k] = 0

    interval = dri if dri else 0
    src = _ChunkReader(chunks, interval, on_restart)
    dc_refine = st.progressive and ah > 0
    for cs, td, ta in sel:
        if not dc_refine and td not in dc_tables:
            raise ValueError("missing DC Huffman table")
        if not st.progressive and ta not in ac_tables:
            raise ValueError("missing AC Huffman table")
    n_mcus = st.mcus_x * st.mcus_y
    for m in range(n_mcus):
        src.step()
        r = src.reader
        my, mx = divmod(m, st.mcus_x)
        for cid, ch, cv, _tq in order:
            td, ta = tables[cid]
            is_luma = cid == st.luma_id
            for b in range(ch * cv):
                iy, ix = divmod(b, ch)
                if is_luma:
                    blk = st.coefs[(my * cv + iy) * st.bw + mx * ch + ix]
                else:
                    blk = None
                if dc_refine:
                    bit = r.read_bit()
                    if blk is not None:
                        blk[0] |= bit << al
                else:
                    s = _decode_symbol(r, dc_tables[td])
                    diff = _extend(r.receive(s), s) if s else 0
                    preds[cid] += diff
                    if blk is not None:
                        blk[0] = preds[cid] << al
                if not st.progressive:
                    _baseline_ac(r, ac_tables[ta], blk)
        src.units += 1


def _baseline_ac(r, act, blk):
    k = 1
    while k < 64:
        rs = _decode_symbol(r, act)
        run, s = rs >> 4, rs & 0xF
        if s == 0:
            if run == 15:
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("AC run past block end")
        v = _extend(r.receive(s), s)
        if blk is not None:
            blk[k] = v
        k += 1


def _decode_single(st, one, ss, se, ah, al, chunks, dc_tables, ac_tables, dri):
    """Single-component (Ns=1, non-interleaved) scan over the luma's own
    block grid (raster order; may be narrower than the padded grid).
    Progressive bands (DC-only / AC band, first or refinement) and the
    baseline full 0..63 band (T.81 A.2, DC + AC per block) both land
    here."""
    cs, td, ta = one
    baseline_full = not st.progressive  # _decode_sos enforced (0,63,0,0)
    state = {"pred": 0, "eobrun": 0}

    def on_restart():
        state["pred"] = 0
        state["eobrun"] = 0

    src = _ChunkReader(chunks, dri if dri else 0, on_restart)
    if ss == 0:  # DC present (DC-only progressive band or baseline full)
        if ah == 0 and td not in dc_tables:
            raise ValueError("missing DC Huffman table")
    if (ss > 0 or baseline_full) and ta not in ac_tables:
        raise ValueError("missing AC Huffman table")
    for by in range(st.nh):
        for bx in range(st.nw):
            src.step()
            r = src.reader
            blk = st.coefs[by * st.bw + bx]
            if baseline_full:
                s = _decode_symbol(r, dc_tables[td])
                diff = _extend(r.receive(s), s) if s else 0
                state["pred"] += diff
                blk[0] = state["pred"]
                _baseline_ac(r, ac_tables[ta], blk)
            elif ss == 0:
                if ah == 0:
                    s = _decode_symbol(r, dc_tables[td])
                    diff = _extend(r.receive(s), s) if s else 0
                    state["pred"] += diff
                    blk[0] = state["pred"] << al
                else:
                    blk[0] |= r.read_bit() << al
            elif ah == 0:
                _ac_first(r, ac_tables[ta], blk, ss, se, al, state)
            else:
                _ac_refine(r, ac_tables[ta], blk, ss, se, al, state)
            src.units += 1


def _ac_first(r, act, blk, ss, se, al, state):
    """Progressive AC initial scan (T.81 G.1.2.2): baseline run-length
    plus EOBn end-of-band runs spanning blocks."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_symbol(r, act)
        run, s = rs >> 4, rs & 0xF
        if s == 0:
            if run == 15:
                k += 16
                continue
            state["eobrun"] = (1 << run) - 1
            if run:
                state["eobrun"] += r.receive(run)
            break
        k += run
        if k > se:
            raise ValueError("AC run past band end")
        blk[k] = _extend(r.receive(s), s) << al
        k += 1


def _ac_refine(r, act, blk, ss, se, al, state):
    """Progressive AC refinement scan (T.81 G.1.2.3, the djpeg
    decode_mcu_AC_refine shape): weave correction bits for
    already-nonzero coefficients while placing new +-1<<Al ones; an EOB
    run still carries correction bits for the rest of the band."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _decode_symbol(r, act)
            run, s = rs >> 4, rs & 0xF
            if s == 0:
                if run != 15:
                    # refinement EOBn carries the FULL count (1<<r)+extra
                    # and the current block still owes its tail correction
                    # bits -- the tail pass below always runs, then
                    # decrements (the jdphuff semantics; using (1<<r)-1
                    # here would skip the tail bits at run=0)
                    state["eobrun"] = 1 << run
                    if run:
                        state["eobrun"] += r.receive(run)
                    break
                coef = 0  # ZRL: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("invalid refinement magnitude")
                coef = p1 if r.read_bit() else m1
            while k <= se:
                if blk[k] != 0:
                    if r.read_bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if s and k <= se:
                blk[k] = coef
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            if blk[k] != 0 and r.read_bit() and (blk[k] & p1) == 0:
                blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        state["eobrun"] -= 1


def _finish_luma(np, st, yq_list):
    yq = np.array(yq_list, dtype=np.float64)
    zz = np.array(ZIGZAG, dtype=np.int64)
    y_blocks = np.array(st.coefs, dtype=np.float64)
    deq = np.zeros_like(y_blocks)
    deq[:, zz] = y_blocks * yq[None, :]
    pix = _idct_blocks(deq.reshape(-1, 8, 8))
    pix = np.clip(np.floor(pix + 128.5), 0, 255).astype(np.int64)
    # logical grid: block index = by * bw + bx
    plane = (
        pix.reshape(st.bh, st.bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(st.bh * 8, st.bw * 8)
    )
    plane = plane[: st.h, : st.w] * 1000
    return st.w, st.h, plane.reshape(-1).tolist()


# ---------------------------------------------------------------------------
# synthetic encoders (tests + oracles) -- real, spec-conformant output


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            # pad with 1-bits per spec
            self.acc = (self.acc << (8 - self.nbits)) | ((1 << (8 - self.nbits)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def _category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


def _write_coeff_bits(wtr: _BitWriter, v: int, s: int) -> None:
    if s == 0:
        return
    wtr.write(v if v >= 0 else v + (1 << s) - 1, s)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _encode_block(wtr, coeffs, pred, dct: _HuffTable, act: _HuffTable) -> int:
    """Entropy-encode one 64-coeff zigzag block; returns the new DC pred."""
    dc = coeffs[0]
    diff = dc - pred
    s = _category(diff)
    code, length = dct.encode[s]
    wtr.write(code, length)
    _write_coeff_bits(wtr, diff, s)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if coeffs[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        if coeffs[k] == 0:
            run += 1
            continue
        while run > 15:
            code, length = act.encode[0xF0]  # ZRL
            wtr.write(code, length)
            run -= 16
        s = _category(coeffs[k])
        code, length = act.encode[(run << 4) | s]
        wtr.write(code, length)
        _write_coeff_bits(wtr, coeffs[k], s)
        run = 0
    if last_nz < 63:
        code, length = act.encode[0x00]  # EOB
        wtr.write(code, length)
    return dc


def _forward_dct_blocks(blocks):
    import numpy as np

    x = np.arange(8)
    M = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) * np.sqrt(2.0 / 8)
    M[0, :] = np.sqrt(1.0 / 8)
    # F = M f M^T (the exact transpose-inverse of _idct_blocks' f = M^T F M)
    return np.einsum("ur,nrc,vc->nuv", M, blocks, M, optimize=True)


def _quantize_gray(w: int, h: int, pixels: bytes, quant: int):
    """(bw, bh, quantized) -- zigzag-ordered integer coefficient blocks
    shared by the baseline and progressive encoders, so both transmit
    the IDENTICAL coefficients (the basis of the cross-encoding
    exactness test)."""
    import numpy as np

    if len(pixels) != w * h:
        raise ValueError("pixel buffer does not match dimensions")
    bw, bh = (w + 7) // 8, (h + 7) // 8
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w).astype(np.float64)
    # edge-replicate padding keeps block stats sane
    img = np.pad(img, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge") - 128.0
    blocks = img.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    coeffs = _forward_dct_blocks(blocks)
    q = np.full(64, quant, dtype=np.float64)
    quantized = np.round(coeffs.reshape(-1, 64)[:, ZIGZAG] / q[None, :]).astype(int)
    # the Annex K AC table tops out at category 10 (|v| <= 1023); only a
    # near-checkerboard extreme can exceed it -- clamp ACs, never the DC
    quantized[:, 1:] = np.clip(quantized[:, 1:], -1023, 1023)
    return bw, bh, quantized


def encode_gray_jpeg(
    w: int,
    h: int,
    pixels: bytes,
    quant: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """Real baseline grayscale JPEG encoder (forward float DCT, uniform
    quantizer ``quant``, Annex K Huffman tables, optional restart
    markers) -- exercises the decoder's AC/run-length/restart paths in
    tests.  Lossless only in the DC-only constant-block case; general
    images round-trip within IDCT tolerance."""
    dct = _HuffTable(DC_LUMA_BITS, DC_LUMA_VALS)
    act = _HuffTable(AC_LUMA_BITS, AC_LUMA_VALS)
    bw, bh, quantized = _quantize_gray(w, h, pixels, quant)

    wtr = _BitWriter()
    pred = 0
    body = bytearray()
    interval = restart_interval if restart_interval else bw * bh
    rst = 0
    for i in range(bw * bh):
        if i and restart_interval and i % interval == 0:
            body += wtr.flush()
            body += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            wtr = _BitWriter()
            pred = 0
        pred = _encode_block(wtr, quantized[i].tolist(), pred, dct, act)
    body += wtr.flush()

    qz = bytes([quant] * 64)
    out = b"\xff\xd8"
    out += _seg(0xDB, bytes([0x00]) + qz)
    out += _seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]))
    out += _seg(0xC4, bytes([0x00] + DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += _seg(0xC4, bytes([0x10] + AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += bytes(body)
    out += b"\xff\xd9"
    return out


def encode_blocky_jpeg(
    w_blocks: int,
    h_blocks: int,
    block_vals: list[int],
    color_420: bool = False,
) -> bytes:
    """DC-only JPEG whose 8x8 blocks are CONSTANT ``block_vals`` (row
    major) -- the exact-decode construction: any compliant IDCT
    reproduces a flat block bit-for-bit, so hashes computed from the
    decode equal hashes computed from the block formula, for OUR decoder
    and for PIL/libjpeg alike.  ``color_420=True`` wraps the same luma
    in a 3-component YCbCr 4:2:0 frame with flat gray chroma, exercising
    the interleaved/subsampled/chroma-skip decode paths."""
    dct = _HuffTable(DC_LUMA_BITS, DC_LUMA_VALS)
    act = _HuffTable(AC_LUMA_BITS, AC_LUMA_VALS)
    if len(block_vals) != w_blocks * h_blocks:
        raise ValueError("block_vals does not match grid")
    w, h = 8 * w_blocks, 8 * h_blocks
    wtr = _BitWriter()

    def dc_block(v_shifted: int, pred: int) -> int:
        # constant block: DC = 8 * (v - 128), all AC zero
        return _encode_block(wtr, [8 * v_shifted] + [0] * 63, pred, dct, act)

    if not color_420:
        pred = 0
        for v in block_vals:
            pred = dc_block(v - 128, pred)
    else:
        if w_blocks % 2 or h_blocks % 2:
            raise ValueError("4:2:0 grid needs even block dimensions")
        preds = {1: 0, 2: 0, 3: 0}
        for my in range(h_blocks // 2):
            for mx in range(w_blocks // 2):
                for by in range(2):
                    for bx in range(2):
                        v = block_vals[(my * 2 + by) * w_blocks + mx * 2 + bx]
                        preds[1] = dc_block(v - 128, preds[1])
                preds[2] = dc_block(0, preds[2])  # flat Cb = 128
                preds[3] = dc_block(0, preds[3])  # flat Cr = 128
    body = wtr.flush()

    out = b"\xff\xd8"
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    if not color_420:
        sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0])
        sos = bytes([1, 1, 0x00, 0, 63, 0])
    else:
        sof = (
            bytes([8])
            + struct.pack(">HH", h, w)
            + bytes([3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
        )
        sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    out += _seg(0xC0, sof)
    out += _seg(0xC4, bytes([0x00] + DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += _seg(0xC4, bytes([0x10] + AC_LUMA_BITS) + bytes(AC_LUMA_VALS))
    out += _seg(0xDA, sos)
    out += body
    out += b"\xff\xd9"
    return out


# ---------------------------------------------------------------------------
# progressive encoder (tests + synthetic corpora): the libjpeg-style scan
# script over the SAME quantized coefficients as encode_gray_jpeg, which
# is what makes the cross-encoding exactness test possible -- successive
# approximation is lossless once all scans arrive, so progressive decode
# == baseline decode, bit for bit.

# the standard sequential AC table has no EOBn symbols (progressive needs
# EOB1..EOB14), so progressive scans carry their own fixed-length table:
# 176 symbols all at 8 bits (valid canonical Huffman; the all-ones code
# stays unused).  Optimal? No. Spec-conformant and simple? Yes.
_PROG_AC_VALS = (
    [r << 4 for r in range(15)]  # EOB0..EOB14
    + [0xF0]  # ZRL
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_PROG_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0]


class _ScanWriter(_BitWriter):
    """Bit writer with the pending EOB-run + buffered-correction-bit
    machinery both progressive AC scan types share.  TWO bit pools, as
    in jcphuff: ``run_bits`` belong to the pending cross-block EOB run
    and flush right after its EOBn symbol; ``cur_bits`` are the current
    block's corrections since the last emitted symbol and flush right
    after THAT symbol -- conflating them emits bits in the wrong order
    relative to the next symbol."""

    def __init__(self, act: _HuffTable):
        super().__init__()
        self.act = act
        self.eobrun = 0
        self.run_bits: list[int] = []
        self.cur_bits: list[int] = []

    def symbol(self, s: int) -> None:
        code, length = self.act.encode[s]
        self.write(code, length)

    def emit_eobrun(self) -> None:
        if self.eobrun > 0:
            run = self.eobrun.bit_length() - 1
            self.symbol(run << 4)
            if run:
                self.write(self.eobrun - (1 << run), run)
            self.eobrun = 0
            for b in self.run_bits:
                self.write(b, 1)
            self.run_bits = []

    def flush_cur(self) -> None:
        for b in self.cur_bits:
            self.write(b, 1)
        self.cur_bits = []

    def end_block_pending(self) -> None:
        """Block ended with unemitted state: it joins the EOB run and its
        leftover correction bits ride with the run."""
        self.eobrun += 1
        self.run_bits.extend(self.cur_bits)
        self.cur_bits = []
        if self.eobrun == 0x7FFF:
            self.emit_eobrun()


def _enc_dc_first(quantized, al: int, dct: _HuffTable) -> bytes:
    wtr = _BitWriter()
    pred = 0
    for blk in quantized:
        t = int(blk[0]) >> al  # DC uses the arithmetic point transform
        diff = t - pred
        pred = t
        s = _category(diff)
        code, length = dct.encode[s]
        wtr.write(code, length)
        _write_coeff_bits(wtr, diff, s)
    return wtr.flush()


def _enc_dc_refine(quantized, al: int) -> bytes:
    wtr = _BitWriter()
    for blk in quantized:
        wtr.write((int(blk[0]) >> al) & 1, 1)
    return wtr.flush()


def _enc_ac_first(quantized, ss: int, se: int, al: int, act: _HuffTable) -> bytes:
    wtr = _ScanWriter(act)
    for blk in quantized:
        # AC uses the MAGNITUDE point transform (sign(v) * (|v| >> Al))
        vals = []
        for k in range(ss, se + 1):
            v = int(blk[k])
            a = (v if v >= 0 else -v) >> al
            vals.append(a if v >= 0 else -a)
        last_nz = -1
        for j in range(len(vals) - 1, -1, -1):
            if vals[j]:
                last_nz = j
                break
        if last_nz < 0:
            wtr.eobrun += 1
            if wtr.eobrun == 0x7FFF:
                wtr.emit_eobrun()
            continue
        wtr.emit_eobrun()
        r = 0
        for j in range(last_nz + 1):
            v = vals[j]
            if v == 0:
                r += 1
                continue
            while r > 15:
                wtr.symbol(0xF0)
                r -= 16
            s = _category(v)
            wtr.symbol((r << 4) | s)
            _write_coeff_bits(wtr, v, s)
            r = 0
        if last_nz < len(vals) - 1:
            wtr.eobrun += 1
    wtr.emit_eobrun()
    return wtr.flush()


def _enc_ac_refine(quantized, ss: int, se: int, al: int, act: _HuffTable) -> bytes:
    """jcphuff encode_mcu_AC_refine shape: |v|>>Al == 1 places a new
    coefficient this scan; > 1 appends a correction bit; ZRLs only
    before the last new coefficient; trailing state rides the EOB run."""
    wtr = _ScanWriter(act)
    for blk in quantized:
        absv = []
        for k in range(ss, se + 1):
            v = int(blk[k])
            absv.append((v if v >= 0 else -v) >> al)
        eob = -1
        for j in range(len(absv) - 1, -1, -1):
            if absv[j] == 1:
                eob = j
                break
        r = 0
        for j, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            # pending ZRLs flush at EVERY nonzero position (correction-only
            # ones included), exactly as jcphuff does -- emitting them only
            # at newly-nonzero positions desyncs the decoder whenever >=16
            # zero-history positions precede a correction position: the
            # decoder's ZRL advance consumes corrections for ITS span only,
            # so later-flushed bits would be misread as the next symbol.
            # (When j > eob there is no later new coefficient and the run
            # legally rides into the EOB instead.)
            while r > 15 and j <= eob:
                wtr.emit_eobrun()
                wtr.symbol(0xF0)
                r -= 16
                wtr.flush_cur()
            if t > 1:
                wtr.cur_bits.append(t & 1)
                continue
            # t == 1: newly nonzero this scan
            wtr.emit_eobrun()
            wtr.symbol((r << 4) | 1)
            wtr.write(1 if int(blk[ss + j]) >= 0 else 0, 1)
            wtr.flush_cur()
            r = 0
        if r > 0 or wtr.cur_bits:
            wtr.end_block_pending()
    wtr.emit_eobrun()
    return wtr.flush()


# the libjpeg-default-style grayscale scan script: spectral selection +
# two-stage successive approximation for both DC and AC
_PROG_SCRIPT = (
    ("dc_first", 0, 0, 0, 1),
    ("ac_first", 1, 5, 0, 2),
    ("ac_first", 6, 63, 0, 2),
    ("ac_refine", 1, 63, 2, 1),
    ("dc_refine", 0, 0, 1, 0),
    ("ac_refine", 1, 63, 1, 0),
)


def encode_gray_jpeg_progressive(
    w: int, h: int, pixels: bytes, quant: int = 1
) -> bytes:
    """Progressive (SOF2) grayscale encoder: six scans of spectral
    selection + successive approximation over the SAME quantized
    coefficients as :func:`encode_gray_jpeg` -- decoding this payload
    must produce EXACTLY the baseline encoding's pixels (successive
    approximation is lossless once all scans arrive), which is the
    cross-encoding consistency test's contract."""
    dct = _HuffTable(DC_LUMA_BITS, DC_LUMA_VALS)
    act = _HuffTable(_PROG_AC_BITS, _PROG_AC_VALS)
    bw, bh, quantized = _quantize_gray(w, h, pixels, quant)
    blocks = quantized.tolist()

    out = b"\xff\xd8"
    out += _seg(0xDB, bytes([0x00]) + bytes([quant] * 64))
    out += _seg(0xC2, bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]))
    out += _seg(0xC4, bytes([0x00] + DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += _seg(0xC4, bytes([0x11] + _PROG_AC_BITS) + bytes(_PROG_AC_VALS))
    for kind, ss, se, ah, al in _PROG_SCRIPT:
        if kind == "dc_first":
            body = _enc_dc_first(blocks, al, dct)
            tables = 0x00
        elif kind == "dc_refine":
            body = _enc_dc_refine(blocks, al)
            tables = 0x00  # table selector ignored in DC refinement
        elif kind == "ac_first":
            body = _enc_ac_first(blocks, ss, se, al, act)
            tables = 0x01
        else:
            body = _enc_ac_refine(blocks, ss, se, al, act)
            tables = 0x01
        out += _seg(0xDA, bytes([1, 1, tables, ss, se, (ah << 4) | al]))
        out += body
    out += b"\xff\xd9"
    return out


def encode_blocky_jpeg_progressive_420(
    w_blocks: int, h_blocks: int, block_vals: list[int]
) -> bytes:
    """DC-only PROGRESSIVE YCbCr 4:2:0 JPEG of constant blocks: an
    interleaved DC-first scan (Al=1) + DC refinement + per-component
    all-zero AC scans carried entirely by EOB runs -- the layout that
    exercises the decoder's interleaved-progressive-DC path with
    subsampling AND the wholesale skipping of chroma AC scans.  Flat
    blocks keep the cross-decoder exactness contract."""
    if w_blocks % 2 or h_blocks % 2:
        raise ValueError("4:2:0 grid needs even block dimensions")
    if len(block_vals) != w_blocks * h_blocks:
        raise ValueError("block_vals does not match grid")
    dct = _HuffTable(DC_LUMA_BITS, DC_LUMA_VALS)
    act = _HuffTable(_PROG_AC_BITS, _PROG_AC_VALS)
    w, h = 8 * w_blocks, 8 * h_blocks

    def mcu_dcs():
        for my in range(h_blocks // 2):
            for mx in range(w_blocks // 2):
                for by in range(2):
                    for bx in range(2):
                        v = block_vals[(my * 2 + by) * w_blocks + mx * 2 + bx]
                        yield 1, 8 * (v - 128)
                yield 2, 0
                yield 3, 0

    # scan 1: interleaved DC first, Al=1 (arithmetic point transform)
    wtr = _BitWriter()
    preds = {1: 0, 2: 0, 3: 0}
    for cid, dcval in mcu_dcs():
        t = dcval >> 1
        diff = t - preds[cid]
        preds[cid] = t
        s = _category(diff)
        code, length = dct.encode[s]
        wtr.write(code, length)
        _write_coeff_bits(wtr, diff, s)
    scan_dc1 = wtr.flush()
    # scan 2: DC refinement to Al=0 -- one raw bit per block, MCU order
    wtr = _BitWriter()
    for _cid, dcval in mcu_dcs():
        wtr.write(dcval & 1, 1)
    scan_dc2 = wtr.flush()

    def eob_scan(n_blocks: int) -> bytes:
        sw = _ScanWriter(act)
        left = n_blocks
        while left > 0:
            sw.eobrun = min(left, 0x7FFF)
            left -= sw.eobrun
            sw.emit_eobrun()
        return sw.flush()

    y_n = ((w + 7) // 8) * ((h + 7) // 8)
    cw, chh = (w + 1) // 2, (h + 1) // 2
    c_n = ((cw + 7) // 8) * ((chh + 7) // 8)

    out = b"\xff\xd8"
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    out += _seg(
        0xC2,
        bytes([8]) + struct.pack(">HH", h, w)
        + bytes([3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    out += _seg(0xC4, bytes([0x00] + DC_LUMA_BITS) + bytes(DC_LUMA_VALS))
    out += _seg(0xC4, bytes([0x11] + _PROG_AC_BITS) + bytes(_PROG_AC_VALS))
    out += _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x01]))
    out += scan_dc1
    out += _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x10]))
    out += scan_dc2
    for cid, n in ((1, y_n), (2, c_n), (3, c_n)):
        out += _seg(0xDA, bytes([1, cid, 0x01, 1, 63, 0x00]))
        out += eob_scan(n)
    out += b"\xff\xd9"
    return out
