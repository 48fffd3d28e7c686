"""JPEG 2000 Part 1 (ISO/IEC 15444-1 / ITU-T T.800) — the last
mainstream scanned-PDF image codec (``/JPXDecode``), from scratch on
public spec structure only.

The entropy layer is the SAME MQ arithmetic coder as JBIG2 (T.800
Annex C ≡ T.88 Annex E — identical state table and flowcharts), so
:class:`operators.jbig2.MQDecoder`/``MQEncoder``/``ArithStats`` are
reused verbatim; what this module adds is everything around it:

* codestream parse/build (SOC/SIZ/COD/QCD/SOT/SOD/EOC markers,
  Annex A), single tile, LRCP progression, one quality layer;
* Tier-2 packet headers (Annex B): tag trees (B.10.2), code-block
  inclusion, zero-bitplane signalling, coding-pass counts, Lblock
  length coding, 0xFF bit-stuffing;
* Tier-1 EBCOT coefficient coding (Annex D): three passes per
  bitplane (significance propagation, magnitude refinement, cleanup
  with run-length mode) over 4-row stripes, the D.1/D.2/D.3 context
  tables by subband orientation, JPEG 2000's context initialisation
  (UNIFORM=46, RUN-LENGTH=3, all-zero significance context=4);
* the 5/3 reversible wavelet (Annex F lifting with whole-sample
  symmetric extension) and the reversible colour transform (RCT);
* the 9/7 irreversible wavelet (Annex F float lifting, normalization
  pinned against the published Table F.4 filter taps), the ICT
  (G.3), and Annex E scalar-expounded dequantization with midpoint
  reconstruction — the dominant lossy scanned-PDF form;
* JP2 container walk (Part 1 Annex I boxes) down to the ``jp2c``
  codestream.

Component subsampling (XRsiz/YRsiz up to 4, e.g. 4:2:0 chroma)
decodes on the 9/7 path — per-component band extents, replication
upsampling before the ICT; it stays gated on the 5/3 path, whose
RCT needs co-sited components.

Scope (honest gates, each next to its implemented sibling): scalar
DERIVED quantization (single-pair QCD), truncated coding passes
(quality-layer truncation), precinct subdivision/SOP/EPH, multiple
layers/tiles/tile-parts, non-LRCP progressions, RGN/COC/QCC
overrides, and >38-bit coefficient depths raise
``NotImplementedError``.

The decoder and the fixture-side encoder share the pass loop and the
tag-tree transcription, so round-trip tests pin the internal
consistency of both (the same verification strategy as
operators/jbig2.py's SDHUFF tables).

Reference behavior parity: cademirch/ccgp-data-wrangling has no
image codec layer; this extends the engine's scanned-document corpus
surface the way operators/jbig2.py does for T.88.
"""

from __future__ import annotations

import struct
from typing import Any

import numpy as np

from ccgp_data_wrangling_spark.operators.jbig2 import (
    _QE_Q,
    ArithStats,
    MQDecoder,
    MQEncoder,
)

# Tier-1 context indices (one bank of 19 contexts per code-block)
_CTX_SIG0 = 0          # 0-8: significance by D.1
_CTX_SIGN0 = 9         # 9-13: sign by D.2
_CTX_MAG0 = 14         # 14-16: magnitude refinement by D.3
_CTX_RUN = 17
_CTX_UNI = 18
_N_CTX = 19

# band orientation codes for context formation
_BAND_LL_LH = 0
_BAND_HL = 1
_BAND_HH = 2


def _fresh_stats() -> ArithStats:
    """JPEG 2000 context initialisation (D.2 note / Table D.7): all
    contexts start at state 0 except UNIFORM (46), RUN-LENGTH (3)
    and the all-zero significance context (4)."""
    st = ArithStats(_N_CTX)
    st.icx[_CTX_UNI] = 46
    st.icx[_CTX_RUN] = 3
    st.icx[_CTX_SIG0] = 4
    return st


def _sig_ctx(h: int, v: int, d: int, band: int) -> int:
    """Table D.1 significance contexts; HL swaps H/V, HH keys on D."""
    if band == _BAND_HL:
        h, v = v, h
    if band != _BAND_HH:
        if h == 2:
            return 8
        if h == 1:
            if v >= 1:
                return 7
            return 6 if d >= 1 else 5
        if v == 2:
            return 4
        if v == 1:
            return 3
        if d >= 2:
            return 2
        return 1 if d == 1 else 0
    hv = h + v
    if d >= 3:
        return 8
    if d == 2:
        return 7 if hv >= 1 else 6
    if d == 1:
        if hv >= 2:
            return 5
        return 4 if hv == 1 else 3
    if hv >= 2:
        return 2
    return 1 if hv == 1 else 0


# Table D.2: (H, V) sign contributions → (context, XOR bit)
_SIGN_CTX = {
    (1, 1): (13, 0), (1, 0): (12, 0), (1, -1): (11, 0),
    (0, 1): (10, 0), (0, 0): (9, 0), (0, -1): (10, 1),
    (-1, 1): (11, 1), (-1, 0): (12, 1), (-1, -1): (13, 1),
}

# Precomputed lookup tables for the per-pixel hot loops in
# _t1_code_block: _SIG_LUT[band][h * 15 + v * 5 + d] inlines
# _sig_ctx (h, v ∈ 0..2, d ∈ 0..4), and _SIGN_LUT[(hc+1)*3 + (vc+1)]
# inlines the Table D.2 dict lookup. Same functions, table form.
_SIG_LUT = tuple(
    tuple(
        _sig_ctx(hh, vv, dd, band)
        for hh in range(3) for vv in range(3) for dd in range(5)
    )
    for band in (0, 1, 2)
)
_SIGN_LUT = tuple(
    _SIGN_CTX[(hc, vc)] for hc in (-1, 0, 1) for vc in (-1, 0, 1)
)


def _t1_code_block(
    coder,
    stats: ArithStats,
    band: int,
    w: int,
    h: int,
    planes: int,
    target: np.ndarray | None,
    npasses: int | None = None,
    pass_marks: list[int] | None = None,
) -> np.ndarray:
    """Shared Annex D pass loop: decodes when ``target`` is None,
    encodes the signed-coefficient array otherwise — one
    transcription of the context model serves both directions, the
    operators/jbig2.py ``_refine_loop`` strategy.

    ``npasses`` limits the number of coding passes run (< 3·planes−2
    is a TRUNCATED pass set — rate-allocated encoders truncate on
    essentially every real lossy file); ``pass_marks`` (encode side)
    is appended with ``coder.tell()`` after each pass so Tier-2 can
    split the single codeword segment across quality layers at pass
    boundaries."""
    # Flat Python-list state (stride W, 1-cell pad on every side) in
    # place of the numpy _T1State: this loop touches single scalars
    # millions of times per code-block, where ndarray item access is
    # ~5-10x a list access. The pass structure, context model and
    # coded decisions are bit-identical to the numpy form (pinned by
    # the round-trip tests and the driver oracle).
    #
    # Two hot-loop devices on top of that (same decisions, same
    # streams):
    #  * ``packed`` holds, for every cell, the D.1 neighbourhood sum
    #    hh*15 + vv*5 + dd maintained INCREMENTALLY at each
    #    significance event (8 adds per event) instead of re-read
    #    from 8 neighbours per pixel per pass — so the dominant
    #    skip/context path is one bytearray read, and
    #    ``sig_lut[packed[i]]`` is the significance context directly.
    #  * the MQ coder's dominant branch (MPS, no renorm — Figures
    #    E.7/E.17 top) is inlined at each decision with the A/C
    #    registers held in pass-function locals; any other branch
    #    syncs the registers back and falls into the SAME
    #    MQDecoder.decode / MQEncoder.encode methods, so the
    #    exchange/renorm/bytein logic stays transcribed exactly once
    #    (tests/test_jpeg2000.py pins inline≡method on random
    #    streams).
    W = w + 2
    N = (h + 2) * W
    sig = bytearray(N)
    sgn = [0] * N        # -1/+1 once significant
    pi = bytearray(N)
    refined = bytearray(N)
    mag = [0] * N
    packed = bytearray(N)
    sig_lut = tuple(_CTX_SIG0 + v for v in _SIG_LUT[band])
    sign_lut = _SIGN_LUT
    icx = stats.icx
    mps = stats.mps
    qq = _QE_Q
    decoding = target is None
    dec = coder.decode if decoding else None
    enc = None if decoding else coder.encode
    if decoding:
        tmag = tsgn = None
    else:
        flat = target.astype(np.int64).ravel()
        tmag = np.abs(flat).tolist()
        tsgn = [(-1 if v < 0 else 1) for v in flat.tolist()]

    # count of significant coefficients so far: while it is zero, a
    # whole SPP pass codes no bits (every neighbourhood is all-zero)
    # and a whole MRP pass codes no bits (nothing to refine), so both
    # passes can skip their pixel scans outright — the coded stream
    # is identical, the encoder and decoder skip symmetrically
    nsig = 0

    # per-(stripe, column) activity map: touched[s*w + x] is set once
    # any significance event lands within one row/column of stripe
    # s's column x. An untouched column provably has sig == 0,
    # pi == 0 and packed == 0 on all its cells (sig/pi are only set
    # where packed was nonzero or a run fired — both inside touched
    # columns; packed updates mark their column), so SPP and MRP skip
    # the whole 4-cell column on one read and CUP's run-length
    # precondition holds without scanning. Never cleared: activity is
    # monotone within a code-block.
    n_stripes = (h + 3) >> 2
    touched = bytearray(n_stripes * w)

    def mark(y: int, x: int) -> None:
        s0 = (y - 1) >> 2 if y else 0
        s1 = (y + 1) >> 2
        if s1 >= n_stripes:
            s1 = n_stripes - 1
        x0 = x - 1 if x else 0
        x1 = x + 1 if x + 1 < w else x
        for s in (s0, y >> 2, s1):
            base = s * w
            touched[base + x0] = 1
            touched[base + x] = 1
            touched[base + x1] = 1

    def code_sign(i: int, y: int, x: int) -> None:
        mark(y, x)
        l, r, u, d2 = sig[i - 1], sig[i + 1], sig[i - W], sig[i + W]
        hc = (l and sgn[i - 1]) + (r and sgn[i + 1])
        vc = (u and sgn[i - W]) + (d2 and sgn[i + W])
        if hc > 1:
            hc = 1
        elif hc < -1:
            hc = -1
        if vc > 1:
            vc = 1
        elif vc < -1:
            vc = -1
        cx, xor = sign_lut[hc * 3 + vc + 4]
        # same inlined MQ fast path as the pass loops (the caller has
        # synced the coder's registers before this call)
        k = icx[cx]
        qe = _QE_Q[k]
        aa = coder._a
        a1 = aa - qe
        if decoding:
            cc = coder._c
            if (cc >> 16) >= qe and a1 & 0x8000:
                coder._c = cc - (qe << 16)
                coder._a = a1
                bit = mps[cx]
            else:
                bit = dec(cx, stats)
            sgn[i] = -1 if bit ^ xor else 1
        else:
            s = tsgn[y * w + x]
            bit = (1 if s < 0 else 0) ^ xor
            if bit == mps[cx] and a1 & 0x8000:
                coder._a = a1
                coder._c += qe
            else:
                enc(cx, bit, stats)
            sgn[i] = s

    # the pass functions bind every hot name as a default argument so
    # the per-pixel loops run on LOAD_FAST locals instead of closure
    # cells (same objects, bound at definition time inside this call)
    def spp(
        p: int, sig=sig, packed=packed, pi=pi, mag=mag, icx=icx,
        mps=mps, qq=qq, sig_lut=sig_lut, tmag=tmag, W=W, w=w, h=h,
        decoding=decoding, dec=dec, enc=enc, coder=coder, stats=stats,
        touched=touched,
    ) -> None:
        nonlocal nsig
        if nsig == 0:
            return
        bitp = 1 << p
        aa = coder._a
        cc = coder._c
        for y0 in range(0, h, 4):
            ylim = y0 + 4 if y0 + 4 < h else h
            sbase = (y0 >> 2) * w
            for x in range(w):
                if not touched[sbase + x]:
                    # untouched column: every cell insignificant with
                    # all-zero context — all four skip
                    continue
                i = (y0 + 1) * W + x + 1
                for y in range(y0, ylim):
                    if sig[i] or not packed[i]:
                        i += W
                        continue
                    cx = sig_lut[packed[i]]
                    k = icx[cx]
                    qe = qq[k]
                    a1 = aa - qe
                    if decoding:
                        if (cc >> 16) >= qe and a1 & 0x8000:
                            cc -= qe << 16
                            aa = a1
                            bit = mps[cx]
                        else:
                            coder._a = aa
                            coder._c = cc
                            bit = dec(cx, stats)
                            aa = coder._a
                            cc = coder._c
                    else:
                        bit = (tmag[y * w + x] >> p) & 1
                        if bit == mps[cx] and a1 & 0x8000:
                            aa = a1
                            cc += qe
                        else:
                            coder._a = aa
                            coder._c = cc
                            enc(cx, bit, stats)
                            aa = coder._a
                            cc = coder._c
                    pi[i] = 1
                    if bit:
                        nsig += 1
                        sig[i] = 1
                        mag[i] |= bitp
                        packed[i - 1] += 15
                        packed[i + 1] += 15
                        packed[i - W] += 5
                        packed[i + W] += 5
                        packed[i - W - 1] += 1
                        packed[i - W + 1] += 1
                        packed[i + W - 1] += 1
                        packed[i + W + 1] += 1
                        coder._a = aa
                        coder._c = cc
                        code_sign(i, y, x)
                        aa = coder._a
                        cc = coder._c
                    i += W
        coder._a = aa
        coder._c = cc

    def mrp(
        p: int, sig=sig, packed=packed, pi=pi, mag=mag,
        refined=refined, icx=icx, mps=mps, qq=qq, tmag=tmag, W=W,
        w=w, h=h, decoding=decoding, dec=dec, enc=enc, coder=coder,
        stats=stats, touched=touched,
    ) -> None:
        if nsig == 0:
            return
        bitp = 1 << p
        aa = coder._a
        cc = coder._c
        for y0 in range(0, h, 4):
            ylim = y0 + 4 if y0 + 4 < h else h
            sbase = (y0 >> 2) * w
            for x in range(w):
                if not touched[sbase + x]:
                    # untouched column: nothing significant to refine
                    continue
                i = (y0 + 1) * W + x + 1
                for y in range(y0, ylim):
                    if not sig[i] or pi[i]:
                        i += W
                        continue
                    if refined[i]:
                        cx = _CTX_MAG0 + 2
                    else:
                        cx = _CTX_MAG0 + (1 if packed[i] else 0)
                    k = icx[cx]
                    qe = qq[k]
                    a1 = aa - qe
                    if decoding:
                        if (cc >> 16) >= qe and a1 & 0x8000:
                            cc -= qe << 16
                            aa = a1
                            bit = mps[cx]
                        else:
                            coder._a = aa
                            coder._c = cc
                            bit = dec(cx, stats)
                            aa = coder._a
                            cc = coder._c
                    else:
                        bit = (tmag[y * w + x] >> p) & 1
                        if bit == mps[cx] and a1 & 0x8000:
                            aa = a1
                            cc += qe
                        else:
                            coder._a = aa
                            coder._c = cc
                            enc(cx, bit, stats)
                            aa = coder._a
                            cc = coder._c
                    if bit:
                        mag[i] |= bitp
                    refined[i] = 1
                    i += W
        coder._a = aa
        coder._c = cc

    def cup(
        p: int, sig=sig, packed=packed, pi=pi, mag=mag, icx=icx,
        mps=mps, qq=qq, sig_lut=sig_lut, tmag=tmag, W=W, w=w, h=h,
        decoding=decoding, dec=dec, enc=enc, coder=coder, stats=stats,
        touched=touched,
    ) -> None:
        nonlocal nsig
        bitp = 1 << p
        aa = coder._a
        cc = coder._c
        for y0 in range(0, h, 4):
            ylim = y0 + 4 if y0 + 4 < h else h
            sbase = (y0 >> 2) * w
            for x in range(w):
                i0 = (y0 + 1) * W + x + 1
                y = y0
                # run-length mode: full 4-row stripe column, all four
                # insignificant, unvisited, with all-zero contexts —
                # equivalently: no pi/sig on the column and no sig
                # anywhere in the 6x3 neighbourhood window.
                # packed[j] == 0 is exactly "no significant cell in
                # j's 8-neighbourhood", so the union over the four
                # column cells covers the whole window bar the column
                # itself (covered by the sig[j] reads); an untouched
                # column satisfies all of it without a scan.
                rl = False
                if y0 + 4 <= h:
                    if not touched[sbase + x]:
                        rl = True
                    else:
                        rl = True
                        j = i0
                        for _ in range(4):
                            if pi[j] or sig[j] or packed[j]:
                                rl = False
                                break
                            j += W
                if rl:
                    if decoding:
                        k = icx[_CTX_RUN]
                        qe = qq[k]
                        a1 = aa - qe
                        if (cc >> 16) >= qe and a1 & 0x8000:
                            cc -= qe << 16
                            aa = a1
                            run_hit = mps[_CTX_RUN]
                        else:
                            coder._a = aa
                            coder._c = cc
                            run_hit = dec(_CTX_RUN, stats)
                            aa = coder._a
                            cc = coder._c
                    else:
                        base = y0 * w + x
                        some = (
                            (tmag[base] >> p) & 1
                            or (tmag[base + w] >> p) & 1
                            or (tmag[base + 2 * w] >> p) & 1
                            or (tmag[base + 3 * w] >> p) & 1
                        )
                        bit = 1 if some else 0
                        k = icx[_CTX_RUN]
                        qe = qq[k]
                        a1 = aa - qe
                        if bit == mps[_CTX_RUN] and a1 & 0x8000:
                            aa = a1
                            cc += qe
                        else:
                            coder._a = aa
                            coder._c = cc
                            enc(_CTX_RUN, bit, stats)
                            aa = coder._a
                            cc = coder._c
                        run_hit = some
                    if not run_hit:
                        continue  # all four stay insignificant
                    coder._a = aa
                    coder._c = cc
                    if decoding:
                        r = (
                            dec(_CTX_UNI, stats) << 1
                        ) | dec(_CTX_UNI, stats)
                    else:
                        r = next(
                            k for k in range(4)
                            if (tmag[(y0 + k) * w + x] >> p) & 1
                        )
                        enc(_CTX_UNI, (r >> 1) & 1, stats)
                        enc(_CTX_UNI, r & 1, stats)
                    y = y0 + r
                    i = i0 + r * W
                    nsig += 1
                    sig[i] = 1
                    mag[i] |= bitp
                    packed[i - 1] += 15
                    packed[i + 1] += 15
                    packed[i - W] += 5
                    packed[i + W] += 5
                    packed[i - W - 1] += 1
                    packed[i - W + 1] += 1
                    packed[i + W - 1] += 1
                    packed[i + W + 1] += 1
                    code_sign(i, y, x)
                    aa = coder._a
                    cc = coder._c
                    y += 1
                i = (y + 1) * W + x + 1
                for yy in range(y, ylim):
                    if sig[i] or pi[i]:
                        i += W
                        continue
                    cx = sig_lut[packed[i]]
                    k = icx[cx]
                    qe = qq[k]
                    a1 = aa - qe
                    if decoding:
                        if (cc >> 16) >= qe and a1 & 0x8000:
                            cc -= qe << 16
                            aa = a1
                            bit = mps[cx]
                        else:
                            coder._a = aa
                            coder._c = cc
                            bit = dec(cx, stats)
                            aa = coder._a
                            cc = coder._c
                    else:
                        bit = (tmag[yy * w + x] >> p) & 1
                        if bit == mps[cx] and a1 & 0x8000:
                            aa = a1
                            cc += qe
                        else:
                            coder._a = aa
                            coder._c = cc
                            enc(cx, bit, stats)
                            aa = coder._a
                            cc = coder._c
                    if bit:
                        nsig += 1
                        sig[i] = 1
                        mag[i] |= bitp
                        packed[i - 1] += 15
                        packed[i + 1] += 15
                        packed[i - W] += 5
                        packed[i + W] += 5
                        packed[i - W - 1] += 1
                        packed[i - W + 1] += 1
                        packed[i + W - 1] += 1
                        packed[i + W + 1] += 1
                        coder._a = aa
                        coder._c = cc
                        code_sign(i, yy, x)
                        aa = coder._a
                        cc = coder._c
                    i += W
        coder._a = aa
        coder._c = cc

    total = 3 * planes - 2 if npasses is None else npasses
    done = 0
    for p in range(planes - 1, -1, -1):
        if done >= total:
            break
        for fn in ((cup,) if p == planes - 1 else (spp, mrp, cup)):
            if done >= total:
                break
            fn(p)
            done += 1
            if pass_marks is not None:
                pass_marks.append(coder.tell())
        pi[:] = bytes(N)
    if target is not None:
        return target
    out = np.array(mag, np.int64).reshape(h + 2, W)[1 : h + 1, 1 : w + 1]
    sg = np.array(sgn, np.int64).reshape(h + 2, W)[1 : h + 1, 1 : w + 1]
    return out * np.where(sg < 0, -1, 1)


# ---------------------------------------------------------------------------
# Tag trees (B.10.2) — shared by inclusion and zero-bitplane coding
# ---------------------------------------------------------------------------


class TagTree:
    """Quad-tree over a (w × h) leaf grid. ``set_leaves`` fixes the
    encoder's values (internal nodes = min over their children);
    encode/decode share the threshold-walk state across calls, as the
    standard requires when several leaves share parents."""

    def __init__(self, w: int, h: int) -> None:
        dims = [(w, h)]
        while dims[-1] != (1, 1):
            pw, ph = dims[-1]
            dims.append(((pw + 1) // 2, (ph + 1) // 2))
        self.dims = dims[::-1]  # root first
        self.value = [
            np.zeros((dh, dw), np.int64) for dw, dh in self.dims
        ]
        self.lo = [np.zeros((dh, dw), np.int64) for dw, dh in self.dims]
        self.known = [
            np.zeros((dh, dw), bool) for dw, dh in self.dims
        ]

    def set_leaves(self, leaves: np.ndarray) -> None:
        self.value[-1][...] = leaves
        for lev in range(len(self.dims) - 2, -1, -1):
            child = self.value[lev + 1]
            ch, cw = child.shape
            ph, pw = self.value[lev].shape
            for y in range(ph):
                for x in range(pw):
                    self.value[lev][y, x] = child[
                        2 * y : min(2 * y + 2, ch),
                        2 * x : min(2 * x + 2, cw),
                    ].min()

    def _path(self, x: int, y: int):
        n = len(self.dims)
        return [(lev, x >> (n - 1 - lev), y >> (n - 1 - lev))
                for lev in range(n)]

    def decode(self, reader: "_PkBitReader", x: int, y: int,
               threshold: int) -> bool:
        """→ True iff the leaf value is known and < threshold (the
        leaf value is then ``leaf_value(x, y)``)."""
        cur = 0
        for lev, nx, ny in self._path(x, y):
            if self.lo[lev][ny, nx] < cur:
                self.lo[lev][ny, nx] = cur
            while (
                not self.known[lev][ny, nx]
                and self.lo[lev][ny, nx] < threshold
            ):
                if reader.bit():
                    self.known[lev][ny, nx] = True
                else:
                    self.lo[lev][ny, nx] += 1
            cur = int(self.lo[lev][ny, nx])
        return bool(self.known[-1][y, x]) and cur < threshold

    def leaf_value(self, x: int, y: int) -> int:
        return int(self.lo[-1][y, x])

    def encode(self, writer: "_PkBitWriter", x: int, y: int,
               threshold: int) -> None:
        cur = 0
        for lev, nx, ny in self._path(x, y):
            if self.lo[lev][ny, nx] < cur:
                self.lo[lev][ny, nx] = cur
            while (
                not self.known[lev][ny, nx]
                and self.lo[lev][ny, nx] < threshold
            ):
                if self.lo[lev][ny, nx] == self.value[lev][ny, nx]:
                    writer.bit(1)
                    self.known[lev][ny, nx] = True
                else:
                    writer.bit(0)
                    self.lo[lev][ny, nx] += 1
            cur = int(self.lo[lev][ny, nx])


class _PkBitWriter:
    """Packet-header bit writer with B.10.1 0xFF stuffing: a byte
    following 0xFF carries only 7 payload bits (MSB forced 0)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def _cap(self) -> int:
        return 7 if self.out and self.out[-1] == 0xFF else 8

    def bit(self, b: int) -> None:
        self._acc = (self._acc << 1) | (b & 1)
        self._n += 1
        if self._n == self._cap():
            self.out.append(self._acc)
            self._acc, self._n = 0, 0

    def bits(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bit((v >> i) & 1)

    def flush(self) -> bytes:
        while self._n:
            self.bit(0)
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0)  # stuffed pad so a header never ends 0xFF
        return bytes(self.out)


class _PkBitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self._d = data
        self._pos = pos
        self._acc = 0
        self._n = 0
        self._prev = 0

    def bit(self) -> int:
        if self._n == 0:
            if self._pos >= len(self._d):
                raise ValueError("packet header exhausted")
            self._prev_byte_was_ff = self._prev == 0xFF
            self._prev = self._d[self._pos]
            self._acc = self._prev
            self._pos += 1
            self._n = 7 if self._prev_byte_was_ff else 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> int:
        """Byte-align and return the next byte offset, skipping the
        stuffed pad byte when the final header byte was 0xFF."""
        self._n = 0
        if self._prev == 0xFF:
            if self._pos >= len(self._d):
                raise ValueError("missing stuffed pad byte")
            if self._d[self._pos] & 0x80:
                raise ValueError("invalid stuffing after 0xFF")
            self._pos += 1
        return self._pos


# ---------------------------------------------------------------------------
# 5/3 reversible wavelet (Annex F lifting, whole-sample symmetric
# extension; parity is preserved by the mirror so subband identities
# hold for odd extents too)
# ---------------------------------------------------------------------------


def _nsum_rows(y: np.ndarray) -> np.ndarray:
    """Per-row mirrored neighbour sums: out[:, k] =
    y[:, mirror(k-1)] + y[:, mirror(k+1)] — the ±1-tap whole-sample
    symmetric extension every lifting step below uses, vectorized
    over all rows at once."""
    n = y.shape[1]
    yp = np.concatenate([y[:, 1:2], y, y[:, n - 2 : n - 1]], axis=1)
    return yp[:, :-2] + yp[:, 2:]


def _fsd_rows(x: np.ndarray) -> np.ndarray:
    """5/3 analysis lifting along axis 1 for every row at once.
    Elementwise-identical to the scalar Annex F loop (each lifting
    step reads only the other parity, so all updates in a step are
    independent and vectorize exactly)."""
    n = x.shape[1]
    if n == 1:
        return x.copy()
    y = x.astype(np.int64).copy()
    ns = _nsum_rows(y)
    y[:, 1::2] -= ns[:, 1::2] >> 1
    ns = _nsum_rows(y)
    y[:, 0::2] += (ns[:, 0::2] + 2) >> 2
    return y


def _isr_rows(y: np.ndarray) -> np.ndarray:
    """5/3 synthesis lifting along axis 1 for every row at once."""
    n = y.shape[1]
    if n == 1:
        return y.copy()
    x = y.astype(np.int64).copy()
    ns = _nsum_rows(x)
    x[:, 0::2] -= (ns[:, 0::2] + 2) >> 2
    ns = _nsum_rows(x)
    x[:, 1::2] += ns[:, 1::2] >> 1
    return x


# ---------------------------------------------------------------------------
# 9/7 irreversible transform (Annex F) — float64 lifting. The four
# lifting parameters and K are the public T.800 values; the final
# normalization (lowpass × 1/K, highpass × K) is pinned by a unit
# test that matches the lifting impulse response against the Annex F
# Table F.4 analysis filter taps, so a convention slip cannot hide.
# ---------------------------------------------------------------------------

_A97 = -1.586134342059924
_B97 = -0.052980118572961
_G97 = 0.882911075530934
_D97 = 0.443506852043971
_K97 = 1.230174104914001


def _fsd97_rows(x: np.ndarray) -> np.ndarray:
    """9/7 analysis lifting along axis 1 for every row at once.
    Elementwise-identical IEEE arithmetic to the scalar Annex F loop
    (each step reads only the other parity, so the vectorized update
    performs the very same a*(l+r) add per element)."""
    n = x.shape[1]
    if n == 1:
        raise NotImplementedError(
            "9/7 on a 1-sample subsignal (too many decomposition "
            "levels for the image extent)"
        )
    y = x.astype(np.float64).copy()
    for a, b in ((_A97, _B97), (_G97, _D97)):
        ns = _nsum_rows(y)
        y[:, 1::2] += a * ns[:, 1::2]
        ns = _nsum_rows(y)
        y[:, 0::2] += b * ns[:, 0::2]
    y[:, 0::2] *= 1.0 / _K97
    y[:, 1::2] *= _K97
    return y


def _isr97_rows(y: np.ndarray) -> np.ndarray:
    """9/7 synthesis lifting along axis 1 for every row at once."""
    n = y.shape[1]
    if n == 1:
        raise NotImplementedError(
            "9/7 on a 1-sample subsignal (too many decomposition "
            "levels for the image extent)"
        )
    x = y.astype(np.float64).copy()
    x[:, 0::2] *= _K97
    x[:, 1::2] *= 1.0 / _K97
    for a, b in ((_D97, _G97), (_B97, _A97)):
        ns = _nsum_rows(x)
        x[:, 0::2] -= a * ns[:, 0::2]
        ns = _nsum_rows(x)
        x[:, 1::2] -= b * ns[:, 1::2]
    return x


def _fsd97_1d(x: np.ndarray) -> np.ndarray:
    return _fsd97_rows(x[None, :])[0]


def _isr97_1d(y: np.ndarray) -> np.ndarray:
    return _isr97_rows(y[None, :])[0]


def _fdwt97(img: np.ndarray, levels: int) -> list[dict[str, np.ndarray]]:
    """Same banding as :func:`_fdwt53`, float64 coefficients."""
    cur = img.astype(np.float64)
    triples: list[dict[str, np.ndarray]] = []
    for _ in range(levels):
        t = np.ascontiguousarray(_fsd97_rows(_fsd97_rows(cur).T).T)
        triples.append(
            {"HL": t[0::2, 1::2], "LH": t[1::2, 0::2],
             "HH": t[1::2, 1::2]}
        )
        cur = t[0::2, 0::2]
    return [{"LL": cur}] + triples[::-1]


def _idwt97(bands: list[dict[str, np.ndarray]]) -> np.ndarray:
    cur = bands[0]["LL"].astype(np.float64)
    for triple in bands[1:]:
        hl, lh, hh = triple["HL"], triple["LH"], triple["HH"]
        h = cur.shape[0] + lh.shape[0]
        w = cur.shape[1] + hl.shape[1]
        y = np.empty((h, w), np.float64)
        y[0::2, 0::2] = cur
        y[0::2, 1::2] = hl
        y[1::2, 0::2] = lh
        y[1::2, 1::2] = hh
        cur = _isr97_rows(np.ascontiguousarray(_isr97_rows(y.T).T))
    return cur


# Quantization (Annex E): Δ_b = 2^(R_b − ε_b) · (1 + μ_b / 2^11) with
# R_b = component depth + base-2 log of the subband gain (Table E.1).
_BAND_GAIN = {"LL": 0, "HL": 1, "LH": 1, "HH": 2}


def _q97_delta(depth: int, name: str, eps: int, mu: int) -> float:
    rb = depth + _BAND_GAIN[name]
    return (2.0 ** (rb - eps)) * (1.0 + mu / 2048.0)


def _q97_select(
    band_max: float, depth: int, name: str, q_planes: int
) -> tuple[int, int]:
    """(ε, μ) so that max |q| stays under ``2**q_planes`` — the
    fixture encoder's rate knob. The exact Δ both sides use is then
    recomputed from the marker-coded (ε, μ), never from the target."""
    rb = depth + _BAND_GAIN[name]
    if band_max <= 0.0:
        return min(rb, 31), 0  # any valid step; band codes no blocks
    target = band_max / (2.0**q_planes - 1.0)
    f = int(np.floor(np.log2(target)))
    eps = rb - f
    mu = int(round((target / (2.0**f) - 1.0) * 2048.0))
    if mu > 2047:
        mu = 0
        eps -= 1
    if eps > 31:
        # near-zero band (e.g. highpass of a constant image): the
        # finest representable step still quantizes everything to 0
        return 31, 0
    if eps < 0:
        raise ValueError(
            f"9/7 quantization exponent {eps} out of the 5-bit "
            f"range for band {name} (depth {depth}, max {band_max})"
        )
    return eps, mu


# ICT (Annex G.3) — the irreversible colour transform paired with the
# 9/7 wavelet; BT.601 luma weights, public constants.
def _ict_fwd(r, g, b):
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def _ict_inv(y, cb, cr):
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return r, g, b


def _fdwt53(img: np.ndarray, levels: int) -> list[dict[str, np.ndarray]]:
    """→ per-resolution subbands: index 0 is the final LL, then one
    {HL, LH, HH} triple per resolution from coarsest to finest."""
    cur = img.astype(np.int64)
    triples: list[dict[str, np.ndarray]] = []
    for _ in range(levels):
        t = np.ascontiguousarray(_fsd_rows(_fsd_rows(cur).T).T)
        triples.append(
            {"HL": t[0::2, 1::2], "LH": t[1::2, 0::2],
             "HH": t[1::2, 1::2]}
        )
        cur = t[0::2, 0::2]
    return [{"LL": cur}] + triples[::-1]


def _idwt53(bands: list[dict[str, np.ndarray]]) -> np.ndarray:
    cur = bands[0]["LL"].astype(np.int64)
    for triple in bands[1:]:
        hl, lh, hh = triple["HL"], triple["LH"], triple["HH"]
        h = cur.shape[0] + lh.shape[0]
        w = cur.shape[1] + hl.shape[1]
        y = np.empty((h, w), np.int64)
        y[0::2, 0::2] = cur
        y[0::2, 1::2] = hl
        y[1::2, 0::2] = lh
        y[1::2, 1::2] = hh
        cur = _isr_rows(np.ascontiguousarray(_isr_rows(y.T).T))
    return cur


# ---------------------------------------------------------------------------
# Codestream (Annex A), tile/precinct geometry (B.3-B.7), packets
# (Annex B), progression orders (B.12)
# ---------------------------------------------------------------------------

_SOC = 0xFF4F
_SIZ = 0xFF51
_COD = 0xFF52
_COC = 0xFF53
_QCD = 0xFF5C
_QCC = 0xFF5D
_RGN = 0xFF5E
_POC = 0xFF5F
_SOT = 0xFF90
_SOP = 0xFF91
_EPH = 0xFF92
_SOD = 0xFF93
_EOC = 0xFFD9
_COM = 0xFF64

_BAND_CODE = {"LL": _BAND_LL_LH, "LH": _BAND_LL_LH,
              "HL": _BAND_HL, "HH": _BAND_HH}

# Table A.16 progression orders
_PROGS = {"LRCP": 0, "RLCP": 1, "RPCL": 2, "PCRL": 3, "CPRL": 4}
_PROG_BY_CODE = {v: k for k, v in _PROGS.items()}


def _ceil2(a: int, e: int) -> int:
    """ceil(a / 2**e); a may be negative (band-orientation offsets)."""
    return -((-a) >> e)


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


def _tile_grid(
    w: int, h: int, xts: int, yts: int
) -> list[tuple[int, int, int, int]]:
    """Tile bounds on the reference grid in raster order (B.3; zero
    image/tile offsets)."""
    return [
        (tx0, ty0, min(tx0 + xts, w), min(ty0 + yts, h))
        for ty0 in range(0, h, yts)
        for tx0 in range(0, w, xts)
    ]


def _code_numpasses_w(w: _PkBitWriter, n: int) -> None:
    if n == 1:
        w.bit(0)
    elif n == 2:
        w.bits(0b10, 2)
    elif n <= 5:
        w.bits(0b11, 2)
        w.bits(n - 3, 2)
    elif n <= 36:
        w.bits(0b1111, 4)
        w.bits(n - 6, 5)
    elif n <= 164:
        w.bits(0b111111111, 9)
        w.bits(n - 37, 7)
    else:
        raise ValueError("coding-pass count over 164")


def _code_numpasses_r(r: _PkBitReader) -> int:
    if not r.bit():
        return 1
    if not r.bit():
        return 2
    v = r.bits(2)
    if v < 3:
        return 3 + v
    v = r.bits(5)
    if v < 31:
        return 6 + v
    return 37 + r.bits(7)


def _prec_list(precincts, lv: int) -> list[tuple[int, int]]:
    """Normalize a precinct spec to one (PPx, PPy) exponent pair per
    resolution 0..lv. ``None`` is the 2^15 maximal default (one
    precinct per resolution); a single tuple repeats for every
    resolution."""
    if precincts is None:
        return [(15, 15)] * (lv + 1)
    if isinstance(precincts, tuple):
        precincts = [precincts] * (lv + 1)
    pl = [tuple(p) for p in precincts]
    if len(pl) != lv + 1:
        raise ValueError(
            "precincts spec needs one (PPx, PPy) pair per resolution"
        )
    for r, (px, py) in enumerate(pl):
        lo = 1 if r else 0
        if not lo <= px <= 15 or not lo <= py <= 15:
            raise ValueError(
                f"precinct exponent out of range at resolution {r}"
            )
    return pl


def _tc_geom(
    tcx0: int, tcy0: int, tcx1: int, tcy1: int,
    levels: int, prec: list[tuple[int, int]], cbw: int, cbh: int,
) -> list[dict[str, Any]]:
    """Tile-component geometry (T.800 B.3-B.7) per resolution r:
    resolution bounds on its own grid, subbands with ABSOLUTE band
    coordinates, effective code-block exponents (capped by the
    precinct size, B.7), and the precinct list in raster order with
    each precinct's per-band code-block index ranges. Precincts and
    code-blocks are both anchored at their grid origin 0, so they
    nest; tile-edge blocks clip against the band extent. Callers
    guarantee the tile-component origin is 2^levels-aligned, which
    makes per-tile subband extents equal the halving identities the
    DWT slicing uses."""
    out: list[dict[str, Any]] = []
    for r in range(levels + 1):
        nd = levels - r
        trx0, try0 = _ceil2(tcx0, nd), _ceil2(tcy0, nd)
        trx1, try1 = _ceil2(tcx1, nd), _ceil2(tcy1, nd)
        ppx, ppy = prec[r]
        cbw_eff = min(cbw, ppx - 1 if r else ppx)
        cbh_eff = min(cbh, ppy - 1 if r else ppy)
        if r == 0:
            specs = [("LL", levels, 0, 0)]
        else:
            n = levels - r + 1
            specs = [("HL", n, 1, 0), ("LH", n, 0, 1),
                     ("HH", n, 1, 1)]
        bands = []
        for name, n, xob, yob in specs:
            ox = (1 << (n - 1)) * xob if n else 0
            oy = (1 << (n - 1)) * yob if n else 0
            bands.append({
                "name": name,
                "bx0": _ceil2(tcx0 - ox, n),
                "bx1": _ceil2(tcx1 - ox, n),
                "by0": _ceil2(tcy0 - oy, n),
                "by1": _ceil2(tcy1 - oy, n),
            })
        precs = []
        if trx0 < trx1 and try0 < try1:
            for py in range(try0 >> ppy, _ceil2(try1, ppy)):
                for px in range(trx0 >> ppx, _ceil2(trx1, ppx)):
                    pbands = []
                    for b in bands:
                        pbx, pby = (
                            (ppx - 1, ppy - 1) if r else (ppx, ppy)
                        )
                        x0 = max(px << pbx, b["bx0"])
                        x1 = min((px + 1) << pbx, b["bx1"])
                        y0 = max(py << pby, b["by0"])
                        y1 = min((py + 1) << pby, b["by1"])
                        if x0 >= x1 or y0 >= y1:
                            pbands.append({
                                "band": b, "gx0": 0, "gx1": 0,
                                "gy0": 0, "gy1": 0,
                            })
                            continue
                        pbands.append({
                            "band": b, "x0": x0, "x1": x1,
                            "y0": y0, "y1": y1,
                            "gx0": x0 >> cbw_eff,
                            "gx1": _ceil2(x1, cbw_eff),
                            "gy0": y0 >> cbh_eff,
                            "gy1": _ceil2(y1, cbh_eff),
                        })
                    precs.append(
                        {"px": px, "py": py, "pbands": pbands}
                    )
        out.append({
            "r": r, "trx0": trx0, "try0": try0, "trx1": trx1,
            "try1": try1, "ppx": ppx, "ppy": ppy,
            "cbw": cbw_eff, "cbh": cbh_eff, "bands": bands,
            "precs": precs,
        })
    return out


def _prec_blocks(pb: dict, cbw: int, cbh: int):
    """Raster-iterate the code-blocks of one band inside one precinct
    → (gx, gy, x0, y0, x1, y1) in ABSOLUTE band coordinates."""
    if pb["gx1"] <= pb["gx0"] or pb["gy1"] <= pb["gy0"]:
        return
    for gy in range(pb["gy0"], pb["gy1"]):
        for gx in range(pb["gx0"], pb["gx1"]):
            yield (
                gx, gy,
                max(gx << cbw, pb["x0"]),
                max(gy << cbh, pb["y0"]),
                min((gx + 1) << cbw, pb["x1"]),
                min((gy + 1) << cbh, pb["y1"]),
            )


def _packet_order(
    prog: str, layers: int, geoms: list, subs: list[tuple[int, int]],
) -> list[tuple[int, int, int, int]]:
    """Packet sequence for one tile (B.12) → ordered (layer, comp,
    res, precinct-index). Position keys are each precinct's top-left
    sample on the REFERENCE grid (clipped to the tile — that only
    moves a partial first precinct, preserving order); the five
    progressions are then lexicographic sorts, which reproduces the
    B.12 loop algorithms for zero-origin canvases."""
    base = []
    for c, geom in enumerate(geoms):
        xr, yr = subs[c]
        nl = len(geom) - 1
        for rg in geom:
            r = rg["r"]
            sx, sy = xr << (nl - r), yr << (nl - r)
            for pi, pr in enumerate(rg["precs"]):
                x = max(pr["px"] << rg["ppx"], rg["trx0"]) * sx
                y = max(pr["py"] << rg["ppy"], rg["try0"]) * sy
                base.append((c, r, pi, x, y))
    key = {
        "LRCP": lambda l, c, r, pi, x, y: (l, r, c, pi),
        "RLCP": lambda l, c, r, pi, x, y: (r, l, c, pi),
        "RPCL": lambda l, c, r, pi, x, y: (r, y, x, c, l),
        "PCRL": lambda l, c, r, pi, x, y: (y, x, c, r, l),
        "CPRL": lambda l, c, r, pi, x, y: (c, y, x, r, l),
    }[prog]
    ents = [(l, c, r, pi, x, y)
            for l in range(layers) for (c, r, pi, x, y) in base]
    ents.sort(key=lambda e: key(*e))
    return [(l, c, r, pi) for (l, c, r, pi, _x, _y) in ents]


def _q97_band_classes(levels: int) -> list[tuple[int, str]]:
    """(resolution, band) pairs in QCD/QCC subband order (LL first,
    then HL/LH/HH per resolution) — the ``_qcd_index`` layout."""
    out = [(0, "LL")]
    for r in range(1, levels + 1):
        out += [(r, "HL"), (r, "LH"), (r, "HH")]
    return out


def _band_quant(quant: dict, r: int, name: str) -> tuple[int, int]:
    """(ε_b, μ_b) for one subband under a parsed QCD/QCC. Scalar
    DERIVED (style 1, equation E-5): ε_b = ε₀ − N_L + n_b — one
    marker pair serves every subband; expounded (style 2) and
    no-quantization (style 0) read their per-band entry."""
    if quant["style"] == 1:
        eps = quant["eps"][0] if r == 0 else quant["eps"][0] - r + 1
        if eps < 0:
            raise ValueError(
                "derived quantization exponent goes negative at "
                f"resolution {r}"
            )
        return eps, quant["mus"][0]
    qi = _qcd_index(r, name)
    if qi >= len(quant["eps"]):
        raise ValueError("QCD/QCC carries too few subband entries")
    mu = quant["mus"][qi] if quant["mus"] is not None else 0
    return quant["eps"][qi], mu


def _band_mb(quant: dict, r: int, name: str, rgn_shift: int) -> int:
    """Magnitude bitplanes for a subband: Mb = G + ε_b − 1 (E-2),
    plus the implicit-ROI upshift when an RGN marker applies to the
    component (H.2)."""
    eps, _ = _band_quant(quant, r, name)
    return quant["guard"] + eps - 1 + rgn_shift


def _quant_seg(q: dict) -> bytes:
    """Serialize a quant dict as an Sqcd/Sqcc + SPqcd/SPqcc body."""
    b = bytes([(q["guard"] << 5) | q["style"]])
    if q["style"] == 0:
        for e in q["eps"]:
            b += bytes([e << 3])
    else:
        for e, mu in zip(q["eps"], q["mus"]):
            b += struct.pack(">H", (e << 11) | mu)
    return b


def _parse_quant(seg: bytes) -> dict:
    """Parse a QCD/QCC body: style 0 (no quantization, per-band
    exponent bytes), style 1 (scalar DERIVED, exactly one 16-bit
    (ε, μ) pair), style 2 (scalar expounded, one pair per band)."""
    sq = seg[0]
    style = sq & 0x1F
    guard = sq >> 5
    if style == 0:
        return {"style": 0, "guard": guard,
                "eps": [b >> 3 for b in seg[1:]], "mus": None}
    if style in (1, 2):
        pairs = [
            struct.unpack_from(">H", seg, 1 + 2 * i)[0]
            for i in range((len(seg) - 1) // 2)
        ]
        if style == 1 and len(pairs) != 1:
            raise ValueError(
                "scalar derived QCD/QCC must carry exactly one "
                "(ε, μ) pair"
            )
        return {"style": style, "guard": guard,
                "eps": [p >> 11 for p in pairs],
                "mus": [p & 0x7FF for p in pairs]}
    raise ValueError(f"invalid Sqcd/Sqcc style {style}")


def _select_q97(
    bands_list: list[list[dict[str, np.ndarray]]],
    levels: int, depth: int, q_planes: int, derived: bool,
) -> tuple[dict, list[list[dict[str, np.ndarray]]]]:
    """Choose (ε, μ) per subband class (scalar expounded) or the
    single derived pair (E-5) so max |q| stays under ``2**q_planes``
    across every float band dict in ``bands_list`` (one entry per
    tile, or per tile × component when QCD is codestream-global),
    then quantize each to integer indices. The exact Δ both sides use
    is recomputed from the marker-coded values, never the target."""
    classes = _q97_band_classes(levels)
    maxes = []
    for r, name in classes:
        m = 0.0
        for bf in bands_list:
            band = bf[r].get(name)
            if band is not None and band.size:
                m = max(m, float(np.abs(band).max()))
        maxes.append(m)
    if derived:
        u = 0.0
        for (r, name), m in zip(classes, maxes):
            if m <= 0.0:
                continue
            rb = depth + _BAND_GAIN[name] + (0 if r == 0 else 1 - r)
            u = max(u, m / (2.0**q_planes - 1.0) / 2.0**rb)
        if u <= 0.0:
            e0, mu0 = min(depth, 31), 0
        else:
            f = int(np.floor(np.log2(u)))
            e0 = -f
            mu0 = int(np.ceil((u / 2.0**f - 1.0) * 2048.0))
            if mu0 > 2047:
                mu0 = 0
                e0 -= 1
        if e0 > 31:
            e0, mu0 = 31, 0
        if e0 < 0 or e0 - levels + 1 < 0:
            raise ValueError(
                "derived quantization exponent out of range "
                f"(e0={e0}, levels={levels})"
            )
        quant = {"style": 1, "guard": 2, "eps": [e0], "mus": [mu0]}
    else:
        eps, mus = [], []
        for (r, name), m in zip(classes, maxes):
            e, mu = _q97_select(m, depth, name, q_planes)
            eps.append(e)
            mus.append(mu)
        quant = {"style": 2, "guard": 2, "eps": eps, "mus": mus}
    deltas = [
        _q97_delta(depth, name, *_band_quant(quant, r, name))
        for r, name in classes
    ]
    out = []
    need = [1] * len(classes)
    for bf in bands_list:
        per: list[dict[str, np.ndarray]] = []
        for r in range(levels + 1):
            o: dict[str, np.ndarray] = {}
            for qi, (rr, name) in enumerate(classes):
                if rr != r:
                    continue
                band = bf[r].get(name)
                if band is None:
                    continue
                q = np.floor(np.abs(band) / deltas[qi]).astype(
                    np.int64
                ) * np.where(band < 0, -1, 1)
                o[name] = q
                if q.size:
                    mq = int(np.abs(q).max())
                    need[qi] = max(need[qi], max(1, mq.bit_length()))
            per.append(o)
        out.append(per)
    # Mb = guard + ε_b − 1 must cover the actual quantizer magnitudes
    guard = max([2] + [
        need[qi] - _band_quant(quant, r, name)[0] + 1
        for qi, (r, name) in enumerate(classes)
    ])
    if guard > 7:
        raise ValueError(
            f"9/7 guard bits {guard} over the 3-bit field "
            f"(q_planes too large for the band exponents)"
        )
    quant["guard"] = guard
    return quant, out


def _select_53(
    bands_list: list[list[dict[str, np.ndarray]]],
    levels: int, eps_slack: int,
) -> dict:
    """Reversible path: no quantization (style 0); per-band exponents
    sized so Mb = G + ε − 1 covers the actual coefficient magnitudes
    (+ optional slack so the zero-bitplane tag trees carry work)."""
    classes = _q97_band_classes(levels)
    eps = []
    for r, name in classes:
        m = 0
        for bf in bands_list:
            band = bf[r].get(name)
            if band is not None and band.size:
                m = max(m, int(np.abs(band).max()))
        e = max(0, max(1, m.bit_length()) - 2 + 1 + eps_slack)
        if e > 31:
            raise ValueError("exponent over 31")
        eps.append(e)
    return {"style": 0, "guard": 2, "eps": eps, "mus": None}


def _split_layers(
    npasses: int, payload: bytes, marks: list[int],
    first: int, layers: int,
) -> list[tuple[int, bytes]]:
    """Distribute one code-block's coding passes across quality
    layers ``first..layers-1`` (as evenly as the pass count allows,
    the first carrying layer never empty) and split the single
    codeword segment at the recorded pass-boundary byte marks —
    B.10.8 only requires per-packet segment lengths to concatenate
    back to the full codeword."""
    active = layers - first
    counts = [
        npasses // active + (1 if i < npasses % active else 0)
        for i in range(active)
    ]
    last_nz = max(i for i, n in enumerate(counts) if n)
    out: list[tuple[int, bytes]] = [(0, b"")] * first
    cum = 0
    prev = 0
    for i, n in enumerate(counts):
        cum += n
        if n == 0:
            cut = prev
        elif i == last_nz:
            cut = len(payload)
        else:
            cut = min(max(marks[cum - 1], prev), len(payload))
        out.append((n, payload[prev:cut]))
        prev = cut
    return out


def _emit_contrib(
    hdr: _PkBitWriter, st: dict, np_l: int, seg: bytes
) -> None:
    """Per-layer block contribution: coding-pass count, Lblock
    increments, then the segment length (B.10.7.1)."""
    _code_numpasses_w(hdr, np_l)
    nbits = st["lblock"] + _ilog2(np_l)
    while len(seg) >= (1 << nbits):
        hdr.bit(1)
        st["lblock"] += 1
        nbits += 1
    hdr.bit(0)
    hdr.bits(len(seg), nbits)


def _block_mean(a: np.ndarray, xr: int, yr: int) -> np.ndarray:
    """Downsample by (yr, xr) block means; partial edge blocks are
    padded by edge replication first, so the result has
    ceil(h/yr) × ceil(w/xr) samples — the SIZ component extent."""
    h, w = a.shape
    ph = (-h) % yr
    pw = (-w) % xr
    if ph or pw:
        a = np.pad(a, ((0, ph), (0, pw)), mode="edge")
    return a.reshape(
        a.shape[0] // yr, yr, a.shape[1] // xr, xr
    ).mean(axis=(1, 3))


def _prep_97_components(
    samples: np.ndarray,
    bit_depth: int,
    subsample: tuple[int, int] | None = None,
) -> tuple[list[np.ndarray], int]:
    """DC level shift + ICT (G.3) → float64 component list, mct flag.
    ``subsample=(xr, yr)`` block-averages the CHROMA components
    (4:2:0-style) after the ICT."""
    shift = float(1 << (bit_depth - 1))
    if samples.ndim == 2:
        if subsample is not None:
            raise ValueError("subsampling applies to RGB input only")
        return [samples.astype(np.float64) - shift], 0
    r = samples[..., 0].astype(np.float64) - shift
    g = samples[..., 1].astype(np.float64) - shift
    b = samples[..., 2].astype(np.float64) - shift
    y, cb, cr = _ict_fwd(r, g, b)
    if subsample is not None:
        xr, yr = subsample
        cb = _block_mean(cb, xr, yr)
        cr = _block_mean(cr, xr, yr)
    return [y, cb, cr], 1


def _apply_rgn(
    tiles_bands: list[list[dict[str, np.ndarray]]],
) -> int:
    """Implicit (maxshift, H.2) ROI on one component's quantizer
    indices: the fixture's ROI mask is each band's top-left quadrant.
    SPrgn is the background's max magnitude bit length — H.2's
    condition that shifted ROI and background magnitudes never
    overlap — and ROI magnitudes shift up in place. Returns SPrgn.

    Decode-side the shift is exactly invertible, so maxshift ROI is
    lossless-transparent and the lossy replay oracle needs no ROI
    awareness."""
    s = 0
    masks: list[np.ndarray | None] = []
    for bf in tiles_bands:
        for res in bf:
            for q in res.values():
                bh, bw = q.shape
                if not q.size:
                    masks.append(None)
                    continue
                yy, xx = np.mgrid[0:bh, 0:bw]
                mask = (yy < (bh + 1) // 2) & (xx < (bw + 1) // 2)
                masks.append(mask)
                bg = np.abs(q[~mask])
                if bg.size:
                    s = max(s, int(bg.max()).bit_length())
    if s == 0:
        s = 1  # all-background-zero: any positive shift is valid
    i = 0
    for bf in tiles_bands:
        for res in bf:
            for q in res.values():
                mask = masks[i]
                i += 1
                if mask is not None:
                    q[mask] = q[mask] * (1 << s)
    return s


def _encode_front(
    samples: np.ndarray,
    bit_depth: int,
    levels: int,
    eps_slack: int,
    irreversible: bool,
    q_planes: int,
    subsample: tuple[int, int] | None,
    tiles: tuple[int, int] | None,
    derived: bool,
    coc_levels: dict[int, int] | None,
    qcc: bool,
    rgn,
    truncate_planes: int,
) -> dict[str, Any]:
    """Shared encoder front half: components → tile grid → per-tile
    DWT → quantizer selection (codestream-global QCD, or per-component
    for QCC/COC streams) → integer quantizer-index bands (+ the
    implicit-ROI upshift). Both :func:`encode_jpx` and
    :func:`jpx97_reference_decode` run THIS code, so the replay
    comparison pins the marker/Tier-2/Tier-1/MQ layers round-tripping
    these exact integers."""
    h, w = samples.shape[:2]
    if min(h, w) < 1:
        raise ValueError("empty image")
    if samples.ndim == 3 and samples.shape[2] != 3:
        raise ValueError("samples must be (h, w) or (h, w, 3)")
    if samples.ndim not in (2, 3):
        raise ValueError("samples must be (h, w) or (h, w, 3)")
    if derived and not irreversible:
        raise ValueError("scalar derived quantization pairs with 9/7")
    if truncate_planes and rgn:
        raise ValueError(
            "truncate_planes and rgn are mutually exclusive in the "
            "fixture encoder"
        )
    coc_levels = dict(coc_levels or {})
    if 0 in coc_levels:
        raise ValueError(
            "COC on component 0 (the QCD anchor) is not supported by "
            "the fixture encoder"
        )
    if irreversible:
        if eps_slack:
            raise ValueError(
                "eps_slack applies to the reversible path only"
            )
        comps, mct = _prep_97_components(samples, bit_depth, subsample)
    else:
        if subsample is not None:
            raise ValueError(
                "subsampling pairs with the irreversible (ICT) path"
            )
        if samples.ndim == 2:
            comps = [samples.astype(np.int64)]
            mct = 0
        else:
            r_ = samples[..., 0].astype(np.int64)
            g_ = samples[..., 1].astype(np.int64)
            b_ = samples[..., 2].astype(np.int64)
            # RCT (G.2); DC level shift on the luma only — chroma
            # differences are already signed
            comps = [(r_ + 2 * g_ + b_) >> 2, b_ - g_, r_ - g_]
            mct = 1
        comps[0] = comps[0] - (1 << (bit_depth - 1))
    ncomp = len(comps)
    subs = [(1, 1)] + [
        subsample if subsample is not None else (1, 1)
    ] * (ncomp - 1)
    lv_c = [coc_levels.get(c, levels) for c in range(ncomp)]
    per_comp_quant = bool(coc_levels) or qcc
    xts = tiles[0] if tiles else w
    yts = tiles[1] if tiles else h
    tgrid = _tile_grid(w, h, xts, yts)
    if len(tgrid) > 1:
        for c in range(ncomp):
            xr, yr = subs[c]
            if xts % (xr << lv_c[c]) or yts % (yr << lv_c[c]):
                raise ValueError(
                    "tile size must be a multiple of XRsiz*2^levels "
                    "and YRsiz*2^levels per component so per-tile "
                    "subband phases stay aligned"
                )
    fdwt = _fdwt97 if irreversible else _fdwt53
    bands_f = [
        [
            fdwt(
                comps[c][
                    _ceil_div(tb[1], subs[c][1]):
                    _ceil_div(tb[3], subs[c][1]),
                    _ceil_div(tb[0], subs[c][0]):
                    _ceil_div(tb[2], subs[c][0]),
                ],
                lv_c[c],
            )
            for tb in tgrid
        ]
        for c in range(ncomp)
    ]
    quants: list[dict] = [{}] * ncomp
    if irreversible:
        if per_comp_quant:
            qbands = []
            for c in range(ncomp):
                quants[c], qb = _select_q97(
                    bands_f[c], lv_c[c], bit_depth, q_planes, derived
                )
                qbands.append(qb)
        else:
            merged = [bf for c in range(ncomp) for bf in bands_f[c]]
            quant, qall = _select_q97(
                merged, levels, bit_depth, q_planes, derived
            )
            quants = [quant] * ncomp
            nt = len(tgrid)
            qbands = [
                qall[c * nt:(c + 1) * nt] for c in range(ncomp)
            ]
    else:
        qbands = bands_f
        if per_comp_quant:
            for c in range(ncomp):
                quants[c] = _select_53(bands_f[c], lv_c[c], eps_slack)
        else:
            merged = [bf for c in range(ncomp) for bf in bands_f[c]]
            quant = _select_53(merged, levels, eps_slack)
            quants = [quant] * ncomp
    rgn_shift = [0] * ncomp
    if rgn:
        for c in rgn:
            rgn_shift[c] = _apply_rgn(qbands[c])
    return {
        "w": w, "h": h, "ncomp": ncomp, "mct": mct, "subs": subs,
        "lv_c": lv_c, "tgrid": tgrid, "xts": xts, "yts": yts,
        "qbands": qbands, "quants": quants,
        "per_comp_quant": per_comp_quant, "rgn_shift": rgn_shift,
        "irreversible": irreversible, "depth": bit_depth,
    }


def _encode_tile(
    fr: dict, t: int, tb: tuple[int, int, int, int],
    prec_c: list[list[tuple[int, int]]], cbw: int, cbh: int,
    layers: int, progression: str, sop: bool, eph: bool,
    truncate_planes: int,
) -> bytes:
    """Tier-1 encode every code-block of one tile, split the
    codewords across quality layers at coding-pass boundaries, then
    emit the packet sequence in the tile's progression order
    (Annex B) with per-precinct inclusion/zero-bitplane tag trees."""
    ncomp = fr["ncomp"]
    geoms = []
    for c in range(ncomp):
        xr, yr = fr["subs"][c]
        geoms.append(_tc_geom(
            _ceil_div(tb[0], xr), _ceil_div(tb[1], yr),
            _ceil_div(tb[2], xr), _ceil_div(tb[3], yr),
            fr["lv_c"][c], prec_c[c], cbw, cbh,
        ))
    blockinfo: dict[tuple, dict] = {}
    for c, geom in enumerate(geoms):
        for rg in geom:
            for pi, pr in enumerate(rg["precs"]):
                for pb in pr["pbands"]:
                    b = pb["band"]
                    arr = fr["qbands"][c][t][rg["r"]].get(b["name"])
                    if arr is None:
                        continue
                    mb = _band_mb(
                        fr["quants"][c], rg["r"], b["name"],
                        fr["rgn_shift"][c],
                    )
                    for gx, gy, x0, y0, x1, y1 in _prec_blocks(
                        pb, rg["cbw"], rg["cbh"]
                    ):
                        blk = arr[y0 - b["by0"]:y1 - b["by0"],
                                  x0 - b["bx0"]:x1 - b["bx0"]]
                        m = int(np.abs(blk).max()) if blk.size else 0
                        if m == 0:
                            continue
                        planes = m.bit_length()
                        if planes <= truncate_planes:
                            continue  # every pass truncated away
                        p0 = mb - planes
                        if p0 < 0:
                            raise AssertionError("exponent under-sized")
                        npass = 3 * (planes - truncate_planes) - 2
                        enc = MQEncoder()
                        stats = _fresh_stats()
                        marks: list[int] = []
                        _t1_code_block(
                            enc, stats, _BAND_CODE[b["name"]],
                            blk.shape[1], blk.shape[0], planes, blk,
                            npasses=npass, pass_marks=marks,
                        )
                        payload = enc.flush()
                        if payload.endswith(b"\xff\xac"):
                            payload = payload[:-2]
                        while payload.endswith(b"\xff"):
                            payload = payload[:-1]
                        first = (gx + gy) % layers
                        key = (c, rg["r"], pi, b["name"], gx, gy)
                        blockinfo[key] = {
                            "p0": p0,
                            "first": first,
                            "layers": _split_layers(
                                npass, payload, marks, first, layers
                            ),
                        }
    order = _packet_order(progression, layers, geoms, fr["subs"])
    body = bytearray()
    trees: dict[tuple, tuple[TagTree, TagTree]] = {}
    bstate: dict[tuple, dict] = {}
    nsop = 0
    for lq, c, r, pi in order:
        rg = geoms[c][r]
        pr = rg["precs"][pi]
        hdr = _PkBitWriter()
        hdr.bit(1)  # packet non-empty
        segs: list[bytes] = []
        for pb in pr["pbands"]:
            gw = pb["gx1"] - pb["gx0"]
            gh = pb["gy1"] - pb["gy0"]
            if gw <= 0 or gh <= 0:
                continue
            bname = pb["band"]["name"]
            tkey = (c, r, pi, bname)
            if tkey not in trees:
                inc = TagTree(gw, gh)
                zbp = TagTree(gw, gh)
                il = np.full((gh, gw), layers, np.int64)
                zl = np.full((gh, gw), 1 << 20, np.int64)
                for gx, gy, *_rest in _prec_blocks(
                    pb, rg["cbw"], rg["cbh"]
                ):
                    bi = blockinfo.get((c, r, pi, bname, gx, gy))
                    if bi is not None:
                        il[gy - pb["gy0"], gx - pb["gx0"]] = bi["first"]
                        zl[gy - pb["gy0"], gx - pb["gx0"]] = bi["p0"]
                inc.set_leaves(il)
                zbp.set_leaves(zl)
                trees[tkey] = (inc, zbp)
            inc, zbp = trees[tkey]
            for gx, gy, *_rest in _prec_blocks(
                pb, rg["cbw"], rg["cbh"]
            ):
                lx, ly = gx - pb["gx0"], gy - pb["gy0"]
                key = (c, r, pi, bname, gx, gy)
                bi = blockinfo.get(key)
                st = bstate.get(key)
                if st is None:
                    inc.encode(hdr, lx, ly, lq + 1)
                    if bi is not None and bi["first"] == lq:
                        zbp.encode(hdr, lx, ly, bi["p0"] + 1)
                        st = {"lblock": 3}
                        bstate[key] = st
                        np_l, seg = bi["layers"][lq]
                        _emit_contrib(hdr, st, np_l, seg)
                        segs.append(seg)
                else:
                    np_l, seg = bi["layers"][lq]
                    if np_l == 0:
                        hdr.bit(0)
                    else:
                        hdr.bit(1)
                        _emit_contrib(hdr, st, np_l, seg)
                        segs.append(seg)
        if sop:
            body += struct.pack(">HHH", _SOP, 4, nsop & 0xFFFF)
        nsop += 1
        body += hdr.flush()
        if eph:
            body += struct.pack(">H", _EPH)
        for sg in segs:
            body += sg
    return bytes(body)


def encode_jpx(
    samples: np.ndarray,
    bit_depth: int = 8,
    levels: int = 2,
    eps_slack: int = 0,
    jp2_container: bool = False,
    irreversible: bool = False,
    q_planes: int = 9,
    subsample: tuple[int, int] | None = None,
    tiles: tuple[int, int] | None = None,
    layers: int = 1,
    progression: str = "LRCP",
    precincts=None,
    sop: bool = False,
    eph: bool = False,
    derived: bool = False,
    truncate_planes: int = 0,
    cb_exp: tuple[int, int] = (6, 6),
    coc_levels: dict[int, int] | None = None,
    qcc: bool = False,
    rgn=None,
    tile_parts: int = 1,
) -> bytes:
    """Fixture writer. ``samples`` is (h, w) grayscale or (h, w, 3)
    RGB of unsigned ``bit_depth`` values; the default output is the
    r12 shape — one tile, one layer, LRCP, 64×64 code-blocks, maximal
    precincts, RCT (5/3) or ICT (9/7 with ``irreversible=True``).

    Structural knobs (all Annex A/B features the decoder supports):

    * ``tiles=(XTsiz, YTsiz)`` — a real tile grid (sizes must be
      multiples of XRsiz·2^levels per component, B.3 alignment);
    * ``layers`` — quality layers; each code-block's passes split
      across layers from a per-block first-inclusion layer, codeword
      bytes cut at coding-pass boundaries;
    * ``progression`` — any of LRCP/RLCP/RPCL/PCRL/CPRL (B.12);
    * ``precincts`` — (PPx, PPy) or a per-resolution list (Scod bit
      0 + per-resolution exponent bytes);
    * ``sop``/``eph`` — SOP marker per packet / EPH after each
      packet header;
    * ``derived`` — scalar DERIVED quantization (one QCD pair, E-5)
      on the 9/7 path;
    * ``truncate_planes=k`` — drop the k lowest magnitude planes of
      every code-block (npasses = 3·(planes−k)−2, the whole-plane
      truncation the replay oracle can mirror exactly);
    * ``cb_exp`` — code-block exponents (A.6.1 ranges);
    * ``coc_levels={c: lv}`` — per-component decomposition override
      (emits COC + per-component QCC);
    * ``qcc=True`` — per-component quantization (QCC for c ≥ 1);
    * ``rgn=[c, ...]`` — implicit maxshift ROI per component (RGN
      marker; the fixture's ROI mask is each band's top-left
      quadrant; exactly invertible on decode).

    ``eps_slack`` inflates reversible-path exponents so the
    zero-bitplane tag trees carry real work."""
    if progression not in _PROGS:
        raise ValueError(f"unknown progression order {progression!r}")
    if layers < 1:
        raise ValueError("layers must be >= 1")
    if truncate_planes < 0:
        raise ValueError("truncate_planes must be >= 0")
    cbw, cbh = cb_exp
    if not 2 <= cbw <= 10 or not 2 <= cbh <= 10 or cbw + cbh > 12:
        raise ValueError("code-block exponents out of the A.6.1 range")
    fr = _encode_front(
        samples, bit_depth, levels, eps_slack, irreversible, q_planes,
        subsample, tiles, derived, coc_levels, qcc, rgn,
        truncate_planes,
    )
    ncomp, w, h = fr["ncomp"], fr["w"], fr["h"]
    prec_c = [
        _prec_list(precincts, fr["lv_c"][c]) for c in range(ncomp)
    ]
    out = bytearray()
    out += struct.pack(">H", _SOC)
    siz = struct.pack(
        ">HIIIIIIIIH", 0, w, h, 0, 0, fr["xts"], fr["yts"], 0, 0,
        ncomp,
    )
    for c in range(ncomp):
        xr, yr = fr["subs"][c]
        siz += bytes([bit_depth - 1, xr, yr])
    out += struct.pack(">HH", _SIZ, len(siz) + 2) + siz
    scod = (
        (1 if precincts is not None else 0)
        | (2 if sop else 0)
        | (4 if eph else 0)
    )
    cod = bytes([scod, _PROGS[progression]])
    cod += struct.pack(">H", layers) + bytes([fr["mct"]])
    cod += bytes([levels, cbw - 2, cbh - 2, 0,
                  0 if irreversible else 1])
    if precincts is not None:
        for ppx, ppy in _prec_list(precincts, levels):
            cod += bytes([(ppy << 4) | ppx])
    out += struct.pack(">HH", _COD, len(cod) + 2) + cod
    for c in sorted(coc_levels or {}):
        lvc = fr["lv_c"][c]
        coc = bytes([c, 1 if precincts is not None else 0])
        coc += bytes([lvc, cbw - 2, cbh - 2, 0,
                      0 if irreversible else 1])
        if precincts is not None:
            for ppx, ppy in _prec_list(precincts, lvc):
                coc += bytes([(ppy << 4) | ppx])
        out += struct.pack(">HH", _COC, len(coc) + 2) + coc
    qseg = _quant_seg(fr["quants"][0])
    out += struct.pack(">HH", _QCD, len(qseg) + 2) + qseg
    if fr["per_comp_quant"]:
        for c in range(1, ncomp):
            seg = bytes([c]) + _quant_seg(fr["quants"][c])
            out += struct.pack(">HH", _QCC, len(seg) + 2) + seg
    for c in range(ncomp):
        if fr["rgn_shift"][c]:
            seg = bytes([c, 0, fr["rgn_shift"][c]])
            out += struct.pack(">HH", _RGN, len(seg) + 2) + seg
    if tile_parts < 1:
        raise ValueError("tile_parts must be >= 1")
    for t, tb in enumerate(fr["tgrid"]):
        body = _encode_tile(
            fr, t, tb, prec_c, cbw, cbh, layers, progression, sop,
            eph, truncate_planes,
        )
        # tile-part split (A.4.2): the decoder reassembles per-tile
        # bodies by TPsot order; the fixture cuts at even byte
        # offsets, which concatenation-reassembly is insensitive to
        ntp = min(tile_parts, max(1, len(body)))
        cuts = [len(body) * i // ntp for i in range(ntp + 1)]
        for tp in range(ntp):
            part = body[cuts[tp]:cuts[tp + 1]]
            psot = 12 + 2 + len(part)
            out += struct.pack(
                ">HHHIBB", _SOT, 10, t, psot, tp, ntp
            )
            out += struct.pack(">H", _SOD)
            out += part
    out += struct.pack(">H", _EOC)
    codestream = bytes(out)
    if not jp2_container:
        return codestream
    return _wrap_jp2(codestream, w, h, ncomp, bit_depth)


def _ilog2(n: int) -> int:
    return n.bit_length() - 1


def _qcd_index(r: int, name: str) -> int:
    """Index into the QCD subband-exponent list for resolution r."""
    if r == 0:
        return 0
    base = 1 + 3 * (r - 1)
    return base + ("HL", "LH", "HH").index(name)


def _wrap_jp2(
    codestream: bytes, w: int, h: int, ncomp: int, depth: int
) -> bytes:
    def box(tbox: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + tbox + payload

    sig = box(b"jP  ", b"\x0d\x0a\x87\x0a")
    ftyp = box(b"ftyp", b"jp2 " + struct.pack(">I", 0) + b"jp2 ")
    ihdr = box(
        b"ihdr",
        struct.pack(">IIHBBBB", h, w, ncomp, depth - 1, 7, 0, 0),
    )
    colr = box(
        b"colr",
        bytes([1, 0, 0]) + struct.pack(">I", 16 if ncomp == 3 else 17),
    )
    jp2h = box(b"jp2h", ihdr + colr)
    jp2c = box(b"jp2c", codestream)
    return sig + ftyp + jp2h + jp2c


def _read_tile_packets(
    body: bytes,
    geoms: list,
    quant: list[dict],
    rgns: dict[int, int],
    layers: int,
    prog: str,
    sop: bool,
    eph: bool,
    subs: list[tuple[int, int]],
) -> dict[tuple, dict]:
    """Walk one tile's packets in its progression order, maintaining
    per-precinct inclusion/zero-bitplane tag trees and per-block
    Lblock state across layers; → block states with accumulated
    coding-pass counts and codeword segments (concatenated by the
    caller before Tier-1)."""
    order = _packet_order(prog, layers, geoms, subs)
    trees: dict[tuple, tuple[TagTree, TagTree]] = {}
    blocks: dict[tuple, dict] = {}
    pos = 0
    for lq, c, r, pi in order:
        rg = geoms[c][r]
        pr = rg["precs"][pi]
        if sop and body[pos:pos + 2] == b"\xff\x91":
            pos += 6  # SOP marker segment (Lsop=4 + Nsop)
        rd = _PkBitReader(body, pos)
        if not rd.bit():
            # empty packet: no tag-tree state advances
            pos = rd.align()
            if eph:
                if body[pos:pos + 2] != b"\xff\x92":
                    raise ValueError("missing EPH after packet header")
                pos += 2
            continue
        contribs: list[tuple[dict, int]] = []
        for pb in pr["pbands"]:
            gw = pb["gx1"] - pb["gx0"]
            gh = pb["gy1"] - pb["gy0"]
            if gw <= 0 or gh <= 0:
                continue
            bname = pb["band"]["name"]
            tkey = (c, r, pi, bname)
            if tkey not in trees:
                trees[tkey] = (TagTree(gw, gh), TagTree(gw, gh))
            inc, zbp = trees[tkey]
            mb = _band_mb(quant[c], r, bname, rgns.get(c, 0))
            for gx, gy, x0, y0, x1, y1 in _prec_blocks(
                pb, rg["cbw"], rg["cbh"]
            ):
                lx, ly = gx - pb["gx0"], gy - pb["gy0"]
                key = (c, r, pi, bname, gx, gy)
                st = blocks.get(key)
                if st is None:
                    if not inc.decode(rd, lx, ly, lq + 1):
                        continue
                    t = 1
                    while not zbp.decode(rd, lx, ly, t):
                        t += 1
                    p0 = zbp.leaf_value(lx, ly)
                    planes = mb - p0
                    if planes <= 0:
                        raise ValueError(
                            "inconsistent zero-bitplane count"
                        )
                    st = {
                        "planes": planes, "npasses": 0,
                        "segs": [], "lblock": 3,
                        "rect": (x0, y0, x1, y1),
                        "band": pb["band"],
                    }
                    blocks[key] = st
                else:
                    if not rd.bit():
                        continue  # no contribution this layer
                np_l = _code_numpasses_r(rd)
                while rd.bit():
                    st["lblock"] += 1
                nbits = st["lblock"] + _ilog2(np_l)
                plen = rd.bits(nbits)
                if st["npasses"] + np_l > 3 * st["planes"] - 2:
                    raise ValueError(
                        "inconsistent pass count for bitplanes"
                    )
                st["npasses"] += np_l
                contribs.append((st, plen))
        pos = rd.align()
        if eph:
            if body[pos:pos + 2] != b"\xff\x92":
                raise ValueError("missing EPH after packet header")
            pos += 2
        for st, plen in contribs:
            st["segs"].append(body[pos:pos + plen])
            pos += plen
    return blocks


def _reconstruct_tc(
    bands: list[dict[str, np.ndarray]],
    trunc: list[dict[str, np.ndarray]],
    quant_c: dict,
    depth: int,
    levels: int,
    rgn_shift: int,
    irreversible: bool,
) -> np.ndarray:
    """Dequantize one tile-component (E.1.1.2, midpoint r = 0.5
    scaled by the per-block truncation uncertainty 2^T) and run the
    inverse wavelet. Implicit-ROI magnitudes (≥ 2^SPrgn) shift back
    down first (H.3) — exactly invertible, so maxshift ROI is
    lossless-transparent. Shared verbatim by :func:`decode_jpx` and
    the replay oracle so the float op sequence is bit-identical."""
    fb: list[dict[str, np.ndarray]] = []
    for r in range(levels + 1):
        o: dict[str, np.ndarray] = {}
        for name, q in bands[r].items():
            mag = np.abs(q)
            if rgn_shift:
                roi = (mag >> rgn_shift) != 0
                mag = np.where(roi, mag >> rgn_shift, mag)
            t = trunc[r][name]
            if irreversible:
                eps, mu = _band_quant(quant_c, r, name)
                delta = _q97_delta(depth, name, eps, mu)
                val = np.where(
                    mag > 0,
                    (mag.astype(np.float64)
                     + 0.5 * np.power(2.0, t)) * delta,
                    0.0,
                )
                o[name] = np.where(q < 0, -val, val)
            else:
                add = np.where(
                    (mag > 0) & (t > 0),
                    np.left_shift(
                        np.int64(1), np.maximum(t, 1) - 1
                    ),
                    np.int64(0),
                )
                val = mag + add
                o[name] = np.where(q < 0, -val, val).astype(np.int64)
        fb.append(o)
    return _idwt97(fb) if irreversible else _idwt53(fb)


def _finish_components(
    comps: list[np.ndarray],
    subs: list[tuple[int, int]],
    w: int,
    h: int,
    depth: int,
    mct: int,
    irreversible: bool,
) -> np.ndarray:
    """Upsample subsampled components (sample replication to the
    reference grid), invert the colour transform, undo the DC level
    shift, round/clip, stack — shared by :func:`decode_jpx` and the
    replay oracle so the float op sequence is bit-identical."""
    ncomp = len(comps)
    comps = [
        np.repeat(np.repeat(a, yr, axis=0), xr, axis=1)[:h, :w]
        if (xr, yr) != (1, 1) else a
        for a, (xr, yr) in zip(comps, subs)
    ]
    if irreversible:
        shift_f = float(1 << (depth - 1))
        if ncomp == 3 and mct:
            comps = list(_ict_inv(*comps))
        comps = [
            np.floor(c + shift_f + 0.5).astype(np.int64)
            for c in comps
        ]
    else:
        shift = 1 << (depth - 1)
        if ncomp == 3:
            if mct:
                y, u, v = comps
                y = y + shift
                g = y - ((u + v) >> 2)
                comps = [v + g, g, u + g]
            else:
                comps = [c + shift for c in comps]
        else:
            comps = [comps[0] + shift]
    maxv = (1 << depth) - 1
    return np.stack([np.clip(c, 0, maxv) for c in comps], axis=-1)


def decode_jpx(data: bytes) -> dict[str, Any]:
    """Decode a ``/JPXDecode`` payload — a raw JPEG 2000 codestream
    or a JP2 container — to samples. → {width, height, n_channels,
    bit_depth, transform, samples (h, w, c) int64}.

    Structural coverage: tile grids (2^levels-aligned origins),
    quality layers with arbitrary per-layer pass truncation, all five
    progression orders, user precinct sizes + SOP/EPH, scalar
    derived/expounded/no quantization, COC/QCC per-component
    overrides, and implicit (maxshift) RGN ROI. Remaining gates each
    name their variant next to the implemented sibling."""
    if data[:4] == b"\x00\x00\x00\x0c" and data[4:8] == b"jP  ":
        data = _jp2_codestream(data)
    if struct.unpack_from(">H", data, 0)[0] != _SOC:
        raise ValueError("not a JPEG 2000 codestream (missing SOC)")
    pos = 2
    siz = cod = None
    qcd: dict | None = None
    cocs: dict[int, dict] = {}
    qccs: dict[int, dict] = {}
    rgns: dict[int, int] = {}
    parts: dict[int, list[tuple[int, bytes]]] = {}
    while pos < len(data):
        (marker,) = struct.unpack_from(">H", data, pos)
        pos += 2
        if marker == _EOC:
            break
        if marker == _SOD:
            raise ValueError("SOD before SOT")
        (ln,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2:pos + ln]
        if marker == _SIZ:
            (
                rsiz, xs, ys, xo, yo, xts, yts, xto, yto, ncomp,
            ) = struct.unpack_from(">HIIIIIIIIH", seg, 0)
            if xo or yo or xto or yto:
                raise NotImplementedError("image/tile grid offsets")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"{ncomp}-component JPEG 2000 image"
                )
            if xts < 1 or yts < 1:
                raise ValueError("invalid tile size")
            depths = []
            subs = []
            for c in range(ncomp):
                ssiz, xr, yr = struct.unpack_from(
                    ">BBB", seg, 36 + c * 3
                )
                if ssiz & 0x80:
                    raise NotImplementedError(
                        "signed JPEG 2000 components"
                    )
                if not 1 <= xr <= 4 or not 1 <= yr <= 4:
                    raise NotImplementedError(
                        f"XRsiz/YRsiz {xr}/{yr} outside 1..4"
                    )
                subs.append((xr, yr))
                depths.append((ssiz & 0x7F) + 1)
            if len(set(depths)) != 1:
                raise NotImplementedError("mixed component depths")
            siz = {"w": xs, "h": ys, "ncomp": ncomp,
                   "depth": depths[0], "subs": subs,
                   "xts": xts, "yts": yts}
        elif marker == _COD:
            scod = seg[0]
            if seg[1] not in _PROG_BY_CODE:
                raise ValueError(
                    f"unknown progression order byte {seg[1]}"
                )
            (layers,) = struct.unpack_from(">H", seg, 2)
            if layers < 1:
                raise ValueError("zero quality layers")
            lev = seg[5]
            if seg[8] != 0:
                raise NotImplementedError(
                    "code-block style modes (bypass/reset/causal/...)"
                )
            if seg[9] not in (0, 1):
                raise ValueError(
                    f"unknown wavelet transform byte {seg[9]}"
                )
            if scod & 1:
                pbytes = seg[10:10 + lev + 1]
                if len(pbytes) != lev + 1:
                    raise ValueError("COD precinct bytes truncated")
                prec = [(b & 0x0F, b >> 4) for b in pbytes]
            else:
                prec = [(15, 15)] * (lev + 1)
            cod = {
                "prog": _PROG_BY_CODE[seg[1]], "layers": layers,
                "mct": seg[4], "levels": lev, "cbw": seg[6] + 2,
                "cbh": seg[7] + 2, "transform": seg[9],
                "prec": prec, "sop": bool(scod & 2),
                "eph": bool(scod & 4),
            }
        elif marker == _COC:
            scoc = seg[1]
            lev = seg[2]
            if seg[5] != 0:
                raise NotImplementedError(
                    "code-block style modes (bypass/reset/causal/...)"
                )
            if scoc & 1:
                pbytes = seg[7:7 + lev + 1]
                if len(pbytes) != lev + 1:
                    raise ValueError("COC precinct bytes truncated")
                prec = [(b & 0x0F, b >> 4) for b in pbytes]
            else:
                prec = [(15, 15)] * (lev + 1)
            cocs[seg[0]] = {
                "levels": lev, "cbw": seg[3] + 2, "cbh": seg[4] + 2,
                "transform": seg[6], "prec": prec,
            }
        elif marker == _QCD:
            qcd = _parse_quant(seg)
        elif marker == _QCC:
            qccs[seg[0]] = _parse_quant(seg[1:])
        elif marker == _RGN:
            if seg[1] != 0:
                raise NotImplementedError(
                    "explicit (Srgn != 0) ROI style; only implicit "
                    "maxshift"
                )
            rgns[seg[0]] = seg[2]
        elif marker == _POC:
            raise NotImplementedError(
                "POC progression-order changes"
            )
        elif marker == _SOT:
            isot, psot, tpsot, tnsot = struct.unpack_from(
                ">HIBB", seg, 0
            )
            (m2,) = struct.unpack_from(">H", data, pos + ln)
            if m2 != _SOD:
                raise NotImplementedError(
                    "tile-part header markers between SOT and SOD"
                )
            end = pos - 2 + psot if psot else len(data) - 2
            parts.setdefault(isot, []).append(
                (tpsot, data[pos + ln + 2:end])
            )
            pos = end
            continue
        elif marker == _COM:
            pass
        else:
            raise NotImplementedError(
                f"JPEG 2000 marker 0x{marker:04X}"
            )
        pos += ln
    if siz is None or cod is None or qcd is None or not parts:
        raise ValueError("incomplete JPEG 2000 codestream")
    w, h, ncomp = siz["w"], siz["h"], siz["ncomp"]
    depth, subs = siz["depth"], siz["subs"]
    cinfo = []
    for c in range(ncomp):
        o = cocs.get(c)
        if o is None:
            cinfo.append({
                "levels": cod["levels"], "cbw": cod["cbw"],
                "cbh": cod["cbh"], "transform": cod["transform"],
                "prec": cod["prec"],
            })
        else:
            if o["transform"] != cod["transform"]:
                raise NotImplementedError(
                    "mixed wavelet transforms across components"
                )
            cinfo.append(o)
    for ci in cinfo:
        if (
            not 2 <= ci["cbw"] <= 10
            or not 2 <= ci["cbh"] <= 10
            or ci["cbw"] + ci["cbh"] > 12
        ):
            raise ValueError(
                "code-block exponent out of the A.6.1 range"
            )
    irreversible = cod["transform"] == 0
    quant = [qccs.get(c, qcd) for c in range(ncomp)]
    for c in range(ncomp):
        if irreversible != (quant[c]["style"] in (1, 2)):
            raise ValueError(
                "COD transform / QCD quantization style mismatch "
                "(9/7 requires scalar quantization, 5/3 "
                "no-quantization)"
            )
    if any(s != (1, 1) for s in subs) and not irreversible:
        raise NotImplementedError(
            "component subsampling on the 5/3 reversible path "
            "(RCT requires co-sited components)"
        )
    tgrid = _tile_grid(w, h, siz["xts"], siz["yts"])
    if len(tgrid) > 1:
        for c in range(ncomp):
            xr, yr = subs[c]
            lv = cinfo[c]["levels"]
            if siz["xts"] % (xr << lv) or siz["yts"] % (yr << lv):
                raise NotImplementedError(
                    "tile origins not aligned to 2^levels in the "
                    "component domain (odd per-tile wavelet phase)"
                )
    canv = [
        np.zeros(
            (_ceil_div(h, subs[c][1]), _ceil_div(w, subs[c][0])),
            np.float64 if irreversible else np.int64,
        )
        for c in range(ncomp)
    ]
    for t, tb in enumerate(tgrid):
        if t not in parts:
            raise ValueError(f"codestream is missing tile {t}")
        ps = sorted(parts[t])
        if [p[0] for p in ps] != list(range(len(ps))):
            raise ValueError("non-contiguous tile-part sequence")
        tbody = b"".join(p[1] for p in ps)
        geoms = []
        for c in range(ncomp):
            xr, yr = subs[c]
            geoms.append(_tc_geom(
                _ceil_div(tb[0], xr), _ceil_div(tb[1], yr),
                _ceil_div(tb[2], xr), _ceil_div(tb[3], yr),
                cinfo[c]["levels"], cinfo[c]["prec"],
                cinfo[c]["cbw"], cinfo[c]["cbh"],
            ))
        blocks = _read_tile_packets(
            tbody, geoms, quant, rgns, cod["layers"], cod["prog"],
            cod["sop"], cod["eph"], subs,
        )
        for c in range(ncomp):
            bands: list[dict[str, np.ndarray]] = []
            trunc: list[dict[str, np.ndarray]] = []
            for rg in geoms[c]:
                o: dict[str, np.ndarray] = {}
                tr: dict[str, np.ndarray] = {}
                for b in rg["bands"]:
                    bw = max(b["bx1"] - b["bx0"], 0)
                    bh = max(b["by1"] - b["by0"], 0)
                    o[b["name"]] = np.zeros((bh, bw), np.int64)
                    tr[b["name"]] = np.zeros((bh, bw), np.int64)
                bands.append(o)
                trunc.append(tr)
            for key, st in blocks.items():
                kc, kr, _kpi, kname = key[0], key[1], key[2], key[3]
                if kc != c:
                    continue
                x0, y0, x1, y1 = st["rect"]
                b = st["band"]
                dec = MQDecoder(b"".join(st["segs"]))
                stats = _fresh_stats()
                out_blk = _t1_code_block(
                    dec, stats, _BAND_CODE[kname], x1 - x0, y1 - y0,
                    st["planes"], None, npasses=st["npasses"],
                )
                sl = (
                    slice(y0 - b["by0"], y1 - b["by0"]),
                    slice(x0 - b["bx0"], x1 - b["bx0"]),
                )
                bands[kr][kname][sl] = out_blk
                # planes fully/partially decoded by npasses passes
                d = 1 + _ceil_div(st["npasses"] - 1, 3)
                trunc[kr][kname][sl] = max(0, st["planes"] - d)
            rec = _reconstruct_tc(
                bands, trunc, quant[c], depth, cinfo[c]["levels"],
                rgns.get(c, 0), irreversible,
            )
            xr, yr = subs[c]
            canv[c][
                _ceil_div(tb[1], yr):_ceil_div(tb[3], yr),
                _ceil_div(tb[0], xr):_ceil_div(tb[2], xr),
            ] = rec
    stack = _finish_components(
        canv, subs, w, h, depth, cod["mct"], irreversible
    )
    return {
        "width": w,
        "height": h,
        "n_channels": ncomp,
        "bit_depth": depth,
        "transform": "9/7" if irreversible else "5/3",
        "samples": stack,
    }


def jpx97_reference_decode(
    samples: np.ndarray,
    bit_depth: int = 8,
    levels: int = 2,
    q_planes: int = 9,
    subsample: tuple[int, int] | None = None,
    tiles: tuple[int, int] | None = None,
    derived: bool = False,
    truncate_planes: int = 0,
    coc_levels: dict[int, int] | None = None,
    qcc: bool = False,
    rgn=None,
) -> np.ndarray:
    """Straight-line replay of the lossy 9/7 pipeline — per-tile
    forward DWT, quantize, whole-plane truncate, dequantize with the
    midpoint rule, inverse DWT, inverse ICT, round, clip — with NO
    codestream in between. It runs the same :func:`_encode_front` /
    :func:`_reconstruct_tc` / :func:`_finish_components` code the
    codestream path runs, so the driver comparison pins the
    marker/Tier-2/Tier-1/MQ layers round-tripping the quantizer
    indices and (ε, μ) exactly (the float wavelet is pinned
    independently against the published T.800 Table F.4 filter taps
    in test_jpeg2000). Maxshift ROI is exactly invertible, so passing
    the same ``rgn`` reproduces the decoder bit for bit there too."""
    fr = _encode_front(
        samples, bit_depth, levels, 0, True, q_planes, subsample,
        tiles, derived, coc_levels, qcc, rgn, truncate_planes,
    )
    k = truncate_planes
    w, h, ncomp = fr["w"], fr["h"], fr["ncomp"]
    canv = [
        np.zeros(
            (
                _ceil_div(h, fr["subs"][c][1]),
                _ceil_div(w, fr["subs"][c][0]),
            ),
            np.float64,
        )
        for c in range(ncomp)
    ]
    for t, tb in enumerate(fr["tgrid"]):
        for c in range(ncomp):
            lv = fr["lv_c"][c]
            qb: list[dict[str, np.ndarray]] = []
            tr: list[dict[str, np.ndarray]] = []
            for r in range(lv + 1):
                o: dict[str, np.ndarray] = {}
                ot: dict[str, np.ndarray] = {}
                for name, q in fr["qbands"][c][t][r].items():
                    mag = np.abs(q)
                    qt = (mag >> k) << k if k else mag
                    o[name] = np.where(q < 0, -qt, qt)
                    ot[name] = np.full(q.shape, k, np.int64)
                qb.append(o)
                tr.append(ot)
            rec = _reconstruct_tc(
                qb, tr, fr["quants"][c], bit_depth, lv,
                fr["rgn_shift"][c], True,
            )
            xr, yr = fr["subs"][c]
            canv[c][
                _ceil_div(tb[1], yr):_ceil_div(tb[3], yr),
                _ceil_div(tb[0], xr):_ceil_div(tb[2], xr),
            ] = rec
    return _finish_components(
        canv, fr["subs"], w, h, bit_depth, fr["mct"], True
    )


def _jp2_codestream(data: bytes) -> bytes:
    """Walk Part 1 Annex I boxes to the ``jp2c`` codestream."""
    pos = 0
    n = len(data)
    while pos + 8 <= n:
        (lbox,) = struct.unpack_from(">I", data, pos)
        tbox = data[pos + 4 : pos + 8]
        hdr = 8
        if lbox == 1:
            (lbox,) = struct.unpack_from(">Q", data, pos + 8)
            hdr = 16
        elif lbox == 0:
            lbox = n - pos
        if lbox < hdr or pos + lbox > n:
            raise ValueError("malformed JP2 box")
        if tbox == b"jp2c":
            return data[pos + hdr : pos + lbox]
        pos += lbox
    raise ValueError("JP2 container has no jp2c codestream box")
