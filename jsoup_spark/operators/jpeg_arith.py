"""Arithmetic-coded JPEG (SOF9 sequential / SOF10 progressive), native.

Implements the ITU-T T.81 QM arithmetic coder (Annex D) and the DC/AC
statistical models of Annex F.1.4 / G (conditioning contexts, magnitude
categories, successive-approximation refinement) from the public spec —
no external codec library.  Decoding has no reader of its own:
codecs.decode_jpeg's one marker reader hands each scan of a SOF9/SOF10
frame to `arith_scan` here, which walks blocks through the same
codecs._jpeg_blocks generator as the Huffman scan decoder and fills the
same coefficient grids; one dequantize + IDCT then reconstructs either.
So a LOSSLESS entropy transcode (Huffman <-> arithmetic, e.g. via
jpegtran or libjpeg's jpeg_write_coefficients) decodes byte-identically
through either entropy path — that equality is the test gate
(tests/test_jpeg_arith.py, oracle shim tests/jpeg_ref.c).

Reference parity anchor (semantic, not a port): the reference engine
(/root/reference, jsoup) has no image codecs; this module serves the
multimodal side of the interleaved text+media contract the same way
codecs.py does for Huffman JPEG / PNG / WebP.

Scope: 8-bit precision, 1 or 3 components, sampling factors <= 2 — the
same envelope as the Huffman decoder.  Both the decoder and the encoder
support restart intervals and the full progressive scan family
(DC/AC x first/refinement).
"""

from __future__ import annotations

import struct

import numpy as np

from .codecs import (_ZIGZAG, _DCT_A, _QUANT_CHROMA, _QUANT_LUMA,
                     _box_down2, _jpeg_blocks, _scaled_quant)

# ITU-T T.81 Table D.3: Qe values and probability-estimation state
# machine — (Qe, Next_Index_LPS, Next_Index_MPS, Switch_MPS) per state.
# Entry 113 is the fixed (non-adapting) 0.5-probability state used for
# sign decisions and DC refinement bits.  Constants verified against the
# spec anchors (state 0 = 0x5A1D/1/1/1, state 113 self-looping).
_QM = (
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0), (0x415E, 103, 99, 0),
    (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1),
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1), (0x5A1D, 113, 113, 0),
)

_DC_STAT_BINS = 64
_AC_STAT_BINS = 256
_FIXED = 113            # index of the non-adapting 0.5 state


class _ArithDecoder:
    """QM arithmetic decoder (T.81 Annex D.2) over a JPEG entropy-coded
    segment.  0xFF 0x00 stuffing is unwound; hitting a real marker stops
    byte consumption and feeds zero bytes (spec D.2.7 convention)."""

    __slots__ = ("data", "pos", "c", "a", "ct")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self._initdec()

    def _next(self) -> int:
        d = self.data
        p = self.pos
        if p >= len(d):
            return 0
        b = d[p]
        if b == 0xFF:
            if p + 1 < len(d) and d[p + 1] == 0x00:
                self.pos = p + 2
                return 0xFF
            return 0        # marker: stop consuming, feed zeros
        self.pos = p + 1
        return b

    def _initdec(self):
        # Chigh <- first two data bytes, aligned to the encoder's
        # initial A = 0x10000 interval (D.1.7/D.2.7; the 16-bit A
        # register represents 0x10000 at init)
        c = self._next() << 16
        c |= self._next() << 8      # BYTEIN
        self.c = (c << 8) & 0xFFFFFFFF
        self.ct = 0
        self.a = 0x10000

    def align_restart(self):
        """Skip to just past the next RSTn marker and re-init (D.2.7);
        the per-scan statistics reset is the caller's job."""
        d = self.data
        p = self.pos
        n = len(d)
        while p + 1 < n and not (d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7):
            p += 1
        if p + 1 >= n:
            raise ValueError("JPEG truncated: missing restart marker")
        self.pos = p + 2
        self._initdec()

    def decode(self, stats: bytearray, i: int) -> int:
        """Decode one binary decision in context bin `stats[i]`."""
        s = stats[i]
        sv = s & 0x7F
        mps = s >> 7
        qe, nlps, nmps, sw = _QM[sv]
        a = self.a - qe
        c = self.c
        if (c >> 16) < a:
            if a & 0x8000:
                self.a = a
                return mps
            # MPS_EXCHANGE (D.2.3): renorm needed
            if a < qe:
                bit = mps ^ 1
                if sw:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
            else:
                bit = mps
                stats[i] = (mps << 7) | nmps
        else:
            c -= a << 16
            # LPS_EXCHANGE (D.2.4)
            if a < qe:
                bit = mps
                stats[i] = (mps << 7) | nmps
            else:
                bit = mps ^ 1
                if sw:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
            a = qe
        # RENORMD (D.2.6)
        ct = self.ct
        while a < 0x8000:
            if ct == 0:
                c |= self._next() << 8
                ct = 8
            a <<= 1
            c = (c << 1) & 0xFFFFFFFF
            ct -= 1
        self.a = a
        self.c = c
        self.ct = ct
        return bit


def _dec_dc_diff(dec, stats, ctx, L, U):
    """Decode one DC difference (T.81 F.1.4.4.1 / Figures F.19-F.24).
    Returns (diff, new_context_offset)."""
    s0 = ctx
    if dec.decode(stats, s0) == 0:
        return 0, 0
    sign = dec.decode(stats, s0 + 1)
    st = s0 + 2 + sign
    m = dec.decode(stats, st)
    if m:
        st = 20                      # Table F.4: X1
        while dec.decode(stats, st):
            m <<= 1
            if m == 0x8000:
                raise ValueError("JPEG arith DC magnitude overflow")
            st += 1
    # F.1.4.4.1.2: conditioning category for the NEXT block
    if m < (1 << L) >> 1:
        new_ctx = 0
    elif m > (1 << U) >> 1:
        new_ctx = 12 + (sign << 2)
    else:
        new_ctx = 4 + (sign << 2)
    v = m
    st += 14
    m >>= 1
    while m:
        if dec.decode(stats, st):
            v |= m
        m >>= 1
    v += 1
    return (-v if sign else v), new_ctx


def _dec_ac_band(dec, stats, fixed, block, Ss, Se, Al, Kx):
    """Decode AC coefficients k in [Ss, Se] into `block` (natural
    order), first pass (T.81 F.1.4.4.2 / G.1.3.2)."""
    zz = _ZIGZAG
    k = Ss
    while k <= Se:
        st = 3 * (k - 1)
        if dec.decode(stats, st):
            return                   # EOB
        while dec.decode(stats, st + 1) == 0:
            st += 3
            k += 1
            if k > Se:
                raise ValueError("JPEG arith AC run overflow")
        sign = dec.decode(fixed, 0)
        st += 2
        m = dec.decode(stats, st)
        if m:
            if dec.decode(stats, st):
                m = 2
                st = 189 if k <= Kx else 217
                while dec.decode(stats, st):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError("JPEG arith AC magnitude overflow")
                    st += 1
        v = m
        st += 14
        m >>= 1
        while m:
            if dec.decode(stats, st):
                v |= m
            m >>= 1
        v += 1
        if sign:
            v = -v
        block[zz[k]] = v << Al
        k += 1


def _dec_ac_refine(dec, stats, fixed, block, Ss, Se, Al):
    """AC successive-approximation refinement scan (G.1.3.3)."""
    zz = _ZIGZAG
    p1 = 1 << Al
    m1 = -1 << Al
    kex = Se
    while kex > 0 and block[zz[kex]] == 0:
        kex -= 1
    k = Ss
    while k <= Se:
        st = 3 * (k - 1)
        if k > kex:
            if dec.decode(stats, st):
                return               # EOB
        while True:
            idx = zz[k]
            cur = block[idx]
            if cur:
                if dec.decode(stats, st + 2):
                    block[idx] = cur + (m1 if cur < 0 else p1)
                break
            if dec.decode(stats, st + 1):
                block[idx] = m1 if dec.decode(fixed, 0) else p1
                break
            st += 3
            k += 1
            if k > Se:
                raise ValueError("JPEG arith AC refine overflow")
        k += 1


def arith_scan(payload, pos, frame, coefs, scan, tables, restart_interval):
    """Decode one QM-coded scan into `coefs` for codecs' marker reader:
    sequential DC+AC, progressive DC first/refinement, AC first and AC
    refinement.  Statistics areas are (re)initialized per scan and per
    restart interval (T.81 F.1.4.4 / D.2.7); DAC conditioning defaults
    to L=0, U=1, Kx=5.  Returns the position where the entropy-coded
    segment stopped."""
    scomps, Ss, Se, Ah, Al = scan
    dc_cond = []
    kx = []
    for _ci, td, ta in scomps:
        c, k = tables.get(("dc", td)), tables.get(("ac", ta))
        dc_cond.append(c if isinstance(c, tuple) else (0, 1))
        kx.append(k if isinstance(k, int) else 5)
    dc_stats = {td: bytearray(_DC_STAT_BINS) for _ci, td, _ta in scomps}
    ac_stats = {ta: bytearray(_AC_STAT_BINS) for _ci, _td, ta in scomps}
    fixed = bytearray((_FIXED,))
    dc_ctx = [0] * len(scomps)
    last_dc = [0] * len(scomps)
    dec = _ArithDecoder(payload, pos)

    def restart():
        for st in dc_stats.values():
            st[:] = bytes(_DC_STAT_BINS)
        for st in ac_stats.values():
            st[:] = bytes(_AC_STAT_BINS)
        fixed[0] = _FIXED
        dc_ctx[:] = last_dc[:] = [0] * len(scomps)
        dec.align_restart()

    for si, blk in _jpeg_blocks(frame, coefs, scomps, restart_interval,
                                restart):
        _ci, td, ta = scomps[si]
        if Ss == 0:
            if Ah:
                if dec.decode(fixed, 0):
                    blk[0] |= 1 << Al
            else:
                L, U = dc_cond[si]
                diff, dc_ctx[si] = _dec_dc_diff(dec, dc_stats[td],
                                                dc_ctx[si], L, U)
                last_dc[si] += diff
                blk[0] = last_dc[si] << Al
            if Se == 0:
                continue
        if Ah:
            _dec_ac_refine(dec, ac_stats[ta], fixed, blk, Ss, Se, Al)
        else:
            _dec_ac_band(dec, ac_stats[ta], fixed, blk, Ss or 1, Se, Al,
                         kx[si])
    return dec.pos


# ------------------------------------------------------------ encoder

class _ArithEncoder:
    """QM arithmetic encoder (T.81 Annex D.1) with byte stuffing, carry
    propagation over stacked 0xFF bytes and discardable trailing
    zeros."""

    __slots__ = ("out", "a", "c", "ct", "buffer", "sc", "zc")

    def __init__(self):
        self.out = bytearray()
        self._initenc()

    def _initenc(self):
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.buffer = -1
        self.sc = 0
        self.zc = 0

    def encode(self, stats: bytearray, i: int, bit: int):
        s = stats[i]
        sv = s & 0x7F
        mps = s >> 7
        qe, nlps, nmps, sw = _QM[sv]
        a = self.a - qe
        if bit != mps:
            # CODELPS (D.1.3) with conditional exchange
            if a >= qe:
                self.c += a
                a = qe
            if sw:
                mps ^= 1
            stats[i] = (mps << 7) | nlps
        else:
            if a >= 0x8000:
                self.a = a
                return
            if a < qe:
                self.c += a
                a = qe
            stats[i] = (mps << 7) | nmps
        # RENORME (D.1.6)
        c = self.c
        ct = self.ct
        while True:
            a <<= 1
            c <<= 1
            ct -= 1
            if ct == 0:
                self._emit(c >> 19)
                c &= 0x7FFFF
                ct = 8
            if a >= 0x8000:
                break
        self.a = a
        self.c = c
        self.ct = ct

    def _emit(self, temp: int):
        out = self.out
        if temp > 0xFF:
            # carry: propagates over stacked 0xFF bytes (they become
            # 0x00 and stay pending as discardable zeros)
            if self.buffer >= 0:
                if self.zc:
                    out.extend(b"\x00" * self.zc)
                    self.zc = 0
                b = self.buffer + 1
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            self.zc += self.sc
            self.sc = 0
            self.buffer = temp & 0xFF
        elif temp == 0xFF:
            self.sc += 1
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                if self.zc:
                    out.extend(b"\x00" * self.zc)
                    self.zc = 0
                out.append(self.buffer)
            if self.sc:
                if self.zc:
                    out.extend(b"\x00" * self.zc)
                    self.zc = 0
                out.extend(b"\xff\x00" * self.sc)
                self.sc = 0
            self.buffer = temp

    def flush(self):
        """Termination of encoding (D.1.8); trailing zero bytes are
        discarded (legal before any marker)."""
        out = self.out
        t = (self.a - 1 + self.c) & 0xFFFF0000
        self.c = t + 0x8000 if t < self.c else t
        self.c <<= self.ct
        if self.c & 0xF8000000:
            if self.buffer >= 0:
                if self.zc:
                    out.extend(b"\x00" * self.zc)
                    self.zc = 0
                b = self.buffer + 1
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            self.zc += self.sc
            self.sc = 0
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                if self.zc:
                    out.extend(b"\x00" * self.zc)
                    self.zc = 0
                out.append(self.buffer)
            if self.sc:
                if self.zc:
                    out.extend(b"\x00" * self.zc)
                    self.zc = 0
                out.extend(b"\xff\x00" * self.sc)
                self.sc = 0
        if self.c & 0x7FFF800:
            if self.zc:
                out.extend(b"\x00" * self.zc)
                self.zc = 0
            b = (self.c >> 19) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
            if self.c & 0x7F800:
                b = (self.c >> 11) & 0xFF
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
        self.buffer = -1

    def restart(self, num: int):
        """Flush, emit RSTn, re-init registers (statistics reset is the
        caller's job, alongside DC predictors)."""
        self.flush()
        self.out += bytes((0xFF, 0xD0 + (num & 7)))
        self._initenc()


def _enc_dc_diff(enc, stats, ctx, diff, L, U):
    """Encode one DC difference (F.1.4.1); returns new context."""
    s0 = ctx
    if diff == 0:
        enc.encode(stats, s0, 0)
        return 0
    enc.encode(stats, s0, 1)
    if diff > 0:
        sign = 0
        v = diff
    else:
        sign = 1
        v = -diff
    enc.encode(stats, s0 + 1, sign)
    st = s0 + 2 + sign
    # magnitude category (X bins at 20 for DC: the first loop decision
    # already sits in the X area, unlike AC)
    m = 0
    v -= 1
    if v:
        enc.encode(stats, st, 1)
        m = 1
        v2 = v
        st = 20
        while v2 >> 1:
            v2 >>= 1
            enc.encode(stats, st, 1)
            m <<= 1
            st += 1
    enc.encode(stats, st, 0)
    if m < (1 << L) >> 1:
        new_ctx = 0
    elif m > (1 << U) >> 1:
        new_ctx = 12 + (sign << 2)
    else:
        new_ctx = 4 + (sign << 2)
    st += 14
    m >>= 1
    while m:
        enc.encode(stats, st, 1 if (m & v) else 0)
        m >>= 1
    return new_ctx


def _enc_ac_band(enc, stats, fixed, zzblock, Ss, Se, Al, Kx):
    """Encode AC coefficients (zigzag-ordered block), first pass
    (F.1.4.2 / G.1.3.2) with the Al point transform (round toward 0)."""
    ke = Se
    while ke >= Ss:
        t = zzblock[ke]
        if (t if t >= 0 else -t) >> Al:
            break
        ke -= 1
    k = Ss
    while k <= ke:
        st = 3 * (k - 1)
        enc.encode(stats, st, 0)        # not EOB yet
        while True:
            t = zzblock[k]
            v = (t if t >= 0 else -t) >> Al
            if v:
                break
            enc.encode(stats, st + 1, 0)
            st += 3
            k += 1
        enc.encode(stats, st + 1, 1)
        enc.encode(fixed, 0, 1 if t < 0 else 0)
        st += 2
        # magnitude category: first two decisions share bin st, then
        # the X area at 189/217
        m = 0
        v -= 1
        if v:
            enc.encode(stats, st, 1)
            m = 1
            v2 = v
            if v2 >> 1:
                v2 >>= 1
                enc.encode(stats, st, 1)
                m <<= 1
                st = 189 if k <= Kx else 217
                while v2 >> 1:
                    v2 >>= 1
                    enc.encode(stats, st, 1)
                    m <<= 1
                    st += 1
        enc.encode(stats, st, 0)
        st += 14
        m >>= 1
        while m:
            enc.encode(stats, st, 1 if (m & v) else 0)
            m >>= 1
        k += 1
    if k <= Se:
        enc.encode(stats, 3 * (k - 1), 1)   # EOB


def _enc_ac_refine(enc, stats, fixed, zzblock, Ss, Se, Ah, Al):
    """AC successive-approximation refinement scan (G.1.3.3)."""
    ke = Se
    while ke >= Ss:
        t = zzblock[ke]
        if (t if t >= 0 else -t) >> Al:
            break
        ke -= 1
    kex = ke
    while kex >= Ss:
        t = zzblock[kex]
        if (t if t >= 0 else -t) >> Ah:
            break
        kex -= 1
    k = Ss
    while k <= ke:
        st = 3 * (k - 1)
        if k > kex:
            enc.encode(stats, st, 0)    # EOB decision: not yet
        while True:
            t = zzblock[k]
            v = (t if t >= 0 else -t) >> Al
            if v:
                if v >> 1:              # previously nonzero
                    enc.encode(stats, st + 2, v & 1)
                else:                   # newly nonzero
                    enc.encode(stats, st + 1, 1)
                    enc.encode(fixed, 0, 1 if t < 0 else 0)
                break
            enc.encode(stats, st + 1, 0)
            st += 3
            k += 1
        k += 1
    if k <= Se:
        enc.encode(stats, 3 * (k - 1), 1)   # EOB


def encode_jpeg_arith(img: np.ndarray, quality: int = 90,
                      subsampling: str = "444", *,
                      progressive: bool = False,
                      restart_interval: int = 0) -> bytes:
    """uint8 (H, W, 3) RGB or (H, W[, 1]) gray -> arithmetic-coded JPEG
    (SOF9, or SOF10 with a 6-scan successive-approximation script when
    progressive=True).  Annex K quant tables scaled like encode_jpeg;
    default conditioning (L=0, U=1, Kx=5) written via DAC."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    if ch not in (1, 3):
        raise ValueError("encode_jpeg_arith expects 1 or 3 channels")
    px = img.astype(np.float64)
    if ch == 3:
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
    else:
        planes = [px[:, :, 0]]
    if ch == 3 and subsampling == "420":
        samp = [(2, 2), (1, 1), (1, 1)]
        planes = [planes[0], _box_down2(planes[1]), _box_down2(planes[2])]
    elif subsampling == "444" or ch == 1:
        samp = [(1, 1)] * ch
    else:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    qt_l = _scaled_quant(_QUANT_LUMA, quality).reshape(8, 8)
    qt_c = _scaled_quant(_QUANT_CHROMA, quality).reshape(8, 8)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    # quantized zigzag coefficient grids per component
    A = _DCT_A
    grids = []
    for ci, (p, (hs, vs)) in enumerate(zip(planes, samp)):
        ph, pw = mcus_y * vs * 8, mcus_x * hs * 8
        sh, sw = p.shape
        pp = np.empty((ph, pw), np.float64)
        pp[:sh, :sw] = p
        pp[sh:, :sw] = p[sh - 1:sh, :]
        pp[:, sw:] = pp[:, sw - 1:sw]
        by, bx = ph // 8, pw // 8
        blocks = pp.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3) \
            .reshape(by * bx, 8, 8) - 128.0
        # batched matmul, NOT einsum: bit-identical summation order to
        # codecs._encode_block's per-block `A @ b @ A.T`, so both
        # encoders quantize identically (einsum's contraction order can
        # flip exact-.5 ties on integer-valued grayscale blocks)
        coef = A[None] @ blocks @ A.T[None]
        qt = qt_l if ci == 0 else qt_c
        qz = np.rint(coef / qt).astype(np.int64)
        # store in zigzag order: the scan encoders index by k directly
        grids.append(qz.reshape(by, bx, 64)[:, :, _ZIGZAG])
    out = bytearray(b"\xff\xd8")
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0

    def dqt(tid, tab):
        zz = tab.ravel()[_ZIGZAG].astype(np.uint8).tobytes()
        return (b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64)
                + bytes([tid]) + zz)

    out += dqt(0, qt_l)
    if ch == 3:
        out += dqt(1, qt_c)
    sof = struct.pack(">BHHB", 8, h, w, ch)
    for i in range(ch):
        hs, vs = samp[i]
        sof += bytes([i + 1, (hs << 4) | vs, 0 if i == 0 else 1])
    out += (b"\xff\xca" if progressive else b"\xff\xc9") \
        + struct.pack(">H", 2 + len(sof)) + sof
    # DAC: default conditioning, written explicitly
    dac = b""
    for t in range(2 if ch == 3 else 1):
        dac += bytes([t, (1 << 4) | 0])          # DC: U=1, L=0
    for t in range(2 if ch == 3 else 1):
        dac += bytes([(1 << 4) | t, 5])          # AC: Kx=5
    out += b"\xff\xcc" + struct.pack(">H", 2 + len(dac)) + dac
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    ntab = [0 if i == 0 else 1 for i in range(ch)]
    if progressive:
        scans = [
            ("dc_first", list(range(ch)), 0, 0, 0, 1),
            ("dc_refine", list(range(ch)), 0, 0, 1, 0),
        ]
        for c in range(ch):
            scans.append(("ac_first", [c], 1, 63, 0, 1))
        for c in range(ch):
            scans.append(("ac_refine", [c], 1, 63, 1, 0))
    else:
        scans = [("seq", list(range(ch)), 0, 63, 0, 0)]
    # the decoder's frame tuple, so both walk blocks via _jpeg_blocks
    frame = (h, w, [(i + 1, hs, vs, ntab[i]) for i, (hs, vs)
                    in enumerate(samp)], hmax, vmax, mcus_x, mcus_y,
             progressive)
    for kind, sel, Ss, Se, Ah, Al in scans:
        sos = bytes([len(sel)])
        for c in sel:
            t = ntab[c]
            sos += bytes([c + 1, (t << 4) | t])
        sos += bytes([Ss, Se, (Ah << 4) | Al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        out += _encode_arith_scan(
            frame, grids, [(c, ntab[c], ntab[c]) for c in sel], kind,
            Ss, Se, Ah, Al, restart_interval)
    out += b"\xff\xd9"
    return bytes(out)


def _encode_arith_scan(frame, grids, scomps, kind, Ss, Se, Ah, Al,
                       restart_interval):
    enc = _ArithEncoder()
    dc_stats = {td: bytearray(_DC_STAT_BINS) for _c, td, _ta in scomps}
    ac_stats = {ta: bytearray(_AC_STAT_BINS) for _c, _td, ta in scomps}
    fixed = bytearray((_FIXED,))
    dc_ctx = [0] * len(scomps)
    last_dc = [0] * len(scomps)
    Kx = 5
    L, U = 0, 1
    rst_num = 0

    def restart():
        nonlocal rst_num
        enc.restart(rst_num)
        rst_num = (rst_num + 1) & 7
        for st in dc_stats.values():
            st[:] = bytes(_DC_STAT_BINS)
        for st in ac_stats.values():
            st[:] = bytes(_AC_STAT_BINS)
        fixed[0] = _FIXED
        dc_ctx[:] = last_dc[:] = [0] * len(scomps)

    for si, blk in _jpeg_blocks(frame, grids, scomps, restart_interval,
                                restart):
        t = scomps[si][1]
        if kind in ("seq", "dc_first"):
            diff = int(blk[0] >> Al) - last_dc[si]
            last_dc[si] = int(blk[0] >> Al)
            dc_ctx[si] = _enc_dc_diff(enc, dc_stats[t], dc_ctx[si],
                                      diff, L, U)
            if kind == "seq":
                _enc_ac_band(enc, ac_stats[t], fixed, blk, 1, 63, 0, Kx)
        elif kind == "dc_refine":
            enc.encode(fixed, 0, (int(blk[0]) >> Al) & 1)
        elif kind == "ac_first":
            _enc_ac_band(enc, ac_stats[t], fixed, blk, Ss, Se, Al, Kx)
        else:
            _enc_ac_refine(enc, ac_stats[t], fixed, blk, Ss, Se, Ah, Al)
    enc.flush()
    return bytes(enc.out)
