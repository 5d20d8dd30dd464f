"""Native lossy-VP8 (WebP) keyframe decoder.

Implements the intra-frame half of the public VP8 bitstream
specification, RFC 6386 -- the complete still-image ("simple" WebP)
decode path: boolean arithmetic decoder (sec. 7), keyframe headers
(9), segment / loop-filter / quantizer side data (9.2-9.6, 10),
intra prediction modes incl. the contextual 4x4 B-mode coding (11,
12), DCT/WHT coefficient decoding with the band-adaptive token
contexts (13), dequantization (14.1), the exact integer inverse
transforms (14.3-14.4) and the normal + simple in-loop deblocking
filters (15).  Inter-frame features (golden/altref, motion vectors)
do not occur in still WebP files and raise ValueError.

The output contract is the same as libwebp's: `decode_vp8` returns
the loop-filtered YUV 4:2:0 planes; `yuv_to_rgb` applies the
"fancy" 9/3/3/1 chroma upsampler and the fixed-point YUV->RGB
matrix that libwebp uses, so the full pipeline is byte-identical to
`WebPDecodeRGB` (tests/test_vp8.py proves both stages against the
system libwebp via ctypes on wild and round-trip fixtures).

Scale note: this runs inside the per-document Arrow kernel's workers --
pure-Python bit twiddling is fine at thumbnail sizes, and the
decode is embarrassingly parallel across the corpus.
"""

from __future__ import annotations

import numpy as np

from .vp8_tables import (
    AC_QLOOKUP, CAT_BASES, CAT_PROBS, COEFF_BANDS, COEFF_PROBS,
    COEFF_UPDATE_PROBS, DC_QLOOKUP, KF_BMODE_PROBS, KF_UV_PROBS,
    KF_YMODE_PROBS, ZIGZAG,
)

# 16x16 / chroma prediction modes (RFC 6386 8.2)
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = range(5)
# 4x4 sub-modes (RFC 6386 11.2)
(B_DC_PRED, B_TM_PRED, B_VE_PRED, B_HE_PRED, B_LD_PRED,
 B_RD_PRED, B_VR_PRED, B_VL_PRED, B_HD_PRED, B_HU_PRED) = range(10)

# sub-mode implied by a 16x16 mode, for the B-mode coding context of
# neighbouring 4x4-coded macroblocks (RFC 6386 11.3)
_MODE_AS_B = {DC_PRED: B_DC_PRED, V_PRED: B_VE_PRED,
              H_PRED: B_HE_PRED, TM_PRED: B_TM_PRED}

_BMODE_TREE = (-B_DC_PRED, 2, -B_TM_PRED, 4, -B_VE_PRED, 6, 8, 12,
               -B_HE_PRED, 10, -B_RD_PRED, -B_VR_PRED, -B_LD_PRED, 14,
               -B_VL_PRED, 16, -B_HD_PRED, -B_HU_PRED)


class _BoolDec:
    """RFC 6386 section 7.3 boolean decoder (reads past-the-end bytes
    as zero, which the spec's implicit-trailing-zeros convention
    requires for streams whose final bits land mid-byte)."""

    __slots__ = ("buf", "pos", "range", "value", "bit_count")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 2
        self.range = 255
        b0 = buf[0] if len(buf) > 0 else 0
        b1 = buf[1] if len(buf) > 1 else 0
        self.value = (b0 << 8) | b1
        self.bit_count = 0

    def bool(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        bigsplit = split << 8
        if self.value >= bigsplit:
            ret = 1
            self.range -= split
            self.value -= bigsplit
        else:
            ret = 0
            self.range = split
        rng = self.range
        while rng < 128:
            self.value <<= 1
            rng <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                self.value |= self.buf[self.pos] if self.pos < len(self.buf) else 0
                self.pos += 1
        self.range = rng
        return ret

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bool(128)
        return v

    def signed_literal(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.bool(128) else v

    def flagged_delta(self, n: int) -> int:
        """`L(1)` update flag, then signed n-bit literal (RFC 9.3)."""
        return self.signed_literal(n) if self.bool(128) else 0

    def tree(self, tree, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.bool(probs[i >> 1])]
            if i <= 0:
                return -i


def _clamp_q(q: int) -> int:
    return 0 if q < 0 else (127 if q > 127 else q)


class _Header:
    __slots__ = (
        "seg_enabled", "seg_update_map", "seg_abs", "seg_quant", "seg_lf",
        "seg_tree_probs", "filter_type", "filter_level", "sharpness",
        "lf_delta_enabled", "ref_lf_delta", "mode_lf_delta",
        "n_partitions", "q_index", "dq", "prob_skip", "use_skip",
        "coeff_probs",
    )


def _parse_header(bd: _BoolDec) -> _Header:
    h = _Header()
    bd.literal(1)                           # color_space (must be 0)
    bd.literal(1)                           # clamping_type
    h.seg_enabled = bd.bool(128)
    h.seg_update_map = False
    h.seg_abs = False
    h.seg_quant = [0, 0, 0, 0]
    h.seg_lf = [0, 0, 0, 0]
    h.seg_tree_probs = [255, 255, 255]
    if h.seg_enabled:                       # RFC 9.3
        h.seg_update_map = bool(bd.bool(128))
        update_data = bd.bool(128)
        if update_data:
            h.seg_abs = bool(bd.bool(128))
            for i in range(4):
                h.seg_quant[i] = bd.flagged_delta(7)
            for i in range(4):
                h.seg_lf[i] = bd.flagged_delta(6)
        if h.seg_update_map:
            for i in range(3):
                if bd.bool(128):
                    h.seg_tree_probs[i] = bd.literal(8)
    h.filter_type = bd.bool(128)            # 1 = simple (RFC 9.4)
    h.filter_level = bd.literal(6)
    h.sharpness = bd.literal(3)
    h.lf_delta_enabled = bool(bd.bool(128))
    h.ref_lf_delta = [0, 0, 0, 0]
    h.mode_lf_delta = [0, 0, 0, 0]
    if h.lf_delta_enabled:
        if bd.bool(128):                    # mode_ref_lf_delta_update
            for i in range(4):
                h.ref_lf_delta[i] = bd.flagged_delta(6)
            for i in range(4):
                h.mode_lf_delta[i] = bd.flagged_delta(6)
    h.n_partitions = 1 << bd.literal(2)     # RFC 9.5
    # quantizer indices (RFC 9.6)
    h.q_index = bd.literal(7)
    ydc_d = bd.flagged_delta(4)
    y2dc_d = bd.flagged_delta(4)
    y2ac_d = bd.flagged_delta(4)
    uvdc_d = bd.flagged_delta(4)
    uvac_d = bd.flagged_delta(4)
    # per-segment dequant factors (RFC 14.1)
    h.dq = []
    for seg in range(4):
        if h.seg_enabled:
            q = (h.seg_quant[seg] if h.seg_abs
                 else h.q_index + h.seg_quant[seg])
        else:
            q = h.q_index
        q = _clamp_q(q)
        y1dc = DC_QLOOKUP[_clamp_q(q + ydc_d)]
        y1ac = AC_QLOOKUP[q]
        y2dc = DC_QLOOKUP[_clamp_q(q + y2dc_d)] * 2
        y2ac = AC_QLOOKUP[_clamp_q(q + y2ac_d)] * 155 // 100
        if y2ac < 8:
            y2ac = 8
        uvdc = DC_QLOOKUP[_clamp_q(q + uvdc_d)]
        if uvdc > 132:
            uvdc = 132
        uvac = AC_QLOOKUP[_clamp_q(q + uvac_d)]
        h.dq.append(((y1dc, y1ac), (y2dc, y2ac), (uvdc, uvac)))
    bd.bool(128)                            # refresh_entropy_probs
    # token probability updates (RFC 13.4)
    probs = [[[list(COEFF_PROBS[t][b][c]) for c in range(3)]
              for b in range(8)] for t in range(4)]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                up = COEFF_UPDATE_PROBS[t][b][c]
                row = probs[t][b][c]
                for p in range(11):
                    if bd.bool(up[p]):
                        row[p] = bd.literal(8)
    h.coeff_probs = probs
    h.use_skip = bool(bd.bool(128))         # mb_no_coeff_skip
    h.prob_skip = bd.literal(8) if h.use_skip else 0
    return h


class _MB:
    __slots__ = ("segment", "skip", "ymode", "uvmode", "bmodes",
                 "coeffs", "has_coeffs")


def _parse_modes(bd: _BoolDec, h: _Header, mb_w: int, mb_h: int) -> list:
    """Keyframe per-macroblock prediction records (RFC 11.3), parsed
    from the first partition for the whole frame before any residual."""
    mbs = [[None] * mb_w for _ in range(mb_h)]
    # B-mode coding contexts: above row (4 per column) / left (4)
    above = [[B_DC_PRED] * 4 for _ in range(mb_w)]
    for r in range(mb_h):
        left = [B_DC_PRED] * 4
        for c in range(mb_w):
            mb = _MB()
            mb.segment = 0
            if h.seg_enabled and h.seg_update_map:
                p = h.seg_tree_probs
                if bd.bool(p[0]):
                    mb.segment = 2 + bd.bool(p[2])
                else:
                    mb.segment = bd.bool(p[1])
            mb.skip = bool(bd.bool(h.prob_skip)) if h.use_skip else False
            # kf_ymode_tree: {-B_PRED, 2, 4, 6, -DC, -V, -H, -TM}
            kp = KF_YMODE_PROBS
            if not bd.bool(kp[0]):
                mb.ymode = B_PRED
            elif not bd.bool(kp[1]):
                mb.ymode = DC_PRED if not bd.bool(kp[2]) else V_PRED
            else:
                mb.ymode = H_PRED if not bd.bool(kp[3]) else TM_PRED
            if mb.ymode == B_PRED:
                bm = []
                for i in range(4):
                    for j in range(4):
                        a = above[c][j] if i == 0 else bm[(i - 1) * 4 + j]
                        l = left[i] if j == 0 else bm[i * 4 + j - 1]
                        mode = bd.tree(_BMODE_TREE, KF_BMODE_PROBS[a][l])
                        bm.append(mode)
                mb.bmodes = bm
                above[c] = bm[12:16]
                for i in range(4):
                    left[i] = bm[i * 4 + 3]
            else:
                b = _MODE_AS_B[mb.ymode]
                mb.bmodes = None
                above[c] = [b] * 4
                left = [b] * 4
            # uv mode: {-DC, 2, -V, 4, -H, -TM}
            up = KF_UV_PROBS
            if not bd.bool(up[0]):
                mb.uvmode = DC_PRED
            elif not bd.bool(up[1]):
                mb.uvmode = V_PRED
            else:
                mb.uvmode = H_PRED if not bd.bool(up[2]) else TM_PRED
            mbs[r][c] = mb
    return mbs


def _decode_block(bd: _BoolDec, probs_type, ctx: int, first: int,
                  dq) -> tuple:
    """One 4x4 coefficient block (RFC 13.3).  `ctx` seeds only the
    first token's probability context; thereafter it tracks the
    previous token (0 -> 0, 1 -> 1, >1 -> 2).  An end-of-block token
    cannot immediately follow a DCT_0, so the EOB branch is skipped
    after one.  Returns (dequantized coeffs in raster order or None,
    had_any_nonzero)."""
    n = first
    coeffs = None
    dc_q, ac_q = dq
    nonzero = False
    skip_eob = False
    while n < 16:
        p = probs_type[COEFF_BANDS[n]][ctx]
        if not skip_eob:
            if not bd.bool(p[0]):
                break
        if not bd.bool(p[1]):               # DCT_0
            n += 1
            ctx = 0
            skip_eob = True
            continue
        skip_eob = False
        if not bd.bool(p[2]):
            v = 1
            ctx = 1
        else:
            ctx = 2
            if not bd.bool(p[3]):
                if not bd.bool(p[4]):
                    v = 2
                else:
                    v = 3 if not bd.bool(p[5]) else 4
            else:
                if not bd.bool(p[6]):
                    cat = 0 if not bd.bool(p[7]) else 1
                else:
                    if not bd.bool(p[8]):
                        cat = 2 if not bd.bool(p[9]) else 3
                    else:
                        cat = 4 if not bd.bool(p[10]) else 5
                extra = 0
                for cp in CAT_PROBS[cat]:
                    extra = (extra << 1) | bd.bool(cp)
                v = CAT_BASES[cat] + extra
        if bd.bool(128):
            v = -v
        if coeffs is None:
            coeffs = [0] * 16
        coeffs[ZIGZAG[n]] = v * (dc_q if n == 0 else ac_q)
        nonzero = True
        n += 1
    return coeffs, nonzero


def _parse_residuals(bd: _BoolDec, h: _Header, mb, ctx_above, ctx_left,
                     c: int):
    """All coefficient blocks of one macroblock (RFC 13.3-13.5).
    ctx_above[c] / ctx_left carry the per-4x4 "block had nonzero
    coeffs" flags: dicts with 'y'(4), 'u'(2), 'v'(2), 'y2'(1)."""
    probs = h.coeff_probs
    dqs = h.dq[mb.segment]
    a = ctx_above[c]
    l = ctx_left
    has_y2 = mb.ymode != B_PRED
    if mb.skip:
        mb.coeffs = None
        mb.has_coeffs = False
        a["y"][:] = [0] * 4
        l["y"][:] = [0] * 4
        a["u"][:] = [0] * 2
        l["u"][:] = [0] * 2
        a["v"][:] = [0] * 2
        l["v"][:] = [0] * 2
        if has_y2:
            a["y2"] = 0
            l["y2"] = 0
        return
    blocks = {}
    any_nz = False
    if has_y2:
        ctx = a["y2"] + l["y2"]
        coeffs, nz = _decode_block(bd, probs[1], ctx, 0, dqs[1])
        blocks["y2"] = coeffs
        a["y2"] = l["y2"] = int(nz)
        any_nz |= nz
        ytype = 0
        first = 1
    else:
        blocks["y2"] = None
        ytype = 3
        first = 0
    yb = []
    for i in range(4):
        for j in range(4):
            ctx = (a["y"][j] if i == 0 else yb[(i - 1) * 4 + j][1]) + \
                  (l["y"][i] if j == 0 else yb[i * 4 + j - 1][1])
            coeffs, nz = _decode_block(bd, probs[ytype], ctx, first, dqs[0])
            yb.append((coeffs, int(nz)))
            any_nz |= nz
    for j in range(4):
        a["y"][j] = yb[12 + j][1]
    for i in range(4):
        l["y"][i] = yb[i * 4 + 3][1]
    blocks["y"] = [b[0] for b in yb]
    for plane in ("u", "v"):
        pb = []
        for i in range(2):
            for j in range(2):
                ctx = (a[plane][j] if i == 0 else pb[j][1]) + \
                      (l[plane][i] if j == 0 else pb[i * 2][1])
                coeffs, nz = _decode_block(bd, probs[2], ctx, 0, dqs[2])
                pb.append((coeffs, int(nz)))
                any_nz |= nz
        a[plane][0] = pb[2][1]
        a[plane][1] = pb[3][1]
        l[plane][0] = pb[1][1]
        l[plane][1] = pb[3][1]
        blocks[plane] = [b[0] for b in pb]
    mb.coeffs = blocks
    mb.has_coeffs = bool(any_nz)


# ------------------------------------------------------- inverse transforms

def _idct4x4(block) -> np.ndarray:
    """Exact integer inverse DCT (RFC 6386 14.3)."""
    ip = np.asarray(block, dtype=np.int64).reshape(4, 4)
    c1 = 20091   # cos(pi/8)*sqrt(2) - 1, Q16
    c2 = 35468   # sin(pi/8)*sqrt(2), Q16
    # vertical pass
    a = ip[0] + ip[2]
    b = ip[0] - ip[2]
    t1 = (ip[1] * c2) >> 16
    t2 = ip[3] + ((ip[3] * c1) >> 16)
    cc = t1 - t2
    t1 = ip[1] + ((ip[1] * c1) >> 16)
    t2 = (ip[3] * c2) >> 16
    d = t1 + t2
    tmp = np.empty((4, 4), dtype=np.int64)
    tmp[0] = a + d
    tmp[3] = a - d
    tmp[1] = b + cc
    tmp[2] = b - cc
    # horizontal pass
    a = tmp[:, 0] + tmp[:, 2]
    b = tmp[:, 0] - tmp[:, 2]
    t1 = (tmp[:, 1] * c2) >> 16
    t2 = tmp[:, 3] + ((tmp[:, 3] * c1) >> 16)
    cc = t1 - t2
    t1 = tmp[:, 1] + ((tmp[:, 1] * c1) >> 16)
    t2 = (tmp[:, 3] * c2) >> 16
    d = t1 + t2
    out = np.empty((4, 4), dtype=np.int64)
    out[:, 0] = (a + d + 4) >> 3
    out[:, 3] = (a - d + 4) >> 3
    out[:, 1] = (b + cc + 4) >> 3
    out[:, 2] = (b - cc + 4) >> 3
    return out


def _iwht4x4(block) -> list:
    """Inverse Walsh-Hadamard for the Y2 block (RFC 6386 14.3);
    returns the 16 luma DC values in raster order."""
    ip = np.asarray(block, dtype=np.int64).reshape(4, 4)
    a = ip[0] + ip[3]
    b = ip[1] + ip[2]
    c = ip[1] - ip[2]
    d = ip[0] - ip[3]
    tmp = np.empty((4, 4), dtype=np.int64)
    tmp[0] = a + b
    tmp[1] = c + d
    tmp[2] = a - b
    tmp[3] = d - c
    a = tmp[:, 0] + tmp[:, 3]
    b = tmp[:, 1] + tmp[:, 2]
    c = tmp[:, 1] - tmp[:, 2]
    d = tmp[:, 0] - tmp[:, 3]
    out = np.empty((4, 4), dtype=np.int64)
    out[:, 0] = (a + b + 3) >> 3
    out[:, 1] = (c + d + 3) >> 3
    out[:, 2] = (a - b + 3) >> 3
    out[:, 3] = (d - c + 3) >> 3
    return [int(v) for v in out.reshape(16)]


# ------------------------------------------------------------- prediction

def _avg3(x, y, z):
    return (x + 2 * y + z + 2) >> 2


def _avg2(x, y):
    return (x + y + 1) >> 1


def _pred_mb(plane: np.ndarray, r0: int, c0: int, size: int,
             mode: int) -> np.ndarray:
    """Whole-block intra prediction (16x16 luma / 8x8 chroma) with the
    RFC 6386 12.2 edge conventions: above row outside the frame reads
    127, left column reads 129."""
    h, w = plane.shape
    have_above = r0 > 0
    have_left = c0 > 0
    above = plane[r0 - 1, c0:c0 + size].astype(np.int32) if have_above \
        else np.full(size, 127, dtype=np.int32)
    left = plane[r0:r0 + size, c0 - 1].astype(np.int32) if have_left \
        else np.full(size, 129, dtype=np.int32)
    if mode == DC_PRED:
        if have_above and have_left:
            dc = (int(above.sum()) + int(left.sum()) + size) >> \
                (int(np.log2(size)) + 1)
        elif have_above:
            dc = (int(above.sum()) + size // 2) >> int(np.log2(size))
        elif have_left:
            dc = (int(left.sum()) + size // 2) >> int(np.log2(size))
        else:
            dc = 128
        return np.full((size, size), dc, dtype=np.int32)
    if mode == V_PRED:
        return np.tile(above, (size, 1))
    if mode == H_PRED:
        return np.tile(left[:, None], (1, size))
    # TM_PRED
    if not have_above:
        tl = 127
    elif not have_left:
        tl = 129
    else:
        tl = int(plane[r0 - 1, c0 - 1])
    p = left[:, None] + above[None, :] - tl
    return np.clip(p, 0, 255)


def _pred_b(plane: np.ndarray, r0: int, c0: int, mode: int,
            ar: np.ndarray) -> np.ndarray:
    """4x4 sub-block intra prediction (RFC 6386 12.3).  `ar` is the
    above-right 4-pixel group, sourced by the caller with the VP8
    "stale top-right" rule for right-column sub-blocks."""
    have_above = r0 > 0
    have_left = c0 > 0
    A = plane[r0 - 1, c0:c0 + 4].astype(np.int32) if have_above \
        else np.full(4, 127, dtype=np.int32)
    L = plane[r0:r0 + 4, c0 - 1].astype(np.int32) if have_left \
        else np.full(4, 129, dtype=np.int32)
    if not have_above:
        P = 127
    elif not have_left:
        P = 129
    else:
        P = int(plane[r0 - 1, c0 - 1])
    A0, A1, A2, A3 = (int(v) for v in A)
    R0, R1, R2, R3 = (int(v) for v in ar)
    L0, L1, L2, L3 = (int(v) for v in L)
    o = np.empty((4, 4), dtype=np.int32)
    if mode == B_DC_PRED:
        o[:] = (A0 + A1 + A2 + A3 + L0 + L1 + L2 + L3 + 4) >> 3
    elif mode == B_TM_PRED:
        o[:] = np.clip(L[:, None] + A[None, :] - P, 0, 255)
    elif mode == B_VE_PRED:
        row = [_avg3(P, A0, A1), _avg3(A0, A1, A2),
               _avg3(A1, A2, A3), _avg3(A2, A3, R0)]
        o[:] = np.array(row, dtype=np.int32)[None, :]
    elif mode == B_HE_PRED:
        col = [_avg3(P, L0, L1), _avg3(L0, L1, L2),
               _avg3(L1, L2, L3), _avg3(L2, L3, L3)]
        o[:] = np.array(col, dtype=np.int32)[:, None]
    elif mode == B_LD_PRED:
        d = [_avg3(A0, A1, A2), _avg3(A1, A2, A3), _avg3(A2, A3, R0),
             _avg3(A3, R0, R1), _avg3(R0, R1, R2), _avg3(R1, R2, R3),
             _avg3(R2, R3, R3)]
        for i in range(4):
            for j in range(4):
                o[i, j] = d[i + j]
    elif mode == B_RD_PRED:
        pp = (L3, L2, L1, L0, P, A0, A1, A2, A3)
        d = [_avg3(pp[k], pp[k + 1], pp[k + 2]) for k in range(7)]
        for i in range(4):
            for j in range(4):
                o[i, j] = d[3 - i + j]
    elif mode == B_VR_PRED:
        pp = (L3, L2, L1, L0, P, A0, A1, A2, A3)
        o[3, 0] = _avg3(pp[1], pp[2], pp[3])
        o[2, 0] = _avg3(pp[2], pp[3], pp[4])
        o[3, 1] = o[1, 0] = _avg3(pp[3], pp[4], pp[5])
        o[2, 1] = o[0, 0] = _avg2(pp[4], pp[5])
        o[3, 2] = o[1, 1] = _avg3(pp[4], pp[5], pp[6])
        o[2, 2] = o[0, 1] = _avg2(pp[5], pp[6])
        o[3, 3] = o[1, 2] = _avg3(pp[5], pp[6], pp[7])
        o[2, 3] = o[0, 2] = _avg2(pp[6], pp[7])
        o[1, 3] = _avg3(pp[6], pp[7], pp[8])
        o[0, 3] = _avg2(pp[7], pp[8])
    elif mode == B_VL_PRED:
        aa = (A0, A1, A2, A3, R0, R1, R2, R3)
        o[0, 0] = _avg2(aa[0], aa[1])
        o[1, 0] = _avg3(aa[0], aa[1], aa[2])
        o[2, 0] = o[0, 1] = _avg2(aa[1], aa[2])
        o[1, 1] = o[3, 0] = _avg3(aa[1], aa[2], aa[3])
        o[2, 1] = o[0, 2] = _avg2(aa[2], aa[3])
        o[3, 1] = o[1, 2] = _avg3(aa[2], aa[3], aa[4])
        o[2, 2] = o[0, 3] = _avg2(aa[3], aa[4])
        o[3, 2] = o[1, 3] = _avg3(aa[3], aa[4], aa[5])
        o[2, 3] = _avg3(aa[4], aa[5], aa[6])
        o[3, 3] = _avg3(aa[5], aa[6], aa[7])
    elif mode == B_HD_PRED:
        pp = (L3, L2, L1, L0, P, A0, A1, A2)
        o[3, 0] = _avg2(pp[0], pp[1])
        o[3, 1] = _avg3(pp[0], pp[1], pp[2])
        o[2, 0] = o[3, 2] = _avg2(pp[1], pp[2])
        o[2, 1] = o[3, 3] = _avg3(pp[1], pp[2], pp[3])
        o[2, 2] = o[1, 0] = _avg2(pp[2], pp[3])
        o[2, 3] = o[1, 1] = _avg3(pp[2], pp[3], pp[4])
        o[1, 2] = o[0, 0] = _avg2(pp[3], pp[4])
        o[1, 3] = o[0, 1] = _avg3(pp[3], pp[4], pp[5])
        o[0, 2] = _avg3(pp[4], pp[5], pp[6])
        o[0, 3] = _avg3(pp[5], pp[6], pp[7])
    elif mode == B_HU_PRED:
        o[0, 0] = _avg2(L0, L1)
        o[0, 1] = _avg3(L0, L1, L2)
        o[0, 2] = o[1, 0] = _avg2(L1, L2)
        o[0, 3] = o[1, 1] = _avg3(L1, L2, L3)
        o[1, 2] = o[2, 0] = _avg2(L2, L3)
        o[1, 3] = o[2, 1] = _avg3(L2, L3, L3)
        o[2, 2] = o[2, 3] = L3
        o[3, :] = L3
    else:
        raise ValueError("VP8: bad B mode %d" % mode)
    return o


def _add_residual(plane, r0, c0, pred, coeffs):
    if coeffs is None:
        out = pred
    else:
        out = pred + _idct4x4(coeffs)
    plane[r0:r0 + pred.shape[0], c0:c0 + pred.shape[1]] = \
        np.clip(out, 0, 255).astype(np.uint8)


def _reconstruct_mb(h, mb, y, u, v, r, c):
    ry, cy = r * 16, c * 16
    if mb.ymode == B_PRED:
        coeffs = mb.coeffs["y"] if mb.coeffs else [None] * 16
        # stale top-right: right-column sub-blocks source their
        # above-right pixels from the row above the macroblock
        H, W = y.shape
        if ry == 0:
            ar4 = np.full(4, 127, dtype=np.int32)
        elif cy + 20 <= W:
            ar4 = y[ry - 1, cy + 16:cy + 20].astype(np.int32)
        else:
            # right frame edge: replicate the above row's last pixel
            ar4 = np.full(4, int(y[ry - 1, W - 1]), dtype=np.int32)
        for i in range(4):
            for j in range(4):
                r0, c0 = ry + i * 4, cy + j * 4
                if j < 3:
                    if r0 == 0:
                        ar = np.full(4, 127, dtype=np.int32)
                    else:
                        ar = y[r0 - 1, c0 + 4:c0 + 8].astype(np.int32)
                else:
                    ar = ar4
                pred = _pred_b(y, r0, c0, mb.bmodes[i * 4 + j], ar)
                _add_residual(y, r0, c0, pred, coeffs[i * 4 + j])
    else:
        blocks = mb.coeffs["y"] if mb.coeffs else [None] * 16
        if mb.coeffs and mb.coeffs["y2"] is not None:
            dcs = _iwht4x4(mb.coeffs["y2"])
        else:
            dcs = [0] * 16
        pred = _pred_mb(y, ry, cy, 16, mb.ymode)
        for i in range(4):
            for j in range(4):
                blk = blocks[i * 4 + j]
                dc = dcs[i * 4 + j]
                if blk is None:
                    if dc:
                        blk = [0] * 16
                        blk[0] = dc
                else:
                    blk = list(blk)
                    blk[0] = dc
                p4 = pred[i * 4:i * 4 + 4, j * 4:j * 4 + 4]
                if blk is None:
                    out = p4
                else:
                    out = p4 + _idct4x4(blk)
                y[ry + i * 4:ry + i * 4 + 4, cy + j * 4:cy + j * 4 + 4] = \
                    np.clip(out, 0, 255).astype(np.uint8)
    # chroma
    ruv, cuv = r * 8, c * 8
    for plane, key in ((u, "u"), (v, "v")):
        blocks = mb.coeffs[key] if mb.coeffs else [None] * 4
        pred = _pred_mb(plane, ruv, cuv, 8, mb.uvmode)
        for i in range(2):
            for j in range(2):
                blk = blocks[i * 2 + j]
                p4 = pred[i * 4:i * 4 + 4, j * 4:j * 4 + 4]
                if blk is None:
                    out = p4
                else:
                    out = p4 + _idct4x4(blk)
                plane[ruv + i * 4:ruv + i * 4 + 4,
                      cuv + j * 4:cuv + j * 4 + 4] = \
                    np.clip(out, 0, 255).astype(np.uint8)


# ------------------------------------------------------------- loop filter

def _filter_strengths(h: _Header, mb) -> tuple:
    """(level, interior_limit, hev_threshold) per RFC 6386 15.2."""
    level = h.filter_level
    if h.seg_enabled:
        level = h.seg_lf[mb.segment] if h.seg_abs \
            else level + h.seg_lf[mb.segment]
    if h.lf_delta_enabled:
        level += h.ref_lf_delta[0]          # keyframe: INTRA_FRAME
        if mb.ymode == B_PRED:
            level += h.mode_lf_delta[0]
    level = 0 if level < 0 else (63 if level > 63 else level)
    if level == 0:
        return 0, 0, 0
    interior = level
    if h.sharpness:
        interior >>= 2 if h.sharpness > 4 else 1
        if interior > 9 - h.sharpness:
            interior = 9 - h.sharpness
    if interior < 1:
        interior = 1
    if level >= 40:
        hev = 2
    elif level >= 15:
        hev = 1
    else:
        hev = 0
    return level, interior, hev


def _c128(x):
    return np.clip(x, -128, 127)


def _filter_common(p1, p0, q0, q1, use_outer):
    """common_adjust (RFC 15.2): returns adjusted (p0, q0, a-for-p1q1)."""
    a = _c128((_c128(p1 - q1) if use_outer else 0) + 3 * (q0 - p0))
    f1 = _c128(a + 4) >> 3
    f2 = _c128(a + 3) >> 3
    return _c128(p0 + f2), _c128(q0 - f1), f1


def _normal_edge(plane, rows, cols, horiz, edge_limit, interior, hev_t,
                 mb_edge):
    """Vectorized normal loop filter over one edge (RFC 15.3).  rows/
    cols select the pixel lines; horiz=True filters a horizontal edge
    (pixels vary by row)."""
    def px(o):
        if horiz:
            return plane[rows + o, cols].astype(np.int32)
        return plane[rows, cols + o].astype(np.int32)

    def st(o, vals):
        if horiz:
            plane[rows + o, cols] = np.clip(vals + 128, 0, 255).astype(np.uint8)
        else:
            plane[rows, cols + o] = np.clip(vals + 128, 0, 255).astype(np.uint8)

    P3, P2, P1, P0 = px(-4), px(-3), px(-2), px(-1)
    Q0, Q1, Q2, Q3 = px(0), px(1), px(2), px(3)
    mask = (
        (np.abs(P3 - P2) <= interior) & (np.abs(P2 - P1) <= interior)
        & (np.abs(P1 - P0) <= interior) & (np.abs(Q1 - Q0) <= interior)
        & (np.abs(Q2 - Q1) <= interior) & (np.abs(Q3 - Q2) <= interior)
        & (np.abs(P0 - Q0) * 2 + (np.abs(P1 - Q1) >> 1) <= edge_limit)
    )
    if not mask.any():
        return
    hev = (np.abs(P1 - P0) > hev_t) | (np.abs(Q1 - Q0) > hev_t)
    # signed domain
    p3, p2, p1, p0 = P3 - 128, P2 - 128, P1 - 128, P0 - 128
    q0, q1, q2, q3 = Q0 - 128, Q1 - 128, Q2 - 128, Q3 - 128
    np0, nq0, np1, nq1 = p0.copy(), q0.copy(), p1.copy(), q1.copy()
    np2, nq2 = p2.copy(), q2.copy()
    # high-edge-variance lines: 2-tap adjust with outer taps
    m = mask & hev
    if m.any():
        a0, a1, _ = _filter_common(p1[m], p0[m], q0[m], q1[m], True)
        np0[m], nq0[m] = a0, a1
    m = mask & ~hev
    if m.any():
        if mb_edge:
            w = _c128(_c128(p1[m] - q1[m]) + 3 * (q0[m] - p0[m]))
            a = _c128((27 * w + 63) >> 7)
            np0[m] = _c128(p0[m] + a)
            nq0[m] = _c128(q0[m] - a)
            a = _c128((18 * w + 63) >> 7)
            np1[m] = _c128(p1[m] + a)
            nq1[m] = _c128(q1[m] - a)
            a = _c128((9 * w + 63) >> 7)
            np2[m] = _c128(p2[m] + a)
            nq2[m] = _c128(q2[m] - a)
        else:
            a0, a1, f1 = _filter_common(p1[m], p0[m], q0[m], q1[m], False)
            np0[m], nq0[m] = a0, a1
            a = (f1 + 1) >> 1
            np1[m] = _c128(p1[m] + a)
            nq1[m] = _c128(q1[m] - a)
    st(-1, np0)
    st(0, nq0)
    st(-2, np1)
    st(1, nq1)
    if mb_edge:
        st(-3, np2)
        st(2, nq2)


def _simple_edge(plane, rows, cols, horiz, edge_limit):
    """Simple loop filter (RFC 15.1): luma only, 2-pixel adjust."""
    def px(o):
        if horiz:
            return plane[rows + o, cols].astype(np.int32)
        return plane[rows, cols + o].astype(np.int32)

    def st(o, vals):
        if horiz:
            plane[rows + o, cols] = np.clip(vals + 128, 0, 255).astype(np.uint8)
        else:
            plane[rows, cols + o] = np.clip(vals + 128, 0, 255).astype(np.uint8)

    P1, P0, Q0, Q1 = px(-2), px(-1), px(0), px(1)
    mask = (np.abs(P0 - Q0) * 2 + (np.abs(P1 - Q1) >> 1)) <= edge_limit
    if not mask.any():
        return
    p1, p0, q0, q1 = P1 - 128, P0 - 128, Q0 - 128, Q1 - 128
    np0, nq0 = p0.copy(), q0.copy()
    a0, a1, _ = _filter_common(p1[mask], p0[mask], q0[mask], q1[mask], True)
    np0[mask], nq0[mask] = a0, a1
    st(-1, np0)
    st(0, nq0)


def _loop_filter(h: _Header, mbs, y, u, v, mb_w, mb_h):
    if h.filter_level == 0:
        return
    simple = h.filter_type == 1
    ally = np.arange(16)
    alluv = np.arange(8)
    for r in range(mb_h):
        for c in range(mb_w):
            mb = mbs[r][c]
            level, interior, hev_t = _filter_strengths(h, mb)
            if level == 0:
                continue
            mb_lim = ((level + 2) * 2) + interior
            sub_lim = (level * 2) + interior
            inner = mb.has_coeffs or mb.ymode == B_PRED
            ry, cy = r * 16, c * 16
            ruv, cuv = r * 8, c * 8
            yr = ally + ry
            uvr = alluv + ruv
            if simple:
                if c > 0:
                    _simple_edge(y, yr, cy, False, mb_lim)
                if inner:
                    for off in (4, 8, 12):
                        _simple_edge(y, yr, cy + off, False, sub_lim)
                if r > 0:
                    _simple_edge(y, ry, ally + cy, True, mb_lim)
                if inner:
                    for off in (4, 8, 12):
                        _simple_edge(y, ry + off, ally + cy, True, sub_lim)
                continue
            if c > 0:
                _normal_edge(y, yr, cy, False, mb_lim, interior, hev_t, True)
                _normal_edge(u, uvr, cuv, False, mb_lim, interior, hev_t, True)
                _normal_edge(v, uvr, cuv, False, mb_lim, interior, hev_t, True)
            if inner:
                for off in (4, 8, 12):
                    _normal_edge(y, yr, cy + off, False, sub_lim, interior,
                                 hev_t, False)
                _normal_edge(u, uvr, cuv + 4, False, sub_lim, interior,
                             hev_t, False)
                _normal_edge(v, uvr, cuv + 4, False, sub_lim, interior,
                             hev_t, False)
            if r > 0:
                _normal_edge(y, ry, ally + cy, True, mb_lim, interior,
                             hev_t, True)
                _normal_edge(u, ruv, alluv + cuv, True, mb_lim, interior,
                             hev_t, True)
                _normal_edge(v, ruv, alluv + cuv, True, mb_lim, interior,
                             hev_t, True)
            if inner:
                for off in (4, 8, 12):
                    _normal_edge(y, ry + off, ally + cy, True, sub_lim,
                                 interior, hev_t, False)
                _normal_edge(u, ruv + 4, alluv + cuv, True, sub_lim,
                             interior, hev_t, False)
                _normal_edge(v, ruv + 4, alluv + cuv, True, sub_lim,
                             interior, hev_t, False)


# ------------------------------------------------------------------ driver

def decode_vp8(data: bytes) -> tuple:
    """Decode a VP8 keyframe -> (y, u, v) uint8 planes cropped to the
    frame size ((h, w), ((h+1)//2, (w+1)//2) x2)."""
    if len(data) < 10:
        raise ValueError("VP8: truncated frame")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise ValueError("VP8: not a keyframe (still WebP requires one)")
    if (tag >> 1) & 7 > 3:
        raise ValueError("VP8: bad version")
    part1_len = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("VP8: bad start code")
    w = (data[6] | (data[7] << 8)) & 0x3FFF
    h = (data[8] | (data[9] << 8)) & 0x3FFF
    if not w or not h:
        raise ValueError("VP8: zero dimensions")
    part1 = data[10:10 + part1_len]
    if len(part1) < part1_len:
        raise ValueError("VP8: truncated first partition")
    bd = _BoolDec(part1)
    hdr = _parse_header(bd)
    # token partitions (RFC 9.5): sizes of all but the last are stored
    # as 3-byte little-endian values right after the first partition
    pos = 10 + part1_len
    n_parts = hdr.n_partitions
    sizes = []
    if n_parts > 1:
        table = data[pos:pos + 3 * (n_parts - 1)]
        if len(table) < 3 * (n_parts - 1):
            raise ValueError("VP8: truncated partition table")
        for i in range(n_parts - 1):
            sizes.append(int.from_bytes(table[3 * i:3 * i + 3], "little"))
        pos += 3 * (n_parts - 1)
    parts = []
    for i in range(n_parts):
        if i < len(sizes):
            parts.append(_BoolDec(data[pos:pos + sizes[i]]))
            pos += sizes[i]
        else:
            parts.append(_BoolDec(data[pos:]))
    mb_w = (w + 15) // 16
    mb_h = (h + 15) // 16
    mbs = _parse_modes(bd, hdr, mb_w, mb_h)
    y = np.empty((mb_h * 16, mb_w * 16), dtype=np.uint8)
    u = np.empty((mb_h * 8, mb_w * 8), dtype=np.uint8)
    v = np.empty((mb_h * 8, mb_w * 8), dtype=np.uint8)
    ctx_above = [{"y": [0] * 4, "u": [0] * 2, "v": [0] * 2, "y2": 0}
                 for _ in range(mb_w)]
    for r in range(mb_h):
        tok = parts[r % n_parts]
        ctx_left = {"y": [0] * 4, "u": [0] * 2, "v": [0] * 2, "y2": 0}
        for c in range(mb_w):
            mb = mbs[r][c]
            _parse_residuals(tok, hdr, mb, ctx_above, ctx_left, c)
            _reconstruct_mb(hdr, mb, y, u, v, r, c)
    _loop_filter(hdr, mbs, y, u, v, mb_w, mb_h)
    return (y[:h, :w], u[:(h + 1) // 2, :(w + 1) // 2],
            v[:(h + 1) // 2, :(w + 1) // 2])


# ------------------------------------------- fancy upsampling + YUV -> RGB

def _upsample_plane(c: np.ndarray, w: int, h: int) -> np.ndarray:
    """Fancy-upsample one chroma plane to (h, w): the 9/3/3/1 blend
    with the exact two-step rounding libwebp's upsampler uses
    ((avg + 2*(side)) >> 3, then (diag + corner) >> 1).  Chroma
    samples sit at half-pel positions; edges replicate via index
    clamping, which reproduces the edge-column/row special cases
    exactly (((a+b+2)>>1 + a)>>1 == (3a+b+2)>>2 for all bytes)."""
    c = c.astype(np.int32)
    ch, cw = c.shape
    out = np.empty((h, w), dtype=np.int32)
    # horizontal neighbor index for each output column
    x = np.arange(w)
    main_x = x >> 1
    side_x = np.clip((x + np.where(x & 1, 1, -1)) >> 1, 0, cw - 1)
    yy = np.arange(h)
    main_y = yy >> 1
    side_y = np.clip((yy + np.where(yy & 1, 1, -1)) >> 1, 0, ch - 1)
    cur = c[main_y[:, None], main_x[None, :]]
    hn = c[main_y[:, None], side_x[None, :]]
    vn = c[side_y[:, None], main_x[None, :]]
    dn = c[side_y[:, None], side_x[None, :]]
    avg = cur + hn + vn + dn + 8
    diag = (avg + 2 * (hn + vn)) >> 3
    out = (diag + cur) >> 1
    return out


def yuv_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Fancy upsample + YUV->RGB, byte-identical to WebPDecodeRGB."""
    h, w = y.shape
    up = _upsample_plane(u, w, h)
    vp = _upsample_plane(v, w, h)
    yv = y.astype(np.int32)
    yy = (19077 * yv) >> 8
    r = yy + ((26149 * vp) >> 8) - 14234
    g = yy - ((6419 * up) >> 8) - ((13320 * vp) >> 8) + 8708
    b = yy + ((33050 * up) >> 8) - 17685
    out = np.stack([r, g, b], axis=-1) >> 6
    return np.clip(out, 0, 255).astype(np.uint8)
