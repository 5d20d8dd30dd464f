"""Arithmetic-coded JPEG (SOF9/SOF10) vs the system libjpeg oracle.

Gate design (all EXACT, no tolerances):

* transcode gate — libjpeg losslessly re-entropy-codes a Huffman stream
  to arithmetic (jpeg_write_coefficients): identical quantized
  coefficients, so OUR decode of both streams must agree byte-for-byte
  (shared IDCT tail).  This isolates the entropy decoder from IDCT
  differences vs libjpeg.
* cross-encode gate — libjpeg DECODES our arithmetic encoder's output;
  compared against libjpeg's decode of our Huffman encoder's output for
  the same image (identical coefficients by construction after the
  batched-matmul DCT fix), again byte-exact.
* self gate — our decoder on our encoder round-trips to the same pixels
  as the Huffman path.

Everything skips when gcc/jpeglib.h are unavailable; the QM-coder table
itself is additionally cross-checked against libjpeg's exported
jpeg_aritab (ITU T.81 Table D.3 constants).
"""

import ctypes

import numpy as np
import pytest

from jsoup_spark.operators import codecs, multimodal
from jsoup_spark.operators.jpeg_arith import _QM, encode_jpeg_arith

try:
    import libjpeg_ref as jr
except ImportError:               # pragma: no cover
    from tests import libjpeg_ref as jr

pytestmark = pytest.mark.skipif(
    not jr.available(), reason="libjpeg oracle shim unavailable")


def _img(rng, h, w, kind):
    if kind == "noise":
        return rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    if kind == "gradient":
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack([(xx * 3) % 256, (yy * 5) % 256,
                         (xx + yy) % 256], -1).astype(np.uint8)
    return np.full((h, w, 3), 137, np.uint8)


def test_qm_table_matches_spec_constants():
    lib = ctypes.CDLL("libjpeg.so.62")
    try:
        tab = (ctypes.c_int64 * 114).in_dll(lib, "jpeg_aritab")
    except ValueError:            # pragma: no cover - symbol not exported
        pytest.skip("jpeg_aritab not exported")
    for i in range(114):
        v = tab[i]
        assert tuple(_QM[i]) == ((v >> 16) & 0xFFFF, v & 0x7F,
                                 (v >> 8) & 0x7F, (v >> 7) & 1), i


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("kind", ["noise", "gradient", "flat"])
def test_sequential_transcode_gate(seed, kind):
    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(1, 70)), int(rng.integers(1, 70))
    img = _img(rng, h, w, kind)
    q = int(rng.choice([20, 75, 95]))
    huff = codecs.encode_jpeg(img, q)
    arith = jr.transcode(huff, arith=True)
    assert b"\xff\xc9" in arith[:200]
    assert (codecs.decode_jpeg(arith) == codecs.decode_jpeg(huff)).all()


@pytest.mark.parametrize("sub", ["444", "420"])
@pytest.mark.parametrize("prog", [False, True])
def test_encoder_cross_and_self_gates(sub, prog):
    rng = np.random.default_rng(17 if prog else 34)
    img = _img(rng, 53, 46, "gradient")
    huff = codecs.encode_jpeg(img, 80, sub)
    mine = encode_jpeg_arith(img, 80, sub, progressive=prog)
    # libjpeg decodes our stream to the same pixels as our huff stream
    assert (jr.decode(mine) == jr.decode(huff)).all()
    # our decoder (codecs.decode_jpeg reads SOF9/SOF10 natively) agrees
    # with our huffman path
    assert (codecs.decode_jpeg(mine) == codecs.decode_jpeg(huff)).all()


def test_progressive_transcode_gate():
    rng = np.random.default_rng(9)
    img = _img(rng, 61, 38, "noise")
    huff = codecs.encode_jpeg(img, 70, "420")
    pa = jr.transcode(huff, arith=True, progressive=True)
    assert b"\xff\xca" in pa[:200]
    assert (codecs.decode_jpeg(pa) == codecs.decode_jpeg(huff)).all()


def test_grayscale_both_directions():
    rng = np.random.default_rng(123)
    noise = rng.integers(0, 256, (33, 41)).astype(np.uint8)
    # integer-valued ramp whose IDCT hits exact-.5 ties: einsum and
    # matmul reconstructions of the same coefficients disagree on it
    yy, xx = np.mgrid[0:16, 0:59]
    ramp = ((2 * xx + 2 * yy + 247) % 256).astype(np.uint8)
    for img, q in ((noise, 80), (ramp, 73)):
        huff = codecs.encode_jpeg(img, q)
        arith = jr.transcode(huff, arith=True)
        assert (codecs.decode_jpeg(arith) == codecs.decode_jpeg(huff)).all()
        mine = encode_jpeg_arith(img, q)
        assert (jr.decode(mine)[:, :, 0] == jr.decode(huff)[:, :, 0]).all()
        assert (codecs.decode_jpeg(mine) == codecs.decode_jpeg(huff)).all()
        minep = encode_jpeg_arith(img, q, progressive=True)
        assert (codecs.decode_jpeg(minep)
                == codecs.decode_jpeg(huff)).all()


@pytest.mark.parametrize("ri,prog", [(1, False), (3, True), (7, False)])
def test_restart_intervals_both_engines(ri, prog):
    rng = np.random.default_rng(100 + ri)
    img = _img(rng, 50, 66, "noise")
    base = encode_jpeg_arith(img, 75, "420", progressive=prog)
    ours = encode_jpeg_arith(img, 75, "420", progressive=prog,
                             restart_interval=ri)
    assert b"\xff\xdd" in ours[:300]
    # our restart stream: identical pixels through both decoders
    assert (codecs.decode_jpeg(ours) == codecs.decode_jpeg(base)).all()
    assert (jr.decode(ours) == jr.decode(base)).all()
    # libjpeg-origin restart stream through our decoder (coefficient-
    # exact via the lossless huffman transcode of the same stream)
    lb = jr.encode(img, 80, arith=True, progressive=prog,
                   restart_interval=ri)
    hb = jr.transcode(lb, arith=False)
    assert (codecs.decode_jpeg(lb) == codecs.decode_jpeg(hb)).all()


def test_libjpeg_native_arith_encode_decodes():
    """Streams produced by libjpeg's own arithmetic ENCODER (its scan
    scripts, conditioning, termination), not just transcodes."""
    rng = np.random.default_rng(55)
    for prog in (False, True):
        img = _img(rng, 47, 59, "gradient")
        lb = jr.encode(img, 85, arith=True, progressive=prog)
        hb = jr.transcode(lb, arith=False)
        assert (codecs.decode_jpeg(lb) == codecs.decode_jpeg(hb)).all()


def _poison_dc_tables(data):
    """Set every symbol of every DC Huffman table to 100 (libjpeg
    rejects DC symbols > 15). Entropy-coded data never holds 0xFF 0xC4,
    so every such pair starts a DHT segment."""
    b = bytearray(data)
    pos = b.find(b"\xff\xc4")
    while pos >= 0:
        end = pos + 2 + (b[pos + 2] << 8 | b[pos + 3])
        p = pos + 4
        while p < end:
            cnt = sum(b[p + 1:p + 17])
            if b[p] >> 4 == 0:
                b[p + 17:p + 17 + cnt] = bytes([100]) * cnt
            p += 17 + cnt
        pos = b.find(b"\xff\xc4", end)
    return bytes(b)


def test_truncation_and_corruption_contract():
    """decode_jpeg degrades to ValueError (or a best-effort decode for
    mid-entropy corruption), never a raw IndexError/KeyError/
    OverflowError — the one-bad-document-must-not-kill-the-task pipeline
    contract."""
    rng = np.random.default_rng(11)
    img = _img(rng, 40, 52, "noise")
    # DC Huffman symbols > 15 are rejected when the DHT is read
    poisoned = _poison_dc_tables(jr.encode(img, 80, progressive=True))
    with pytest.raises(ValueError):
        codecs.decode_jpeg(poisoned)
    assert multimodal.decode_image_array(poisoned) is None
    # a frame without any scan is an error, not a flat gray image
    arith = encode_jpeg_arith(img)
    with pytest.raises(ValueError):
        codecs.decode_jpeg(arith[:arith.index(b"\xff\xda")])
    streams = [encode_jpeg_arith(img, 75),
               encode_jpeg_arith(img, 75, "420", progressive=True),
               encode_jpeg_arith(img, 75, restart_interval=3),
               codecs.encode_jpeg(img, 75),
               jr.encode(img, 75, progressive=True, restart_interval=2)]
    for s in streams:
        for cut in range(2, len(s), 53):
            try:
                codecs.decode_jpeg(s[:cut])
            except ValueError:
                pass
        for _trial in range(40):
            b = bytearray(s)
            for _ in range(int(rng.integers(1, 4))):
                b[int(rng.integers(2, len(b)))] = int(rng.integers(0, 256))
            try:
                codecs.decode_jpeg(bytes(b))
            except ValueError:
                pass


def test_tiny_and_extreme_quality():
    for shape in ((1, 1, 3), (1, 17, 3), (16, 1, 3), (8, 8, 3)):
        img = np.arange(np.prod(shape), dtype=np.uint8).reshape(shape)
        for q in (1, 50, 100):
            mine = encode_jpeg_arith(img, q)
            huff = codecs.encode_jpeg(img, q)
            assert (jr.decode(mine) == jr.decode(huff)).all()
            assert (codecs.decode_jpeg(mine)
                    == codecs.decode_jpeg(huff)).all()
