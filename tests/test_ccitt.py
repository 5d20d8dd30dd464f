"""CCITT G3/G4 fax codecs (operators/ccitt.py) vs the system
libtiff — both directions, byte-level where libtiff's own encoder is
deterministic. Code tables are the normative T.4 constants derived
from libtiff's MH encoder (tools/extract_t4_tables.py) and
spot-checked against the published table values."""

import random
import struct
import sys

import numpy as np
import pytest

sys.path.insert(0, "tests")
import libtiff_ref as L  # noqa: E402

from jsoup_spark.operators.ccitt import (  # noqa: E402
    decode_g4, decode_mh, encode_g4, encode_mh)
from jsoup_spark.operators.tiff import (  # noqa: E402
    _read_ifd, decode_tiff, encode_tiff)

needs_libtiff = pytest.mark.skipif(not L.available(),
                                   reason="libtiff not present")


def _strip(data: bytes) -> bytes:
    off = struct.unpack("<I", data[4:8])[0]
    ifd = _read_ifd(data, off, "<")
    return data[ifd[273][0]:ifd[273][0] + ifd[279][0]]


def _mutants(data: bytes, seed: int, n: int = 24) -> list:
    """Seeded corruptions of a one-strip TIFF's CCITT data: 40% with the
    strip cut short (StripByteCounts lowered), 60% with 1-3 bits of the
    strip flipped."""
    r = random.Random(seed)
    off = struct.unpack("<I", data[4:8])[0]
    ifd = _read_ifd(data, off, "<")
    start, size = ifd[273][0], ifd[279][0]
    for i in range(struct.unpack("<H", data[off:off + 2])[0]):
        e = off + 2 + 12 * i
        tag, typ = struct.unpack("<HH", data[e:e + 4])
        if tag == 279:
            count_at, fmt = e + 8, "<H" if typ == 3 else "<I"
    out = []
    for _ in range(n):
        m = bytearray(data)
        if r.random() < 0.4:
            struct.pack_into(fmt, m, count_at, r.randrange(size))
        else:
            for _ in range(r.randint(1, 3)):
                m[start + r.randrange(size)] ^= 1 << r.randrange(8)
        out.append(bytes(m))
    return out


def _check_mutants(data: bytes, seed: int) -> None:
    """Corrupt strips raise nothing but ValueError, and where libtiff
    decodes one without reporting an error or warning, ours gives its
    pixels. Accept/reject may differ: libtiff's G3 EOL search skips bits
    that are not fill. A strip that libtiff repairs (it reports the bad
    row, fills it in and returns success) is not compared: this G4
    decoder clamps a row that runs past its edge and goes on, so its
    pixels differ there until it rejects such a row."""
    for m in _mutants(data, seed):
        try:
            theirs = L.decode_rgba(m)
        except ValueError:
            theirs = None
        repaired = bool(L.reported)
        try:
            ours = decode_tiff(m)
        except ValueError:
            continue
        if theirs is not None and not repaired:
            assert np.array_equal(ours[:, :, 0], theirs[:, :, 0]), m.hex()


def _battery(seed=7):
    rng = np.random.default_rng(seed)
    imgs = [
        np.zeros((5, 64), np.uint8),
        np.ones((5, 64), np.uint8),
        (rng.random((16, 100)) < 0.5).astype(np.uint8),
        (rng.random((20, 331)) < 0.1).astype(np.uint8),
        (rng.random((20, 331)) < 0.9).astype(np.uint8),
    ]
    img = np.zeros((8, 80), np.uint8)
    img[2:6, 10:50] = 1
    imgs.append(img)
    img = np.zeros((30, 200), np.uint8)   # text-like strokes
    for r in range(3, 30, 5):
        img[r, 5:195:3] = 1
    imgs.append(img)
    return imgs


def test_t4_tables_published_values():
    from jsoup_spark.operators.t4_tables import BLACK_CODES, WHITE_CODES
    assert WHITE_CODES[0] == "00110101"
    assert WHITE_CODES[2] == "0111"
    assert WHITE_CODES[64] == "11011"
    assert BLACK_CODES[0] == "0000110111"
    assert BLACK_CODES[1] == "010"
    assert BLACK_CODES[2] == "11"
    assert WHITE_CODES[1792] == BLACK_CODES[1792] == "00000001000"
    for t in (WHITE_CODES, BLACK_CODES):
        codes = sorted(t.values(), key=len)
        for i, a in enumerate(codes):
            for b in codes[i + 1:]:
                assert not b.startswith(a)        # prefix-free


def test_self_roundtrip_and_rows_none():
    for img in _battery(3):
        h, w = img.shape
        assert np.array_equal(decode_g4(encode_g4(img), w, h), img)
        assert np.array_equal(decode_g4(encode_g4(img), w, None), img)
        assert np.array_equal(decode_mh(encode_mh(img), w, h), img)
        assert np.array_equal(decode_mh(encode_mh(img), w, None), img)


@needs_libtiff
@pytest.mark.parametrize("comp", [2, 4])
def test_byte_identical_to_libtiff(comp):
    """Our encoder emits the exact bytes libtiff's does (same greedy
    makeup chaining, same EOFB) and our decoder reads libtiff's."""
    for img in _battery(7):
        h, w = img.shape
        strip = _strip(L.encode_bilevel(img, compression=comp))
        mine = encode_g4(img) if comp == 4 else encode_mh(img)
        assert mine == strip
        dec = decode_g4 if comp == 4 else decode_mh
        assert np.array_equal(dec(strip, w, h), img)


@needs_libtiff
def test_exhaustive_run_lengths_vs_libtiff():
    """Every terminating code, every makeup, extended makeups and
    >2560 chains, both colors — one row per run length."""
    runs = (list(range(0, 70))
            + [127, 128, 129, 191, 700, 1728, 1729, 1791, 1792,
               1856, 2560, 2561, 2600, 3000])
    rows = []
    for run in runs:
        w = 3100
        r1 = np.zeros(w, np.uint8)
        r1[:run] = 1
        rows.append(r1)
        r2 = np.zeros(w, np.uint8)
        r2[run:] = 1
        rows.append(r2)
    img = np.stack(rows)
    for comp in (2, 4):
        strip = _strip(L.encode_bilevel(img, compression=comp))
        mine = encode_g4(img) if comp == 4 else encode_mh(img)
        assert mine == strip


@needs_libtiff
@pytest.mark.parametrize("comp,photo", [(2, 0), (2, 1), (4, 0), (4, 1)])
def test_tiff_integration_both_directions(comp, photo):
    rng = np.random.default_rng(11)
    s = (rng.random((21, 333)) < 0.3).astype(np.uint8)
    data = L.encode_bilevel(s, compression=comp, photometric=photo)
    ours = decode_tiff(data)
    want = (255 - s * 255) if photo == 0 else s * 255
    assert np.array_equal(ours[:, :, 0], want)
    mine = encode_tiff(s[:, :, None], photometric=photo,
                       bit_depth=1, compression=comp)
    assert np.array_equal(L.decode_rgba(mine), L.decode_rgba(data))
    _check_mutants(data, comp * 10 + photo)


def test_pdf_ccittfaxdecode_filter():
    from jsoup_spark.sources.pdf import Stream, decode_stream
    rng = np.random.default_rng(9)
    img = (rng.random((9, 61)) < 0.35).astype(np.uint8)
    st = Stream({"Filter": "CCITTFaxDecode",
                 "DecodeParms": {"K": -1, "Columns": 61, "Rows": 9}},
                encode_g4(img))
    # PDF default BlackIs1=false: 0 bits are black
    assert decode_stream(st) == np.packbits(1 - img, axis=1).tobytes()
    st2 = Stream({"Filter": "CCITTFaxDecode",
                  "DecodeParms": {"K": 0, "Columns": 61,
                                  "BlackIs1": True}}, encode_mh(img))
    assert decode_stream(st2) == np.packbits(img, axis=1).tobytes()


# --------------------------------------------------------- G3 (T.4)

def test_g3_self_roundtrip_matrix():
    from jsoup_spark.operators.ccitt import decode_g3, encode_g3
    rng = np.random.default_rng(4)
    for two_d in (False, True):
        for k in (0, 2, 4):
            for ba in (False, True):
                img = (rng.random((17, 83)) < 0.3).astype(np.uint8)
                b = encode_g3(img, two_d=two_d, k=k, byte_align=ba)
                assert np.array_equal(
                    decode_g3(b, 83, 17, two_d=two_d), img)
                assert np.array_equal(
                    decode_g3(b, 83, None, two_d=two_d), img)


@needs_libtiff
@pytest.mark.parametrize("t4opts", [0, 1, 4, 5])
def test_g3_vs_libtiff_both_directions(t4opts):
    """T4Options bit0 = 2-D coding, bit2 = byte-aligned EOLs."""
    rng = np.random.default_rng(6)
    for shape in ((17, 83), (9, 200)):
        s = (rng.random(shape) < 0.3).astype(np.uint8)
        data = L.encode_bilevel_g3(s, t4options=t4opts)
        assert np.array_equal(decode_tiff(data)[:, :, 0],
                              255 - s * 255)
        mine = encode_tiff(s[:, :, None], photometric=0, bit_depth=1,
                           compression=3, t4options=t4opts)
        assert np.array_equal(L.decode_rgba(mine), L.decode_rgba(data))
        _check_mutants(data, t4opts * 100 + shape[1])


def test_pdf_ccitt_k_positive():
    from jsoup_spark.operators.ccitt import encode_g3
    from jsoup_spark.sources.pdf import Stream, decode_stream
    rng = np.random.default_rng(2)
    img = (rng.random((7, 40)) < 0.4).astype(np.uint8)
    st = Stream({"Filter": "CCITTFaxDecode",
                 "DecodeParms": {"K": 2, "Columns": 40, "Rows": 7,
                                 "BlackIs1": True}},
                encode_g3(img, two_d=True, k=2))
    assert decode_stream(st) == np.packbits(img, axis=1).tobytes()
