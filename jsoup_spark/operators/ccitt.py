"""CCITT Group 3/4 fax codecs (ITU-T T.4 / T.6) — the bilevel
compression of scanned-document TIFFs and PDF CCITTFaxDecode.

Implemented from the public recommendations:

* **MH** (Modified Huffman, TIFF COMPRESSION_CCITTRLE 2): each row
  codes independently as alternating white/black run lengths
  (starting with a possibly-zero white run), rows byte-aligned;
* **G3** (T.4, TIFF COMPRESSION_CCITTFAX3 3, PDF CCITTFaxDecode K>=0):
  an EOL before every row; in 2-D mode a tag bit picks an MH row or a
  G4-style row;
* **G4 / MMR** (T.6 two-dimensional, TIFF COMPRESSION_CCITTFAX4 4,
  PDF CCITTFaxDecode K<0): vertical (V0, VR/VL 1-3), horizontal
  (001 + two T.4 run codes) and pass (0001) modes against the
  previous row's changing elements; optional EOFB terminator.

Run-length code tables (t4_tables.py) are the normative T.4
constants, derived from the system libtiff's own MH encoder by
tools/extract_t4_tables.py (the brotli_data.npz precedent) and
spot-verified against the published table values; both directions of
THIS codec are differentially validated against libtiff in
tests/test_ccitt.py (our encoder -> libtiff reader, libtiff writer
-> our decoder, exhaustive run-length sweeps covering every code).
Bits go through the shared MSB-first reader and writer, and every
code (runs and 2-D modes) decodes as a bits.PrefixCode built from its
codewords, which are not canonical.

Convention: images are (h, w) uint8 arrays with 1 = black (the fax
sense; TIFF Photometric MinIsWhite renders 0 as white).
"""

from __future__ import annotations

import bisect

import numpy as np

from .bits import MsbReader, MsbWriter, PrefixCode
from .t4_tables import BLACK_CODES, WHITE_CODES

__all__ = ["encode_mh", "decode_mh", "encode_g4", "decode_g4"]

# 2-D mode codes: pass, horizontal, and vertical by offset a1 - b1
_MODES = {"p": "0001", "h": "001", 0: "1", 1: "011", -1: "010",
          2: "000011", -2: "000010", 3: "0000011", -3: "0000010"}


def _ints(codewords: dict) -> dict:
    return {k: (int(w, 2), len(w)) for k, w in codewords.items()}


def _decoder(codes: dict) -> PrefixCode:
    return PrefixCode.from_codewords(
        [(k, c, l) for k, (c, l) in codes.items()], msb=True)


# indexed by colour (0 white, 1 black): run -> (code, length) for the
# encoders, and the run-length prefix codes for the decoders
_ENC = (_ints(WHITE_CODES), _ints(BLACK_CODES))
_DEC = (_decoder(_ENC[0]), _decoder(_ENC[1]))
_MODE_ENC = _ints(_MODES)
_MODE_DEC = _decoder(_MODE_ENC)
EOL = (1, 12)                       # 000000000001
EOFB = ((1 << 12) | 1, 24)          # two EOLs


def _write_run(bw: MsbWriter, run: int, codes: dict) -> None:
    while run > 2560 + 63:
        bw.write(*codes[2560])
        run -= 2560
    if run >= 64:
        mk = (run // 64) * 64
        bw.write(*codes[mk])
        run -= mk
    bw.write(*codes[run])


def _decode_run(br: MsbReader, code: PrefixCode) -> int:
    total = 0
    while True:
        run = br.decode(code)
        total += run
        if run < 64:
            return total


def _changes(row: np.ndarray) -> list[int]:
    """Changing elements of a row (a leading 0 if it starts black)."""
    t = (np.flatnonzero(np.diff(row.astype(np.int8))) + 1).tolist()
    return [0] + t if len(row) and row[0] else t


def _stack(lines: list, width: int) -> np.ndarray:
    return np.stack(lines) if lines else np.zeros((0, width), np.uint8)


def _exhausted(br: MsbReader) -> bool:
    """Nothing but zero fill remains (< one byte of 0s)."""
    rem = 8 * len(br.data) - br.tell()
    return rem <= 0 or (rem < 8 and br.peek(rem) == 0)


def _find_b1(ref: list[int], a0: int, color: int, width: int) -> int:
    """First changing element in ref > a0 whose pixel colour is
    opposite to `color` (even transition indices are white->black)."""
    i = bisect.bisect_right(ref, a0)
    if i % 2 != color:
        i += 1
    return ref[i] if i < len(ref) else width


# ------------------------------------------------------------ 1-D rows

def _encode_row_1d(bw: MsbWriter, row: np.ndarray) -> None:
    pos = 0
    color = 0                                     # white first
    w = len(row)
    while pos < w:
        if color == 0:
            run = int(np.argmax(row[pos:] != 0)) \
                if (row[pos:] != 0).any() else w - pos
        else:
            run = int(np.argmax(row[pos:] == 0)) \
                if (row[pos:] == 0).any() else w - pos
        _write_run(bw, run, _ENC[color])
        pos += run
        color ^= 1


def _decode_row_1d(br: MsbReader, width: int) -> np.ndarray:
    row = np.zeros(width, np.uint8)
    pos = 0
    color = 0
    while pos < width:
        run = _decode_run(br, _DEC[color])
        if color:
            row[pos:pos + run] = 1
        pos += run
        color ^= 1
    if pos != width:
        raise ValueError(f"CCITT: 1-D row overrun to {pos}")
    return row


# ------------------------------------------------------------ 2-D rows

def _encode_2d_row(bw: MsbWriter, cur: list[int], ref: list[int],
                   w: int) -> None:
    a0, color = -1, 0
    ci = 0                                        # index into cur > a0
    while a0 < w:
        while ci < len(cur) and cur[ci] <= a0:
            ci += 1                               # pass mode moved a0
        a1 = cur[ci] if ci < len(cur) else w
        b1 = _find_b1(ref, a0, color, w)
        b2 = _find_b1(ref, b1, color ^ 1, w) if b1 < w else w
        if b2 < a1:
            bw.write(*_MODE_ENC["p"])
            a0 = b2
        elif abs(a1 - b1) <= 3:
            bw.write(*_MODE_ENC[a1 - b1])
            a0 = a1
            ci += 1
            color ^= 1
        else:
            a2 = cur[ci + 1] if ci + 1 < len(cur) else w
            bw.write(*_MODE_ENC["h"])
            _write_run(bw, a1 - max(a0, 0), _ENC[color])
            _write_run(bw, a2 - a1, _ENC[color ^ 1])
            a0 = a2
            ci += 2
        if a0 >= w:
            break


def _decode_2d_row(br: MsbReader, width: int,
                   ref: list[int]) -> tuple:
    out = np.zeros(width, np.uint8)
    cur: list[int] = []
    a0, color = -1, 0
    while a0 < width:
        mode = br.decode(_MODE_DEC)
        b1 = _find_b1(ref, a0, color, width)
        b2 = _find_b1(ref, b1, color ^ 1, width) if b1 < width else width
        if mode == "p":
            if color:
                out[max(a0, 0):b2] = 1
            a0 = b2
        elif mode == "h":
            start = max(a0, 0)
            a1 = start + _decode_run(br, _DEC[color])
            a2 = a1 + _decode_run(br, _DEC[color ^ 1])
            if color:
                out[start:a1] = 1
            else:
                out[a1:a2] = 1
            cur.append(min(a1, width))
            cur.append(min(a2, width))
            a0 = a2
        else:
            a1 = b1 + mode
            if color:
                out[max(a0, 0):a1] = 1
            cur.append(min(max(a1, 0), width))
            a0 = a1
            color ^= 1
        if a0 >= width:
            break
    # changing elements beyond the row edge don't exist (T.6)
    return out, [t for t in cur if t < width]


# ------------------------------------------------------------------- MH

def encode_mh(img: np.ndarray) -> bytes:
    """Modified Huffman (TIFF compression 2): byte-aligned rows."""
    bw = MsbWriter()
    for row in np.asarray(img, np.uint8):
        _encode_row_1d(bw, row)
        bw.align()
    return bw.finish()


def decode_mh(data: bytes, width: int,
              rows: int | None) -> np.ndarray:
    br = MsbReader(data)
    lines = []
    while rows is None or len(lines) < rows:
        if rows is None and _exhausted(br):
            break
        lines.append(_decode_row_1d(br, width))
        br.align()
    return _stack(lines, width)


# ------------------------------------------------------------------- G4

def encode_g4(img: np.ndarray, *, eofb: bool = True) -> bytes:
    img = np.asarray(img, np.uint8)
    w = img.shape[1]
    bw = MsbWriter()
    ref: list[int] = []                           # all-white reference
    for row in img:
        cur = _changes(row)
        _encode_2d_row(bw, cur, ref, w)
        ref = cur
    if eofb:
        bw.write(*EOFB)
    return bw.finish()


def decode_g4(data: bytes, width: int,
              rows: int | None) -> np.ndarray:
    br = MsbReader(data)
    nrows = rows if rows is not None else 1 << 20
    lines: list[np.ndarray] = []
    ref: list[int] = []
    for _ in range(nrows):
        if rows is None and (br.peek(EOFB[1]) == EOFB[0]
                             or _exhausted(br)):
            break
        row, ref = _decode_2d_row(br, width, ref)
        lines.append(row)
    return _stack(lines, width)


# -------------------------------------------------------------- G3 (T.4)

def _read_eol(br: MsbReader) -> None:
    """Consume fill zeros + the T.4 EOL (11+ zeros then a 1)."""
    zeros = 0
    while br.read(1) == 0:
        zeros += 1
    if zeros < 11:
        raise ValueError("CCITT G3: malformed EOL")


def decode_g3(data: bytes, width: int, rows: int | None, *,
              two_d: bool = False) -> np.ndarray:
    """T.4 Group 3: EOL before every row; in 2-D mode a tag bit after
    each EOL says whether the row is 1-D (MH) or 2-D (the G4 modes
    against the previous row). Fill bits before EOLs (including the
    EncodedByteAlign case) are absorbed by the EOL scan."""
    br = MsbReader(data)
    lines: list[np.ndarray] = []
    ref: list[int] = []
    while rows is None or len(lines) < rows:
        if rows is None and _exhausted(br):
            break
        try:
            _read_eol(br)
        except ValueError:
            if rows is None:
                break
            raise
        is_1d = True
        if two_d:
            is_1d = br.read(1) == 1
        # RTC: the next thing after EOL(+tag) is another EOL — no
        # run code starts with 11 zeros, so the peek is unambiguous
        if rows is None and br.peek(EOL[1]) == EOL[0]:
            break
        if is_1d:
            row = _decode_row_1d(br, width)
            ref = _changes(row)
        else:
            row, ref = _decode_2d_row(br, width, ref)
        lines.append(row)
    return _stack(lines, width)


def encode_g3(img: np.ndarray, *, two_d: bool = False,
              k: int = 0, byte_align: bool = False,
              rtc: bool = True) -> bytes:
    """T.4 Group 3 encoder. 1-D mode: EOL + MH per row. 2-D mode:
    a 1-D row every `k` rows (k=0: only the first row is 1-D, the
    rest 2-D — maximum compression, legal per spec)."""
    bw = MsbWriter()
    img = np.asarray(img, np.uint8)
    h, w = img.shape
    ref: list[int] = []
    for y in range(h):
        if byte_align:
            bw.align()
        bw.write(*EOL)
        use_1d = (not two_d) or y == 0 or (k > 0 and y % k == 0)
        if two_d:
            bw.write(int(use_1d), 1)
        cur = _changes(img[y])
        if use_1d:
            _encode_row_1d(bw, img[y])
        else:
            _encode_2d_row(bw, cur, ref, w)
        ref = cur
    if rtc:
        for _ in range(6):
            bw.write(*EOL)
            if two_d:
                bw.write(1, 1)
    return bw.finish()
