"""Native Brotli decoder (RFC 7932) — pure Python + numpy.

Brotli is the second web content-encoding (`Content-Encoding: br`)
after gzip; this decoder extends the ingest tier
(sources/ingest._inflate handles gzip/zlib) to .br payloads with
no external codec dependency at runtime.

Complete static-format coverage: stream header (window bits),
uncompressed / metadata / compressed meta-blocks, simple (1-4 symbol)
and complex prefix codes (code-length code with HSKIP, the 16/17
accumulating repeat rule, 32768-space termination, single-symbol
codes), block switching for all three categories (type codes with
prev/+1 semantics, length codes over the 26-entry table), literal
context modeling (LSB6/MSB6/UTF8/Signed via the normative lookup
table), context maps (RLE zeros + inverse move-to-front), NPOSTFIX /
NDIRECT distance decomposition, the 16 distance short codes over the
ring buffer, and STATIC DICTIONARY references with all 121 word
transforms (OmitFirst/OmitLast/UppercaseFirst/UppercaseAll with the
UTF-8 ferment rule). Bits and prefix codes go through the shared
LSB-first reader and table-driven PrefixCode of operators/bits.py. A
command whose copy runs past the meta-block length fails the stream,
as it does in libbrotlidec (BROTLI_DECODER_ERROR_FORMAT_BLOCK_LENGTH_2).

The normative static tables (the 122,784-byte dictionary, the
transform triplets + prefix/suffix pool, the context lookup table —
RFC 7932 Appendices A/B, §7.1) live in brotli_data.npz, extracted once
from the reference implementation by tools/extract_brotli_tables.py.

Validated against the system libbrotli in tests/test_brotli.py:
streams from libbrotlienc at every quality 0-11 and window size decode
byte-identically, and the transform engine is replayed word-for-word
against BrotliTransformDictionaryWord.

Reference parity anchor (semantic, not a port): the reference engine
handles gzip/deflate transport encodings (helper/DataUtil.java); this
extends the same contract to brotli, reference-free by design.
"""

from __future__ import annotations

import os

import numpy as np

from .bits import LsbReader, LsbWriter, PrefixCode

_T = None


def _tables():
    global _T
    if _T is None:
        path = os.path.join(os.path.dirname(__file__), "brotli_data.npz")
        z = np.load(path)
        _T = {k: z[k] for k in z.files}
        _T["dict_bytes"] = _T["dict_data"].tobytes()
        _T["pool"] = _T["prefix_suffix"].tobytes()
        _T["context_lut"] = _T["context_lut"].tolist()
    return _T


# the code-length code's code lengths, a fixed code (RFC 7932 3.5)
_CL_LEN = PrefixCode.from_codewords(
    [(0, 0b00, 2), (3, 0b01, 2), (4, 0b10, 2), (2, 0b110, 3),
     (1, 0b1110, 4), (5, 0b1111, 4)])

_CL_ORDER = (1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _alphabet_bits(size: int) -> int:
    return max(1, (size - 1).bit_length())


def _read_prefix_code(br: LsbReader, alphabet: int) -> PrefixCode:
    hskip = br.read(2)
    if hskip == 1:                          # simple code
        nsym = br.read(2) + 1
        bits = _alphabet_bits(alphabet)
        syms = []
        for _ in range(nsym):
            s = br.read(bits)
            if s >= alphabet or s in syms:
                raise ValueError("brotli: bad simple code symbol")
            syms.append(s)
        # symbols of equal length take codes in symbol order
        if nsym < 4:
            return PrefixCode(((1,), (1, 1), (1, 2, 2))[nsym - 1], syms)
        if br.read(1) == 0:                 # tree-select
            return PrefixCode((2, 2, 2, 2), syms)
        return PrefixCode((1, 2, 3, 3), syms)

    # complex code: read the code-length code
    cl_lengths = [0] * 18
    space = 32
    num_codes = 0
    for i in range(hskip, 18):
        ln = br.decode(_CL_LEN)
        cl_lengths[_CL_ORDER[i]] = ln
        if ln:
            space -= 32 >> ln
            num_codes += 1
            if space <= 0:
                break
    if num_codes != 1 and space != 0:
        raise ValueError("brotli: code-length code over/under-subscribed")
    cl_code = PrefixCode(cl_lengths)

    lengths = [0] * alphabet
    symbol = 0
    space = 32768
    prev_len = 8
    repeat = 0
    repeat_len = 0
    while symbol < alphabet and space > 0:
        cl = br.decode(cl_code)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                space -= 32768 >> cl
                prev_len = cl
            repeat = 0
        else:
            extra = 2 if cl == 16 else 3
            new_len = prev_len if cl == 16 else 0
            if repeat_len != new_len or repeat == 0:
                repeat = 0
                repeat_len = new_len
            old = repeat
            if repeat:
                repeat = (repeat - 2) << extra
            repeat += br.read(extra) + 3
            delta = repeat - old
            if symbol + delta > alphabet:
                raise ValueError("brotli: repeat past alphabet end")
            for _ in range(delta):
                lengths[symbol] = repeat_len
                symbol += 1
            if repeat_len:
                space -= delta << (15 - repeat_len)
    nz = sum(1 for x in lengths if x)
    if nz != 1 and space != 0:
        raise ValueError("brotli: prefix code over/under-subscribed")
    return PrefixCode(lengths)


def _read_count(br: LsbReader) -> int:
    """NBLTYPES / NTREES variable-length count (1..256)."""
    if br.read(1) == 0:
        return 1
    n = br.read(3)
    if n == 0:
        return 2
    return (1 << n) + 1 + br.read(n)


_BLOCK_LEN = (
    (1, 2), (5, 2), (9, 2), (13, 2), (17, 3), (25, 3), (33, 3), (41, 3),
    (49, 4), (65, 4), (81, 4), (97, 4), (113, 5), (145, 5), (177, 5),
    (209, 5), (241, 6), (305, 6), (369, 7), (497, 8), (753, 9),
    (1265, 10), (2289, 11), (4337, 12), (8433, 13), (16625, 24))

_INSERT = (
    (0, 0), (1, 0), (2, 0), (3, 0), (4, 0), (5, 0), (6, 1), (8, 1),
    (10, 2), (14, 2), (18, 3), (26, 3), (34, 4), (50, 4), (66, 5),
    (98, 5), (130, 6), (194, 7), (322, 8), (578, 9), (1090, 10),
    (2114, 12), (6210, 14), (22594, 24))

_COPY = (
    (2, 0), (3, 0), (4, 0), (5, 0), (6, 0), (7, 0), (8, 0), (9, 0),
    (10, 1), (12, 1), (14, 2), (18, 2), (22, 3), (30, 3), (38, 4),
    (54, 4), (70, 5), (102, 5), (134, 6), (198, 7), (326, 8), (582, 9),
    (1094, 10), (2118, 24))

_INS_RANGE = (0, 0, 8, 8, 0, 16, 8, 16, 16)
_CPY_RANGE = (0, 8, 0, 8, 16, 0, 16, 8, 16)

_SHORT_IDX = (3, 2, 1, 0, 3, 3, 3, 3, 3, 3, 2, 2, 2, 2, 2, 2)
_SHORT_OFF = (0, 0, 0, 0, -1, 1, -2, 2, -3, 3, -1, 1, -2, 2, -3, 3)


def _read_wbits(br: LsbReader) -> int:
    if br.read(1) == 0:
        return 16
    n = br.read(3)
    if n != 0:
        return 17 + n
    n = br.read(3)
    if n == 1:
        raise ValueError("brotli: reserved window bits")
    if n != 0:
        return 8 + n
    return 17


def _align(br: LsbReader) -> None:
    if br.align():
        raise ValueError("brotli: non-zero padding bits")


def _read_block_len(br: LsbReader, code: PrefixCode) -> int:
    sym = br.decode(code)
    base, extra = _BLOCK_LEN[sym]
    return base + br.read(extra)


def _read_context_map(br: LsbReader, n_trees: int, size: int) -> list:
    cmap = [0] * size
    if n_trees == 1:
        return cmap
    rlemax = (br.read(4) + 1) if br.read(1) else 0
    code = _read_prefix_code(br, n_trees + rlemax)
    i = 0
    while i < size:
        sym = br.decode(code)
        if sym == 0:
            cmap[i] = 0
            i += 1
        elif sym <= rlemax:
            reps = (1 << sym) + br.read(sym)
            if i + reps > size:
                raise ValueError("brotli: context-map run too long")
            i += reps                       # zeros
        else:
            cmap[i] = sym - rlemax
            i += 1
    if br.read(1):                          # inverse move-to-front
        mtf = list(range(256))
        for j in range(size):
            v = cmap[j]
            cmap[j] = mtf[v]
            if v:
                mtf.insert(0, mtf.pop(v))
    return cmap


def _ferment(word: bytearray, i: int) -> int:
    c = word[i]
    if c < 192:
        if 97 <= c <= 122:
            word[i] = c ^ 32
        return 1
    if c < 224:
        if i + 1 < len(word):
            word[i + 1] ^= 32
        return 2
    if i + 2 < len(word):
        word[i + 2] ^= 5
    return 3


def transform_word(word: bytes, transform_id: int) -> bytes:
    """Apply RFC 7932 word transform `transform_id` (0..120)."""
    t = _tables()
    pfx_id, typ, sfx_id = t["triplets"][transform_id * 3:
                                        transform_id * 3 + 3]
    pool, ps_map = t["pool"], t["ps_map"]

    def seg(i):
        o = ps_map[i]
        return pool[o + 1:o + 1 + pool[o]]

    w = bytearray(word)
    if 12 <= typ <= 20:                     # OmitFirst1..9
        w = w[typ - 11:]
    elif 1 <= typ <= 9:                     # OmitLast1..9
        w = w[:max(0, len(w) - typ)]
    elif typ == 10 and w:                   # UppercaseFirst
        _ferment(w, 0)
    elif typ == 11:                         # UppercaseAll
        i = 0
        while i < len(w):
            i += _ferment(w, i)
    return seg(pfx_id) + bytes(w) + seg(sfx_id)


def _dict_word(copy_len: int, word_id: int) -> bytes:
    t = _tables()
    if not 4 <= copy_len <= 24:
        raise ValueError("brotli: bad dictionary reference length")
    shift = int(t["size_bits"][copy_len])
    if shift == 0:
        raise ValueError("brotli: no dictionary words of this length")
    index = word_id & ((1 << shift) - 1)
    transform_id = word_id >> shift
    if transform_id >= 121:
        raise ValueError("brotli: invalid transform id")
    off = int(t["offsets"][copy_len]) + index * copy_len
    word = t["dict_bytes"][off:off + copy_len]
    return transform_word(word, transform_id)


class _Category:
    """Block-switching state for one of the L/I/D categories."""

    __slots__ = ("n", "types", "counts", "cur", "prev", "left")

    def __init__(self, br, n):
        self.n = n
        self.cur, self.prev = 0, 1
        if n > 1:
            self.types = _read_prefix_code(br, n + 2)
            self.counts = _read_prefix_code(br, 26)
            self.left = _read_block_len(br, self.counts)
        else:
            self.left = 1 << 60

    def switch(self, br):
        sym = br.decode(self.types)
        if sym == 0:
            nt = self.prev
        elif sym == 1:
            nt = (self.cur + 1) % self.n
        else:
            nt = sym - 2
        self.prev, self.cur = self.cur, nt
        self.left = _read_block_len(br, self.counts)

    def tick(self, br):
        if self.left == 0:
            self.switch(br)
        self.left -= 1


def decompress(data: bytes, max_output: int = 1 << 31) -> bytes:
    """Brotli stream -> bytes. Raises ValueError on malformed input."""
    t = _tables()
    ctx_lut = t["context_lut"]
    br = LsbReader(data)
    wbits = _read_wbits(br)
    window = (1 << wbits) - 16
    out = bytearray()
    # distance ring buffer exactly as the reference keeps it: rotating
    # write index, short code i reads at (idx + _SHORT_IDX[i]) & 3 —
    # so the initial "last distance" (code 0) is 4
    dist_rb = [16, 15, 11, 4]
    rb_idx = 0

    while True:
        islast = br.read(1)
        if islast and br.read(1):           # ISLASTEMPTY
            break
        mnib = br.read(2)
        if mnib == 3:                       # metadata block
            if br.read(1):
                raise ValueError("brotli: reserved metadata bit")
            skip_bytes = br.read(2)
            skip = 0
            for i in range(skip_bytes):
                b = br.read(8)
                if i == skip_bytes - 1 and skip_bytes > 1 and b == 0:
                    raise ValueError("brotli: zero metadata length byte")
                skip |= b << (8 * i)
            skip = skip + 1 if skip_bytes else 0
            _align(br)
            br.read_bytes(skip)
            if islast:
                break
            continue
        mlen = br.read(4 * (4 + mnib)) + 1
        if mnib and ((mlen - 1) >> (4 * (3 + mnib))) == 0:
            raise ValueError("brotli: non-minimal MNIBBLES")
        if len(out) + mlen > max_output:
            raise ValueError("brotli: output limit exceeded")
        if not islast and br.read(1):       # ISUNCOMPRESSED
            _align(br)
            out += br.read_bytes(mlen)
            continue

        cat_l = _Category(br, _read_count(br))
        cat_i = _Category(br, _read_count(br))
        cat_d = _Category(br, _read_count(br))
        npostfix = br.read(2)
        ndirect = br.read(4) << npostfix
        modes = [br.read(2) for _ in range(cat_l.n)]
        n_trees_l = _read_count(br)
        cmap_l = _read_context_map(br, n_trees_l, 64 * cat_l.n)
        n_trees_d = _read_count(br)
        cmap_d = _read_context_map(br, n_trees_d, 4 * cat_d.n)
        dist_alphabet = 16 + ndirect + (48 << npostfix)
        trees_l = [_read_prefix_code(br, 256) for _ in range(n_trees_l)]
        trees_i = [_read_prefix_code(br, 704) for _ in range(cat_i.n)]
        trees_d = [_read_prefix_code(br, dist_alphabet)
                   for _ in range(n_trees_d)]
        postfix_mask = (1 << npostfix) - 1

        produced = 0
        while produced < mlen:
            cat_i.tick(br)
            cmd = br.decode(trees_i[cat_i.cur])
            r = cmd >> 6
            implicit0 = r < 2
            r = r if r < 2 else r - 2
            ins_code = _INS_RANGE[r] + ((cmd >> 3) & 7)
            cpy_code = _CPY_RANGE[r] + (cmd & 7)
            base, extra = _INSERT[ins_code]
            insert_len = base + br.read(extra) if extra else base
            base, extra = _COPY[cpy_code]
            copy_len = base + br.read(extra) if extra else base

            if insert_len > mlen - produced:
                raise ValueError("brotli: insert past block end")
            for _ in range(insert_len):
                cat_l.tick(br)
                p1 = out[-1] if out else 0
                p2 = out[-2] if len(out) >= 2 else 0
                lut = modes[cat_l.cur] << 9
                ctx = ctx_lut[lut + p1] | ctx_lut[lut + 256 + p2]
                tree = trees_l[cmap_l[(cat_l.cur << 6) + ctx]]
                out.append(br.decode(tree))
                produced += 1
            if produced == mlen:
                break                       # copy part skipped

            max_dist = min(len(out), window)
            if implicit0:
                distance = dist_rb[(rb_idx + 3) & 3]
                dist_code = 0
            else:
                cat_d.tick(br)
                dctx = min(copy_len - 2, 3)
                tree = trees_d[cmap_d[(cat_d.cur << 2) + dctx]]
                dist_code = br.decode(tree)
                if dist_code < 16:
                    distance = dist_rb[(rb_idx + _SHORT_IDX[dist_code])
                                       & 3] + _SHORT_OFF[dist_code]
                    if distance <= 0:
                        raise ValueError("brotli: non-positive distance")
                elif dist_code < 16 + ndirect:
                    distance = dist_code - 16 + 1
                else:
                    c = dist_code - ndirect - 16
                    nbits = 1 + (c >> (npostfix + 1))
                    hcode = c >> npostfix
                    lcode = c & postfix_mask
                    offset = ((2 + (hcode & 1)) << nbits) - 4
                    distance = ((offset + br.read(nbits)) << npostfix) \
                        + lcode + ndirect + 1

            # a copy past MLEN fails the stream, as in libbrotlidec
            # (BROTLI_DECODER_ERROR_FORMAT_BLOCK_LENGTH_2)
            if distance > max_dist:
                word = _dict_word(copy_len, distance - max_dist - 1)
                if len(word) > mlen - produced:
                    raise ValueError("brotli: copy past meta-block end")
                out += word
                produced += len(word)
            else:
                if distance > len(out):
                    raise ValueError("brotli: distance too far back")
                if copy_len > mlen - produced:
                    raise ValueError("brotli: copy past meta-block end")
                if distance >= copy_len:
                    out += out[-distance:len(out) - distance + copy_len]
                else:
                    for _ in range(copy_len):
                        out.append(out[-distance])
                produced += copy_len
                if dist_code != 0:
                    dist_rb[rb_idx & 3] = distance
                    rb_idx = (rb_idx + 1) & 3
        if islast:
            break
    # trailing padding must be zero bits then end of stream
    _align(br)
    if br.tell() != 8 * len(br.data):
        raise ValueError("brotli: trailing garbage")
    return bytes(out)


def compress_stored(data: bytes, wbits: int = 22) -> bytes:
    """Minimal spec-conformant brotli ENCODER: uncompressed
    meta-blocks only (RFC 7932 §9.2 ISUNCOMPRESSED). No entropy coding
    — the point is producing LEGAL streams any decoder accepts with
    zero dependencies, for round-trip tests and synthetic .br corpora
    (the encode_png_ex / encode_gif zero-fixtures tradition). Real
    compression belongs to the transport layer that produced the
    payload; this engine only needs to READ brotli."""
    bw = LsbWriter()
    put = bw.write

    if wbits == 16:
        put(0, 1)
    elif 18 <= wbits <= 24:
        put(1, 1)
        put(wbits - 17, 3)
    elif wbits == 17:
        put(1, 1)
        put(0, 3)
        put(0, 3)
    elif 10 <= wbits <= 14:
        put(1, 1)
        put(0, 3)
        put(wbits - 8, 3)
    else:
        raise ValueError("bad window bits")
    pos = 0
    n = len(data)
    if n == 0:
        put(1, 1)               # ISLAST
        put(1, 1)               # ISLASTEMPTY
        return bw.finish()
    while pos < n:
        chunk = min(n - pos, 1 << 24)
        last_chunk = pos + chunk == n
        put(0, 1)               # ISLAST=0 (uncompressed needs it)
        nibbles = 4 if chunk <= 1 << 16 else (
            5 if chunk <= 1 << 20 else 6)
        put(nibbles - 4, 2)
        put(chunk - 1, nibbles * 4)
        put(1, 1)               # ISUNCOMPRESSED
        bw.align()
        bw.out += data[pos:pos + chunk]
        pos += chunk
        if last_chunk:
            put(1, 1)           # ISLAST
            put(1, 1)           # ISLASTEMPTY
    return bw.finish()
