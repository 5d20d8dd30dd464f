"""Native Zstandard decoder (RFC 8878) — pure Python, no external
dependency.

zstd is the data-lake compression standard (Parquet/ORC pages, Kafka,
WARC archives, .zst files); this decoder completes the ingest tier's
transport codecs (gzip/zlib/bz2/xz via stdlib, brotli + LZ4 + zstd
native). Full single-frame format:

* frame header (descriptor, window, dictionary-id field, content
  size), skippable frames, xxHash64 content checksum (xxh64 below);
* raw / RLE / compressed blocks;
* literals: raw / RLE / Huffman-compressed / treeless (table reuse),
  1-stream and 4-stream (jump table) variants, Huffman trees from
  direct 4-bit weights or FSE-compressed weights (two interleaved
  states over a backward bitstream);
* sequences: FSE-interleaved LL/ML/OF codes with the normative
  predefined distributions, RLE and repeat table modes, the
  variable-bit normalized-count header (incl. -1 probabilities and
  zero-repeat flags), and the three-slot repeat-offset history with
  the literals-length-0 rotation rules.

Validated against the system libzstd in tests/test_zstd.py: its
encoder generates streams at every level (fast negative levels to 22)
across content kinds and window sizes; every stream must decode
byte-exactly, so no encoder of ours can mask a decoder misreading.

Reference parity anchor (semantic, not a port): extends the transport
decodings of helper/DataUtil.java (gzip) to the zstd ecosystem,
reference-free by design.
"""

from __future__ import annotations

from .bits import LsbReader


# ------------------------------------------------------------- xxh64

_P64_1 = 11400714785074694791
_P64_2 = 14029467366897019727
_P64_3 = 1609587929392839161
_P64_4 = 9650029242287828579
_P64_5 = 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl64(x, r):
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """xxHash64 (public algorithm; zstd frame checksums use its low
    32 bits)."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P64_1 + _P64_2) & _M64, (seed + _P64_2) & _M64,
             seed & _M64, (seed - _P64_1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8],
                                      "little")
                v[j] = (_rotl64((v[j] + lane * _P64_2) & _M64, 31)
                        * _P64_1) & _M64
            i += 32
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12)
             + _rotl64(v[3], 18)) & _M64
        for j in range(4):
            h ^= (_rotl64((v[j] * _P64_2) & _M64, 31) * _P64_1) & _M64
            h = (h * _P64_1 + _P64_4) & _M64
    else:
        h = (seed + _P64_5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = int.from_bytes(data[i:i + 8], "little")
        h ^= (_rotl64((k * _P64_2) & _M64, 31) * _P64_1) & _M64
        h = (_rotl64(h, 27) * _P64_1 + _P64_4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P64_1) & _M64
        h = (_rotl64(h, 23) * _P64_2 + _P64_3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P64_5) & _M64
        h = (_rotl64(h, 11) * _P64_1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h


# -------------------------------------------------- bit stream readers
# FSE headers read forward through bits.LsbReader, whose peek/skip see
# zeros past the end as the format's forward reader does

class _Back:
    """Backward reader over a forward-written LSB-first stream: the
    top set bit of the last byte marks the end; reads return the bits
    below the cursor (exactly what the writer wrote)."""

    __slots__ = ("val", "pos")

    def __init__(self, data: bytes):
        if not data or data[-1] == 0:
            raise ValueError("zstd: corrupt backward bitstream")
        self.val = int.from_bytes(data, "little")
        self.pos = self.val.bit_length() - 1   # marker bit position

    def read(self, n: int) -> int:
        # past-the-end reads pad with zeros (FSE state reload at end)
        self.pos -= n
        if self.pos >= 0:
            return (self.val >> self.pos) & ((1 << n) - 1)
        if self.pos < -64:
            raise ValueError("zstd: bitstream exhausted")
        shifted = self.val << (-self.pos)
        return shifted & ((1 << n) - 1)

    def empty(self) -> bool:
        return self.pos <= 0


# ------------------------------------------------------------- FSE

def _read_fse_table(fw: LsbReader, max_log: int, max_symbol: int):
    """FSE normalized-count header -> (accuracy_log, probs list)."""
    accuracy_log = fw.peek(4) + 5
    fw.skip(4)
    if accuracy_log > max_log:
        raise ValueError("zstd: FSE accuracy log too large")
    remaining = (1 << accuracy_log) + 1
    threshold = 1 << accuracy_log
    nbits = accuracy_log + 1
    probs = []
    prev0 = False
    while remaining > 1 and len(probs) <= max_symbol:
        if prev0:
            while fw.peek(2) == 3:
                fw.skip(2)
                probs.extend([0, 0, 0])
            n0 = fw.peek(2)
            fw.skip(2)
            probs.extend([0] * n0)
            if len(probs) > max_symbol + 1:
                raise ValueError("zstd: FSE zero-repeat overflow")
            prev0 = False
            continue
        maxv = (2 * threshold - 1) - remaining
        count = fw.peek(nbits)
        if (count & (threshold - 1)) < maxv:
            count &= threshold - 1
            fw.skip(nbits - 1)
        else:
            if count >= threshold:
                count -= maxv
            fw.skip(nbits)
        count -= 1                      # -1 = "less than 1" probability
        remaining -= -count if count < 0 else count
        probs.append(count)
        prev0 = count == 0
        while remaining < threshold:
            nbits -= 1
            threshold >>= 1
    if remaining != 1:
        raise ValueError("zstd: FSE counts do not sum to table size")
    return accuracy_log, probs


class _FseTable:
    __slots__ = ("log", "symbol", "nbits", "base")

    def __init__(self, log: int, probs):
        size = 1 << log
        self.log = log
        spread = [0] * size
        high = size - 1
        for s, p in enumerate(probs):
            if p == -1:
                spread[high] = s
                high -= 1
        step = (size >> 1) + (size >> 3) + 3
        posn = 0
        for s, p in enumerate(probs):
            for _ in range(max(p, 0)):
                spread[posn] = s
                posn = (posn + step) & (size - 1)
                while posn > high:
                    posn = (posn + step) & (size - 1)
        if posn != 0:
            raise ValueError("zstd: FSE spread error")
        nxt = [1 if p == -1 else p for p in probs]
        self.symbol = spread
        self.nbits = [0] * size
        self.base = [0] * size
        for u in range(size):
            s = spread[u]
            ns = nxt[s]
            nxt[s] += 1
            nb = log - (ns.bit_length() - 1)
            self.nbits[u] = nb
            self.base[u] = (ns << nb) - size

    @classmethod
    def rle(cls, symbol: int):
        t = cls.__new__(cls)
        t.log = 0
        t.symbol = [symbol]
        t.nbits = [0]
        t.base = [0]
        return t


class _FseState:
    __slots__ = ("table", "state")

    def __init__(self, table: _FseTable, bs: _Back):
        self.table = table
        self.state = bs.read(table.log)

    def symbol(self) -> int:
        return self.table.symbol[self.state]

    def update(self, bs: _Back):
        t = self.table
        self.state = t.base[self.state] + bs.read(t.nbits[self.state])


# --------------------------------------------------------- Huffman

class _HufTable:
    """Flat 2^max_bits lookup: peek max_bits -> (symbol, length)."""

    __slots__ = ("max_bits", "syms", "lens")

    def __init__(self, weights):
        total = sum((1 << (w - 1)) for w in weights if w)
        if total == 0:
            raise ValueError("zstd: empty huffman table")
        # last weight is implicit: total must complete a power of two
        p2 = 1 << (total - 1).bit_length()
        left = p2 - total
        if left & (left - 1) and left != 0:
            raise ValueError("zstd: bad implicit huffman weight")
        if left:
            weights = weights + [left.bit_length()]
        else:
            raise ValueError("zstd: huffman weights already complete")
        max_bits = (p2 - 1).bit_length()
        size = 1 << max_bits
        self.max_bits = max_bits
        self.syms = [0] * size
        self.lens = [0] * size
        # rank start positions: weight 1 (longest codes) fills from 0
        rank_pos = {}
        acc = 0
        for w in range(1, max_bits + 1):
            rank_pos[w] = acc
            acc += sum(1 << (w - 1) for x in weights if x == w)
        for sym, w in enumerate(weights):
            if w == 0:
                continue
            span = 1 << (w - 1)
            start = rank_pos[w]
            for i in range(start, start + span):
                self.syms[i] = sym
                self.lens[i] = max_bits + 1 - w
            rank_pos[w] = start + span

    def decode_stream(self, bs: _Back, n_out: int) -> bytearray:
        out = bytearray()
        mb = self.max_bits
        while len(out) < n_out:
            idx = bs.read(mb)
            out.append(self.syms[idx])
            bs.pos += mb - self.lens[idx]   # give back unused bits
        if bs.pos != 0:
            raise ValueError("zstd: huffman stream not fully consumed")
        return out


def _read_huf_table(data: bytes):
    """Huffman tree description -> (_HufTable, bytes consumed)."""
    if not data:
        raise ValueError("zstd: missing huffman description")
    hdr = data[0]
    if hdr >= 128:                       # direct 4-bit weights
        n = hdr - 127
        nbytes = (n + 1) // 2
        if 1 + nbytes > len(data):
            raise ValueError("zstd: truncated huffman weights")
        weights = []
        for i in range(n):
            b = data[1 + i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return _HufTable(weights), 1 + nbytes
    # FSE-compressed weights: two interleaved states, backward stream
    csize = hdr
    if 1 + csize > len(data):
        raise ValueError("zstd: truncated huffman FSE weights")
    sub = data[1:1 + csize]
    fw = LsbReader(sub)
    log, probs = _read_fse_table(fw, 6, 255)
    table = _FseTable(log, probs)
    bs = _Back(sub[(fw.tell() + 7) >> 3:])
    a = _FseState(table, bs)
    b = _FseState(table, bs)
    weights = []
    while True:
        weights.append(a.symbol())
        if len(weights) > 254:
            raise ValueError("zstd: too many huffman weights")
        # when updating this state would read past the stream start,
        # the OTHER state emits the final weight and decoding stops
        if bs.pos < table.nbits[a.state]:
            weights.append(b.symbol())
            break
        a.update(bs)
        a, b = b, a
    return _HufTable(weights), 1 + csize


# ------------------------------------------------ sequence code tables

_LL_EXTRA = (0,) * 16 + (1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11,
                         12, 13, 14, 15, 16)
_LL_BASE = tuple(range(16)) + (16, 18, 20, 22, 24, 28, 32, 40, 48, 64,
                               128, 256, 512, 1024, 2048, 4096, 8192,
                               16384, 32768, 65536)
_ML_EXTRA = (0,) * 32 + (1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10,
                         11, 12, 13, 14, 15, 16)
_ML_BASE = tuple(range(3, 35)) + (35, 37, 39, 41, 43, 47, 51, 59, 67,
                                  83, 99, 131, 259, 515, 1027, 2051,
                                  4099, 8195, 16387, 32771, 65539)

# normative predefined distributions (RFC 8878 §3.1.1.3.2.2)
_LL_DEFAULT = (6, [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
                   2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
                   -1, -1, -1, -1])
_ML_DEFAULT = (6, [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                   1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                   1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                   -1, -1, -1, -1, -1, -1, -1])
_OF_DEFAULT = (5, [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
                   1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1])

_MAX_LOG = {"ll": 9, "of": 8, "ml": 9}
_MAX_SYM = {"ll": 35, "of": 31, "ml": 52}
_DEFAULTS = {"ll": _LL_DEFAULT, "of": _OF_DEFAULT, "ml": _ML_DEFAULT}


# ------------------------------------------------------------ decoder

class _Ctx:
    __slots__ = ("huf", "tables", "reps")

    def __init__(self):
        self.huf = None                  # last huffman table
        self.tables = {}                 # last FSE tables per kind
        self.reps = [1, 4, 8]


def _decode_literals(block: bytes, ctx: _Ctx):
    """Literals section -> (literals bytes, bytes consumed)."""
    if not block:
        raise ValueError("zstd: empty compressed block")
    b0 = block[0]
    ltype = b0 & 3
    sfmt = (b0 >> 2) & 3
    if ltype in (0, 1):                  # raw / RLE
        if sfmt in (0, 2):
            regen = b0 >> 3
            pos = 1
        elif sfmt == 1:
            regen = (b0 >> 4) | (block[1] << 4)
            pos = 2
        else:
            regen = (b0 >> 4) | (block[1] << 4) | (block[2] << 12)
            pos = 3
        if ltype == 0:
            if pos + regen > len(block):
                raise ValueError("zstd: truncated raw literals")
            return block[pos:pos + regen], pos + regen
        return bytes([block[pos]]) * regen, pos + 1
    # compressed / treeless
    if sfmt == 0:
        regen = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        csize = (block[1] >> 6) | (block[2] << 2)
        pos = 3
        four = False
    elif sfmt == 1:
        regen = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        csize = (block[1] >> 6) | (block[2] << 2)
        pos = 3
        four = True
    elif sfmt == 2:
        regen = (b0 >> 4) | (block[1] << 4) | ((block[2] & 3) << 12)
        csize = (block[2] >> 2) | (block[3] << 6)
        pos = 4
        four = True
    else:
        regen = (b0 >> 4) | (block[1] << 4) | ((block[2] & 0x3F) << 12)
        csize = (block[2] >> 6) | (block[3] << 2) | (block[4] << 10)
        pos = 5
        four = True
    if pos + csize > len(block):
        raise ValueError("zstd: truncated compressed literals")
    payload = block[pos:pos + csize]
    if ltype == 2:
        huf, used = _read_huf_table(payload)
        ctx.huf = huf
        payload = payload[used:]
    else:
        huf = ctx.huf
        if huf is None:
            raise ValueError("zstd: treeless literals with no table")
    if not four:
        out = huf.decode_stream(_Back(payload), regen)
    else:
        if len(payload) < 6:
            raise ValueError("zstd: truncated 4-stream jump table")
        s1 = int.from_bytes(payload[0:2], "little")
        s2 = int.from_bytes(payload[2:4], "little")
        s3 = int.from_bytes(payload[4:6], "little")
        rest = payload[6:]
        if s1 + s2 + s3 > len(rest):
            raise ValueError("zstd: bad jump table")
        part = (regen + 3) // 4
        out = bytearray()
        chunks = (rest[:s1], rest[s1:s1 + s2],
                  rest[s1 + s2:s1 + s2 + s3], rest[s1 + s2 + s3:])
        for k, chunk in enumerate(chunks):
            want = part if k < 3 else regen - 3 * part
            if want < 0:
                raise ValueError("zstd: bad 4-stream sizes")
            out += huf.decode_stream(_Back(chunk), want)
    if len(out) != regen:
        raise ValueError("zstd: literals size mismatch")
    return bytes(out), pos + csize


def _decode_block(block: bytes, ctx: _Ctx, out: bytearray,
                  max_output: int):
    literals, pos = _decode_literals(block, ctx)
    rest = block[pos:]
    if not rest:
        raise ValueError("zstd: missing sequences section")
    b0 = rest[0]
    if b0 == 0:
        nseq = 0
        rest = rest[1:]
    elif b0 < 128:
        nseq = b0
        rest = rest[1:]
    elif b0 < 255:
        nseq = ((b0 - 128) << 8) | rest[1]
        rest = rest[2:]
    else:
        nseq = int.from_bytes(rest[1:3], "little") + 0x7F00
        rest = rest[3:]
    if nseq == 0:
        if rest:
            raise ValueError("zstd: trailing bytes after sequences")
        out += literals
        if len(out) > max_output:
            raise ValueError("zstd: output limit exceeded")
        return
    modes = rest[0]
    if modes & 3:
        raise ValueError("zstd: reserved sequence mode bits")
    ll_mode = (modes >> 6) & 3
    of_mode = (modes >> 4) & 3
    ml_mode = (modes >> 2) & 3
    # table descriptions (or RLE symbol bytes) follow in LL, OF, ML
    # order; walk them with a byte cursor
    stream = rest[1:]
    cursor = 0

    def table_for(mode, kind):
        nonlocal cursor
        if mode == 1:
            if cursor >= len(stream) or stream[cursor] > _MAX_SYM[kind]:
                raise ValueError("zstd: bad RLE sequence symbol")
            t = _FseTable.rle(stream[cursor])
            ctx.tables[kind] = t
            cursor += 1
            return t
        if mode == 2:
            f = LsbReader(stream[cursor:])
            log, probs = _read_fse_table(f, _MAX_LOG[kind],
                                         _MAX_SYM[kind])
            cursor += (f.tell() + 7) >> 3
            t = _FseTable(log, probs)
            ctx.tables[kind] = t
            return t
        if mode == 0:
            log, probs = _DEFAULTS[kind]
            t = _FseTable(log, probs)
            ctx.tables[kind] = t
            return t
        t = ctx.tables.get(kind)
        if t is None:
            raise ValueError("zstd: repeat mode with no previous table")
        return t

    t_ll = table_for(ll_mode, "ll")
    t_of = table_for(of_mode, "of")
    t_ml = table_for(ml_mode, "ml")
    bs = _Back(stream[cursor:])
    st_ll = _FseState(t_ll, bs)
    st_of = _FseState(t_of, bs)
    st_ml = _FseState(t_ml, bs)
    lit_pos = 0
    reps = ctx.reps
    for i in range(nseq):
        of_code = st_of.symbol()
        if of_code > 31:
            raise ValueError("zstd: offset code too large")
        offset_val = (1 << of_code) + bs.read(of_code)
        ml_code = st_ml.symbol()
        match_len = _ML_BASE[ml_code] + bs.read(_ML_EXTRA[ml_code])
        ll_code = st_ll.symbol()
        lit_len = _LL_BASE[ll_code] + bs.read(_LL_EXTRA[ll_code])
        if offset_val > 3:
            offset = offset_val - 3
            reps[2] = reps[1]
            reps[1] = reps[0]
            reps[0] = offset
        else:
            idx = offset_val + (1 if lit_len == 0 else 0)
            if idx == 1:
                offset = reps[0]
            elif idx == 2:
                offset = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
            elif idx == 3:
                offset = reps[2]
                reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
            else:
                offset = reps[0] - 1
                if offset == 0:
                    raise ValueError("zstd: zero repeat offset")
                reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
        if lit_pos + lit_len > len(literals):
            raise ValueError("zstd: literals overrun")
        out += literals[lit_pos:lit_pos + lit_len]
        lit_pos += lit_len
        if offset > len(out):
            raise ValueError("zstd: match offset too far back")
        if len(out) + match_len > max_output:
            raise ValueError("zstd: output limit exceeded")
        if offset >= match_len:
            out += out[-offset:len(out) - offset + match_len]
        else:
            for _ in range(match_len):
                out.append(out[-offset])
        if i + 1 < nseq:
            st_ll.update(bs)
            st_ml.update(bs)
            st_of.update(bs)
    if bs.pos != 0:
        raise ValueError("zstd: sequence bitstream not fully consumed")
    out += literals[lit_pos:]
    if len(out) > max_output:
        raise ValueError("zstd: output limit exceeded")


def decompress(data: bytes, max_output: int = 1 << 31) -> bytes:
    """zstd frame(s) -> bytes (concatenated frames, skippable frames
    ignored). Raises ValueError on malformed input."""
    out = bytearray()
    pos = 0
    n = len(data)
    got_frame = False
    while pos < n:
        magic = int.from_bytes(data[pos:pos + 4], "little")
        if (magic & 0xFFFFFFF0) == 0x184D2A50:    # skippable frame
            if pos + 8 > n:
                raise ValueError("zstd: truncated skippable frame")
            size = int.from_bytes(data[pos + 4:pos + 8], "little")
            pos += 8 + size
            if pos > n:
                raise ValueError("zstd: truncated skippable frame")
            continue
        if magic != 0xFD2FB528:
            raise ValueError("zstd: bad frame magic")
        got_frame = True
        pos += 4
        if pos >= n:
            raise ValueError("zstd: truncated frame header")
        fhd = data[pos]
        pos += 1
        fcs_field = fhd >> 6
        single_segment = (fhd >> 5) & 1
        if (fhd >> 3) & 3:
            raise ValueError("zstd: reserved frame header bits")
        checksum = (fhd >> 2) & 1
        did_field = fhd & 3
        if not single_segment:
            pos += 1                     # window descriptor (unused)
        pos += (0, 1, 2, 4)[did_field]
        fcs_len = (1 if single_segment else 0, 2, 4, 8)[fcs_field]
        content_size = None
        if fcs_len:
            content_size = int.from_bytes(data[pos:pos + fcs_len],
                                          "little")
            if fcs_len == 2:
                content_size += 256
            pos += fcs_len
        if pos > n:
            raise ValueError("zstd: truncated frame header")

        ctx = _Ctx()
        frame_start = len(out)
        while True:
            if pos + 3 > n:
                raise ValueError("zstd: truncated block header")
            hdr = int.from_bytes(data[pos:pos + 3], "little")
            pos += 3
            last = hdr & 1
            btype = (hdr >> 1) & 3
            bsize = hdr >> 3
            if btype == 0:               # raw
                if pos + bsize > n:
                    raise ValueError("zstd: truncated raw block")
                out += data[pos:pos + bsize]
                pos += bsize
            elif btype == 1:             # RLE
                if pos >= n:
                    raise ValueError("zstd: truncated RLE block")
                out += bytes([data[pos]]) * bsize
                pos += 1
            elif btype == 2:             # compressed
                if pos + bsize > n:
                    raise ValueError("zstd: truncated block")
                _decode_block(data[pos:pos + bsize], ctx, out,
                              max_output)
                pos += bsize
            else:
                raise ValueError("zstd: reserved block type")
            if len(out) > max_output:
                raise ValueError("zstd: output limit exceeded")
            if last:
                break
        if content_size is not None \
                and len(out) - frame_start != content_size:
            raise ValueError("zstd: content size mismatch")
        if checksum:
            if pos + 4 > n:
                raise ValueError("zstd: truncated checksum")
            want = int.from_bytes(data[pos:pos + 4], "little")
            if xxh64(bytes(out[frame_start:])) & 0xFFFFFFFF != want:
                raise ValueError("zstd: content checksum mismatch")
            pos += 4
    if not got_frame:
        raise ValueError("zstd: no frame found")
    return bytes(out)


# ------------------------------------------------------- store encoder

def compress_store(data: bytes, *, checksum: bool = True,
                   block_size: int = (1 << 17) - 1) -> bytes:
    """Zstandard STORE-mode encoder (RFC 8878): a spec-shaped frame of
    Raw_Block payloads — the zero-dependency write path (the brotli
    store-mode precedent). Single-segment frame header with the exact
    content size, optional xxh64 content checksum (low 32 bits).
    Validated against libzstd's own decoder in tests/test_zstd.py."""
    import struct as _st
    n = len(data)
    out = bytearray(_st.pack("<I", 0xFD2FB528))
    # Frame_Header_Descriptor: single-segment, FCS field sized to fit
    if n < 256:
        fhd = 0x20                           # single-segment, FCS 1 byte
        fcs = _st.pack("<B", n)
    elif n < (1 << 16) + 256:
        fhd = 0x20 | 0x40                    # FCS 2 bytes (minus 256)
        fcs = _st.pack("<H", n - 256)
    else:
        fhd = 0x20 | 0x80                    # FCS 4 bytes
        fcs = _st.pack("<I", n)
    if checksum:
        fhd |= 0x04
    out.append(fhd)
    out += fcs
    if n == 0:
        out += (1).to_bytes(3, "little")     # last=1, Raw, size 0
    else:
        for i in range(0, n, block_size):
            chunk = data[i:i + block_size]
            last = 1 if i + block_size >= n else 0
            header = last | (0 << 1) | (len(chunk) << 3)
            out += header.to_bytes(3, "little")
            out += chunk
    if checksum:
        out += _st.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return bytes(out)
