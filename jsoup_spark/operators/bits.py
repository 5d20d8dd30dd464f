"""Bit-level primitives shared by the pure-Python entropy codecs.

* `LsbReader` / `LsbWriter`: bytes in order, bits least-significant
  first within each byte (brotli, VP8L, zstd's FSE headers).
* `MsbReader` / `MsbWriter`: bits most-significant first (CCITT
  T.4/T.6, JPEG, TIFF LZW).
* `PrefixCode`: a prefix code built from code lengths (canonical,
  DEFLATE-style assignment) or from explicit codewords, decoded
  through a lookup table over the next <= 11 stream bits with an exact
  per-bit fallback.

A reader consumes its data through a bit accumulator. `read(n)` raises
ValueError when it would run past the end of the data; `peek(n)` and
`skip(n)` see zero bits there instead, so a later `read` is what
raises. `decode(code)` reads one symbol of a `PrefixCode` built for the
reader's bit order.
"""

from __future__ import annotations

#: longest code resolved by one table lookup; longer codes (and table
#: misses) take the per-bit path, so a hostile 15-bit code cannot force
#: a 32k-entry table build
TABLE_BITS = 11


class _Reader:
    # acc holds the next `nbits` unread bits and data[:pos] is loaded;
    # nbits goes negative only when skip() runs past the end
    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = bytes(data)
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def tell(self) -> int:
        """Bits consumed so far (past the end after an overrunning skip)."""
        return 8 * self.pos - self.nbits

    def skip(self, n: int) -> None:
        if self.nbits < n:
            self._fill(n)
        if self.nbits >= n:
            self.read(n)
        else:
            self.acc = 0
            self.nbits -= n

    def align(self) -> int:
        """Move to the next byte boundary; returns the skipped bits."""
        return self.read(self.nbits & 7)

    def read_bytes(self, n: int) -> bytes:
        """`n` whole bytes from a byte boundary."""
        i = self.tell() >> 3
        if self.nbits & 7 or i + n > len(self.data):
            raise ValueError("truncated byte run")
        self.pos = i + n
        self.acc = self.nbits = 0
        return self.data[i:i + n]

    def decode_slow(self, code) -> int:
        # exact per-bit walk: table misses, long codes, end of data
        words = code.words
        acc = 1
        for _ in range(code.maxlen):
            acc = (acc << 1) | self.read(1)
            if acc in words:
                return words[acc]
        raise ValueError("invalid prefix code word")


class LsbReader(_Reader):
    """Bits least-significant first: the first stream bit is bit 0."""

    __slots__ = ()

    def _fill(self, n: int) -> None:
        p = self.pos
        chunk = self.data[p:p + 7 + (n >> 3)]
        if chunk:
            self.acc |= int.from_bytes(chunk, "little") << self.nbits
            self.nbits += 8 * len(chunk)
            self.pos = p + len(chunk)

    def read(self, n: int) -> int:
        if self.nbits < n:
            self._fill(n)
            if self.nbits < n:
                raise ValueError("truncated bitstream")
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v

    def peek(self, n: int) -> int:
        if self.nbits < n:
            self._fill(n)
        return self.acc & ((1 << n) - 1)

    def decode(self, code) -> int:
        bits = code.bits
        if not bits:
            return code.single
        if self.nbits < bits:
            self._fill(bits)
        e = code.table[self.acc & code.mask]
        if e is not None:
            s, l = e
            if l <= self.nbits:
                self.acc >>= l
                self.nbits -= l
                return s
        return self.decode_slow(code)


class MsbReader(_Reader):
    """Bits most-significant first: the first stream bit is bit n-1.
    Only the low `nbits` bits of `acc` are unread; the rest are masked
    off when it is refilled."""

    __slots__ = ()

    def _fill(self, n: int) -> None:
        p = self.pos
        chunk = self.data[p:p + 7 + (n >> 3)]
        if chunk:
            self.acc = ((self.acc & ((1 << self.nbits) - 1))
                        << 8 * len(chunk)) | int.from_bytes(chunk, "big")
            self.nbits += 8 * len(chunk)
            self.pos = p + len(chunk)

    def read(self, n: int) -> int:
        if self.nbits < n:
            self._fill(n)
            if self.nbits < n:
                raise ValueError("truncated bitstream")
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        if self.nbits < n:
            self._fill(n)
            if self.nbits < n:
                if self.nbits <= 0:
                    return 0
                return (self.acc & ((1 << self.nbits) - 1)) \
                    << (n - self.nbits)
        return (self.acc >> (self.nbits - n)) & ((1 << n) - 1)

    def decode(self, code) -> int:
        bits = code.bits
        if not bits:
            return code.single
        if self.nbits < bits:
            self._fill(bits)
        nbits = self.nbits
        if nbits >= bits:
            e = code.table[(self.acc >> (nbits - bits)) & code.mask]
            if e is not None:
                self.nbits = nbits - e[1]
                return e[0]
        return self.decode_slow(code)


class LsbWriter:
    """Mirror of LsbReader."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        acc = self.acc | (v & ((1 << n) - 1)) << self.nbits
        nbits = self.nbits + n
        out = self.out
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        self.acc, self.nbits = acc, nbits

    def align(self) -> None:
        """Zero-pad to a byte boundary."""
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = self.nbits = 0

    def finish(self) -> bytes:
        self.align()
        return bytes(self.out)


class MsbWriter:
    """Mirror of MsbReader."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        acc = (self.acc << n) | (v & ((1 << n) - 1))
        nbits = self.nbits + n
        out = self.out
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        self.acc, self.nbits = acc & ((1 << nbits) - 1), nbits

    def align(self) -> None:
        """Zero-pad to a byte boundary."""
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
            self.acc = self.nbits = 0

    def finish(self) -> bytes:
        self.align()
        return bytes(self.out)


# _REV[c] is the 11-bit value c with its bits in reverse order
_REV = [int(format(c, "011b")[::-1], 2) for c in range(1 << TABLE_BITS)]


def reverse_bits(c: int, n: int) -> int:
    """The low `n` bits of `c` in reverse order."""
    if n <= TABLE_BITS:
        return _REV[c] >> (TABLE_BITS - n)
    return int(format(c, "0%db" % n)[::-1], 2)


def canonical_codes(lengths, symbols=None) -> list:
    """DEFLATE-style canonical assignment: `(symbol, code, length)` for
    every non-zero length, shorter codes first and ties by symbol value.
    `lengths[i]` belongs to `symbols[i]` (default: symbol i). Codes are
    integers whose most significant bit is sent first; a code that does
    not fit in its length means the lengths are over-subscribed."""
    if symbols is None:
        symbols = range(len(lengths))
    by_len = {}
    for l, s in zip(lengths, symbols):
        if l:
            by_len.setdefault(l, []).append(s)
    out = []
    code = prev = 0
    for l in sorted(by_len):
        code <<= l - prev
        for s in sorted(by_len[l]):
            out.append((s, code, l))
            code += 1
        prev = l
    return out


class PrefixCode:
    """A prefix code, decoded by a reader of the order it was built for
    (`msb`). The reader resolves the next <= TABLE_BITS stream bits with
    one table lookup. A miss (a longer or invalid code) or a code that
    runs past the end of the data takes the exact per-bit path, which
    raises ValueError on an invalid code word or a truncated stream. A
    code with a single symbol consumes no bits."""

    __slots__ = ("bits", "mask", "table", "maxlen", "words", "single")

    def __init__(self, lengths, symbols=None, *, msb: bool = False):
        words = canonical_codes(lengths, symbols)
        if not words:
            raise ValueError("empty prefix code")
        if words[-1][1] >> words[-1][2]:
            raise ValueError("over-subscribed prefix code")
        if len(words) == 1:
            words = [(words[0][0], 0, 0)]     # consumes no bits
        self._build(words, msb)

    @classmethod
    def from_codewords(cls, words, *, msb: bool = False):
        """Code from explicit `(symbol, code, length)` triples, the most
        significant bit of each code sent first; must be prefix-free."""
        self = cls.__new__(cls)
        self._build(list(words), msb)
        return self

    def _build(self, words, msb):
        self.maxlen = max(l for _, _, l in words)
        # a code of one zero-length word: the reader returns `single`
        self.single = words[0][0] if self.maxlen == 0 else None
        self.bits = bits = min(self.maxlen, TABLE_BITS)
        self.mask = (1 << bits) - 1
        # the index is the next `bits` stream bits as the reader's peek
        # returns them; every index whose prefix is a codeword maps to it
        table = [None] * (1 << bits)
        for s, c, l in words:
            if l <= bits:
                fill = [(s, l)] * (1 << (bits - l))
                if msb:
                    lo = c << (bits - l)
                    table[lo:lo + len(fill)] = fill
                else:
                    table[reverse_bits(c, l)::1 << l] = fill
        self.table = table
        # per-bit path: key is the code with a marker bit above it
        self.words = {(1 << l) | c: s for s, c, l in words}
