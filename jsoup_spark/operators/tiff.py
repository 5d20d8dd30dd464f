"""Native baseline-TIFF codec (pure stdlib + numpy) for the multimodal
pipeline.

Decoder — classic TIFF 6.0, both byte orders: IFD walk with all the
baseline tags, strip AND tile organization, chunky and planar sample
layout, compressions None / PackBits / LZW (MSB-first bit packing,
256/257 clear/EOI, early code-width change; sources/pdf.py's LZWDecode
uses the same decoder) / Deflate
(both 8 and the old 32946), the horizontal-differencing predictor,
photometric WhiteIsZero / BlackIsZero / RGB / Palette, 1/2/4/8/16-bit
samples, associated alpha via ExtraSamples.  16-bit samples scale to
8 with correct rounding (codecs._scale16); palette ColorMap
entries are 16-bit and scale the same way.

Encoder — spec-conformant test encoder in the encode_png_ex /
encode_gif zero-fixtures tradition: every decoder feature reachable by
knob (compression, predictor, tiles, planar, endian, palette,
photometric, bit depth).

Validated against the system libtiff (TIFFReadRGBAImageOriented) via
the ctypes oracle in tests/libtiff_ref.py / tests/test_tiff.py.

Reference parity anchor (semantic, not a port): the reference engine
(/root/reference, jsoup) has no image codecs; like codecs.py this
serves the interleaved text+media contract's media columns.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .bits import MsbWriter
from .codecs import _scale16

# baseline tags
_W, _H = 256, 257
_BITS = 258
_COMP = 259
_PHOTO = 262
_STRIP_OFF = 273
_SPP = 277
_ROWS_PER_STRIP = 278
_STRIP_CNT = 279
_PLANAR = 284
_PREDICTOR = 317
_COLORMAP = 320
_TILE_W, _TILE_H, _TILE_OFF, _TILE_CNT = 322, 323, 324, 325
_EXTRA = 338

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
              10: 8, 11: 4, 12: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i"}


def _read_ifd(payload: bytes, off: int, bo: str) -> dict[int, list[int]]:
    n = len(payload)
    if off + 2 > n:
        raise ValueError("TIFF truncated IFD")
    count = struct.unpack(bo + "H", payload[off:off + 2])[0]
    tags: dict[int, list[int]] = {}
    for i in range(count):
        base = off + 2 + 12 * i
        if base + 12 > n:
            raise ValueError("TIFF truncated IFD entry")
        tag, typ, cnt = struct.unpack(bo + "HHI", payload[base:base + 8])
        if typ not in _TYPE_FMT:
            continue                    # rationals/etc: not needed
        size = _TYPE_SIZE[typ] * cnt
        if size <= 4:
            data = payload[base + 8:base + 8 + size]
        else:
            voff = struct.unpack(bo + "I", payload[base + 8:base + 12])[0]
            if voff + size > n:
                raise ValueError("TIFF value outside file")
            data = payload[voff:voff + size]
        tags[tag] = list(struct.unpack(bo + str(cnt) + _TYPE_FMT[typ],
                                       data))
    return tags


def _unpackbits(data: bytes, expected: int) -> bytes:
    """TIFF PackBits (RLE)."""
    out = bytearray()
    i, n = 0, len(data)
    while len(out) < expected:
        if i >= n:
            raise ValueError("TIFF truncated PackBits")
        c = data[i]
        i += 1
        if c < 128:                     # literal run of c+1 bytes
            if i + c + 1 > n:
                raise ValueError("TIFF truncated PackBits literal")
            out += data[i:i + c + 1]
            i += c + 1
        elif c > 128:                   # repeat next byte 257-c times
            if i >= n:
                raise ValueError("TIFF truncated PackBits repeat")
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # c == 128: no-op
    return bytes(out[:expected])


def _lzw_decode_tiff(data: bytes, expected: int | None = None,
                     early: int = 1) -> bytes:
    """MSB-first LZW as TIFF and PDF LZWDecode write it: clear=256,
    EOI=257, and the code width grows `early` codes before the table
    would overflow (TIFF: always 1, at 511/1023/2047 table fill; PDF:
    its EarlyChange parameter). Decodes `expected` bytes (a short stream
    raises), or with expected=None until EOI or the end of data."""
    CLEAR, EOI = 256, 257
    # plain lists, not numpy arrays: per-code scalar indexing in the
    # expand loop was the decode hot spot (numpy scalar boxing, r9)
    prefix = [0] * 4096
    suffix = bytearray(4096)
    out = bytearray()
    acc = nbits = 0
    pos, n = 0, len(data)
    width = 9
    next_free = 258
    prev = -1
    first_char = 0

    def expand(code: int) -> bytearray:
        chunk = bytearray()
        while code >= 258:
            chunk.append(suffix[code])
            code = prefix[code]
        chunk.append(code)
        chunk.reverse()
        return chunk

    while expected is None or len(out) < expected:
        while nbits < width:
            if pos >= n:
                if expected is None:
                    return bytes(out)           # implicit EOI at EOF
                raise ValueError("truncated LZW stream")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == CLEAR:
            width = 9
            next_free = 258
            prev = -1
            continue
        if code == EOI:
            break
        if prev < 0:
            if code >= 256:
                raise ValueError("bad first LZW code")
            out.append(code)
            first_char = code
            prev = code
        else:
            if code < next_free:
                chunk = expand(code) if code >= 258 else bytearray([code])
            elif code == next_free:
                chunk = (expand(prev) if prev >= 258
                         else bytearray([prev])) + bytes([first_char])
            else:
                raise ValueError("LZW code out of range")
            first_char = chunk[0]
            out += chunk
            if next_free < 4096:
                prefix[next_free] = prev
                suffix[next_free] = first_char
                next_free += 1
            prev = code
        # early change: the code that WOULD overflow the width is
        # already sent wider
        if next_free == (1 << width) - early and width < 12:
            width += 1
    return bytes(out[:expected])


def _decompress(data: bytes, comp: int, expected: int,
                geom: tuple | None = None) -> bytes:
    if comp in (2, 3, 4):
        # CCITT MH / G3 / G4 (operators/ccitt.py): needs row geometry.
        # Fax "black" runs are sample value 1 regardless of the
        # photometric (libtiff semantics: interpretation at render).
        from .ccitt import decode_g3, decode_g4, decode_mh
        width, nrows, _photo, t4opts = geom
        if comp == 2:
            bits = decode_mh(data, width, nrows)
        elif comp == 3:
            bits = decode_g3(data, width, nrows,
                             two_d=bool(t4opts & 1))
        else:
            bits = decode_g4(data, width, nrows)
        return np.packbits(bits, axis=1).tobytes()
    if comp == 1:
        if len(data) < expected:
            raise ValueError("TIFF truncated uncompressed data")
        return data[:expected]
    if comp == 32773:
        return _unpackbits(data, expected)
    if comp == 5:
        return _lzw_decode_tiff(data, expected)
    if comp in (8, 32946):
        out = zlib.decompress(data)
        if len(out) < expected:
            raise ValueError("TIFF truncated deflate data")
        return out[:expected]
    raise ValueError(f"TIFF unsupported compression {comp}")


def _bytes_to_samples(rows: bytes, h: int, w: int, spp: int,
                      depth: int, bo: str) -> np.ndarray:
    """Packed chunk bytes -> (h, w, spp) native-depth int32 samples."""
    row_bytes = (w * spp * depth + 7) // 8
    arr = np.frombuffer(rows[:h * row_bytes], np.uint8).reshape(
        h, row_bytes)
    if depth == 8:
        return arr[:, :w * spp].astype(np.int32).reshape(h, w, spp)
    if depth == 16:
        dt = ">u2" if bo == ">" else "<u2"
        return arr.view(dt)[:, :w * spp].astype(np.int32).reshape(
            h, w, spp)
    bits = np.unpackbits(arr, axis=1)[:, :w * spp * depth]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.int32)
    vals = bits.reshape(h, w * spp, depth).astype(np.int32) @ weights
    return vals.reshape(h, w, spp)


def _undo_horizontal(vals: np.ndarray, depth: int) -> np.ndarray:
    """Predictor 2: (rows, width, spp) differences -> samples, a running
    sum along each row per channel, modulo 2**depth."""
    return np.cumsum(vals.astype(np.int64), axis=1) % (1 << depth)


def decode_tiff(payload: bytes) -> np.ndarray:
    """TIFF -> uint8 (H, W, C): first IFD only (the baseline reader
    contract; multi-page files decode their first page)."""
    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF")
    if len(payload) < 8:
        raise ValueError("TIFF truncated header")
    ifd_off = struct.unpack(bo + "I", payload[4:8])[0]
    tags = _read_ifd(payload, ifd_off, bo)

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"TIFF missing tag {tag}")
            return default
        return v[0]

    w, h = one(_W), one(_H)
    if w == 0 or h == 0:
        raise ValueError("TIFF empty image")
    spp = one(_SPP, 1)
    bits = tags.get(_BITS, [1])
    if len(set(bits)) != 1:
        raise ValueError("TIFF mixed bits-per-sample")
    depth = bits[0]
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"TIFF unsupported bit depth {depth}")
    comp = one(_COMP, 1)
    t4opts = one(292, 0)                # T4Options (G3 2D / fill bits)
    photo = one(_PHOTO)
    planar = one(_PLANAR, 1)
    predictor = one(_PREDICTOR, 1)
    if predictor not in (1, 2):
        raise ValueError(f"TIFF unsupported predictor {predictor}")
    if comp not in (5, 8, 32946):
        predictor = 1       # only defined for LZW/Deflate (as libtiff)
    if predictor == 2 and depth not in (8, 16):
        raise ValueError("TIFF predictor on sub-byte depth")

    nplanes = spp if planar == 2 else 1
    spp_chunk = 1 if planar == 2 else spp

    samples = np.zeros((h, w, spp), np.int32)
    if _TILE_OFF in tags:
        tw, th = one(_TILE_W), one(_TILE_H)
        offs, cnts = tags[_TILE_OFF], tags[_TILE_CNT]
        tiles_x = (w + tw - 1) // tw
        tiles_y = (h + th - 1) // th
        if len(offs) != tiles_x * tiles_y * nplanes:
            raise ValueError("TIFF tile count mismatch")
        row_bytes = (tw * spp_chunk * depth + 7) // 8
        i = 0
        for plane in range(nplanes):
            for ty in range(tiles_y):
                for tx in range(tiles_x):
                    raw = _decompress(
                        payload[offs[i]:offs[i] + cnts[i]], comp,
                        th * row_bytes, (tw, th, photo, t4opts))
                    vals = _bytes_to_samples(raw, th, tw, spp_chunk,
                                             depth, bo)
                    if predictor == 2:
                        vals = _undo_horizontal(vals, depth)
                    y0, x0 = ty * th, tx * tw
                    cy = min(th, h - y0)
                    cx = min(tw, w - x0)
                    tgt = samples[y0:y0 + cy, x0:x0 + cx]
                    if planar == 2:
                        tgt[:, :, plane] = vals[:cy, :cx, 0]
                    else:
                        tgt[:] = vals[:cy, :cx]
                    i += 1
    else:
        offs = tags.get(_STRIP_OFF)
        cnts = tags.get(_STRIP_CNT)
        if offs is None or cnts is None:
            raise ValueError("TIFF missing strip offsets")
        rps = one(_ROWS_PER_STRIP, h)
        strips_per_plane = (h + rps - 1) // rps
        if len(offs) != strips_per_plane * nplanes:
            raise ValueError("TIFF strip count mismatch")
        row_bytes = (w * spp_chunk * depth + 7) // 8
        i = 0
        for plane in range(nplanes):
            for s in range(strips_per_plane):
                y0 = s * rps
                nrows = min(rps, h - y0)
                raw = _decompress(payload[offs[i]:offs[i] + cnts[i]],
                                  comp, nrows * row_bytes,
                                  (w, nrows, photo, t4opts))
                vals = _bytes_to_samples(raw, nrows, w, spp_chunk,
                                         depth, bo)
                if predictor == 2:
                    vals = _undo_horizontal(vals, depth)
                if planar == 2:
                    samples[y0:y0 + nrows, :, plane] = vals[:, :, 0]
                else:
                    samples[y0:y0 + nrows] = vals
                i += 1

    if photo == 3:                      # palette
        cmap = tags.get(_COLORMAP)
        if cmap is None:
            raise ValueError("TIFF palette image missing ColorMap")
        ncolors = 1 << depth
        if len(cmap) != 3 * ncolors:
            raise ValueError("TIFF bad ColorMap size")
        cm = np.array(cmap, np.int64)
        # 16-bit per spec (accurate scale); tolerate the common
        # nonconformant 8-bit colormap exactly as libtiff does
        lut = (cm if cm.max() <= 255 else _scale16(cm)) \
            .astype(np.uint8).reshape(3, ncolors).T     # (ncolors, 3)
        idx = samples[:, :, 0]
        if (idx >= ncolors).any():
            raise ValueError("TIFF palette index out of range")
        return lut[idx]

    if depth == 16:
        out = _scale16(samples)
    elif depth < 8:
        out = samples * (255 // ((1 << depth) - 1))
    else:
        out = samples
    out = out.astype(np.uint8)
    if photo == 0:                      # WhiteIsZero: invert the gray
        out[:, :, 0] = 255 - out[:, :, 0]   # channel, alpha untouched
    elif photo not in (1, 2):
        raise ValueError(f"TIFF unsupported photometric {photo}")
    return out


# ------------------------------------------------------------ encoder

def _lzw_encode_tiff(data: bytes) -> bytes:
    CLEAR, EOI = 256, 257
    bw = MsbWriter()
    put = bw.write
    width = 9
    table: dict[tuple[int, int], int] = {}
    next_free = 258
    put(CLEAR, width)
    prev = -1
    for b in data:
        if prev < 0:
            prev = b
            continue
        code = table.get((prev, b))
        if code is not None:
            prev = code
            continue
        put(prev, width)
        table[(prev, b)] = next_free
        next_free += 1
        # decoder's table trails one entry behind: it switches width at
        # next_free == 2^w - 1, so the encoder switches at 2^w
        if next_free == (1 << width) and width < 12:
            width += 1
        if next_free == 4094:           # reset well before overflow
            put(CLEAR, width)
            table.clear()
            width = 9
            next_free = 258
        prev = b
    if prev >= 0:
        put(prev, width)
    put(EOI, width)
    return bw.finish()


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit = i
        while i < n and i - lit < 128:
            if i + 2 < n and data[i] == data[i + 1] == data[i + 2]:
                break
            i += 1
        out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)


def _compress(data: bytes, comp: int,
              geom: tuple | None = None) -> bytes:
    if comp in (2, 3, 4):
        from .ccitt import encode_g3, encode_g4, encode_mh
        width, nrows, _photo, t4opts = geom
        row_bytes = (width + 7) // 8
        arr = np.frombuffer(data, np.uint8).reshape(nrows, row_bytes)
        bits = np.unpackbits(arr, axis=1)[:, :width]
        if comp == 2:
            return encode_mh(bits)
        if comp == 3:
            return encode_g3(bits, two_d=bool(t4opts & 1),
                             byte_align=bool(t4opts & 4))
        return encode_g4(bits)
    if comp == 1:
        return data
    if comp == 5:
        return _lzw_encode_tiff(data)
    if comp == 8:
        return zlib.compress(data)
    if comp == 32773:
        return _packbits_encode(data)
    raise ValueError(f"encode: unsupported compression {comp}")


def _pack_samples(vals: np.ndarray, depth: int, bo: str) -> bytes:
    """(h, n) native-depth samples -> packed row-aligned bytes."""
    h, n = vals.shape
    if depth == 8:
        return vals.astype(np.uint8).tobytes()
    if depth == 16:
        dt = ">u2" if bo == ">" else "<u2"
        return vals.astype(dt).tobytes()
    bits = ((vals[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1) \
        .astype(np.uint8).reshape(h, n * depth)
    return np.packbits(bits, axis=1).tobytes()


def encode_tiff(samples: np.ndarray, *, photometric: int = 2,
                bit_depth: int = 8, compression: int = 1,
                predictor: int = 1, big_endian: bool = False,
                rows_per_strip: int | None = None,
                tile: tuple[int, int] | None = None,
                planar: bool = False,
                colormap: np.ndarray | None = None,
                extra_alpha: bool = False,
                t4options: int = 0) -> bytes:
    """Spec-conformant TIFF test encoder. `samples` carries NATIVE-depth
    values: (H, W) for gray/palette, (H, W, spp) otherwise. `colormap`
    is (ncolors, 3) of 16-bit values for photometric=3. `tile` switches
    to tiled layout (tw, th multiples of 16); `planar` writes separate
    sample planes; `extra_alpha` marks the last sample as alpha."""
    if samples.ndim == 2:
        samples = samples[:, :, None]
    h, w, spp = samples.shape
    if predictor == 2 and compression not in (5, 8):
        raise ValueError("TIFF predictor requires LZW/Deflate")
    bo = ">" if big_endian else "<"
    nplanes = spp if planar else 1
    spp_chunk = 1 if planar else spp

    def chunk_bytes(vals):              # vals: (ch, cw, spp_chunk)
        ch_, cw = vals.shape[:2]
        v = vals.reshape(ch_, cw * spp_chunk)
        if predictor == 2:
            v = v.reshape(ch_, cw, spp_chunk)
            d = np.zeros_like(v)
            d[:, 0] = v[:, 0]
            d[:, 1:] = (v[:, 1:] - v[:, :-1]) % (1 << bit_depth)
            v = d.reshape(ch_, cw * spp_chunk)
        return _compress(_pack_samples(v, bit_depth, bo), compression,
                         (cw, ch_, photometric, t4options))

    chunks: list[bytes] = []
    if tile is not None:
        tw, th = tile
        for plane in range(nplanes):
            for ty in range(0, h, th):
                for tx in range(0, w, tw):
                    pad = np.zeros((th, tw, spp_chunk), np.int64)
                    src = samples[ty:ty + th, tx:tx + tw]
                    if planar:
                        src = src[:, :, plane:plane + 1]
                    pad[:src.shape[0], :src.shape[1]] = src
                    chunks.append(chunk_bytes(pad))
    else:
        rps = rows_per_strip or h
        for plane in range(nplanes):
            for y in range(0, h, rps):
                src = samples[y:y + rps]
                if planar:
                    src = src[:, :, plane:plane + 1]
                chunks.append(chunk_bytes(src))

    # layout: header | chunk data | IFD | out-of-line values
    header = struct.pack(bo + "2sHI", b"II" if bo == "<" else b"MM",
                         42, 0)         # IFD offset patched below
    data_off = 8
    offsets = []
    body = bytearray()
    for c in chunks:
        offsets.append(data_off + len(body))
        body += c
        if len(body) % 2:
            body += b"\x00"

    entries: list[tuple[int, int, list[int]]] = []   # tag, type, values
    entries.append((_W, 4, [w]))
    entries.append((_H, 4, [h]))
    entries.append((_BITS, 3, [bit_depth] * spp))
    entries.append((_COMP, 3, [compression]))
    entries.append((_PHOTO, 3, [photometric]))
    if compression == 3:
        entries.append((292, 4, [t4options]))   # T4Options (LONG)
    if tile is not None:
        entries.append((_TILE_W, 3, [tile[0]]))
        entries.append((_TILE_H, 3, [tile[1]]))
        entries.append((_TILE_OFF, 4, offsets))
        entries.append((_TILE_CNT, 4, [len(c) for c in chunks]))
    else:
        entries.append((_STRIP_OFF, 4, offsets))
        entries.append((_ROWS_PER_STRIP, 4, [rows_per_strip or h]))
        entries.append((_STRIP_CNT, 4, [len(c) for c in chunks]))
    entries.append((_SPP, 3, [spp]))
    entries.append((_PLANAR, 3, [2 if planar else 1]))
    if predictor != 1:
        entries.append((_PREDICTOR, 3, [predictor]))
    if colormap is not None:
        cm = np.asarray(colormap, np.int64)
        entries.append((_COLORMAP, 3,
                        list(cm.T.reshape(-1))))     # R.. G.. B..
    if extra_alpha:
        # associated alpha: libtiff's RGBA reader passes it through
        # (unassociated, 2, would be premultiplied on read)
        entries.append((_EXTRA, 3, [1]))
    entries.sort(key=lambda e: e[0])

    ifd_off = data_off + len(body)
    n_entries = len(entries)
    tail_off = ifd_off + 2 + 12 * n_entries + 4
    ifd = bytearray(struct.pack(bo + "H", n_entries))
    tail = bytearray()
    for tag, typ, vals in entries:
        fmt = _TYPE_FMT[typ]
        raw = struct.pack(bo + str(len(vals)) + fmt, *vals)
        if len(raw) <= 4:
            val_field = raw + b"\x00" * (4 - len(raw))
        else:
            if len(tail) % 2:
                tail += b"\x00"
            val_field = struct.pack(bo + "I", tail_off + len(tail))
            tail += raw
        ifd += struct.pack(bo + "HHI", tag, typ, len(vals)) + val_field
    ifd += struct.pack(bo + "I", 0)     # next IFD

    out = bytearray(header)
    out[4:8] = struct.pack(bo + "I", ifd_off)
    out += body + ifd + tail
    return bytes(out)
