"""Pure-stdlib + numpy media codecs for the multimodal pipeline.

Real decoders for the formats that need no external codec library:

* PNG  — zlib inflate + scanline unfilter (filters 0-4) via numpy;
         8-bit gray/gray+alpha/RGB/RGBA, non-interlaced.
* BMP  — uncompressed 24/32-bit BI_RGB, bottom-up or top-down.
* PPM/PGM — binary netpbm (P5/P6), maxval <= 255.
* JPEG — one marker reader for sequential (SOF0/1) and progressive
         (SOF2) Huffman and arithmetic-coded SOF9/SOF10 streams: each
         scan goes to the Huffman scan decoder below or the QM one in
         operators/jpeg_arith.py (validated byte-exactly against libjpeg
         in tests/test_jpeg_arith.py); both walk blocks through one
         generator, and one dequantize + float IDCT reconstructs, with
         4:4:4/4:2:2/4:4:0/4:2:0 sampling, nearest chroma upsampling and
         restart markers.
* WebP — lossless VP8L: all four transforms, meta prefix groups, color
         cache, LZ77 with the 2D distance mapping (decode_webp below);
         lossy VP8 keyframes incl. the ALPH alpha plane via
         operators/vp8.py — both byte-identical to libwebp
         (tests/test_vp8.py).
* WAV  — stdlib `wave` (PCM 8/16/32-bit), samples as float32 in [-1, 1].

Bits and prefix codes go through operators/bits.py: VP8L uses its
LSB-first reader and writer, JPEG its MSB-first ones (the reader
subclassed to unstuff 0xFF00 and to pad at markers), and both decode
Huffman codes as bits.PrefixCode.

Formats that need external codecs (lossless-process JPEG, MP3,
H.264, ...) are not decoded: decode raises ValueError or `sniff_format`
returns None, and operators/multimodal.py turns either into a None
array (decode_image_array) or NotImplementedError (decode_image).

Encoders for the same formats (PNG filter-0, BMP 24-bit, P6, baseline
JPEG 4:4:4 or 4:2:0 with Annex K tables, PCM16 WAV) exist so tests and
`synthesize_media` can round-trip REAL payloads through the real
decoders with zero fixtures on disk.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

from .bits import LsbReader, LsbWriter, MsbReader, MsbWriter, PrefixCode, \
    canonical_codes, reverse_bits

# ------------------------------------------------------------------ sniff

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def sniff_format(payload: bytes) -> str | None:
    """Magic-byte detection for the natively-decodable formats."""
    if payload.startswith(_PNG_MAGIC):
        return "png"
    if payload.startswith(b"BM"):
        return "bmp"
    if payload[:2] in (b"P5", b"P6"):
        return "ppm"
    if payload.startswith(b"RIFF") and payload[8:12] == b"WAVE":
        return "wav"
    if payload.startswith(b"RIFF") and payload[8:12] == b"WEBP":
        return "webp"
    if payload.startswith(b"\xff\xd8"):
        return "jpeg"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if payload[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00") \
            and len(payload) >= 6 \
            and 0 < (payload[4] | (payload[5] << 8)) <= 1024:
        return "ico"
    return None


# -------------------------------------------------------------------- PNG

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> samples/px
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}
# (x_start, x_step, y_start, y_step) per Adam7 pass
_ADAM7 = ((0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
          (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2))


def _png_unfilter(data, row_bytes: int, bpp: int) -> bytearray:
    """Undo PNG row filters: whole rows of one filter byte and
    `row_bytes` filtered bytes -> the unfiltered rows, concatenated.
    `bpp` is the filter byte offset (bytes per complete pixel, min 1).
    Raises ValueError on a filter byte above 4."""
    out = bytearray()
    prev = bytearray(row_bytes)
    # Up adds two rows bytewise: one carry-free big-int add per row
    low7 = int.from_bytes(b"\x7f" * row_bytes, "little")
    high = int.from_bytes(b"\x80" * row_bytes, "little")
    for pos in range(0, len(data), 1 + row_bytes):
        f = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + row_bytes])
        if f == 1:                               # Sub
            for i in range(bpp, row_bytes):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif f == 2:                             # Up
            x = int.from_bytes(row, "little")
            y = int.from_bytes(prev, "little")
            row = bytearray((((x & low7) + (y & low7)) ^ ((x ^ y) & high))
                            .to_bytes(row_bytes, "little"))
        elif f == 3:                             # Average
            for i in range(min(bpp, row_bytes)):
                row[i] = (row[i] + (prev[i] >> 1)) & 0xFF
            for i in range(bpp, row_bytes):
                row[i] = (row[i] + ((row[i - bpp] + prev[i]) >> 1)) & 0xFF
        elif f == 4:                             # Paeth (first pixel: Up)
            for i in range(min(bpp, row_bytes)):
                row[i] = (row[i] + prev[i]) & 0xFF
            for i in range(bpp, row_bytes):
                a, b, c = row[i - bpp], prev[i], prev[i - bpp]
                # distances of p = a + b - c to a, b and c
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - c - c)
                row[i] = (row[i] + (a if pa <= pb and pa <= pc else
                                    b if pb <= pc else c)) & 0xFF
        elif f:
            raise ValueError(f"bad PNG filter {f}")
        out += row
        prev = row
    return out


def _png_rows_to_samples(rows: np.ndarray, width: int, ch: int,
                         depth: int) -> np.ndarray:
    """(h, row_bytes) unfiltered bytes -> (h, width*ch) native-depth
    sample values (int32)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, :width * ch].astype(np.int32)
    if depth == 16:
        return rows.reshape(h, -1).view(">u2")[:, :width * ch] \
            .astype(np.int32)
    bits = np.unpackbits(rows, axis=1)[:, :width * ch * depth]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.int32)
    return bits.reshape(h, width * ch, depth).astype(np.int32) @ weights


def _scale16(v: np.ndarray) -> np.ndarray:
    # accurate 16 -> 8 scaling (round(v * 255 / 65535)); matches libpng's
    # png_set_scale_16 / the simplified API under a declared encoding
    # gamma — calibrated over all 65536 values in tests/test_png_full.py
    return (v * 255 + 32767) // 65535


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> uint8 array (H, W, C): the full static format — bit depths
    1/2/4/8/16, all five color types (palette via PLTE), Adam7
    interlacing, and tRNS transparency (palette alpha; gray/RGB color
    keys surface as an alpha channel). 16-bit samples scale to 8 with
    correct rounding; sub-byte gray replicates to 8 bits exactly as
    libpng expands it. Gamma-naive by design (gAMA/iCCP are metadata
    here, as in every pixel-stat pipeline). Raises ValueError on
    malformed streams. Validated pixel-exactly against the system
    libpng16 in tests/test_png_full.py."""
    if not payload.startswith(_PNG_MAGIC):
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    palette = None
    trns = None
    idat = bytearray()
    n = len(payload)
    while pos + 8 <= n:
        (length,), ctype = struct.unpack(">I", payload[pos:pos + 4]), \
            payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if len(data) < length:
            raise ValueError("PNG truncated chunk")
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            if length != 13:
                raise ValueError("PNG bad IHDR length")
            width, height, bit_depth, color_type, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("PNG bad PLTE length")
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if color_type not in _PNG_CHANNELS \
            or bit_depth not in _PNG_DEPTHS.get(color_type, ()):
        raise ValueError(f"unsupported PNG depth/color "
                         f"({bit_depth}/{color_type})")
    if width == 0 or height == 0:
        raise ValueError("PNG empty image")
    ch = _PNG_CHANNELS[color_type]
    bpp = max(1, ch * bit_depth // 8)
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as ex:
        raise ValueError(f"PNG corrupt IDAT stream: {ex}") from None

    samples = np.zeros((height, width, ch), np.int32)
    passes = [(0, 1, 0, 1, width, height)] if not interlace else [
        (xs, xt, ys, yt,
         (width - xs + xt - 1) // xt if width > xs else 0,
         (height - ys + yt - 1) // yt if height > ys else 0)
        for xs, xt, ys, yt in _ADAM7]
    need = sum(ph * (1 + (pw * ch * bit_depth + 7) // 8)
               for *_, pw, ph in passes if pw and ph)
    if len(raw) != need:
        raise ValueError("PNG data length mismatch")
    off = 0
    for xs, xt, ys, yt, pw, ph in passes:
        if not pw or not ph:
            continue
        row_bytes = (pw * ch * bit_depth + 7) // 8
        end = off + ph * (1 + row_bytes)
        rows = np.frombuffer(_png_unfilter(raw[off:end], row_bytes, bpp),
                             np.uint8).reshape(ph, row_bytes)
        off = end
        vals = _png_rows_to_samples(rows, pw, ch, bit_depth)
        samples[ys::yt, xs::xt] = vals.reshape(ph, pw, ch)

    if color_type == 3:
        idx = samples[:, :, 0]
        if palette is None:
            raise ValueError("PNG palette image missing PLTE")
        if (idx >= len(palette)).any():
            raise ValueError("PNG palette index out of range")
        rgb = palette[idx]
        if trns is None:
            return rgb
        alpha = np.full(len(palette), 255, np.uint8)
        alpha[:len(trns)] = np.frombuffer(trns, np.uint8)
        return np.dstack([rgb, alpha[idx]])

    # scale native depth to 8 bits
    if bit_depth == 16:
        out = _scale16(samples)
    elif bit_depth < 8:                 # gray only (color type 0)
        out = samples * (255 // ((1 << bit_depth) - 1))
    else:
        out = samples
    out = out.astype(np.uint8)
    if trns is not None and color_type in (0, 2):
        key = np.frombuffer(trns, ">u2").astype(np.int32)
        if len(key) != ch:
            raise ValueError("PNG bad tRNS length")
        opaque = (samples != key).any(axis=2)
        out = np.dstack([out, opaque.astype(np.uint8) * 255])
    return out


def encode_png(img: np.ndarray) -> bytes:
    """uint8 (H, W, C in {1,2,3,4}) -> PNG, filter 0 every scanline."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def _png_filter_rows(vals: np.ndarray, bpp: int, filters) -> bytes:
    """(h, row_bytes) uint8 scanlines -> filtered bytes (filter id
    prefix per row). `filters`: per-row filter ids (cycled)."""
    h, row_bytes = vals.shape
    out = bytearray()
    prev = np.zeros(row_bytes, np.int32)
    shift = np.zeros(row_bytes, np.int32)
    for y in range(h):
        cur = vals[y].astype(np.int32)
        f = filters[y % len(filters)]
        shift[:bpp] = 0
        shift[bpp:] = cur[:-bpp] if row_bytes > bpp else 0
        if f == 0:
            enc = cur
        elif f == 1:
            enc = (cur - shift) & 0xFF
        elif f == 2:
            enc = (cur - prev) & 0xFF
        elif f == 3:
            enc = (cur - ((shift + prev) >> 1)) & 0xFF
        else:                           # Paeth
            c = np.zeros(row_bytes, np.int32)
            c[bpp:] = prev[:-bpp] if row_bytes > bpp else 0
            p = shift + prev - c
            pa, pb, pc = np.abs(p - shift), np.abs(p - prev), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), shift,
                            np.where(pb <= pc, prev, c))
            enc = (cur - pred) & 0xFF
        out.append(f)
        out += enc.astype(np.uint8).tobytes()
        prev = cur
    return bytes(out)


def _png_pack_rows(vals: np.ndarray, depth: int) -> np.ndarray:
    """(h, width*ch) native-depth samples -> (h, row_bytes) uint8."""
    h, n = vals.shape
    if depth == 8:
        return vals.astype(np.uint8)
    if depth == 16:
        return vals.astype(">u2").view(np.uint8).reshape(h, 2 * n)
    bits = ((vals[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1) \
        .astype(np.uint8).reshape(h, n * depth)
    return np.packbits(bits, axis=1)


def encode_png_ex(samples: np.ndarray, color_type: int, bit_depth: int,
                  *, palette: np.ndarray | None = None,
                  trns: bytes | None = None, interlace: bool = False,
                  gama: int | None = None,
                  filters=(0, 1, 2, 3, 4)) -> bytes:
    """Spec-conformant PNG test encoder covering the decoder's full
    matrix (the encode_gif / encode_webp_lossless zero-fixtures
    tradition): any legal color-type/bit-depth combination, Adam7
    interlacing, PLTE/tRNS, per-row filter cycling, optional gAMA.

    `samples` holds NATIVE-depth values: (H, W) for gray/palette,
    (H, W, ch) otherwise."""
    if bit_depth not in _PNG_DEPTHS[color_type]:
        raise ValueError("illegal PNG depth/color combination")
    if samples.ndim == 2:
        samples = samples[:, :, None]
    h, w, ch = samples.shape
    if ch != _PNG_CHANNELS[color_type]:
        raise ValueError("sample channels do not match color type")
    bpp = max(1, ch * bit_depth // 8)
    body = bytearray()
    passes = [(0, 1, 0, 1)] if not interlace else _ADAM7
    for xs, xt, ys, yt in passes:
        sub = samples[ys::yt, xs::xt]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        ph, pw = sub.shape[:2]
        rows = _png_pack_rows(sub.reshape(ph, pw * ch), bit_depth)
        body += _png_filter_rows(rows, bpp, filters)
    out = bytearray(_PNG_MAGIC)
    out += _png_chunk(b"IHDR", struct.pack(
        ">IIBBBBB", w, h, bit_depth, color_type, 0, 0, int(interlace)))
    if gama is not None:
        out += _png_chunk(b"gAMA", struct.pack(">I", gama))
    if palette is not None:
        out += _png_chunk(b"PLTE", np.asarray(palette, np.uint8).tobytes())
    if trns is not None:
        out += _png_chunk(b"tRNS", trns)
    out += _png_chunk(b"IDAT", zlib.compress(bytes(body)))
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


# -------------------------------------------------------------------- BMP

def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BI_RGB BMP -> uint8 (H, W, 3|4) in RGB(A)
    order, handling bottom-up (positive height) and top-down rows."""
    if not payload.startswith(b"BM"):
        raise ValueError("not a BMP")
    if len(payload) < 54:
        raise ValueError("BMP truncated header")
    data_off = struct.unpack("<I", payload[10:14])[0]
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    if hdr_size < 40:
        raise ValueError("BMP core header unsupported")
    w, h = struct.unpack("<ii", payload[18:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    compression = struct.unpack("<I", payload[30:34])[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (compression={compression}, "
                         f"bpp={bpp})")
    top_down = h < 0
    h = abs(h)
    ch = bpp // 8
    stride = (w * ch + 3) & ~3
    px = np.frombuffer(payload, np.uint8,
                       count=stride * h, offset=data_off)
    px = px.reshape(h, stride)[:, :w * ch].reshape(h, w, ch)
    if not top_down:
        px = px[::-1]
    # BGR(A) -> RGB(A)
    if ch == 3:
        return px[:, :, ::-1].copy()
    return px[:, :, [2, 1, 0, 3]].copy()


def encode_bmp(img: np.ndarray) -> bytes:
    """uint8 (H, W, 3) RGB -> 24-bit bottom-up BMP."""
    h, w, ch = img.shape
    assert ch == 3
    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    pad = b"\x00" * (stride - w * 3)
    for y in range(h - 1, -1, -1):
        rows += img[y, :, ::-1].tobytes() + pad
    pix = bytes(rows)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                       2835, 2835, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0,
                           14 + 40)
    return file_hdr + info + pix


# ---------------------------------------------------------------- netpbm

def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary netpbm (P5 gray / P6 RGB), maxval <= 255 -> uint8 array."""
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError("not a binary netpbm")
    # header tokens: magic, width, height, maxval (comments start with #)
    pos, tokens = 2, []
    n = len(payload)
    while len(tokens) < 3 and pos < n:
        c = payload[pos:pos + 1]
        if c.isspace():
            pos += 1
        elif c == b"#":
            while pos < n and payload[pos:pos + 1] != b"\n":
                pos += 1
        else:
            start = pos
            while pos < n and not payload[pos:pos + 1].isspace():
                pos += 1
            tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit netpbm unsupported")
    ch = 3 if magic == b"P6" else 1
    px = np.frombuffer(payload, np.uint8, count=w * h * ch, offset=pos)
    return px.reshape(h, w, ch)


def encode_ppm(img: np.ndarray) -> bytes:
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    magic = b"P6" if ch == 3 else b"P5"
    return magic + f"\n{w} {h}\n255\n".encode() + img.tobytes()


# -------------------------------------------------------------------- WAV

def decode_wav(payload: bytes):
    """PCM WAV via stdlib wave -> (sample_rate, n_frames, mono float32
    samples in [-1, 1])."""
    with wave.open(io.BytesIO(payload)) as wf:
        rate = wf.getframerate()
        n_frames = wf.getnframes()
        n_ch = wf.getnchannels()
        width = wf.getsampwidth()
        raw = wf.readframes(n_frames)
    if width == 2:
        s = np.frombuffer(raw, np.int16).astype(np.float32) / 32768.0
    elif width == 1:
        s = (np.frombuffer(raw, np.uint8).astype(np.float32) - 128) / 128.0
    elif width == 4:
        s = np.frombuffer(raw, np.int32).astype(np.float32) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    if n_ch > 1:
        s = s.reshape(-1, n_ch).mean(axis=1)
    return rate, n_frames, s


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """mono float32 [-1, 1] -> PCM16 WAV."""
    pcm = np.clip(samples * 32767.0, -32768, 32767).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


# ------------------------------------------------------------------- JPEG
#
# Baseline sequential DCT (SOF0), pure stdlib + numpy — no external codec
# library. Decoder: DQT/DHT/SOF0/SOS/DRI markers, 8-bit precision, 1 or 3
# components, sampling factors 1-2 (4:4:4 / 4:2:2 / 4:4:0 / 4:2:0 with
# nearest-neighbor chroma upsampling), restart markers. Encoder: 4:4:4
# interleaved with the Annex K quantization + Huffman tables (quality
# scaling as in libjpeg jcparam.c). Arithmetic-coded JPEGs (SOF9/SOF10)
# dispatch to operators/jpeg_arith.py; lossless-process/12-bit JPEGs
# raise ValueError -> the multimodal stub tier handles them.

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int32)

_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32)

_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32)

# Annex K Huffman specs: (BITS[1..16], HUFFVAL)
_DC_LUMA_SPEC = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                 list(range(12)))
_DC_CHROMA_SPEC = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                   list(range(12)))
_AC_LUMA_SPEC = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_CHROMA_SPEC = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

# orthonormal DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1) u pi / 16);
# forward F = A f A^T, inverse f = A^T F A
_DCT_A = np.array([[
    (np.sqrt(0.125) if u == 0 else 0.5) * np.cos((2 * x + 1) * u * np.pi / 16)
    for x in range(8)] for u in range(8)])


def _huff_decode_table(bits, values):
    """Canonical JPEG Huffman code (T.81 Annex C): codes in HUFFVAL order
    within each length. An over-subscribed length of <= 8 bits raises;
    a code past the end of a longer length can never match and is left
    out (libjpeg rejects both; this decoder keeps its established
    accept/reject outcomes). A table with no codes is None, so only a
    scan that uses it fails ("missing Huffman table"), as in libjpeg."""
    if len(values) < sum(bits):
        raise ValueError("JPEG Huffman table truncated")
    words = []
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >> length:
                if length <= 8:
                    raise ValueError("JPEG Huffman table over-subscribed")
            else:
                words.append((values[k], code, length))
            code += 1
            k += 1
        code <<= 1
    return PrefixCode.from_codewords(words, msb=True) if words else None


def _huff_encode_table(bits, values):
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegReader(MsbReader):
    """Entropy-coded-segment reader: unstuffs 0xFF00, and at any other
    marker feeds zero bits without consuming it, so the marker parser
    sees it next."""

    __slots__ = ()

    def __init__(self, data: bytes, pos: int):
        super().__init__(data)
        self.pos = pos

    def _fill(self, n: int) -> None:
        data, p, nbits = self.data, self.pos, self.nbits
        acc = self.acc & ((1 << nbits) - 1)
        while nbits < n:
            chunk = data[p:p + 4]
            if len(chunk) == 4 and 0xFF not in chunk:
                acc = (acc << 32) | int.from_bytes(chunk, "big")
                p += 4
                nbits += 32
                continue
            if p >= len(data):
                break
            b = data[p]
            p += 1
            if b == 0xFF:
                if p >= len(data) or data[p] == 0x00:
                    p += 1                  # stuffed 0xFF
                else:
                    p -= 1                  # marker: pad with zeros
                    b = 0
            acc = (acc << 8) | b
            nbits += 8
        self.pos, self.acc, self.nbits = p, acc, nbits

    def align_restart(self):
        """Skip to and consume an RSTn marker (after byte alignment)."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("missing JPEG restart marker")


def _extend(v: int, n: int) -> int:
    """JPEG F.2.2.1 EXTEND: map an n-bit magnitude to its signed value."""
    return v if n == 0 or v >= (1 << (n - 1)) else v - (1 << n) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG -> uint8 (H, W, 3|1): sequential (SOF0/1) and progressive
    (SOF2) Huffman, and sequential/progressive arithmetic (SOF9/SOF10,
    operators/jpeg_arith.py), all through the one marker reader below.
    Raises ValueError on lossless/hierarchical/12-bit, unsupported
    sampling, OR truncated / corrupt input.

    The ValueError contract matters for the pipeline: sniff_format routes
    every \\xff\\xd8 payload here and decode_image_array catches only
    ValueError, returning None for that one document — a raw IndexError /
    struct.error from a malformed wild JPEG would kill the whole Spark
    task instead (ADVICE r5)."""
    try:
        return _decode_jpeg_impl(payload)
    except (IndexError, struct.error) as ex:
        raise ValueError(f"JPEG truncated or corrupt: {ex}") from ex


def _decode_jpeg_impl(payload: bytes) -> np.ndarray:
    """The one marker reader: DQT, DHT/DAC, SOF, DRI and SOS segments in
    stream order; each scan goes to the frame's entropy decoder (Huffman
    _huff_scan or QM jpeg_arith.arith_scan), which accumulates quantized
    coefficients; one dequantize + IDCT reconstructs at the end.
    Malformed-input policy follows libjpeg: a DC Huffman symbol > 15 or a
    frame without a scan raises; a scan that no marker follows ends the
    image there (best effort, like a missing EOI)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    n = len(payload)
    quant = {}
    tables = {}        # ("dc"|"ac", id) -> Huffman table / DAC conditioning
    frame = coefs = scan_decoder = None
    restart_interval = 0
    scans = 0
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        while payload[pos + 1] == 0xFF:    # fill bytes
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:      # EOI
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue            # standalone markers
        seglen = struct.unpack(">H", payload[pos:pos + 2])[0]
        seg = payload[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDB:      # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq != 0:
                    raise ValueError("16-bit JPEG quant table")
                tbl = np.zeros(64, np.int32)
                tbl[_ZIGZAG] = np.frombuffer(seg[p:p + 64], np.uint8)
                quant[tq] = tbl.reshape(8, 8)
                p += 64
        elif marker == 0xC4:    # DHT (tables may arrive per scan)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1:p + 17])
                cnt = sum(bits)
                vals = list(seg[p + 17:p + 17 + cnt])
                if tc == 0 and any(v > 15 for v in vals):
                    raise ValueError("JPEG DC Huffman symbol > 15")
                tables[("dc" if tc == 0 else "ac", th)] = \
                    _huff_decode_table(bits, vals)
                p += 17 + cnt
        elif marker == 0xCC:    # DAC: arithmetic conditioning
            for p in range(0, len(seg) - 1, 2):
                tb, cs = seg[p] & 0xF, seg[p + 1]
                if seg[p] >> 4 == 0:
                    tables[("dc", tb)] = (cs & 0xF, cs >> 4)    # (L, U)
                else:
                    tables[("ac", tb)] = cs                     # Kx
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            if frame is not None:
                raise ValueError("JPEG with more than one frame")
            frame, coefs = _jpeg_frame(seg, marker in (0xC2, 0xCA))
            if marker >= 0xC9:
                from .jpeg_arith import arith_scan as scan_decoder
            else:
                scan_decoder = _huff_scan
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("lossless/hierarchical JPEG unsupported")
        elif marker == 0xDD:    # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:    # SOS
            if frame is None:
                raise ValueError("JPEG scan before SOF")
            scan = _jpeg_scan_header(seg, frame)
            end = scan_decoder(payload, pos, frame, coefs, scan, tables,
                               restart_interval)
            pos = _resync_marker(payload, end)
            scans += 1
        # APPn / COM / others: skipped
    if not scans:
        raise ValueError("JPEG missing SOF/scan data")
    return _jpeg_reconstruct(frame, coefs, quant)


def _jpeg_frame(seg: bytes, progressive: bool):
    """SOF segment -> (frame, coefs): frame is (h, w, [(comp_id, hs, vs,
    tq)], hmax, vmax, mcus_x, mcus_y, progressive); coefs holds one
    MCU-padded (blocks_y, blocks_x, 64) int64 grid per component, in
    natural (not zigzag) coefficient order."""
    prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
    if prec != 8:
        raise ValueError("non-8-bit JPEG")
    comps = []
    for i in range(nc):
        cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
        comps.append((cid, hv >> 4, hv & 0xF, tq))
    if len(comps) not in (1, 3):
        raise ValueError("unsupported JPEG component layout")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2 or any(c[1] < 1 or c[2] < 1 for c in comps):
        raise ValueError("unsupported JPEG sampling factors")
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    coefs = [np.zeros((mcus_y * vs, mcus_x * hs, 64), np.int64)
             for _cid, hs, vs, _tq in comps]
    return (h, w, comps, hmax, vmax, mcus_x, mcus_y, progressive), coefs


def _jpeg_scan_header(seg: bytes, frame):
    """SOS segment -> ([(frame component index, td, ta)], Ss, Se, Ah, Al).
    A sequential scan always codes the whole band (libjpeg ignores its
    Ss/Se/Ah/Al); a progressive scan is DC-only or a one-component AC
    band."""
    comps, progressive = frame[2], frame[7]
    ids = [c[0] for c in comps]
    ns = seg[0]
    if not 1 <= ns <= 4:
        raise ValueError("bad JPEG scan component count")
    if len(seg) != 4 + 2 * ns:  # T.81 B.2.3: Ls = 6 + 2 * Ns
        raise ValueError("bad JPEG scan header length")
    scomps = []
    for i in range(ns):
        cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
        if cs not in ids:
            raise ValueError("JPEG scan references unknown component")
        scomps.append((ids.index(cs), tdta >> 4, tdta & 0xF))
    Ss, Se, AhAl = seg[1 + 2 * ns:4 + 2 * ns]
    if not progressive:
        return scomps, 0, 63, 0, 0
    if Ss == 0 and Se != 0:
        raise ValueError("JPEG progressive scan mixes DC/AC")
    if Ss and (ns != 1 or not Ss <= Se <= 63):
        raise ValueError("bad JPEG progressive AC scan")
    return scomps, Ss, Se, AhAl >> 4, AhAl & 0xF


def _jpeg_blocks(frame, coefs, scomps, restart_interval, restart):
    """Yield (scan component index, coefficient block) in T.81 A.2 order:
    MCU-interleaved over the frame when the scan has several components;
    with one, the component's own block grid (its sample size / 8,
    rounded up, not padded to whole MCUs), one block per MCU. Calls
    restart() before every restart_interval-th MCU."""
    h, w, comps, hmax, vmax, mcus_x, mcus_y, _prog = frame
    if len(scomps) == 1:
        ci = scomps[0][0]
        _cid, hs, vs, _tq = comps[ci]
        rows = (h * vs + 8 * vmax - 1) // (8 * vmax)
        cols = (w * hs + 8 * hmax - 1) // (8 * hmax)
        layout = [(0, coefs[ci], 1, 1)]
    else:
        rows, cols = mcus_y, mcus_x
        layout = [(si, coefs[ci], comps[ci][1], comps[ci][2])
                  for si, (ci, _td, _ta) in enumerate(scomps)]
    n = 0
    for my in range(rows):
        for mx in range(cols):
            if restart_interval and n and n % restart_interval == 0:
                restart()
            n += 1
            for si, grid, hs, vs in layout:
                for by in range(vs):
                    for bx in range(hs):
                        yield si, grid[my * vs + by, mx * hs + bx]


def _resync_marker(payload: bytes, pos: int) -> int:
    """Advance to the next real (non-stuffed, non-RST-consumed) marker
    0xFF byte after an entropy-coded segment; len(payload) when none
    follows, which ends the image after that scan."""
    n = len(payload)
    while pos < n:
        if payload[pos] == 0xFF and pos + 1 < n and payload[pos + 1] != 0x00:
            return pos
        pos += 1
    return n


def _ac_refine_block(coef, br, ac_table, Ss, Se, Al, eobrun):
    """T.81 G.1.2.3 AC successive-approximation refinement for one block
    (the libjpeg decode_mcu_AC_refine control flow, reimplemented from
    the spec). Returns the updated EOB run."""
    p1 = 1 << Al
    k = Ss
    if eobrun == 0:
        while k <= Se:
            rs = br.decode(ac_table)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read(r)
                    break
                # r == 15 (ZRL): pass over 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad JPEG AC refinement size")
                val = p1 if br.read(1) else -p1
            while k <= Se:
                z = _ZIGZAG[k]
                c = coef[z]
                if c != 0:
                    if br.read(1) and (abs(c) & p1) == 0:
                        coef[z] = c + (p1 if c > 0 else -p1)
                    k += 1
                else:
                    if r == 0:
                        if val:
                            coef[z] = val
                        k += 1
                        break
                    r -= 1
                    k += 1
    if eobrun > 0:
        while k <= Se:
            z = _ZIGZAG[k]
            c = coef[z]
            if c != 0:
                if br.read(1) and (abs(c) & p1) == 0:
                    coef[z] = c + (p1 if c > 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _huff_scan(payload, pos, frame, coefs, scan, tables, restart_interval):
    """Decode one Huffman-coded scan into `coefs` (T.81 F.2.2, G.1.2):
    sequential DC+AC, progressive DC first/refinement, AC first with EOB
    runs, AC refinement. Returns the position where the entropy-coded
    segment stopped."""
    scomps, Ss, Se, Ah, Al = scan
    dc = [tables.get(("dc", td)) for _ci, td, _ta in scomps]
    ac = [tables.get(("ac", ta)) for _ci, _td, ta in scomps]
    used = (dc if Ss == 0 and Ah == 0 else []) + (ac if Se else [])
    if not all(isinstance(t, PrefixCode) for t in used):
        raise ValueError("JPEG missing Huffman table")
    br = _JpegReader(payload, pos)
    pred = [0] * len(scomps)
    eobrun = 0

    def restart():
        nonlocal eobrun
        br.align_restart()
        pred[:] = [0] * len(scomps)
        eobrun = 0

    for si, blk in _jpeg_blocks(frame, coefs, scomps, restart_interval,
                                restart):
        if Ss == 0:
            if Ah:
                if br.read(1):
                    blk[0] |= 1 << Al
            else:
                t = br.decode(dc[si])
                if t:
                    pred[si] += _extend(br.read(t), t)
                blk[0] = pred[si] << Al
            if Se == 0:
                continue
        if Ah:
            eobrun = _ac_refine_block(blk, br, ac[si], Ss, Se, Al, eobrun)
            continue
        if eobrun:
            eobrun -= 1
            continue
        table = ac[si]
        k = Ss or 1
        while k <= Se:
            rs = br.decode(table)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:
                    if Ss and r:        # EOBn: progressive only
                        eobrun = (1 << r) - 1 + br.read(r)
                    break
                k += 16
                continue
            k += r
            if k > 63:
                raise ValueError("JPEG AC index overflow")
            blk[_ZIGZAG[k]] = _extend(br.read(s), s) << Al
            k += 1
    return br.pos


def _jpeg_reconstruct(frame, coefs, quant) -> np.ndarray:
    """Dequantize + batched IDCT (`A.T @ blocks @ A` over (n, 8, 8), the
    same summation order as a per-block matmul; not einsum, whose
    contraction order can flip exact-.5 ties), upsample component planes
    to full resolution (nearest), crop, YCbCr->RGB (BT.601), clip to
    uint8."""
    h, w, comps, hmax, vmax, _mx, _my, _prog = frame
    full = []
    for (cid, hs, vs, tq), grid in zip(comps, coefs):
        if tq not in quant:
            raise ValueError("JPEG missing quant table")
        by, bx = grid.shape[0], grid.shape[1]
        blocks = grid.reshape(by * bx, 8, 8).astype(np.float64) * quant[tq]
        px = _DCT_A.T @ blocks @ _DCT_A + 128.0
        plane = px.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3) \
            .reshape(by * 8, bx * 8)
        if hs != hmax or vs != vmax:
            plane = np.repeat(np.repeat(plane, vmax // vs, axis=0),
                              hmax // hs, axis=1)
        full.append(plane[:h, :w])
    if len(full) == 1:
        out = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
        return out[:, :, None]
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _encode_block(bw, block, qtab, dc_table, ac_table, pred):
    A = _DCT_A
    coeffs = A @ (block - 128.0) @ A.T
    quantized = np.rint(coeffs / qtab).astype(np.int32).ravel()[_ZIGZAG]
    diff = int(quantized[0]) - pred
    mag = abs(diff)
    nbits = mag.bit_length()
    code, length = dc_table[nbits]
    bw.write(code, length)
    if nbits:
        bw.write(diff if diff >= 0 else diff + (1 << nbits) - 1, nbits)
    run = 0
    last_nz = 0
    nz = np.nonzero(quantized[1:])[0]
    last_nz = nz[-1] + 1 if len(nz) else 0
    for k in range(1, 64):
        if k > last_nz:
            break
        v = int(quantized[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_table[0xF0]
            bw.write(code, length)
            run -= 16
        mag = abs(v)
        nbits = mag.bit_length()
        code, length = ac_table[(run << 4) | nbits]
        bw.write(code, length)
        bw.write(v if v >= 0 else v + (1 << nbits) - 1, nbits)
        run = 0
    if last_nz < 63:
        code, length = ac_table[0x00]
        bw.write(code, length)
    return int(quantized[0])


def _box_down2(p: np.ndarray) -> np.ndarray:
    """2x2 box-average downsample with edge replication for odd dims."""
    h, w = p.shape
    if h % 2:
        p = np.vstack([p, p[-1:]])
    if w % 2:
        p = np.hstack([p, p[:, -1:]])
    return (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2]
            + p[1::2, 1::2]) / 4.0


def encode_jpeg(img: np.ndarray, quality: int = 90,
                subsampling: str = "444") -> bytes:
    """uint8 (H, W, 3) RGB or (H, W) / (H, W, 1) gray -> baseline JPEG,
    Annex K tables scaled by `quality` (libjpeg mapping). subsampling:
    "444" (default) or "420" (2x2 luma sampling, box-filtered chroma)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    if ch not in (1, 3):
        raise ValueError("encode_jpeg expects 1 or 3 channels")
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
    out = bytearray(b"\xff\xd8")                      # SOI
    # JFIF APP0
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0

    def dqt(tid, tab):
        zz = tab.ravel()[_ZIGZAG].astype(np.uint8).tobytes()
        return (b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64)
                + bytes([tid]) + zz)

    out += dqt(0, qt_l)
    if ch == 3:
        out += dqt(1, qt_c)
    # SOF0
    nc = ch
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i in range(nc):
        hs, vs = samp[i]
        sof += bytes([i + 1, (hs << 4) | vs, 0 if i == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(tc, th, spec):
        bits, vals = spec
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, _DC_LUMA_SPEC) + dht(1, 0, _AC_LUMA_SPEC)
    if ch == 3:
        out += dht(0, 1, _DC_CHROMA_SPEC) + dht(1, 1, _AC_CHROMA_SPEC)
    # SOS
    sos = bytes([nc])
    for i in range(nc):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    enc_dc = [_huff_encode_table(*_DC_LUMA_SPEC),
              _huff_encode_table(*_DC_CHROMA_SPEC)]
    enc_ac = [_huff_encode_table(*_AC_LUMA_SPEC),
              _huff_encode_table(*_AC_CHROMA_SPEC)]
    bw = MsbWriter()
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    pred = [0] * nc
    padded = []
    for p, (hs, vs) in zip(planes, samp):
        ph, pw = mcus_y * vs * 8, mcus_x * hs * 8
        sh, sw = p.shape
        pp = np.empty((ph, pw), np.float64)
        pp[:sh, :sw] = p
        pp[sh:, :sw] = p[sh - 1:sh, :]    # edge-replicate padding
        pp[:, sw:] = pp[:, sw - 1:sw]
        padded.append(pp)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(nc):
                t = 0 if ci == 0 else 1
                hs, vs = samp[ci]
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        block = padded[ci][y0:y0 + 8, x0:x0 + 8]
                        pred[ci] = _encode_block(
                            bw, block, qt_l if ci == 0 else qt_c,
                            enc_dc[t], enc_ac[t], pred[ci])
    pad = -bw.nbits & 7
    bw.write((1 << pad) - 1, pad)                     # 1-fill the last byte
    out += bw.finish().replace(b"\xff", b"\xff\x00")  # byte stuffing
    out += b"\xff\xd9"                                # EOI
    return bytes(out)


# ---------------------------------------------------------------- resize

def resize_area(img: np.ndarray, max_side: int) -> np.ndarray:
    """Box-filter (area-average) downscale so max(H, W) <= max_side;
    upscaling never happens (returns the input). Pure numpy: pixels are
    binned by integer target index and averaged with bincount — exact
    area average when the ratio is integral, a stable approximation
    otherwise. Deterministic, no external resampling library."""
    h, w = img.shape[:2]
    scale = max(h, w) / max_side
    if scale <= 1.0:
        return img
    nh, nw = max(1, int(round(h / scale))), max(1, int(round(w / scale)))
    yi = np.minimum((np.arange(h) * nh // h), nh - 1)
    xi = np.minimum((np.arange(w) * nw // w), nw - 1)
    ch = img.shape[2] if img.ndim == 3 else 1
    flat = img.reshape(h, w, ch).astype(np.float64)
    # bin index per source pixel -> (nh*nw) cells
    cell = (yi[:, None] * nw + xi[None, :]).ravel()
    counts = np.bincount(cell, minlength=nh * nw)
    out = np.empty((nh * nw, ch), np.float64)
    for c in range(ch):
        sums = np.bincount(cell, weights=flat[:, :, c].ravel(),
                           minlength=nh * nw)
        out[:, c] = sums / np.maximum(counts, 1)
    return np.rint(out).astype(np.uint8).reshape(nh, nw, ch)


# ------------------------------------------------------------ WebP (VP8L)
# Lossless WebP decoder, built from the public VP8L bitstream spec
# (RFC 9649 "WebP Image Format", section 3 "Specification for WebP
# Lossless Bitstream"). No reference-repo counterpart (jsoup has no image
# codecs); this lives in the multimodal stub-tier shrink plan (SURVEY §6).
# Covers the full lossless feature set: all four transforms (predictor,
# color, subtract-green, color-indexing incl. sub-byte pixel packing),
# meta-prefix-code groups, color cache, and LZ77 backward references with
# the 2D distance mapping. Lossy VP8 still needs an external codec and
# raises ValueError (-> multimodal stub tier).
#
# The matching encoder below emits spec-conformant VP8L (flat prefix
# codes; every decoder feature reachable via knobs) so tests round-trip
# REAL bitstreams pixel-exactly with zero fixtures on disk — the same
# strategy as encode_png/encode_jpeg above.


#: code-length alphabet transmission order (spec 3.7.2.2)
# kCodeLengthCodeOrder (spec 3.7.2.2): 16 sits between 5 and 6
_VP8L_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7,
                  8, 9, 10, 11, 12, 13, 14, 15)


def _vp8l_code(lengths: list[int]) -> PrefixCode:
    """A normal prefix code from its code lengths. As in libwebp, a code
    with more than one symbol must be complete (Kraft sum exactly 1)."""
    used = [n for n in lengths if n]
    if len(used) > 1 and sum(1 << (15 - n) for n in used) < 1 << 15:
        raise ValueError("VP8L: incomplete prefix code")
    return PrefixCode(lengths)


def _vp8l_read_code(br: LsbReader, alphabet: int) -> PrefixCode:
    """Read one prefix code (spec 3.7.2: simple length or normal)."""
    if br.read(1):  # simple
        num = br.read(1) + 1
        first_8bit = br.read(1)
        syms = [br.read(8 if first_8bit else 1)]
        if num == 2:
            syms.append(br.read(8))
        # libwebp gives each symbol length 1 and builds the code from the
        # lengths inside the alphabet: a repeated or out-of-range symbol
        # leaves a one-symbol code, which consumes no bits
        syms = sorted({s for s in syms if s < alphabet})
        if not syms:
            raise ValueError("VP8L: simple-code symbol out of range")
        return PrefixCode([1] * len(syms), syms)
    ncodes = br.read(4) + 4
    if ncodes > len(_VP8L_CL_ORDER):
        raise ValueError("VP8L: bad code-length count")
    cl_lengths = [0] * 19
    for i in range(ncodes):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.read(3)
    cl = _vp8l_code(cl_lengths)
    if br.read(1):  # explicit max symbol count
        len_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(len_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    sym = 0
    while sym < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        c = br.decode(cl)
        if c < 16:
            lengths[sym] = c
            sym += 1
            if c:
                prev = c
        elif c == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if sym >= alphabet:
                    raise ValueError("VP8L: code-length repeat overflow")
                lengths[sym] = prev
                sym += 1
        elif c == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
        if sym > alphabet:
            raise ValueError("VP8L: code-length repeat overflow")
    return _vp8l_code(lengths)


def _vp8l_prefix_value(code: int, br: LsbReader) -> int:
    """LZ77 length/distance prefix decoding (spec 3.6.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _vp8l_distance_map():
    """Codes 1..120 -> 2D neighbor offsets, ordered by squared distance,
    ties broken larger-dy-first then positive-dx-first (reproduces the
    spec table in 3.6.2.3)."""
    cands = [(dx, 0) for dx in range(1, 9)]
    cands += [(dx, dy) for dy in range(1, 8) for dx in range(-7, 9)]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1],
                              0 if p[0] > 0 else 1))
    return cands


_VP8L_DIST = _vp8l_distance_map()
assert _VP8L_DIST[:12] == [(0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
                           (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2)]


def _vp8l_decode_image(br: LsbReader, w: int, h: int,
                       is_main: bool) -> np.ndarray:
    """Decode one (possibly entropy-sub-) image to uint32 ARGB pixels of
    shape (h, w). Transforms are read/applied only for the main image."""
    transforms = []
    xsize = w
    if is_main:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen or len(transforms) == 4:
                raise ValueError("VP8L: duplicate transform")
            seen.add(ttype)
            if ttype == 0 or ttype == 1:  # predictor / color
                sbits = br.read(3) + 2
                tw = (xsize + (1 << sbits) - 1) >> sbits
                th = (h + (1 << sbits) - 1) >> sbits
                sub = _vp8l_decode_image(br, tw, th, False)
                transforms.append((ttype, sbits, sub))
            elif ttype == 2:  # subtract green
                transforms.append((2, None, None))
            else:  # 3: color indexing
                n = br.read(8) + 1
                pal = _vp8l_decode_image(br, n, 1, False)[0]
                # palette entries are component-wise deltas
                out = np.zeros(n, np.uint32)
                prev = 0
                for i in range(n):
                    p = int(pal[i])
                    cur = ((((prev >> 24) + (p >> 24)) & 0xFF) << 24
                           | (((prev >> 16) + (p >> 16)) & 0xFF) << 16
                           | (((prev >> 8) + (p >> 8)) & 0xFF) << 8
                           | ((prev + p) & 0xFF))
                    out[i] = cur
                    prev = cur
                wbits = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
                transforms.append((3, (wbits, n, w), out))
                if wbits:
                    xsize = (xsize + (1 << wbits) - 1) >> wbits

    # ---- entropy-coded pixels (spec 3.7) ----
    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError("VP8L: bad color-cache size")
    cache = [0] * (1 << cache_bits) if cache_bits else None
    hbits = 0
    entropy_img = None
    ngroups = 1
    if is_main and br.read(1):
        hbits = br.read(3) + 2
        ew = (xsize + (1 << hbits) - 1) >> hbits
        eh = (h + (1 << hbits) - 1) >> hbits
        entropy_img = _vp8l_decode_image(br, ew, eh, False)
        ngroups = int(((entropy_img >> 8) & 0xFFFF).max()) + 1
    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(ngroups):
        groups.append((
            _vp8l_read_code(br, green_alpha),   # green+len+cache
            _vp8l_read_code(br, 256),           # red
            _vp8l_read_code(br, 256),           # blue
            _vp8l_read_code(br, 256),           # alpha
            _vp8l_read_code(br, 40),            # distance
        ))

    npix = xsize * h
    pix = np.zeros(npix, np.uint32)
    pos = 0
    group = groups[0]
    while pos < npix:
        if entropy_img is not None:
            x, y = pos % xsize, pos // xsize
            ew = entropy_img.shape[1]
            m = int(entropy_img[y >> hbits, x >> hbits])
            group = groups[(m >> 8) & 0xFFFF]
        g_code, r_code, b_code, a_code, d_code = group
        s = br.decode(g_code)
        if s < 256:  # literal
            r = br.decode(r_code)
            b = br.decode(b_code)
            a = br.decode(a_code)
            p = (a << 24) | (r << 16) | (s << 8) | b
            pix[pos] = p
            pos += 1
            if cache is not None:
                cache[(0x1E35A7BD * p & 0xFFFFFFFF) >> (32 - cache_bits)] = p
        elif s < 280:  # LZ77 backward reference
            length = _vp8l_prefix_value(s - 256, br)
            dcode = _vp8l_prefix_value(br.decode(d_code), br)
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _VP8L_DIST[dcode - 1]
                dist = dy * xsize + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > npix:
                raise ValueError("VP8L: bad backward reference")
            for _ in range(length):
                p = int(pix[pos - dist])
                pix[pos] = p
                pos += 1
                if cache is not None:
                    cache[(0x1E35A7BD * p & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = p
        else:  # color-cache hit
            if cache is None:
                raise ValueError("VP8L: cache symbol without cache")
            pix[pos] = cache[s - 280]
            pos += 1
    img = pix.reshape(h, xsize)

    # ---- inverse transforms, reverse read order (spec 3.5) ----
    for ttype, meta, data in reversed(transforms):
        if ttype == 2:  # add green
            g = (img >> 8) & 0xFF
            r = ((img >> 16) + g) & 0xFF
            b = (img + g) & 0xFF
            img = (img & np.uint32(0xFF00FF00)) | (r << 16) | b
        elif ttype == 3:  # color indexing: unpack + palette lookup
            wbits, n, full_w = meta
            if wbits:
                bpp = 8 >> wbits
                mask = (1 << bpp) - 1
                xs = np.arange(full_w)
                unit = (img[:, xs >> wbits] >> 8) & 0xFF
                idx = (unit >> ((xs & ((1 << wbits) - 1)) * bpp)) & mask
            else:
                idx = (img >> 8) & 0xFF
            lut = np.zeros(256, np.uint32)
            lut[:n] = data
            img = lut[np.minimum(idx, 255)]
        elif ttype == 1:  # color transform
            sbits, sub = meta, data
            img = _vp8l_inv_color(img, sub, sbits)
        else:  # predictor
            sbits, sub = meta, data
            img = _vp8l_inv_predictor(img, sub, sbits)
    return img


def _vp8l_inv_color(img: np.ndarray, sub: np.ndarray, sbits: int):
    """Inverse color transform (spec 3.5.2): per-tile signed cross-channel
    deltas, red first, then blue using the restored red."""
    h, w = img.shape
    ys = np.arange(h) >> sbits
    xs = np.arange(w) >> sbits
    cte = sub[ys][:, xs]
    # ColorTransformElement packing: green_to_red in bits 0-7, green_to_
    # blue in 8-15, red_to_blue in 16-23 (spec 3.5.2 "cte" layout)
    g2r = (cte & 0xFF).astype(np.int32)
    g2b = ((cte >> 8) & 0xFF).astype(np.int32)
    r2b = ((cte >> 16) & 0xFF).astype(np.int32)
    for v in (g2r, g2b, r2b):
        v[v > 127] -= 256  # int8 semantics
    g = ((img >> 8) & 0xFF).astype(np.int32)
    g[g > 127] -= 256
    r = ((img >> 16) & 0xFF).astype(np.int32)
    b = (img & 0xFF).astype(np.int32)
    r = (r + ((g2r * g) >> 5)) & 0xFF
    rs = r.copy()
    rs[rs > 127] -= 256
    b = (b + ((g2b * g) >> 5) + ((r2b * rs) >> 5)) & 0xFF
    return ((img & np.uint32(0xFF00FF00))
            | (r.astype(np.uint32) << 16) | b.astype(np.uint32))


def _vp8l_avg2(a: int, b: int) -> int:
    return ((((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)) & 0xFFFFFFFF


def _vp8l_inv_predictor(img: np.ndarray, sub: np.ndarray, sbits: int):
    """Inverse predictor transform (spec 3.5.1): 14 modes, per-channel
    modular addition of the residual to the prediction. The mode is the
    low 4 bits of the subimage's green; libwebp decodes the unassigned
    modes 14 and 15 as mode 0."""
    h, w = img.shape
    out = img.copy()
    modes = ((sub >> 8) & 0xF).astype(np.int32)
    for y in range(h):
        row_modes = modes[y >> sbits]
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(out[0, x - 1])
            elif x == 0:
                pred = int(out[y - 1, 0])
            else:
                m = int(row_modes[x >> sbits])
                L = int(out[y, x - 1])
                T = int(out[y - 1, x])
                TL = int(out[y - 1, x - 1])
                # TR at the right edge wraps in the LINEAR pixel buffer:
                # one past the top row's end is the CURRENT row's first
                # (already-decoded) pixel
                TR = int(out[y - 1, x + 1]) if x + 1 < w else int(out[y, 0])
                if m == 0 or m >= 14:
                    pred = 0xFF000000
                elif m == 1:
                    pred = L
                elif m == 2:
                    pred = T
                elif m == 3:
                    pred = TR
                elif m == 4:
                    pred = TL
                elif m == 5:
                    pred = _vp8l_avg2(_vp8l_avg2(L, TR), T)
                elif m == 6:
                    pred = _vp8l_avg2(L, TL)
                elif m == 7:
                    pred = _vp8l_avg2(L, T)
                elif m == 8:
                    pred = _vp8l_avg2(TL, T)
                elif m == 9:
                    pred = _vp8l_avg2(T, TR)
                elif m == 10:
                    pred = _vp8l_avg2(_vp8l_avg2(L, TL), _vp8l_avg2(T, TR))
                elif m == 11:
                    pa = pb = 0
                    for sh in (24, 16, 8, 0):
                        lc = (L >> sh) & 0xFF
                        tc = (T >> sh) & 0xFF
                        tlc = (TL >> sh) & 0xFF
                        p = lc + tc - tlc
                        pa += abs(p - tc)   # == |L - TL|
                        pb += abs(p - lc)   # == |T - TL|
                    pred = T if pa <= pb else L
                elif m == 12:
                    pred = 0
                    for sh in (24, 16, 8, 0):
                        c = ((L >> sh) & 0xFF) + ((T >> sh) & 0xFF) \
                            - ((TL >> sh) & 0xFF)
                        pred |= max(0, min(255, c)) << sh
                elif m == 13:
                    av = _vp8l_avg2(L, T)
                    pred = 0
                    for sh in (24, 16, 8, 0):
                        a = (av >> sh) & 0xFF
                        bch = (TL >> sh) & 0xFF
                        d = a - bch
                        # C truncating division by 2 (toward zero)
                        half = d // 2 if d >= 0 else -((-d) // 2)
                        pred |= max(0, min(255, a + half)) << sh
            p = int(out[y, x])
            out[y, x] = ((((p >> 24) + (pred >> 24)) & 0xFF) << 24
                         | (((p >> 16) + (pred >> 16)) & 0xFF) << 16
                         | (((p >> 8) + (pred >> 8)) & 0xFF) << 8
                         | ((p + pred) & 0xFF))
    return out


def _decode_webp_alpha(body: bytes, w: int, h: int) -> np.ndarray:
    """ALPH chunk -> (h, w) uint8 alpha plane (WebP container spec,
    "Alpha" subchunk): 1 header byte (2 reserved | 2 preprocessing |
    2 filtering | 2 compression bits), then either raw w*h bytes or a
    header-less VP8L bitstream carrying alpha in the green channel,
    followed by the optional per-pixel prediction filter inversion."""
    if not body:
        raise ValueError("WebP: empty ALPH chunk")
    hdr = body[0]
    compression = hdr & 3
    filtering = (hdr >> 2) & 3
    if compression == 0:
        raw = np.frombuffer(body, dtype=np.uint8, count=w * h, offset=1)
        alpha = raw.reshape(h, w).astype(np.int32)
    elif compression == 1:
        br = LsbReader(body[1:])
        argb = _vp8l_decode_image(br, w, h, True)
        alpha = ((argb >> 8) & 0xFF).astype(np.int32)
    else:
        raise ValueError("WebP: bad alpha compression method")
    if filtering:
        # inverse prediction, raster order: top-left predicts 0, first
        # row predicts left, first column predicts top
        out = np.zeros((h, w), dtype=np.int32)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    p = 0
                elif y == 0:
                    p = out[0, x - 1]
                elif x == 0:
                    p = out[y - 1, 0]
                elif filtering == 1:
                    p = out[y, x - 1]
                elif filtering == 2:
                    p = out[y - 1, x]
                else:
                    g = out[y, x - 1] + out[y - 1, x] - out[y - 1, x - 1]
                    p = 0 if g < 0 else (255 if g > 255 else g)
                out[y, x] = (alpha[y, x] + p) & 0xFF
        alpha = out
    return alpha.astype(np.uint8)


def decode_webp(payload: bytes) -> np.ndarray:
    """Decode a WebP file -> (H, W, 3|4) uint8 array.  Handles the
    plain RIFF layout and the VP8X extended layout, both the lossless
    (VP8L) and the lossy (VP8 keyframe, operators/vp8.py) bitstreams,
    and the ALPH alpha plane of lossy files.  The lossy pipeline --
    YUV reconstruction, fancy 9/3/3/1 chroma upsampling and the
    fixed-point YUV->RGB matrix -- is byte-identical to libwebp's
    WebPDecodeRGB/RGBA (tests/test_vp8.py)."""
    if len(payload) < 20 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP file")
    # libwebp's RIFF checks: the RIFF payload holds at least one chunk
    # header and fits the data, and the image chunk fits the RIFF payload
    riff_size = int.from_bytes(payload[4:8], "little")
    if not 12 <= riff_size <= len(payload) - 8:
        raise ValueError("WebP: bad RIFF size")
    pos = 12
    vp8l = None
    vp8 = None
    alph = None
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + size]
        if tag in (b"VP8L", b"VP8 ") and size > riff_size - 12:
            raise ValueError("WebP: %s chunk exceeds the RIFF size"
                             % tag.decode())
        if tag in (b"VP8L", b"VP8 ", b"ALPH") and len(body) < size:
            # the lossy boolean decoder reads past-the-end bytes as
            # zeros by spec, so truncation must be caught at the
            # container level to honor the degrade-one-doc contract
            raise ValueError("WebP: truncated %s chunk" % tag.decode())
        if tag == b"VP8L":
            # libwebp's VP8L bit reader gets the rest of the data, not just
            # the chunk: a stream may run on into the pad and later bytes
            vp8l = payload[pos + 8:]
            break
        if tag == b"ALPH":
            alph = body
        if tag == b"VP8 ":
            vp8 = body
            break
        pos += 8 + size + (size & 1)
    if vp8 is not None:
        from .vp8 import decode_vp8, yuv_to_rgb
        y, u, v = decode_vp8(vp8)
        rgb = yuv_to_rgb(y, u, v)
        if alph is None:
            return rgb
        h, w = y.shape
        a = _decode_webp_alpha(alph, w, h)
        return np.concatenate([rgb, a[:, :, None]], axis=-1)
    if vp8l is None:
        raise ValueError("WebP: no VP8L or VP8 chunk")
    if not vp8l or vp8l[0] != 0x2F:
        raise ValueError("VP8L: bad signature byte")
    br = LsbReader(vp8l[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)              # alpha-used hint
    if br.read(3) != 0:
        raise ValueError("VP8L: unsupported version")
    argb = _vp8l_decode_image(br, w, h, True)
    a = (argb >> 24).astype(np.uint8)
    rgb = np.stack([((argb >> 16) & 0xFF).astype(np.uint8),
                    ((argb >> 8) & 0xFF).astype(np.uint8),
                    (argb & 0xFF).astype(np.uint8)], axis=-1)
    if (a == 255).all():
        return rgb
    return np.concatenate([rgb, a[:, :, None]], axis=-1)


def _vp8l_flat_lengths(used):
    """Complete-Kraft canonical lengths for a set of used symbols: with
    n symbols and L = ceil(log2 n), the first (2^L - n) symbols in order
    get length L-1 and the rest L, so the Kraft sum is exactly 1 (strict
    decoders reject under-subscribed codes)."""
    syms = sorted(used)
    n = len(syms)
    if n == 1:
        return {syms[0]: 0}
    L = max(1, (n - 1).bit_length())
    k = (1 << L) - n
    return {s: (L - 1 if i < k else L) for i, s in enumerate(syms)}


def _vp8l_codewords(lengths: dict):
    """Canonical codewords for {symbol: length}, stored BIT-REVERSED so
    the LSB-first writer emits a whole codeword in one write() call
    (r9: the per-bit emit loop was the encoder's hottest path)."""
    return {s: (reverse_bits(c, l), l)
            for s, c, l in canonical_codes(list(lengths.values()),
                                           list(lengths))}


def _vp8l_write_code(bw: LsbWriter, lengths: dict, alphabet: int):
    """Write one prefix code; returns its codeword table. Uses the simple
    representation for <=2 symbols (when they fit 8 bits), else the
    code-length-coded normal representation."""
    used = sorted(s for s, l in lengths.items() if l > 0) \
        if any(lengths.values()) else sorted(lengths)
    if not used:
        used = [0]
        lengths = {0: 0}
    if len(used) <= 2 and max(used) <= 255:
        bw.write(1, 1)                       # simple
        bw.write(len(used) - 1, 1)
        if len(used) == 1:
            s0 = used[0]
            if s0 <= 1:
                bw.write(0, 1)               # 1-bit first symbol
                bw.write(s0, 1)
            else:
                bw.write(1, 1)
                bw.write(s0, 8)
            return {s0: (0, 0)}
        bw.write(1, 1)
        bw.write(used[0], 8)
        bw.write(used[1], 8)
        return {used[0]: (0, 1), used[1]: (1, 1)}
    bw.write(0, 1)                           # normal
    lens = {s: lengths.get(s, 0) for s in range(alphabet)}
    distinct = sorted({l for l in lens.values() if l})
    cl_used = distinct + ([0] if any(l == 0 for l in lens.values()) else [])
    if len(cl_used) == 1:
        # single-symbol code-length code: the decoder resolves it without
        # consuming bits, so every per-symbol entry is zero-length
        cl_lengths = {cl_used[0]: 1}
        cl_words = {cl_used[0]: (0, 0)}
    else:
        cl_lengths = _vp8l_flat_lengths(cl_used)
        cl_words = _vp8l_codewords(cl_lengths)
    # num_codes must cover every used value's position in the
    # transmission order (16 sits at index 8, between 5 and 6)
    order_idx = {v: i for i, v in enumerate(_VP8L_CL_ORDER)}
    num_codes = max(4, max(order_idx[v] for v in cl_used) + 1)
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        v = _VP8L_CL_ORDER[i]
        bw.write(cl_lengths.get(v, 0), 3)
    bw.write(0, 1)                           # no explicit max symbol
    for s in range(alphabet):
        c, l = cl_words[lens[s]]
        bw.write(c, l)
    return _vp8l_codewords(lens)


def _vp8l_prefix_encode(v: int):
    """value >= 1 -> (prefix_code, extra_bits, extra_value); inverse of
    _vp8l_prefix_value."""
    x = v - 1
    if x < 4:
        return x, 0, 0
    nb = x.bit_length() - 1
    code = 2 * nb + ((x >> (nb - 1)) & 1)
    extra = nb - 1
    return code, extra, x & ((1 << extra) - 1)


def _vp8l_emit_literals(bw, pixels, *, cache_bits=0, groups=None,
                        group_of=None, lz77_ops=None):
    """Entropy-code a 1D ARGB pixel stream. `lz77_ops`: optional dict
    {start_pos: (length, dist_code_value)} of backward references covering
    [start, start+length). Histograms + codes are built per group, then
    the symbol stream is written."""
    npix = len(pixels)
    cache = [None] * (1 << cache_bits) if cache_bits else None
    # ---- pass 1: symbol streams per position ----
    ops = []  # (pos, kind, payload)
    pos = 0
    while pos < npix:
        if lz77_ops and pos in lz77_ops:
            length, dist_value = lz77_ops[pos]
            ops.append((pos, "copy", (length, dist_value)))
            if cache is not None:
                for i in range(length):
                    p = int(pixels[pos + i])
                    cache[(0x1E35A7BD * p & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = p
            pos += length
            continue
        p = int(pixels[pos])
        if cache is not None:
            key = (0x1E35A7BD * p & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[key] == p:
                ops.append((pos, "cache", key))
                pos += 1
                continue
            cache[key] = p
        ops.append((pos, "lit", p))
        pos += 1
    # ---- histograms per group ----
    ng = len(groups) if groups else 1
    hists = [{"g": set(), "r": set(), "b": set(), "a": set(), "d": set()}
             for _ in range(ng)]
    for pos, kind, payload in ops:
        hi = hists[group_of(pos) if group_of else 0]
        if kind == "lit":
            p = payload
            hi["g"].add((p >> 8) & 0xFF)
            hi["r"].add((p >> 16) & 0xFF)
            hi["b"].add(p & 0xFF)
            hi["a"].add((p >> 24) & 0xFF)
        elif kind == "copy":
            length, dist_value = payload
            lc, _, _ = _vp8l_prefix_encode(length)
            dc, _, _ = _vp8l_prefix_encode(dist_value)
            hi["g"].add(256 + lc)
            hi["d"].add(dc)
        else:
            hi["g"].add(280 + payload)
    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    tables = []
    for hi in hists:
        t = {}
        for key, alpha in (("g", green_alpha), ("r", 256), ("b", 256),
                           ("a", 256), ("d", 40)):
            used = hi[key] or {0}
            t[key] = _vp8l_write_code(
                bw, _vp8l_flat_lengths(used), alpha)
        tables.append(t)
    # ---- pass 2: emit ----
    for pos, kind, payload in ops:
        t = tables[group_of(pos) if group_of else 0]
        if kind == "lit":
            p = payload
            bw.write(*t["g"][(p >> 8) & 0xFF])
            bw.write(*t["r"][(p >> 16) & 0xFF])
            bw.write(*t["b"][p & 0xFF])
            bw.write(*t["a"][(p >> 24) & 0xFF])
        elif kind == "copy":
            length, dist_value = payload
            lc, leb, lev = _vp8l_prefix_encode(length)
            bw.write(*t["g"][256 + lc])
            bw.write(lev, leb)
            dc, deb, dev = _vp8l_prefix_encode(dist_value)
            bw.write(*t["d"][dc])
            bw.write(dev, deb)
        else:
            bw.write(*t["g"][280 + payload])


def _vp8l_encode_subimage(bw, pixels) -> None:
    """Entropy-coded subimage (palette / predictor / color / entropy
    image): no transforms, no meta codes, no cache."""
    bw.write(0, 1)  # no color cache
    _vp8l_emit_literals(bw, pixels)


def encode_webp_lossless(img: np.ndarray, *, subtract_green=False,
                         predictor=False, color_transform=False,
                         palette=False, cache_bits=0, lz77=None,
                         meta_bits=None) -> bytes:
    """Spec-conformant VP8L encoder (flat complete prefix codes; no rate
    optimization — this exists so tests can round-trip every decoder
    feature with zero fixtures). `lz77`: None | "plain" | "2d" encodes
    rows 1..h-1 as one backward reference over row 0 (requires all rows
    identical). Transforms compose per the spec's reverse-application
    rule (forwards run in reverse write order)."""
    if img.ndim == 2:
        img = img[:, :, None].repeat(3, axis=2)
    h, w = img.shape[:2]
    has_alpha = img.shape[2] == 4
    a = img[:, :, 3].astype(np.uint32) if has_alpha else \
        np.full((h, w), 255, np.uint32)
    argb = ((a << 24)
            | (img[:, :, 0].astype(np.uint32) << 16)
            | (img[:, :, 1].astype(np.uint32) << 8)
            | img[:, :, 2].astype(np.uint32))

    bw = LsbWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if has_alpha else 0, 1)
    bw.write(0, 3)

    write_order = []          # transform headers in write order
    if predictor:
        write_order.append("predictor")
    if color_transform:
        write_order.append("color")
    if subtract_green:
        write_order.append("subtract_green")
    if palette:
        write_order.append("palette")

    cte = (5, 250, 3)         # g2r, g2b(-6), r2b as int8 bytes
    pal = idx = None
    xsize = w
    # decoder applies inverses in reverse READ order (last-read transform
    # inverted first), so the encoder applies forwards in WRITE order:
    # P = Tn_f(...T1_f(I)) decodes as T1^-1(...Tn^-1(P)) = I
    for t in write_order:
        if t == "subtract_green":
            g = (argb >> 8) & 0xFF
            r = ((argb >> 16) - g) & 0xFF
            b = (argb - g) & 0xFF
            argb = (argb & np.uint32(0xFF00FF00)) | (r << 16) | b
        elif t == "color":
            g2r, g2b, r2b = (v - 256 if v > 127 else v for v in cte)
            g = ((argb >> 8) & 0xFF).astype(np.int32)
            g[g > 127] -= 256
            r0 = ((argb >> 16) & 0xFF).astype(np.int32)
            r0s = r0.copy()
            r0s[r0s > 127] -= 256
            b0 = (argb & 0xFF).astype(np.int32)
            r = (r0 - ((g2r * g) >> 5)) & 0xFF
            b = (b0 - ((g2b * g) >> 5) - ((r2b * r0s) >> 5)) & 0xFF
            argb = ((argb & np.uint32(0xFF00FF00))
                    | (r.astype(np.uint32) << 16) | b.astype(np.uint32))
        elif t == "predictor":
            res = np.zeros_like(argb)
            for y in range(h):
                for x in range(w):
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = int(argb[0, x - 1])
                    elif x == 0:
                        pred = int(argb[y - 1, 0])
                    else:
                        pred = 0xFF000000      # mode 0 everywhere
                    p = int(argb[y, x])
                    res[y, x] = ((((p >> 24) - (pred >> 24)) & 0xFF) << 24
                                 | (((p >> 16) - (pred >> 16)) & 0xFF) << 16
                                 | (((p >> 8) - (pred >> 8)) & 0xFF) << 8
                                 | ((p - pred) & 0xFF))
            argb = res
        elif t == "palette":
            colors, inv = np.unique(argb.ravel(), return_inverse=True)
            if len(colors) > 256:
                raise ValueError("palette transform needs <= 256 colors")
            pal = colors
            idx = inv.reshape(h, w)

    for t in write_order:
        bw.write(1, 1)
        if t == "predictor":
            bw.write(0, 2)
            bw.write(9 - 2, 3)               # 512px tiles: one tile
            tw, th = (w + 511) >> 9, (h + 511) >> 9
            _vp8l_encode_subimage(bw, np.zeros(tw * th, np.uint32))
        elif t == "color":
            bw.write(1, 2)
            bw.write(9 - 2, 3)
            tw, th = (w + 511) >> 9, (h + 511) >> 9
            # cte packing: g2r bits 0-7, g2b 8-15, r2b 16-23 (3.5.2)
            cte_pix = (cte[2] << 16) | (cte[1] << 8) | cte[0]
            _vp8l_encode_subimage(
                bw, np.full(tw * th, cte_pix, np.uint32))
        elif t == "subtract_green":
            bw.write(2, 2)
        else:                                 # palette
            bw.write(3, 2)
            n = len(pal)
            bw.write(n - 1, 8)
            deltas = np.zeros(n, np.uint32)
            prev = 0
            for i in range(n):
                cur = int(pal[i])
                deltas[i] = ((((cur >> 24) - (prev >> 24)) & 0xFF) << 24
                             | (((cur >> 16) - (prev >> 16)) & 0xFF) << 16
                             | (((cur >> 8) - (prev >> 8)) & 0xFF) << 8
                             | ((cur - prev) & 0xFF))
                prev = cur
            _vp8l_encode_subimage(bw, deltas)
            wbits = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
            if wbits:
                bpp = 8 >> wbits
                ppu = 1 << wbits
                xsize = (w + ppu - 1) >> wbits
                packed = np.zeros((h, xsize), np.uint32)
                for x in range(w):
                    packed[:, x >> wbits] |= idx[:, x].astype(np.uint32) \
                        << ((x & (ppu - 1)) * bpp + 8)
                argb = packed
            else:
                argb = (idx.astype(np.uint32) << 8)
    bw.write(0, 1)                            # end of transforms

    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)

    group_of = None
    groups = None
    if meta_bits is not None:
        bw.write(1, 1)
        bw.write(meta_bits - 2, 3)
        ew = (xsize + (1 << meta_bits) - 1) >> meta_bits
        eh = (h + (1 << meta_bits) - 1) >> meta_bits
        # two groups: left/right tile halves
        tile_group = np.zeros((eh, ew), np.uint32)
        tile_group[:, ew // 2:] = 1
        _vp8l_encode_subimage(bw, (tile_group << 8).ravel())
        groups = [0, 1]

        def group_of(pos, _ew=ew, _xs=xsize, _tg=tile_group,
                     _mb=meta_bits):
            x, y = pos % _xs, pos // _xs
            return int(_tg[y >> _mb, x >> _mb])
    else:
        bw.write(0, 1)

    flat = argb.ravel()
    lz_ops = None
    if lz77 is not None:
        if h < 2 or not (argb[1:] == argb[0]).all():
            raise ValueError("lz77 test mode needs identical rows")
        dist = xsize
        dist_value = dist + 120 if lz77 == "plain" else 1  # (0,1) 2D code
        lz_ops = {xsize: ((h - 1) * xsize, dist_value)}
    _vp8l_emit_literals(bw, flat, cache_bits=cache_bits, groups=groups,
                        group_of=group_of, lz77_ops=lz_ops)

    body = b"\x2f" + bw.finish()
    riff = b"VP8L" + len(body).to_bytes(4, "little") + body
    if len(body) & 1:
        riff += b"\x00"
    return (b"RIFF" + (4 + len(riff)).to_bytes(4, "little")
            + b"WEBP" + riff)
