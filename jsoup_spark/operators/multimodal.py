"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct. The
Spark-side plumbing (schema, batching, partitioning-by-size, Arrow batch
shapes) is real and tested. Codec work is two-tier:

* REAL decode (operators/codecs.py, stdlib zlib/wave + numpy, no
  external libraries): PNG (filters 0-4), uncompressed BMP, binary
  netpbm, baseline JPEG (SOF0 huffman+IDCT, 4:4:4/4:2:2/4:2:0), PCM WAV
  — `decode_image`/`decode_audio` sniff magic bytes and decode these
  natively, `resize_stage` really resamples (area average) and
  re-encodes PNG, and `decode_stage` extracts real per-channel
  mean/std features. Progressive JPEG and WebP decode natively too —
  both lossless (VP8L, codecs.py) and lossy (VP8 keyframes,
  operators/vp8.py), byte-identical to libwebp (tests/test_vp8.py); GIF
  (87a/89a incl. animation, operators/gif.py) decodes natively,
  index-exact vs giflib (tests/test_gif.py); baseline TIFF
  (strips/tiles/planar, None/LZW/Deflate/PackBits, predictor,
  operators/tiff.py) decodes natively, validated both directions vs
  libtiff (tests/test_tiff.py).
* UNSUPPORTED: formats that need an external codec library
  (lossless-process JPEG, MP3, H.264, ...; PIL/opencv/ffmpeg are not
  dependencies). `decode_image`/`decode_audio` raise
  NotImplementedError, `decode_stage` emits a row with null
  geometry and feature, and `resize_stage` emits no row.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, types as T

from . import codecs
from .pipeline import doc_stage

MEDIA_META = T.StructType([
    T.StructField("media_type", T.StringType(), False),   # image|audio|video
    T.StructField("mime", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("source_ref", T.StringType(), True),
])

DECODED = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("media_type", T.StringType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_frames", T.IntegerType(), True),
    # double, not float: the feature stats are exactly recomputable from
    # the deterministic synth images, and the driver oracle compares them
    # value-rounded — float32 truncation would straddle rounding boundaries
    T.StructField("feature", T.ArrayType(T.DoubleType()), True),
])


def synthesize_media(docs: DataFrame, *,
                     codec: str | None = None) -> DataFrame:
    """Attach a deterministic, genuinely decodable payload per doc.

    By default: alternating PNG / BMP images whose pixels derive from the
    doc_id hash, built in the per-document Arrow kernel, so the REAL
    decoders run end-to-end with zero fixtures.
    codec="jpeg": every payload is a baseline JPEG from the native
    encoder instead of the lossless PNG/BMP mix.
    codec="jpeg_arith": arithmetic-coded (SOF9) JPEG from the native QM
    encoder (operators/jpeg_arith.py).
    codec="webp": every payload is a lossless VP8L WebP (predictor +
    subtract-green transforms, color cache) — lossless, so downstream
    features stay pixel-exact through the round trip.
    codec="gif": lossless true-color GIF from the strip encoder
    (operators/gif.py encode_gif) — also pixel-exact downstream.
    codec="tiff": LZW+predictor TIFF (operators/tiff.py encode_tiff) —
    also pixel-exact downstream."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta", MEDIA_META, False),
    ])

    def per_doc(doc_id):
        doc_id = str(doc_id)
        img = _hash_image(doc_id)
        if codec == "jpeg":
            b, mime = codecs.encode_jpeg(img), "image/jpeg"
        elif codec == "jpeg_arith":
            from .jpeg_arith import encode_jpeg_arith
            b, mime = encode_jpeg_arith(img), "image/jpeg"
        elif codec == "webp":
            b = codecs.encode_webp_lossless(
                img, predictor=True, subtract_green=True, cache_bits=6)
            mime = "image/webp"
        elif codec == "gif":
            from .gif import encode_gif
            b, mime = encode_gif(img), "image/gif"
        elif codec == "tiff":
            from .tiff import encode_tiff
            b = encode_tiff(img.astype("int64"), compression=5, predictor=2)
            mime = "image/tiff"
        elif codec == "ccitt":
            # bilevel fax page: G4 (T.6) TIFF, MinIsWhite; black iff
            # (x+y+h2) % 5 == 0 — closed-form black count for the
            # symbolic oracle
            from .tiff import encode_tiff
            hd = hashlib.sha256(doc_id.encode()).digest()
            w_, ht_ = 16 + hd[0] % 48, 16 + hd[1] % 48
            yy, xx = np.mgrid[0:ht_, 0:w_]
            bits = ((xx + yy + hd[2]) % 5 == 0).astype(np.uint8)
            b = encode_tiff(bits[:, :, None].astype("int64"),
                            photometric=0, bit_depth=1, compression=4)
            mime = "image/tiff"
        elif int(hashlib.md5(doc_id.encode()).hexdigest(), 16) % 2 == 0:
            b, mime = codecs.encode_png(img), "image/png"
        else:
            b, mime = codecs.encode_bmp(img), "image/bmp"
        return [(b, ("image", mime, len(b), f"mem://{doc_id}"))]

    # the key doubles as the one input value: the payload derives from it
    return doc_stage(docs, ["doc_id"], per_doc, out_schema)


def _hash_image(doc_id: str) -> "np.ndarray":
    """Deterministic small RGB image from the doc_id hash: size and a
    smooth gradient both derive from the digest."""
    h = hashlib.sha256(doc_id.encode()).digest()
    w, ht = 16 + h[0] % 48, 16 + h[1] % 48
    yy, xx = np.mgrid[0:ht, 0:w]
    r = (xx * 255 // max(w - 1, 1) + h[2]) % 256
    g = (yy * 255 // max(ht - 1, 1) + h[3]) % 256
    b = (xx + yy + h[4]) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def decode_image(payload: bytes):
    """Decode an image payload -> (width, height). PNG / uncompressed
    BMP / binary netpbm / baseline+progressive+arithmetic JPEG / WebP
    (lossless VP8L and lossy VP8) / GIF / TIFF decode NATIVELY (operators/codecs.py
    + jpeg_arith.py + vp8.py, stdlib + numpy). Other formats need an
    external codec library: NotImplementedError."""
    arr = decode_image_array(payload)
    if arr is None:
        raise NotImplementedError(
            "payload is not PNG/BMP/netpbm/JPEG/WebP/GIF/TIFF; decoding "
            "other image formats requires an imaging library (PIL/opencv) "
            "on the cluster")
    return arr.shape[1], arr.shape[0]


def decode_image_array(payload: bytes):
    """Real pixel decode for the natively-supported formats; None when
    the format needs an external codec."""
    fmt = codecs.sniff_format(payload)
    try:
        if fmt == "png":
            return codecs.decode_png(payload)
        if fmt == "bmp":
            return codecs.decode_bmp(payload)
        if fmt == "ppm":
            return codecs.decode_ppm(payload)
        if fmt == "jpeg":
            return codecs.decode_jpeg(payload)
        if fmt == "webp":
            return codecs.decode_webp(payload)
        if fmt == "gif":
            from .gif import decode_gif
            return decode_gif(payload)
        if fmt == "tiff":
            from .tiff import decode_tiff
            return decode_tiff(payload)
        if fmt == "ico":
            from .ico import decode_ico
            return decode_ico(payload)
    except ValueError:
        return None  # esoteric/corrupt variant (interlaced/16-bit/...)
    return None


def decode_stage(media: DataFrame) -> DataFrame:
    """Decode/feature-extract stage on the per-document Arrow kernel.

    Natively-decodable payloads yield REAL 8-dim features
    ([mean_r, mean_g, mean_b, mean_all, std_r, std_g, std_b, std_all]
    / 255, gray broadcast across channels); any other payload yields a
    row with null width, height, n_frames and feature."""

    def per_doc(payload, media_type):
        arr = decode_image_array(payload)
        if arr is None:
            return [(media_type, None, None, None, None)]
        return [(media_type, arr.shape[1], arr.shape[0], 1,
                 _image_feature(arr))]

    return doc_stage(media, ["payload", "meta.media_type"], per_doc,
                     DECODED)


def _image_feature(arr: "np.ndarray") -> list:
    px = arr.astype(np.float64)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.shape[2] >= 3:
        chans = [px[:, :, i] for i in range(3)]
    else:
        chans = [px[:, :, 0]] * 3
    means = [float(c.mean()) for c in chans] + [float(px.mean())]
    stds = [float(c.std()) for c in chans] + [float(px.std())]
    return [v / 255.0 for v in means + stds]


def decode_audio(payload: bytes):
    """Decode an audio payload -> (sample_rate, n_samples). PCM WAV
    decodes NATIVELY via the stdlib wave module (operators/codecs.py);
    compressed formats (MP3/AAC/...) and malformed WAV variants need an
    external library: NotImplementedError."""
    if codecs.sniff_format(payload) == "wav":
        import wave as _wave
        try:
            rate, n_frames, _samples = codecs.decode_wav(payload)
            return rate, n_frames
        except (ValueError, EOFError, _wave.Error):
            pass  # malformed/unsupported WAV variant
    raise NotImplementedError(
        "payload is not PCM WAV; decoding compressed audio requires "
        "an audio library (soundfile/ffmpeg) on the cluster")


RESIZED = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("payload", T.BinaryType(), False),
])


def resize_stage(media: DataFrame, max_side: int = 128) -> DataFrame:
    """Image resize on the per-document Arrow kernel: aspect-preserving
    clamp of the longer side to `max_side`.

    Natively-decodable payloads are REALLY resampled (codecs.resize_area
    box filter) and re-encoded as PNG; any other payload yields no row."""

    def per_doc(payload):
        arr = decode_image_array(payload)
        if arr is None:
            return []
        small = codecs.resize_area(arr, max_side)
        return [(small.shape[1], small.shape[0], codecs.encode_png(small))]

    return doc_stage(media, ["payload"], per_doc, RESIZED)
