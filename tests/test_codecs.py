"""Native media codecs (operators/codecs.py): PNG/BMP/netpbm/WAV.

PNG unfiltering is validated against an independent per-byte filter
encoder (straight transcription of the RFC 2083 filter spec) over
random images with every filter type forced per scanline — decode must
invert it exactly — plus encode->decode round-trips for all formats.
"""

import struct
import zlib

import numpy as np
import pytest

from jsoup_spark.operators import codecs, multimodal


def _png_with_filters(img, filters):
    """Encode img applying the given per-scanline filter types."""
    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride).astype(int)
    raws = []
    for y in range(h):
        f = filters[y]
        line = []
        for x in range(stride):
            v = flat[y][x]
            a = flat[y][x - ch] if x >= ch else 0
            b = flat[y - 1][x] if y > 0 else 0
            c = flat[y - 1][x - ch] if (y > 0 and x >= ch) else 0
            if f == 0:
                e = v
            elif f == 1:
                e = v - a
            elif f == 2:
                e = v - b
            elif f == 3:
                e = v - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                e = v - pred
            line.append(e & 0xFF)
        raws.append(bytes([f]) + bytes(line))
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(raws)))
            + chunk(b"IEND", b""))


def test_png_all_filters_vs_naive_reference():
    rng = np.random.RandomState(7)
    for ch in (1, 2, 3, 4):
        img = rng.randint(0, 256, (11, 7, ch), dtype=np.uint8)
        for filters in ([0] * 11, [1] * 11, [2] * 11, [3] * 11, [4] * 11,
                        [rng.randint(0, 5) for _ in range(11)]):
            payload = _png_with_filters(img, filters)
            got = codecs.decode_png(payload)
            assert np.array_equal(got, img), (ch, filters[:3])


def test_png_roundtrip_and_sniff():
    rng = np.random.RandomState(1)
    img = rng.randint(0, 256, (20, 33, 3), dtype=np.uint8)
    p = codecs.encode_png(img)
    assert codecs.sniff_format(p) == "png"
    assert np.array_equal(codecs.decode_png(p), img)


def test_png_rejects_interlaced():
    img = np.zeros((4, 4, 3), np.uint8)
    p = bytearray(codecs.encode_png(img))
    # IHDR interlace byte is the last IHDR data byte (offset 8+8+4+13-1... )
    # IHDR data starts at 16; interlace is data[12]
    p[16 + 12] = 1
    with pytest.raises(ValueError):
        codecs.decode_png(bytes(p))


def test_bmp_roundtrip_and_padding():
    rng = np.random.RandomState(2)
    for w in (5, 8, 3):  # odd widths exercise row padding
        img = rng.randint(0, 256, (6, w, 3), dtype=np.uint8)
        p = codecs.encode_bmp(img)
        assert codecs.sniff_format(p) == "bmp"
        assert np.array_equal(codecs.decode_bmp(p), img)


def test_png_corrupt_idat_raises_valueerror():
    """A flipped byte in the deflate stream fails the decode contract
    cleanly: ValueError, not zlib.error, so decode_image_array yields
    None instead of failing the whole Spark task."""
    rng = np.random.RandomState(4)
    p = bytearray(codecs.encode_png(
        rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)))
    idat = p.index(b"IDAT") + 4
    p[idat + 10] ^= 0xFF
    with pytest.raises(ValueError):
        codecs.decode_png(bytes(p))
    assert multimodal.decode_image_array(bytes(p)) is None


def test_bmp_truncated_header_raises_valueerror():
    """A BMP cut inside its 54-byte header raises ValueError, not
    struct.error."""
    p = codecs.encode_bmp(np.zeros((4, 4, 3), np.uint8))[:20]
    with pytest.raises(ValueError):
        codecs.decode_bmp(p)
    assert multimodal.decode_image_array(p) is None


def test_ppm_roundtrip():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (9, 13, 3), dtype=np.uint8)
    p = codecs.encode_ppm(img)
    assert codecs.sniff_format(p) == "ppm"
    assert np.array_equal(codecs.decode_ppm(p), img)
    gray = rng.randint(0, 256, (4, 6), dtype=np.uint8)
    p5 = codecs.encode_ppm(gray)
    assert np.array_equal(codecs.decode_ppm(p5)[:, :, 0], gray)


def test_ppm_comments():
    img = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    p = b"P6\n# a comment\n2 2\n# another\n255\n" + img.tobytes()
    assert np.array_equal(codecs.decode_ppm(p), img)


def test_wav_roundtrip():
    rng = np.random.RandomState(4)
    samples = (rng.rand(1600).astype(np.float32) - 0.5)
    p = codecs.encode_wav(samples, rate=8000)
    assert codecs.sniff_format(p) == "wav"
    rate, n, got = codecs.decode_wav(p)
    assert rate == 8000 and n == 1600
    # PCM16 quantization: 0.5 LSB rounding + the 32767-encode/32768-decode
    # scale mismatch
    assert np.abs(got - samples).max() < 1 / 16000


def test_resize_area():
    # exact integral-ratio average: 4x4 blocks of constant value
    img = np.repeat(np.repeat(
        np.arange(16, dtype=np.uint8).reshape(4, 4) * 16, 4, 0), 4, 1)
    img = np.stack([img] * 3, axis=-1)  # 16x16x3
    small = codecs.resize_area(img, 4)
    assert small.shape == (4, 4, 3)
    assert np.array_equal(small[:, :, 0],
                          np.arange(16, dtype=np.uint8).reshape(4, 4) * 16)
    # no upscaling
    assert codecs.resize_area(small, 100) is small


# --------------------------------------------------- multimodal two-tier

def test_decode_image_real_vs_stub():
    img = np.full((10, 12, 3), 7, np.uint8)
    assert multimodal.decode_image(codecs.encode_png(img)) == (12, 10)
    assert multimodal.decode_image(codecs.encode_bmp(img)) == (12, 10)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0 fake jpeg")


def test_decode_audio_real_vs_stub():
    p = codecs.encode_wav(np.zeros(800, np.float32), rate=16000)
    assert multimodal.decode_audio(p) == (16000, 800)
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"ID3 fake mp3")


def test_real_payload_pipeline(spark):
    """End-to-end: synthesize REAL PNG/BMP payloads -> decode_stage
    returns true dimensions + real pixel features -> resize_stage output
    is a decodable PNG at the clamped geometry."""
    from jsoup_spark.operators.multimodal import (
        _hash_image, decode_stage, resize_stage, synthesize_media)
    docs = spark.createDataFrame(
        [(str(i), "t") for i in range(12)], "doc_id string, text string")
    media = synthesize_media(docs)
    rows = {r.doc_id: r for r in decode_stage(media).collect()}
    assert len(rows) == 12
    for doc_id, r in rows.items():
        img = _hash_image(doc_id)
        assert (r.width, r.height) == (img.shape[1], img.shape[0])
        # real per-channel means, not hash bytes
        exp = [img[:, :, 0].mean(), img[:, :, 1].mean(), img[:, :, 2].mean()]
        got = [v * 255.0 for v in r.feature[:3]]
        assert max(abs(a - b) for a, b in zip(exp, got)) < 0.5
    rs = {r.doc_id: r for r in resize_stage(media, max_side=16).collect()}
    for doc_id, r in rs.items():
        arr = codecs.decode_png(bytes(r.payload))
        assert arr.shape[:2] == (r.height, r.width)
        assert max(r.width, r.height) <= 16


# ------------------------------------------------------------------- JPEG

def _smooth_img(h, w, seed=0):
    """Smooth gradient (no 255->0 hue wraps, where JPEG ringing is
    expected and unbounded-max error is normal)."""
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 200) // max(w - 1, 1) + 20
    g = (yy * 180) // max(h - 1, 1) + 40
    b = ((xx + yy) * 100) // max(h + w - 2, 1) + 80
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def test_jpeg_roundtrip_rgb_444():
    for h, w in ((16, 16), (24, 40), (33, 41), (7, 9)):
        img = _smooth_img(h, w)
        b = codecs.encode_jpeg(img, quality=90)
        assert codecs.sniff_format(b) == "jpeg"
        dec = codecs.decode_jpeg(b)
        assert dec.shape == (h, w, 3)
        err = np.abs(dec.astype(int) - img.astype(int))
        assert err.mean() < 3.0 and err.max() < 32, (h, w, err.mean(),
                                                     err.max())


def test_jpeg_roundtrip_420_subsampling():
    """4:2:0 encode exercises the decoder's multi-block MCU interleave +
    chroma upsampling path."""
    for h, w in ((32, 32), (33, 47), (17, 18)):
        img = _smooth_img(h, w)
        b = codecs.encode_jpeg(img, quality=90, subsampling="420")
        dec = codecs.decode_jpeg(b)
        assert dec.shape == (h, w, 3)
        err = np.abs(dec.astype(int) - img.astype(int))
        assert err.mean() < 6.0, (h, w, err.mean())


def test_jpeg_roundtrip_gray():
    g = (np.mgrid[0:33, 0:41][0] * 5 + 16).clip(0, 255).astype(np.uint8)
    b = codecs.encode_jpeg(g, quality=90)
    dec = codecs.decode_jpeg(b)
    assert dec.shape == (33, 41, 1)
    assert np.abs(dec[:, :, 0].astype(int) - g.astype(int)).mean() < 2.0


def test_jpeg_quality_monotonic_size():
    img = _smooth_img(48, 48)
    sizes = [len(codecs.encode_jpeg(img, quality=q)) for q in (30, 75, 95)]
    assert sizes[0] < sizes[1] < sizes[2]


def test_jpeg_quantization_determinism():
    img = _smooth_img(40, 24)
    assert codecs.encode_jpeg(img) == codecs.encode_jpeg(img)
    b = codecs.encode_jpeg(img)
    assert np.array_equal(codecs.decode_jpeg(b), codecs.decode_jpeg(b))


def test_jpeg_rejects_progressive():
    img = _smooth_img(16, 16)
    b = bytearray(codecs.encode_jpeg(img))
    i = b.find(b"\xff\xc0")
    b[i + 1] = 0xC2          # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError):
        codecs.decode_jpeg(bytes(b))


def test_jpeg_in_multimodal_pipeline():
    """decode_image_array routes JPEG to the native decoder; hash images
    (the synth corpus content) keep exact geometry + close features."""
    for i in range(8):
        img = multimodal._hash_image(str(i))
        payload = codecs.encode_jpeg(img, quality=90)
        arr = multimodal.decode_image_array(payload)
        assert arr is not None and arr.shape == img.shape
        w, h = multimodal.decode_image(payload)
        assert (w, h) == (img.shape[1], img.shape[0])
        exp = multimodal._image_feature(img)
        got = multimodal._image_feature(arr)
        assert max(abs(a - b) for a, b in zip(exp, got)) < 0.05


def test_decode_jpeg_truncated_raises_valueerror():
    """ADVICE r5: truncated/corrupt JPEG must raise ValueError (the
    decode_image_array fallback contract), never IndexError/struct.error."""
    import numpy as np
    import pytest
    from jsoup_spark.operators import codecs
    rng = np.random.default_rng(7)
    img = (rng.integers(0, 256, (24, 24, 3))).astype(np.uint8)
    full = codecs.encode_jpeg(img, quality=80)
    # header/entropy truncations must fail cleanly as ValueError
    for cut in [3, 5, 10, 21, len(full) // 2]:
        with pytest.raises(ValueError):
            codecs.decode_jpeg(full[:cut])
    # missing EOI with complete entropy data decodes (libjpeg behavior)
    assert codecs.decode_jpeg(full[:-2]).shape == (24, 24, 3)
    # corrupt a byte inside the entropy-coded segment / headers
    for flip in [8, 30, len(full) - 10]:
        b = bytearray(full)
        b[flip] ^= 0x5A
        try:
            codecs.decode_jpeg(bytes(b))
        except ValueError:
            pass  # clean rejection is fine; silent best-effort decode too


def test_jpeg_sos_length_must_match_component_count():
    """T.81 B.2.3: an SOS segment is 6 + 2*Ns bytes long. A stream whose
    SOS states a longer length hides entropy-coded bytes inside the
    header; libjpeg rejects it (JERR_BAD_LENGTH), and so must decode_jpeg.
    Without the length check each of these six streams decodes to an
    image."""
    from jsoup_spark.operators.jpeg_arith import encode_jpeg_arith
    try:
        import libjpeg_ref as jr
    except ImportError:
        from tests import libjpeg_ref as jr
    img = np.random.default_rng(1).integers(
        0, 256, (16, 16, 3)).astype(np.uint8)
    for good in (codecs.encode_jpeg(img), encode_jpeg_arith(img)):
        assert codecs.decode_jpeg(good).shape == (16, 16, 3)
        sos = good.index(b"\xff\xda")
        assert good[sos + 2:sos + 4] == struct.pack(">H", 12)
        for ls in (14, 22, 228):
            bad = good[:sos + 2] + struct.pack(">H", ls) + good[sos + 4:]
            with pytest.raises(ValueError):
                codecs.decode_jpeg(bad)
            if jr.available():
                with pytest.raises(ValueError):
                    jr.decode(bad)


def test_jpeg_empty_huffman_table_fails_only_the_scan_that_uses_it():
    """A DHT table whose 16 BITS counts are all zero defines no codes. It
    is legal until a scan uses it: libjpeg decodes a stream that only
    defines one, and so must decode_jpeg; a scan that uses it fails."""
    try:
        import libjpeg_ref as jr
    except ImportError:
        from tests import libjpeg_ref as jr
    img = np.random.default_rng(2).integers(
        0, 256, (16, 16, 3)).astype(np.uint8)
    good = codecs.encode_jpeg(img)
    sos = good.index(b"\xff\xda")
    for tc_th in (0x03, 0x13):              # unused DC 3, unused AC 3
        dht = b"\xff\xc4" + struct.pack(">HB", 19, tc_th) + bytes(16)
        extra = good[:sos] + dht + good[sos:]
        assert np.array_equal(codecs.decode_jpeg(extra),
                              codecs.decode_jpeg(good))
        if jr.available():
            assert np.array_equal(jr.decode(extra), jr.decode(good))
    # the same empty table in place of the AC table the scan uses
    used = good[:sos] + b"\xff\xc4" + struct.pack(">HB", 19, 0x10) \
        + bytes(16) + good[sos:]
    with pytest.raises(ValueError):
        codecs.decode_jpeg(used)


# Wild progressive/baseline JPEGs that ship in this environment (outside
# the repo, existence-gated). javax.imageio via the Spark image source is
# the independent reference decoder.
_WILD_JPEGS = [
    # (path, subsampled?)
    ("/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
     "multi-channel/grayscale.jpg", False),
    ("/usr/share/doc/nodejs/thin-white-stripe.jpg", False),
    ("/usr/share/doc/nodejs/full-white-stripe.jpg", False),
    ("/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/doc/"
     "rust/html/embedded-book/assets/f3.jpg", True),
]


def test_progressive_jpeg_decode_vs_imageio(spark):
    """Progressive (SOF2) decode must match javax.imageio pixel-for-pixel
    on 4:4:4 images (+/-2 for IDCT rounding); on chroma-subsampled images
    the only divergence is the documented upsampling policy (nearest vs
    libjpeg's triangle filter), bounded in mean."""
    import os
    import numpy as np
    import pytest
    from jsoup_spark.operators import codecs

    avail = [(p, sub) for p, sub in _WILD_JPEGS if os.path.exists(p)]
    if not avail:
        pytest.skip("no wild JPEG fixtures in this environment")
    checked = 0
    for path, subsampled in avail:
        row = spark.read.format("image").load(path).collect()[0]["image"]
        ref = np.frombuffer(bytes(row["data"]), np.uint8).reshape(
            row["height"], row["width"], row["nChannels"])
        ours = codecs.decode_jpeg(open(path, "rb").read())
        assert ours.shape[:2] == ref.shape[:2]
        if row["nChannels"] == 3:
            ref = ref[:, :, ::-1]  # BGR -> RGB
        if ours.shape[2] != ref.shape[2]:
            continue  # gray-vs-color promotion differences: skip compare
        d = np.abs(ours.astype(int) - ref.astype(int))
        if subsampled:
            assert float(d.mean()) < 2.5 and np.percentile(d, 99) <= 16, path
        else:
            assert d.max() <= 3, (path, d.max())
        checked += 1
    assert checked >= 1


def test_progressive_jpeg_truncation_and_errors():
    """Progressive path honors the same ValueError contract."""
    import os
    import numpy as np
    import pytest
    from jsoup_spark.operators import codecs

    path = next((p for p, _ in _WILD_JPEGS if os.path.exists(p)), None)
    if path is None:
        pytest.skip("no wild JPEG fixtures")
    full = open(path, "rb").read()
    for cut in (4, 40, len(full) // 3, len(full) // 2):
        with pytest.raises(ValueError):
            codecs.decode_jpeg(full[:cut])


# ------------------------------------------------------------ WebP (VP8L)
# Round-trip validation strategy: no VP8L fixtures or encoders exist in
# this container, so the spec-conformant test encoder in codecs.py
# (flat complete prefix codes, every feature reachable by knob) generates
# REAL bitstreams and decode_webp must reproduce the source pixels
# exactly. Each test pins one decoder feature.


def _rt_webp(img, **kw):
    data = codecs.encode_webp_lossless(img, **kw)
    assert codecs.sniff_format(data) == "webp"
    out = codecs.decode_webp(data)
    src = img if img.ndim == 3 else img[:, :, None].repeat(3, axis=2)
    if src.shape[2] == 4 and out.shape[2] == 3:
        assert (src[:, :, 3] == 255).all()
        src = src[:, :, :3]
    assert out.shape == src.shape
    assert (out == src).all()
    return data


def test_webp_roundtrip_plain_and_alpha():
    rng = np.random.RandomState(11)
    _rt_webp(rng.randint(0, 256, (13, 17, 3), np.uint8))
    _rt_webp(rng.randint(0, 256, (8, 9, 4), np.uint8))   # varying alpha
    _rt_webp(np.array([[[3, 200, 7]]], np.uint8))        # 1x1
    _rt_webp(rng.randint(0, 256, (6, 5), np.uint8))      # gray input


def test_webp_transforms_roundtrip():
    rng = np.random.RandomState(12)
    img = rng.randint(0, 256, (21, 19, 3), np.uint8)
    _rt_webp(img, subtract_green=True)
    _rt_webp(img, predictor=True)
    _rt_webp(img, color_transform=True)
    # composition: decoder inverts in reverse read order; the color
    # transform does NOT commute with the others, so this pins the
    # forward/inverse ordering contract
    _rt_webp(img, predictor=True, subtract_green=True,
             color_transform=True)


def test_webp_color_indexing_all_packings():
    rng = np.random.RandomState(13)
    for ncolors, shape in ((2, (10, 23)), (4, (7, 13)), (16, (11, 29)),
                           (200, (9, 13))):
        pal = rng.randint(0, 256, (ncolors, 3), np.uint8)
        img = pal[rng.randint(0, ncolors, shape)]
        _rt_webp(img, palette=True)


def test_webp_color_cache_and_meta_groups():
    rng = np.random.RandomState(14)
    img = rng.randint(0, 256, (20, 33, 3), np.uint8)
    _rt_webp(img, cache_bits=4)
    _rt_webp(np.tile(img[:1, :1], (6, 8, 1)), cache_bits=6)  # heavy hits
    _rt_webp(img, meta_bits=2)
    _rt_webp(img, meta_bits=3, cache_bits=5)


def test_webp_lz77_plain_and_2d_distance():
    rng = np.random.RandomState(15)
    rows = np.tile(rng.randint(0, 256, (1, 19, 3), np.uint8), (6, 1, 1))
    _rt_webp(rows, lz77="plain")   # dist > 120 path
    _rt_webp(rows, lz77="2d")      # (0, 1) neighbor mapping path


def test_webp_random_config_fuzz():
    ok = 0
    for i in range(40):
        r = np.random.RandomState(2000 + i)
        img = r.randint(0, 256,
                        (r.randint(1, 40), r.randint(1, 40),
                         int(r.choice([3, 4]))), np.uint8)
        kw = {}
        if r.rand() < .3:
            kw["subtract_green"] = True
        if r.rand() < .3:
            kw["predictor"] = True
        if r.rand() < .3:
            kw["color_transform"] = True
        if r.rand() < .4:
            kw["cache_bits"] = int(r.randint(1, 9))
        if r.rand() < .3:
            kw["meta_bits"] = int(r.randint(2, 6))
        _rt_webp(img, **kw)
        ok += 1
    assert ok == 40


def test_webp_corrupt_vp8_degrades():
    # lossy VP8 decodes natively since r7 (operators/vp8.py); a corrupt
    # chunk must still degrade per contract: decode_webp raises
    # ValueError, decode_image_array -> None, decode_image ->
    # NotImplementedError
    body = b"VP8 " + (4).to_bytes(4, "little") + b"\x00\x00\x00\x00"
    payload = (b"RIFF" + (4 + len(body)).to_bytes(4, "little")
               + b"WEBP" + body)
    assert codecs.sniff_format(payload) == "webp"
    with pytest.raises(ValueError):
        codecs.decode_webp(payload)
    assert multimodal.decode_image_array(payload) is None
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(payload)


def test_webp_truncation_raises_valueerror():
    rng = np.random.RandomState(16)
    data = codecs.encode_webp_lossless(
        rng.randint(0, 256, (9, 9, 3), np.uint8))
    for cut in (4, 11, 14, 21, len(data) - 3):
        with pytest.raises(ValueError):
            codecs.decode_webp(data[:cut])


def _vp8l_riff(vp8l: bytes) -> bytes:
    chunk = b"VP8L" + len(vp8l).to_bytes(4, "little") + vp8l \
        + b"\0" * (len(vp8l) & 1)
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _vp8l_simple(bw, *syms):
    """A simple prefix code of one or two symbols (8-bit form)."""
    bw.write(1, 1)
    bw.write(len(syms) - 1, 1)
    bw.write(1, 1)
    for s in syms:
        bw.write(s, 8)


def _vp8l_flat(w, h, codes, pred_mode=None):
    """A w x h VP8L stream whose five prefix codes are simple codes, so
    no pixel bits follow; `pred_mode` adds a predictor transform whose
    one-block subimage holds that mode in its green."""
    from jsoup_spark.operators.bits import LsbWriter
    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1, 1)   # alpha hint
    bw.write(0, 3)   # version
    if pred_mode is not None:
        bw.write(1, 1)   # a transform:
        bw.write(0, 2)   # predictor,
        bw.write(3, 3)   # 32-pixel blocks (one block)
        bw.write(0, 1)   # no color cache in the subimage
        for s in (pred_mode, 0, 0, 0, 0):
            _vp8l_simple(bw, s)
    bw.write(0, 1)   # no (more) transforms
    bw.write(0, 1)   # no color cache
    bw.write(0, 1)   # no meta prefix codes
    for syms in codes:
        _vp8l_simple(bw, *syms)
    return _vp8l_riff(bw.finish())


def test_webp_vp8l_mutated_streams_follow_libwebp():
    """VP8L streams on which this decoder once disagreed with libwebp:
    (a) a RIFF size that does not match the data, (c) a simple prefix
    code whose two symbols are equal or out of the alphabet, (d)
    predictor modes 14 and 15, and greens above 15, of which libwebp
    reads the low 4 bits. Where libwebp is present, both decoders give
    the same pixels or both reject."""
    rng = np.random.RandomState(21)
    base = codecs.encode_webp_lossless(
        rng.randint(0, 256, (5, 7, 3), np.uint8), predictor=True)
    riff = int.from_bytes(base[4:8], "little")
    vp8l_size = int.from_bytes(base[16:20], "little")
    cases = []
    for bit in range(32):
        data = bytearray(base)
        data[4 + bit // 8] ^= 1 << bit % 8
        new = riff ^ (1 << bit)
        fits = 12 <= new <= len(data) - 8 and vp8l_size <= new - 12
        cases.append((bytes(data), None if fits else ValueError))
    # (c): repeated symbols, and a distance symbol past its 40-symbol
    # alphabet, leave a one-symbol code
    expect = np.full((3, 4, 3), (100, 7, 200), np.uint8)
    for codes in ([(7, 7), (100,), (200,), (255,), (0,)],
                  [(7,), (100, 100), (200,), (255, 255), (3, 3)],
                  [(7,), (100,), (200,), (255,), (45, 3)]):
        cases.append((_vp8l_flat(4, 3, codes), expect))
    cases.append((_vp8l_flat(4, 3, [(7,), (100,), (200,), (255,), (45, 41)]),
                  ValueError))
    # (d): the mode is green & 15, and modes 14 and 15 predict as mode 0
    codes = [(3,), (50,), (9,), (1,), (0,)]
    for mode, same_as in ((14, 0), (15, 0), (0x1E, 0), (0x2F, 0),
                          (0x11, 1), (0xFD, 13)):
        want = codecs.decode_webp(_vp8l_flat(9, 5, codes, same_as))
        cases.append((_vp8l_flat(9, 5, codes, mode), want))
    try:
        import libwebp_ref as ref
        lib = ref.available()
    except ImportError:
        lib = False
    for data, want in cases:
        try:
            got = codecs.decode_webp(data)
        except ValueError:
            got = ValueError
        if want is None:
            assert got is not ValueError
        elif want is ValueError:
            assert got is ValueError
        else:
            assert got is not ValueError and (got == want).all()
        if lib:
            try:
                theirs = ref.decode_rgba(data)
            except ValueError:
                assert got is ValueError
                continue
            assert got is not ValueError
            if got.shape[2] == 3:
                assert (theirs[:, :, 3] == 255).all()
                theirs = theirs[:, :, :3]
            assert (got == theirs).all()


def test_webp_vp8l_reads_past_its_chunk_like_libwebp():
    """libwebp's VP8L bit reader runs over the rest of the data, not just
    the chunk: a stream cut short still decodes while the bits it lacks
    come from the RIFF pad byte or bytes after the RIFF, and fails only
    past the end of the data. Each stream is an encoded image with the
    VP8L chunk cut by 0-3 bytes (sizes fixed up), followed by 0, 2 or 4
    more bytes. The 17 x 3 flat image needs 83 of its 96 chunk bits, so
    with one byte cut it borrows 3 bits of the zero pad byte."""
    rng = np.random.RandomState(22)
    images = {"flat": np.full((17, 3, 3), 9, np.uint8),
              "noise": rng.randint(0, 256, (4, 5, 3)).astype(np.uint8)}
    tails = (b"", b"\0\0", b"\xff" * 4)
    decodes = {"flat": ["TTT", "TTT", "FFF", "FFF"],
               "noise": ["TTT", "FTT", "FTT", "FFT"]}
    try:
        import libwebp_ref as ref
        lib = ref.available()
    except ImportError:
        lib = False
    for name, img in images.items():
        full = codecs.encode_webp_lossless(img)
        chunk = full[20:20 + int.from_bytes(full[16:20], "little")]
        for cut, row in enumerate(decodes[name]):
            for tail, want in zip(tails, row):
                data = _vp8l_riff(chunk[:len(chunk) - cut]) + tail
                try:
                    got = codecs.decode_webp(data)
                except ValueError:
                    got = None
                assert (got is not None) == (want == "T"), (name, cut, tail)
                if name == "flat" and got is not None:
                    assert (got == img).all()
                if lib and got is not None:
                    assert (got == ref.decode_rgba(data)[:, :, :3]).all()
                elif lib:
                    with pytest.raises(ValueError):
                        ref.decode_rgba(data)


def _vp8l_normal_green(cl_lengths, green_bits, pixel_bits):
    """A 2 x 1 VP8L stream whose green code is a normal prefix code over
    greens 0 and 1. `cl_lengths` are the code-length code's lengths for
    code lengths 0, 1 and 2, `green_bits` code the two green lengths,
    and `pixel_bits` code the two pixels' greens; red, blue and alpha
    are the one-symbol codes 100, 200 and 255."""
    from jsoup_spark.operators.bits import LsbWriter
    bw = LsbWriter()
    for value, nbits in ((0x2F, 8), (1, 14), (0, 14), (1, 1), (0, 3),
                         (0, 1), (0, 1), (0, 1)):  # no transform/cache/meta
        bw.write(value, nbits)
    bw.write(0, 1)   # normal code
    bw.write(1, 4)   # 5 code-length lengths, in the order 17, 18, 0, 1, 2
    for n in (0, 0) + cl_lengths:
        bw.write(n, 3)
    for value, nbits in ((1, 1), (0, 3), (0, 2)):  # read two lengths
        bw.write(value, nbits)
    for b in green_bits:
        bw.write(b, 1)
    for s in (100, 200, 255, 0):
        _vp8l_simple(bw, s)
    for b in pixel_bits:
        bw.write(b, 1)
    return _vp8l_riff(bw.finish())


def test_webp_vp8l_incomplete_prefix_code_rejected():
    """libwebp rejects a normal prefix code whose Kraft sum is below 1,
    unless it has a single symbol; both the code-length code and the
    symbol codes are checked."""
    def rgb(*greens):
        return np.array([[(100, g, 200) for g in greens]], np.uint8)

    cases = [
        # greens of lengths 1 and 2: Kraft sum 3/4
        (_vp8l_normal_green((0, 1, 1), (0, 1), (0, 0)), ValueError),
        # code lengths 1 and 2 coded with lengths 1 and 2: Kraft sum 3/4
        (_vp8l_normal_green((0, 1, 2), (0, 0), (0, 0)), ValueError),
        # complete codes
        (_vp8l_normal_green((0, 1, 1), (0, 0), (0, 1)), rgb(0, 1)),
        # one-symbol codes: the green code, then the code-length code
        (_vp8l_normal_green((1, 1, 0), (1, 0), ()), rgb(0, 0)),
        (_vp8l_normal_green((0, 1, 0), (), (1, 0)), rgb(1, 0)),
    ]
    try:
        import libwebp_ref as ref
        lib = ref.available()
    except ImportError:
        lib = False
    for data, want in cases:
        if want is ValueError:
            with pytest.raises(ValueError, match="incomplete"):
                codecs.decode_webp(data)
        else:
            assert (codecs.decode_webp(data) == want).all()
        if lib:
            try:
                theirs = ref.decode_rgba(data)
            except ValueError:
                assert want is ValueError
                continue
            assert want is not ValueError
            assert (theirs[:, :, :3] == want).all()


def test_webp_in_multimodal_pipeline():
    # decode_image_array dispatch: a webp payload produces real pixels
    rng = np.random.RandomState(17)
    img = rng.randint(0, 256, (12, 15, 3), np.uint8)
    data = codecs.encode_webp_lossless(img, predictor=True)
    arr = multimodal.decode_image_array(data)
    assert arr is not None and (arr == img).all()
    assert multimodal.decode_image(data) == (15, 12)
