"""Native brotli decoder (operators/brotli.py) validated against the
system libbrotli (tests/libbrotli_ref.py ctypes bindings).

The oracle direction that matters: libbrotlienc GENERATES streams at
every quality tier (q0-1 fast one-pass, q2-9 context modeling + block
splitting, q10-11 optimal parse with static-dictionary references) and
our decoder must reproduce the original bytes exactly — so no encoder
of ours can mask a decoder misreading. The word-transform engine is
additionally replayed transform-for-transform against
BrotliTransformDictionaryWord. The dev-time full matrix (5 content
kinds x sizes to 1 MB x 8 qualities x 4 windows = 1120 streams) passed
byte-exact; this suite keeps a representative slice fast enough for
CI.

libbrotli-dependent tests skip when the library is absent; the
store-mode round trip and error contracts still gate the decoder.
"""

import numpy as np
import pytest

from jsoup_spark.operators.brotli import (
    compress_stored, decompress, transform_word)

import libbrotli_ref as ref

_rng = np.random.default_rng(20260817)

needs_lib = pytest.mark.skipif(
    not ref.available(), reason="system libbrotli not present")

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
    return (b"<html><body><p class='x'>Hello &amp; goodbye</p>"
            * (n // 49 + 1))[:n]


@needs_lib
@pytest.mark.parametrize("quality", [0, 1, 2, 5, 9, 10, 11])
def test_decode_vs_libbrotlienc(quality):
    for kind in ("text", "rand", "zeros", "html"):
        for n in (0, 1, 7, 100, 5000):
            for lgwin in (10, 22):
                src = _mk(kind, n)
                data = ref.encode(src, quality=quality, lgwin=lgwin)
                assert decompress(data) == src, (kind, n, lgwin)


@needs_lib
def test_decode_large_block_counts():
    # 200k text at q6/lgwin24 historically hit the tail of the
    # 26-symbol block-count table ({8433,13}/{16625,24})
    src = _mk("text", 200_000)
    for q, w in ((6, 24), (9, 24), (11, 22)):
        data = ref.encode(src, quality=q, lgwin=w)
        assert decompress(data) == src, (q, w)


@needs_lib
def test_dictionary_references():
    # small English prose at max quality forces static-dictionary hits
    prose = (b"The quick brown fox jumps over the lazy dog. Information "
             b"about the construction of the public infrastructure was "
             b"provided by the government department responsible for "
             b"transportation and development. ")
    for rep in (1, 3, 20):
        for q in (10, 11):
            src = prose * rep
            assert decompress(ref.encode(src, quality=q)) == src


@needs_lib
def test_transforms_vs_reference():
    for word in (b"construction", b"a", b"\xc3\xa9cole",
                 b"\xe4\xb8\xad\xe6\x96\x87abc", b"hello world"):
        for t in range(121):
            assert transform_word(word, t) == ref.transform_word(word, t)


@needs_lib
def test_store_mode_accepted_by_libbrotli():
    src = _mk("rand", 70_000)
    for w in (10, 16, 17, 22, 24):
        data = compress_stored(src, wbits=w)
        assert ref.decode(data) == src
        assert decompress(data) == src


def test_store_mode_roundtrip_no_lib():
    for n in (0, 1, 100, 65536, 65537, 300_000):
        src = _mk("rand", n)
        assert decompress(compress_stored(src)) == src


def test_truncation_and_garbage():
    data = compress_stored(b"payload bytes here", wbits=16)
    for cut in range(len(data)):
        with pytest.raises(ValueError):
            decompress(data[:cut])
    with pytest.raises(ValueError):
        decompress(data + b"\x01")      # trailing garbage


# libbrotlienc streams with MLEN lowered by one, so the last command's
# copy runs past the meta-block end (libbrotlidec: BLOCK_LENGTH_2)
_COPY_PAST_MLEN = [
    bytes.fromhex("220100bf044000131504"),          # dictionary word
    bytes.fromhex("c20b0080348f0fdc9c140518c072d156e4951998bf01"),  # backref
]


@needs_lib
def test_corruption_never_hangs():
    """Mutated streams decode as libbrotlidec decodes them: the same
    bytes where it accepts, ValueError where it rejects. The one
    allowed difference: trailing bytes after the last meta-block,
    which the library's one-shot decode ignores and ours rejects."""
    src = _mk("text", 3000)
    data = bytearray(ref.encode(src, quality=9))
    streams = list(_COPY_PAST_MLEN)
    for i in range(0, len(data), 3):
        streams.append(bytes(data[:i]) + bytes([data[i] ^ 0x5A])
                       + bytes(data[i + 1:]))
    for mutated in streams:
        try:
            want = ref.decode(mutated, max_out=1 << 22)
        except ValueError:
            want = None
        try:
            got = decompress(mutated, max_output=1 << 22)
        except ValueError as e:
            assert want is None or "trailing" in str(e), mutated.hex()
        else:
            assert got == want, mutated.hex()


def test_ingest_br_encoding():
    from jsoup_spark.sources.ingest import decode_html_bytes
    html = "<html><head><meta charset='utf-8'><title>Br</title></head>" \
        "<body>café</body></html>"
    data = compress_stored(html.encode("utf-8"))
    assert decode_html_bytes(data, encoding="br") == html
