"""Raw-bytes ingest: charset detection + decode for binary HTML payloads.

Mirrors the reference's detection ladder (helper/DataUtil.java:47-50,
223-320): BOM → caller-supplied charset → `<meta charset>` /
`<meta http-equiv=content-type>` sniff of the head (first 5KB) →
`<?xml encoding>` declaration → UTF-8 default. Exposed as plain
functions, which the binary-payload stages (sources/warc.py,
sources/archive.py) call per document.
"""

from __future__ import annotations

import codecs
import re

FIRST_READ = 5 * 1024  # DataUtil firstReadBufferSize: sniff window

_META_RE = re.compile(
    rb"<meta[^>]+?(?:charset\s*=\s*['\"]?\s*([a-zA-Z0-9_\-]+)"
    rb"|content\s*=\s*['\"][^'\"]*charset\s*=\s*([a-zA-Z0-9_\-]+))",
    re.IGNORECASE)
_XMLDECL_RE = re.compile(
    rb"^\s*<\?xml[^>]*encoding\s*=\s*['\"]([a-zA-Z0-9_\-]+)['\"]",
    re.IGNORECASE)

_BOMS = (
    (codecs.BOM_UTF8, "utf-8"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
)


def _valid_charset(name: str | None) -> str | None:
    if not name:
        return None
    try:
        codecs.lookup(name)
        return name
    except LookupError:
        return None


def detect_charset(data: bytes, declared: str | None = None) -> str:
    """Charset for an HTML byte payload (DataUtil.detectCharset ladder)."""
    for bom, enc in _BOMS:
        if data.startswith(bom):
            return enc
    got = _valid_charset(declared)
    if got:
        return got
    head = data[:FIRST_READ]
    m = _META_RE.search(head)
    if m:
        name = (m.group(1) or m.group(2)).decode("ascii", "replace")
        got = _valid_charset(name)
        if got:
            return got
    m = _XMLDECL_RE.match(head)
    if m:
        got = _valid_charset(m.group(1).decode("ascii", "replace"))
        if got:
            return got
    return "utf-8"


def _inflate(data: bytes) -> bytes:
    """Transparently inflate gzip / zlib payloads by magic-byte sniff,
    before charset detection (reference: DataUtil.openStream sniffs
    0x1f 0x8b on .gz/.z files and wraps in GZIPInputStream,
    helper/DataUtil.java:153-165; WARC-style sources land payloads
    gzipped). Non-compressed, truncated or corrupt payloads pass
    through."""
    if len(data) >= 2 and data[0] == 0x1F and data[1] == 0x8B:
        import gzip
        import zlib
        try:
            return gzip.decompress(data)
        except (OSError, EOFError, zlib.error):
            return data
    # zlib stream: 0x78 CMF with a valid FCHECK byte (0x9c most common)
    if len(data) >= 2 and data[0] == 0x78 and (data[0] * 256 + data[1]) % 31 == 0:
        import zlib
        try:
            return zlib.decompress(data)
        except zlib.error:
            return data
    if data.startswith(b"BZh"):             # bzip2
        import bz2
        try:
            return bz2.decompress(data)
        except (OSError, ValueError):
            return data
    if data.startswith(b"\xfd7zXZ\x00"):    # xz
        import lzma
        try:
            return lzma.decompress(data)
        except lzma.LZMAError:
            return data
    if data.startswith(b"\x04\x22\x4d\x18"):   # LZ4 frame
        from jsoup_spark.operators.lz4 import decompress_frame
        try:
            return decompress_frame(data)
        except ValueError:
            return data
    if data.startswith(b"\x28\xb5\x2f\xfd"):   # zstd frame
        from jsoup_spark.operators.zstd import decompress
        try:
            return decompress(data)
        except ValueError:
            return data
    if data.startswith(b"\xff\x06\x00\x00sNaPpY"):   # snappy framed
        from jsoup_spark.operators.snappy import decompress_framed
        try:
            return decompress_framed(data)
        except ValueError:
            return data
    return data


def decode_html_bytes(data: bytes, declared: str | None = None,
                      encoding: str | None = None) -> str:
    """Decode an HTML byte payload, inflating gzip/zlib (sniffed) or
    brotli (`encoding="br"` — brotli has no magic bytes, so the
    transport must say so, exactly as HTTP Content-Encoding does) and
    stripping any BOM."""
    if encoding == "br":
        from jsoup_spark.operators.brotli import decompress
        data = decompress(data)
    else:
        data = _inflate(data)
    enc = detect_charset(data, declared)
    for bom, bom_enc in _BOMS:
        if data.startswith(bom) and bom_enc == enc:
            data = data[len(bom):]
            break
    return data.decode(enc, errors="replace")


def load_file(path, base_uri: str | None = None, charset: str | None = None):
    """Jsoup.parse(File/Path, charset, baseUri) equivalent
    (Jsoup.java:136-253): read bytes, inflate .gz/.z transparently
    (DataUtil.openStream magic-byte sniff), run the charset ladder, parse.
    base_uri defaults to the file's URI like the reference."""
    import pathlib
    from ..parser.treebuilder import parse

    p = pathlib.Path(path)
    data = p.read_bytes()
    if base_uri is None:
        base_uri = p.resolve().as_uri()
    return parse(decode_html_bytes(data, charset), base_uri)


def load_stream(fp, base_uri: str = "", charset: str | None = None):
    """Jsoup.parse(InputStream, charset, baseUri) equivalent
    (Jsoup.java:266-285): consume a binary file-like object, sniff +
    decode, parse."""
    from ..parser.treebuilder import parse

    return parse(decode_html_bytes(fp.read(), charset), base_uri)
