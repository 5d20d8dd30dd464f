"""Charset detection / raw-bytes ingest tests.

Every test runs on in-repo bytes: literals, the `golden_tree.json`
inputs and the meta-charset pages of `_charset_pages`. The gzip and
meta-charset tests also replay the reference's own `htmltests/` files
wherever a reference checkout exists at `/root/reference`.
"""

import glob
import gzip

from conftest import load_fixture

from jsoup_spark.parser.treebuilder import parse
from jsoup_spark.sources.ingest import decode_html_bytes, detect_charset

REF_HTMLTESTS = "/root/reference/src/test/resources/htmltests"

KOREAN = "가각갂갃간갅"


def _charset_pages():
    """(bytes, body text) pairs: non-UTF-8 pages whose charset is only
    declared by a meta tag, so a UTF-8 default would mis-decode them."""
    pages = [
        ('<meta charset="euc-kr">', KOREAN, "euc-kr"),
        ('<meta http-equiv=Content-Type content="text/html; charset=EUC-KR">',
         KOREAN, "euc-kr"),
        ("<meta charset='ISO-8859-1'>", "Café crème, à la française",
         "iso-8859-1"),
        ('<meta http-equiv="Content-Type" '
         'content="text/html; charset=Shift_JIS">', "日本語のテキスト",
         "shift_jis"),
    ]
    return [(f"<html><head>{meta}</head><body>{text}</body></html>"
             .encode(enc), text) for meta, text, enc in pages]


def test_bom_detection():
    assert detect_charset("﻿hi".encode("utf-8")) == "utf-8"
    assert detect_charset("hi".encode("utf-16")) in ("utf-16-le", "utf-16-be")
    assert decode_html_bytes("﻿<p>x</p>".encode("utf-8")) == "<p>x</p>"


def test_meta_charset_sniff():
    html = "<html><head><meta charset='ISO-8859-1'></head><body>caf\xe9</body>"
    data = html.encode("iso-8859-1")
    assert detect_charset(data).lower() == "iso-8859-1"
    assert "café" in decode_html_bytes(data)
    legacy = ("<head><meta http-equiv=Content-Type "
              "content='text/html; charset=Shift_JIS'></head>")
    assert detect_charset(legacy.encode()).lower() == "shift_jis"


def test_xml_decl_and_default():
    assert detect_charset(b"<?xml version='1.0' encoding='ISO-8859-1'?><r/>")\
        .lower() == "iso-8859-1"
    assert detect_charset(b"<p>plain</p>") == "utf-8"
    assert detect_charset(b"<meta charset='not-a-charset'><p>") == "utf-8"


def test_gzip_inflation():
    """Gzipped payloads must decode byte-identically to their plain form
    (DataUtil.openStream magic-byte sniff, helper/DataUtil.java:153-165),
    including gzipped non-UTF-8 pages whose charset is sniffed AFTER
    inflation. Inputs: the `golden_tree.json` pages as UTF-8 and the
    meta-charset pages of `_charset_pages`, plus the first three
    reference `htmltests/` files where a reference checkout exists."""
    import zlib
    wild = [open(f, "rb").read()
            for f in sorted(glob.glob(REF_HTMLTESTS + "/*.html"))[:3]]
    inputs = wild + [case["html"].encode("utf-8")
                     for case in load_fixture("golden_tree.json")]
    inputs += [data for data, _ in _charset_pages()]
    assert inputs
    for plain in inputs:
        assert decode_html_bytes(gzip.compress(plain)) == \
            decode_html_bytes(plain)
        assert decode_html_bytes(zlib.compress(plain)) == \
            decode_html_bytes(plain)
    latin = "<meta charset='ISO-8859-1'><p>caf\xe9".encode("iso-8859-1")
    assert "café" in decode_html_bytes(gzip.compress(latin))
    # non-gzip data starting with 0x1f alone passes through
    assert decode_html_bytes(b"\x1f<p>x</p>") == "\x1f<p>x</p>"
    # truncated gzip: passthrough (decoded with replacement), no raise
    decode_html_bytes(gzip.compress(b"<p>hello</p>")[:6])
    # valid gzip header, corrupt deflate body (0b11 = reserved block
    # type): passthrough, no raise
    bad = bytearray(gzip.compress(b"<p>hello</p>"))
    bad[10] |= 0x06
    decode_html_bytes(bytes(bad))


def test_reference_charset_fixtures():
    """Meta-charset pages must decode to parseable documents with
    non-empty text: the in-repo pages of `_charset_pages` (EUC-KR by
    `<meta charset>` and by `http-equiv`, ISO-8859-1, Shift_JIS) always,
    and the reference's `meta-charset-*.html` files where a reference
    checkout exists. The in-repo pages must decode to exactly the text
    they were encoded from."""
    files = sorted(glob.glob(REF_HTMLTESTS + "/meta-charset-*.html"))
    pages = [(open(f, "rb").read(), None) for f in files]
    pages += _charset_pages()
    assert pages
    for data, expected in pages:
        text = decode_html_bytes(data)
        doc = parse(text)
        assert doc.body is not None
        assert "가각갂갃간갅" in doc.body.text() or doc.body.text()
        if expected is not None:
            assert doc.body.text() == expected


def test_load_file_and_stream(tmp_path):
    import io
    from jsoup_spark.sources.ingest import load_file, load_stream
    html = "<meta charset='ISO-8859-1'><p>caf\xe9</p>"
    plain = tmp_path / "page.html"
    plain.write_bytes(html.encode("iso-8859-1"))
    doc = load_file(plain)
    assert "café" in doc.body.text()
    assert doc.base.startswith("file://")
    gz = tmp_path / "page.html.gz"
    gz.write_bytes(gzip.compress(html.encode("iso-8859-1")))
    assert load_file(gz, base_uri="http://x/").body.text() == \
        doc.body.text()
    doc2 = load_stream(io.BytesIO(html.encode("iso-8859-1")), "http://x/")
    assert "café" in doc2.body.text()
