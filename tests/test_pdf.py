"""PDF extraction (sources/pdf.py).

Strategy (the officedoc/codecs zero-fixture model — no PDF library
exists in this sandbox): the spec-shaped `build_pdf` test encoder
covers the decoder matrix; sub-components are pinned against the
INDEPENDENT oracles that do exist: stdlib zlib (Flate),
base64.a85encode (the encode direction for our ASCII85 decoder), and
operators/tiff.py's libtiff-validated LZW encoder (same early-change
bitstream family as PDF LZWDecode)."""

import base64
import random
import zlib

import pytest

from jsoup_spark.sources.pdf import (
    PDFDocument, Ref, Stream, _Lexer, _a85_decode, _parse_tounicode,
    _png_predict, _rl_decode, _rl_encode,
    _SimpleFont, build_pdf, decode_stream, extract_pdf, pdf_stage,
)
from jsoup_spark.operators.tiff import _lzw_decode_tiff, _lzw_encode_tiff


# ------------------------------------------------------------- filters

def test_a85_vs_stdlib_encoder():
    rng = random.Random(7)
    for n in (0, 1, 2, 3, 4, 5, 63, 1000):
        data = bytes(rng.randrange(256) for _ in range(n))
        assert _a85_decode(base64.a85encode(data) + b"~>") == data


def test_a85_z_shorthand_and_ws():
    # 'z' == 4 zero bytes; whitespace anywhere is ignored
    assert _a85_decode(b"z\n z ~>") == b"\0" * 8
    enc = base64.a85encode(b"hello world")
    spaced = b" ".join(enc[i:i + 3] for i in range(0, len(enc), 3))
    assert _a85_decode(spaced + b"~>") == b"hello world"


def test_lzw_vs_libtiff_validated_encoder():
    """The shared LZW decoder, run as PDF LZWDecode runs it
    (EarlyChange=1, until EOD), consumes the exact bitstream the
    libtiff-validated TIFF LZW encoder emits — including table-growth
    width switches and the KwKwK self-referencing case."""
    rng = random.Random(11)
    cases = [
        b"",
        b"A",
        b"AAAAAAAABBBBBBBB" * 10,
        bytes(rng.randrange(256) for _ in range(5000)),
        bytes(rng.choice(b"abcd") for _ in range(40000)),  # width growth
        b"ABABABABAB" * 3,                               # KwKwK
    ]
    for data in cases:
        assert _lzw_decode_tiff(_lzw_encode_tiff(data)) == data


def test_runlength_roundtrip_and_spec():
    assert _rl_decode(b"\x02abc\x80") == b"abc"
    assert _rl_decode(b"\xfeZ\x80") == b"Z" * 3
    rng = random.Random(3)
    for _ in range(20):
        data = bytes(rng.choice(b"aab") for _ in range(rng.randrange(200)))
        assert _rl_decode(_rl_encode(data)) == data


def test_png_predictor_up_sub_paeth():
    # row filters 2 (Up) and 1 (Sub) hand-vectors
    raw = bytes([2, 1, 2, 3]) + bytes([2, 1, 1, 1])
    out = _png_predict(raw, 1, 8, 3)
    assert out == bytes([1, 2, 3, 2, 3, 4])
    raw = bytes([1, 5, 1, 1])
    assert _png_predict(raw, 1, 8, 3) == bytes([5, 6, 7])


def _png_unfilter_spec(data, bpp, rowlen):
    """PNG spec section 9 reference: whole rows of filter byte + data."""
    out, prev = bytearray(), [0] * rowlen
    for r in range(0, len(data), 1 + rowlen):
        f, cur = data[r], list(data[r + 1:r + 1 + rowlen])
        for i in range(rowlen):
            a = cur[i - bpp] if i >= bpp else 0
            b, c = prev[i], (prev[i - bpp] if i >= bpp else 0)
            p = a + b - c
            paeth = min((abs(p - a), 0, a), (abs(p - b), 1, b),
                        (abs(p - c), 2, c))[2]
            cur[i] = (cur[i] + (0, a, b, (a + b) >> 1, paeth)[f]) & 0xFF
        out += bytes(cur)
        prev = cur
    return bytes(out)


def test_png_predictor_average_and_paeth():
    raw = bytes([0, 10, 20, 30]) + bytes([3, 1, 2, 3]) + bytes([4, 1, 1, 1])
    assert _png_predict(raw, 1, 8, 3) == bytes(
        [10, 20, 30, 6, 15, 25, 7, 16, 26])
    rng = random.Random(21)
    for colors, bpc, columns in ((1, 8, 7), (3, 8, 5), (4, 8, 3),
                                 (1, 1, 20), (3, 16, 2)):
        bpp = max(1, (colors * bpc + 7) // 8)
        rowlen = (colors * bpc * columns + 7) // 8
        data = b"".join(
            bytes([rng.randrange(5)])
            + bytes(rng.randrange(256) for _ in range(rowlen))
            for _ in range(9))
        assert _png_predict(data, colors, bpc, columns) == \
            _png_unfilter_spec(data, bpp, rowlen)


def test_png_predictor_short_final_row_is_zero_padded():
    # the last row [2, 5] (Up) is read as [2, 5, 0, 0]
    raw = bytes([0, 1, 2, 3]) + bytes([2, 5])
    assert _png_predict(raw, 1, 8, 3) == bytes([1, 2, 3, 6, 2, 3])
    # a lone filter byte is a whole row of zero differences
    raw = bytes([0, 1, 2, 3]) + bytes([2])
    assert _png_predict(raw, 1, 8, 3) == bytes([1, 2, 3, 1, 2, 3])
    assert _png_predict(b"", 1, 8, 3) == b""


def test_png_predictor_bad_filter_byte_raises():
    from jsoup_spark.sources.pdf import PDFError
    for f in (5, 6, 255):
        with pytest.raises(PDFError):
            _png_predict(bytes([0, 1, 2, 3, f, 1, 1, 1]), 1, 8, 3)


def test_tiff_predictor_colors_and_trailing_partial_row():
    from jsoup_spark.sources.pdf import _tiff_predict
    raw = bytes([1, 2, 3, 1, 1, 1, 10, 20, 30, 5, 5, 5, 7, 8])
    assert _tiff_predict(raw, 3, 8, 2) == bytes(
        [1, 2, 3, 2, 3, 4, 10, 20, 30, 15, 25, 35, 7, 8])
    assert _tiff_predict(bytes([200, 100, 9]), 1, 8, 2) == \
        bytes([200, 44, 9])
    # through the stream filter chain, as a page's image would reach it
    st = Stream({"Filter": "FlateDecode",
                 "DecodeParms": {"Predictor": 2, "Colors": 3,
                                 "Columns": 2}}, zlib.compress(raw))
    assert decode_stream(st) == _tiff_predict(raw, 3, 8, 2)


def test_predictors_reject_bad_geometry():
    from jsoup_spark.sources.pdf import PDFError, _tiff_predict
    with pytest.raises(PDFError):
        _png_predict(bytes(8), 1, 8, -1)
    for colors, columns in ((0, 4), (3, 0), (-1, -3)):
        with pytest.raises(PDFError):
            _tiff_predict(bytes(12), colors, 8, columns)


def test_tiff_predictor_rejects_other_depths():
    from jsoup_spark.sources.pdf import PDFError, _tiff_predict
    for bpc in (1, 4, 16):
        with pytest.raises(PDFError):
            _tiff_predict(bytes(12), 1, bpc, 4)


# --------------------------------------------------------------- lexer

def test_literal_string_escapes():
    lex = _Lexer(rb"(a\(b\)c (nested) \\ \101 \12 x\
y)")
    s = lex.parse_object()
    assert s == b"a(b)c (nested) \\ A \n xy"


def test_literal_string_eol_normalization():
    assert _Lexer(b"(a\r\nb\rc)").parse_object() == b"a\nb\nc"


def test_hex_string_odd_pad_and_ws():
    assert _Lexer(b"<48 65 6C6C 6F>").parse_object() == b"Hello"
    assert _Lexer(b"<901FA>").parse_object() == b"\x90\x1f\xa0"


def test_name_hash_escape_and_refs():
    lex = _Lexer(b"<< /A#20B (v) /N 3 0 R /Arr [1 2 0 R 4.5 true null] >>")
    d = lex.parse_object()
    assert d["A B"] == b"v"
    assert d["N"] == Ref(3, 0)
    assert d["Arr"][0] == 1
    assert d["Arr"][1] == Ref(2, 0)
    assert d["Arr"][2] == 4.5
    assert d["Arr"][3] is True and d["Arr"][4] is None


# ------------------------------------------------------ fonts/encoding

class _StubDoc:
    def deref(self, x):
        return x


def test_differences_encoding_and_agl():
    font = _SimpleFont(_StubDoc(), {
        "Encoding": {
            "BaseEncoding": "WinAnsiEncoding",
            "Differences": [65, "bullet", "Euro", 97, "adieresis",
                            "uni0041", "u1F600"],
        },
    })
    decoded = font.decode(bytes([65, 66, 97, 98, 99, 100]))
    chars = "".join(ch for _, ch, _ in decoded)
    assert chars == "•€äA😀d"


def test_base_encoding_tables():
    win = _SimpleFont(_StubDoc(), {"Encoding": "WinAnsiEncoding"})
    assert win.decode(b"\x80")[0][1] == "€"        # cp1252 euro
    mac = _SimpleFont(_StubDoc(), {"Encoding": "MacRomanEncoding"})
    assert mac.decode(b"\x8a")[0][1] == "ä"        # mac_roman
    std = _SimpleFont(_StubDoc(), {"Encoding": "StandardEncoding"})
    assert std.decode(b"\xae")[0][1] == "ﬁ"        # fi ligature
    assert std.decode(b"'")[0][1] == "’"           # quoteright at 39


def test_tounicode_bfrange_both_forms():
    cmap_src = (b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
                b"2 beginbfchar <0001> <0041> <0002> <00E40042> endbfchar\n"
                b"2 beginbfrange\n"
                b"<0010> <0012> <0061>\n"
                b"<0020> <0021> [<0058> <0059>]\n"
                b"endbfrange\n")

    class _Doc(_StubDoc):
        pass

    st = Stream({"Length": len(cmap_src)}, cmap_src)
    cmap = _parse_tounicode(_Doc(), {"ToUnicode": st})
    assert cmap[1] == "A"
    assert cmap[2] == "äB"         # multi-unit UTF-16 target
    assert cmap[0x10] == "a" and cmap[0x11] == "b" and cmap[0x12] == "c"
    assert cmap[0x20] == "X" and cmap[0x21] == "Y"


# --------------------------------------------------------- end to end

PARAS = [f"para {i} alpha beta gamma delta" for i in range(10)]


@pytest.mark.parametrize("filters", ["none", "flate", "flate-pred",
                                     "lzw", "a85+flate", "ahx", "rl"])
def test_roundtrip_filters(filters):
    b = build_pdf(PARAS, title="T", author="A", filters=filters)
    r = extract_pdf(b)
    assert r["text"] == "\n".join(PARAS)
    assert r["n_pages"] == 3
    assert (r["title"], r["author"]) == ("T", "A")


@pytest.mark.parametrize("xref_kind,objstm", [("table", False),
                                              ("stream", False),
                                              ("stream", True),
                                              ("table", True)])
def test_roundtrip_xref_kinds(xref_kind, objstm):
    b = build_pdf(PARAS, filters="flate", xref_kind=xref_kind,
                  objstm=objstm)
    assert extract_pdf(b)["text"] == "\n".join(PARAS)


@pytest.mark.parametrize("font,strings,kerning", [
    ("winansi", "literal", False), ("winansi", "hex", True),
    ("cid", "literal", False), ("cid", "hex", False),
    ("cid", "literal", True),
])
def test_roundtrip_fonts_strings_kerning(font, strings, kerning):
    b = build_pdf(PARAS, font=font, strings=strings, kerning=kerning)
    assert extract_pdf(b)["text"] == "\n".join(PARAS)


def test_cid_binary_codes_in_literal_strings():
    """CID codes 0x0A/0x0D/0x28/0x29/0x5C as string bytes must survive
    literal-string escaping — a corpus alphabet >= 41 chars drives
    codes through the delimiter/EOL range."""
    paras = ["".join(chr(ord("A") + (i + j) % 50) for j in range(60))
             for i in range(6)]
    for strings in ("literal", "hex"):
        b = build_pdf(paras, font="cid", strings=strings)
        assert extract_pdf(b)["text"] == "\n".join(paras)


def test_incremental_update_newest_wins():
    b = build_pdf(PARAS, title="T1", incremental=True)
    r = extract_pdf(b)
    assert r["title"] == "T1 (rev2)"               # /Prev chain, rev2 Info
    assert r["text"] == "\n".join(PARAS)


def test_utf16_metadata():
    b = build_pdf(["x"], title="Tïtle — ünïcode")
    assert extract_pdf(b)["title"] == "Tïtle — ünïcode"


def test_xref_reconstruction_fallback():
    b = bytearray(build_pdf(PARAS, filters="none"))
    i = b.rfind(b"startxref")
    j = b.find(b"\n", i) + 1
    k = b.find(b"\n", j)
    b[j:k] = b"9" * (k - j)                        # corrupt the offset
    r = extract_pdf(bytes(b))
    assert r["text"] == "\n".join(PARAS)


def test_fuzz_knob_matrix():
    rng = random.Random(20260817)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "x1"]
    for _ in range(40):
        paras = [" ".join(rng.choice(words)
                          for _ in range(rng.randrange(1, 12)))
                 for _ in range(rng.randrange(1, 15))]
        b = build_pdf(
            paras,
            title=f"T{rng.randrange(100)}",
            filters=rng.choice(["none", "flate", "flate-pred", "lzw",
                                "a85+flate", "ahx", "rl"]),
            xref_kind=rng.choice(["table", "stream"]),
            objstm=rng.random() < 0.5,
            font=rng.choice(["winansi", "cid"]),
            strings=rng.choice(["literal", "hex"]),
            kerning=rng.random() < 0.5,
            paras_per_page=rng.randrange(1, 6),
            incremental=rng.random() < 0.3,
        )
        assert extract_pdf(b)["text"] == "\n".join(paras)


def test_small_tj_displacement_is_not_a_space():
    """Kerning adjustments below the pinned threshold (180/1000 em)
    must NOT re-materialise as spaces."""
    b = build_pdf(["ab"], filters="none")
    body = b.replace(b"(ab) Tj", b"[(a) -50 (b)] TJ")
    assert extract_pdf(body)["text"] == "ab"
    body = b.replace(b"(ab) Tj", b"[(a) -600 (b)] TJ")
    assert extract_pdf(body)["text"] == "a b"


def test_decode_stream_filter_chain_order():
    payload = b"chained-filter-payload" * 20
    enc = base64.a85encode(zlib.compress(payload)) + b"~>"
    st = Stream({"Filter": ["ASCII85Decode", "FlateDecode"],
                 "Length": len(enc)}, enc)
    assert decode_stream(st) == payload


def test_pdf_stage_spark(spark):
    import pandas as pd
    rows = []
    for i in range(8):
        paras = [f"doc {i} line {j} words here" for j in range(5)]
        rows.append((i, bytearray(build_pdf(
            paras, title=f"Doc {i}",
            filters=["flate", "lzw", "ahx"][i % 3],
            xref_kind=["table", "stream"][i % 2],
            font=["winansi", "cid"][i % 2]))))
    rows.append((99, bytearray(b"%PDF-1.7 not really a pdf")))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in pdf_stage(df).collect()}
    for i in range(8):
        assert out[i]["ok"] and out[i]["n_pages"] == 2
        assert out[i]["title"] == f"Doc {i}"
        assert out[i]["text"] == "\n".join(
            f"doc {i} line {j} words here" for j in range(5))
    assert out[99]["ok"] is False and out[99]["text"] == ""


# -------------------------------------------------- multi-column layout

def test_two_column_row_major_paint_reads_column_major():
    """The encoder paints line pairs ROW-major (col0-r0, col1-r0,
    col0-r1, ...); geometric assembly must restore column-major
    reading order — the layout-parse contract."""
    paras = [f"column line {i} text body" for i in range(8)]
    for kerning in (False, True):
        for font in ("winansi", "cid"):
            b = build_pdf(paras, columns=2, paras_per_page=8,
                          kerning=kerning, font=font)
            r = extract_pdf(b)
            assert r["n_pages"] == 1
            assert r["text"] == "\n".join(paras), (kerning, font)


def test_two_column_odd_lines_and_paging():
    paras = [f"p{i} words here now" for i in range(11)]
    b = build_pdf(paras, columns=2, paras_per_page=4)
    r = extract_pdf(b)
    assert r["n_pages"] == 3
    assert r["text"] == "\n".join(paras)


def test_single_column_unchanged_by_geometric_assembly():
    b = build_pdf(PARAS, columns=1)
    assert extract_pdf(b)["text"] == "\n".join(PARAS)


def test_spanning_headline_over_two_columns_reads_per_band():
    """A full-width headline whose x-interval bridges the inter-column
    gutter must NOT collapse the page to one column (the r7-documented
    limit): per-band segmentation puts the headline in its own band and
    the body keeps reading column-major. The headline is painted LAST in
    the content stream — paint order must not matter."""
    paras = [f"column line {i} text body" for i in range(8)]
    head = "THE SPANNING HEADLINE RUNS ACROSS BOTH COLUMNS OF THE PAGE"
    for kerning in (False, True):
        for font in ("winansi", "cid"):
            b = build_pdf(paras, columns=2, paras_per_page=8,
                          headline=head, kerning=kerning, font=font)
            r = extract_pdf(b)
            assert r["text"] == head + "\n" + "\n".join(paras), (
                kerning, font)


def test_headline_band_with_paging():
    paras = [f"p{i} words here now" for i in range(11)]
    head = "A BANNER WIDE ENOUGH TO BRIDGE THE GUTTER ON EVERY PAGE YES"
    b = build_pdf(paras, columns=2, paras_per_page=4, headline=head)
    r = extract_pdf(b)
    assert r["n_pages"] == 3
    pages = [paras[i:i + 4] for i in range(0, 11, 4)]
    assert r["text"] == "\n".join(
        head + "\n" + "\n".join(pg) for pg in pages)


# ----------------------------------------------------------- encryption

@pytest.mark.parametrize("enc,xref_kind,objstm,font", [
    ("rc4", "table", False, "winansi"),
    ("rc4", "stream", True, "cid"),
    ("aesv2", "table", False, "cid"),
    ("aesv2", "stream", True, "winansi"),
    ("aesv2", "table", True, "winansi"),
])
def test_encrypted_roundtrip(enc, xref_kind, objstm, font):
    """Standard security handler: /V 2 R3 RC4-128 and /V 4 /AESV2,
    empty user password. Streams and direct-object strings encrypted;
    ObjStm member strings stay plain (the container stream is what's
    encrypted). The AES/RC4 primitives are pinned against published
    FIPS-197 / SP 800-38A / RFC 6229 vectors in test_crypto.py."""
    b = build_pdf(PARAS, title="T", author="A", encrypt=enc,
                  xref_kind=xref_kind, objstm=objstm, font=font)
    r = extract_pdf(b)
    assert r["text"] == "\n".join(PARAS)
    assert (r["title"], r["author"]) == ("T", "A")


def test_encrypted_wrong_password_rejected():
    from jsoup_spark.sources.pdf import PDFError
    b = build_pdf(PARAS, encrypt="aesv2")
    with pytest.raises(PDFError, match="password"):
        PDFDocument(b, password=b"wrong")


def test_encrypted_incremental_update():
    b = build_pdf(PARAS, title="T1", encrypt="rc4", incremental=True)
    r = extract_pdf(b)
    assert r["title"] == "T1 (rev2)"
    assert r["text"] == "\n".join(PARAS)


def test_encrypted_bytes_actually_differ():
    plain = build_pdf(PARAS, filters="none")
    enc = build_pdf(PARAS, filters="none", encrypt="rc4")
    # the content stream text must not appear in the encrypted file
    assert b"para 0 alpha" in plain
    assert b"para 0 alpha" not in enc


# ------------------------------------- form XObjects / links / images

def test_form_xobject_text_with_matrix_and_resources_fallback():
    """Text inside a Do-executed Form XObject: /Matrix composes with
    the CTM, and the form (no /Resources of its own) resolves fonts
    through the caller's resources."""
    for enc in (None, "rc4", "aesv2"):
        for objstm in (False, True):
            b = build_pdf(PARAS, form=True, encrypt=enc,
                          objstm=objstm)
            assert extract_pdf(b)["text"] == "\n".join(PARAS), \
                (enc, objstm)


def test_link_annotations():
    b = build_pdf(PARAS, links=2)
    r = extract_pdf(b)
    assert r["links"] == [
        (p, f"https://ex.com/{p}/{k}")
        for p in range(3) for k in range(2)]
    assert extract_pdf(build_pdf(PARAS))["links"] == []


def test_embedded_images_all_kinds():
    from jsoup_spark.sources.pdf import pdf_images
    for s in (0, 7, 33):
        b = build_pdf(PARAS, images=("flate", "g4", "jpeg"),
                      image_seed=s, encrypt="aesv2")
        imgs = pdf_images(PDFDocument(b))
        fl, g4, jp = imgs
        assert (fl["width"], fl["height"], fl["channels"]) == (8, 6, 3)
        assert (fl["v0"], fl["v1"], fl["v2"]) == (
            (s + 11) % 256, (s * 7 + 3) % 256, (s * 13 + 5) % 256)
        assert g4["v0"] == 64 + (6 if s % 3 == 0 else 5)
        assert (jp["width"], jp["height"], jp["channels"]) == (32, 24, 3)


# ------------------------------------------------------------ Type3 fonts

def test_type3_font_matrix_width_scaling():
    """Type3 widths live in glyph space and scale through /FontMatrix
    (ISO 32000-1 9.6.5) — NOT the simple-font /1000. The synthetic font
    uses FontMatrix 0.01 with width-50 glyphs (0.5 em), so a wrong scale
    breaks gap-based space insertion and column detection."""
    paras = ["hello world type three", "second line here"]
    for kerning in (False, True):
        b = build_pdf(paras, font="type3", kerning=kerning)
        assert extract_pdf(b)["text"] == "\n".join(paras), kerning


def test_type3_two_column_geometry():
    # column-major re-read relies on correct x-advances from the
    # FontMatrix width scale
    paras = [f"column line {i} text body" for i in range(8)]
    b = build_pdf(paras, columns=2, paras_per_page=8, font="type3")
    assert extract_pdf(b)["text"] == "\n".join(paras)
    head = "THE SPANNING HEADLINE RUNS ACROSS BOTH COLUMNS OF THE PAGE"
    b = build_pdf(paras, columns=2, paras_per_page=8, font="type3",
                  headline=head)
    assert extract_pdf(b)["text"] == head + "\n" + "\n".join(paras)
