"""Cleaner + serializer equivalence vs golden fixtures."""

from conftest import load_fixture

from jsoup_spark.clean import safelist as sl
from jsoup_spark.clean.cleaner import clean_html, is_valid_body_html
from jsoup_spark.clean.serializer import inner_html
from jsoup_spark.parser.treebuilder import parse


def test_clean_golden():
    for case in load_fixture("golden_clean.json"):
        doc = clean_html(case["html"], "", sl.PRESETS[case["safelist"]]())
        mine = inner_html(doc.body)
        assert mine == case["out"], (case, mine)


def test_bodyhtml_golden():
    bad = 0
    for case in load_fixture("golden_bodyhtml.json"):
        doc = parse(case["html"])
        mine = inner_html(doc.body) if doc.body is not None else ""
        if mine != case["out"]:
            bad += 1
    assert bad == 0, f"{bad} bodyhtml mismatches"


def test_is_valid():
    assert is_valid_body_html("<p>fine</p>", sl.basic())
    assert not is_valid_body_html("<script>x</script>", sl.basic())
    assert not is_valid_body_html("<p onclick=x>h</p>", sl.basic())


def test_safelist_customization():
    custom = sl.basic().add_tags("div").add_attributes("div", "data-keep")
    doc = clean_html("<div data-keep=1 data-drop=2>x</div>", "", custom)
    div = doc.body.children[0]
    assert div.attrs == {"data-keep": "1"}


def test_output_charset_fallback():
    """OutputSettings charset + escape mode drive serialization
    (Entities.doEscape charset fallback): non-encodable chars emit named
    entities per mode, else numeric."""
    from jsoup_spark.clean.serializer import OutputSettings, inner_html
    from jsoup_spark.parser.treebuilder import parse
    body = parse("<p title='π Å'>π Å 新</p>").body
    assert inner_html(body, OutputSettings(pretty=False, charset="ascii")) \
        == '<p title="&#x3c0; &Aring;">&#x3c0; &Aring; &#x65b0;</p>'
    assert inner_html(body, OutputSettings(
        pretty=False, charset="ascii", escape_mode="extended")) \
        == '<p title="&pi; &angst;">&pi; &angst; &#x65b0;</p>'
    assert inner_html(body, OutputSettings(pretty=False)) \
        == '<p title="π Å">π Å 新</p>'


def test_c_serializer_differential():
    """The optional C pretty-printer (fastser.c) must be byte-equal to the
    Python printer across every parse tree in the golden corpora, including
    full-document serialization. Skips if the extension isn't built."""
    import json

    import pytest

    from jsoup_spark.clean import serializer as ser
    from jsoup_spark.parser.nodes import java_trim

    if ser._CSER is None:
        pytest.skip("fastser extension not built")

    def py_pretty(roots, first):
        p = ser._Pretty(first, ser.DEFAULT)
        ser._traverse(p, list(roots), ser.DEFAULT)
        return java_trim("".join(p.out))

    with open("tests/fixtures/golden_bodyhtml.json") as f:
        cases = [c["html"] for c in json.load(f)]
    with open("tests/fixtures/golden_tree.json") as f:
        cases += [c["html"] for c in json.load(f)]
    bails = checked = 0
    for html in cases:
        doc = parse(html)
        for el in (doc.body, doc):
            if el is None or not el.children:
                continue
            res = ser._CSER.serialize_pretty(el.children, el.children[0])
            if res is None:
                bails += 1
                continue
            checked += 1
            assert java_trim(res) == py_pretty(el.children, el.children[0]), html
    assert checked > 3000
    # the corpus is plain HTML trees: the C path must cover it all
    assert bails == 0, f"{bails} unexpected bails"


def test_c_serializer_disabled_fallback():
    """Without the C printer extension the pure-Python printer stands
    alone with identical golden output (import-blocked fallback)."""
    import os
    import subprocess
    import sys

    code = (
        "import json, sys\n"
        "sys.modules['jsoup_spark._native.jsoup_fastser'] = None\n"
        "from jsoup_spark.clean import serializer as ser\n"
        "assert ser._CSER is None\n"
        "from jsoup_spark.parser.treebuilder import parse\n"
        "bad = 0\n"
        "for case in json.load(open('tests/fixtures/golden_bodyhtml.json'))[:120]:\n"
        "    doc = parse(case['html'])\n"
        "    mine = ser.inner_html(doc.body) if doc.body is not None else ''\n"
        "    bad += mine != case['out']\n"
        "print('BAD', bad)\n"
    )
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, cwd=os.path.dirname(
                           os.path.dirname(os.path.abspath(__file__))))
    assert r.returncode == 0, r.stderr
    assert "BAD 0" in r.stdout
