"""Parser equivalence vs reference-derived golden fixtures.

Canonical-tree equality exercises the tokenizer + tree builder end to end
(structural + tokenizer-fuzz corpora, 1400 inputs). Two known principled
divergences are skipped: Java splits astral chars into UTF-16 surrogates
inside doctype names; we treat them as single codepoints.
"""

import gzip
import hashlib
import os
import random

import pytest
from conftest import load_fixture

from jsoup_spark.extract.canonical import canonical
from jsoup_spark.parser.treebuilder import parse, parse_fragment

REF_RESOURCES = "/root/reference/src/test/resources"


def test_tree_golden():
    cases = load_fixture("golden_tree.json")
    bad = []
    for case in cases:
        mine = canonical(parse(case["html"]))
        if mine != case["tree"]:
            bad.append((case["html"][:120], case["tree"][:200], mine[:200]))
    assert not bad, f"{len(bad)} tree mismatches; first: {bad[0]}"


def test_fragment_golden():
    cases = load_fixture("golden_fragment.json")
    for case in cases:
        nodes = parse_fragment(case["html"], case["context"] or "div")
        mine = canonical(nodes)
        assert mine == case["tree"], (case, mine)


def _scanner_edge_inputs(htmls):
    """Inputs at the edges of the C Data-state scanner: hand-written
    boundary cases (name case, duplicate attributes, the 8-attribute dict
    shape and the 512-attribute cap, the 64 deferred '&' values, the
    48-tag batch cap, NUL / CR / LF / unterminated quotes inside tags,
    stop-set tags mid-batch), each also behind a stop-set tag, then 500
    seeded mutations of `htmls` made around their tags."""
    def attrs(n, fmt):
        return " ".join(fmt.format(i) for i in range(n))

    cases = [
        "<DiV CLASS=a Id='b' dAtA-X=\"c\">x</dIv><P>y</p><SPAN tItle=t>z"
        "</SpAn><sVg viewBox='0 0 1 1'><fOreignObject>w",
        "<p a=1 A=2 a=3>x</p><b c d C e>y</b><i Class=1 class=2 CLASS=3>",
        "<html Lang=en LANG=fr><body a=1 A=2><div x=1 x=2>t</div>",
        "<p/>a<br/>b<foo/>c<p / >d<img src=x/>e<p a=b/>f",
    ]
    for n in (8, 9, 513):
        cases += [
            f"<div {attrs(n, 'a{0}=v{0}')}>x</div><p>y",
            f"<html {attrs(n, 'Ab{0}')}><body {attrs(n, 'cD{0}=q')}>"
            f"<svg {attrs(n, 'viewBox{0}=1')}>t</svg><p {attrs(n, 'E=1')}>",
            "<head><meta " + attrs(n, "N{0}='&amp;{0}'") + "><title>t",
        ]
    for n in (63, 64, 65):
        amp = attrs(n, "a{0}='x&amp;{0}&copy'")
        cases += [f"<p>t<div {amp}>x</div><p>y",
                  f"<b {amp}>x<i {amp}>y</i>"]
    for n in (47, 48, 49):
        cases += ["".join(f"<span>{i}" for i in range(n)) + "<b>tail",
                  "<i>" * n + "x" + "</i>" * n + "<u>y",
                  "a&amp;b" + "<em>" * n + "c",
                  "<head>" + "<meta a=1>" * n + "<title>t</title>"]
    cases += [
        '<p a="x\x00y">t</p><b>u', "<p\x00 a=b>t", "<p a=b\x00>t",
        "<p a\x00=b>", "t\x00<i>x</i>", "<p>a\x00b<i>c",
        "<p\r\na=b\r\nc='d\r\ne'\r>x\r\n</p\r\n><b\n>y",
        '<p a="x>t</p><b>u', "<p a='x>t</p><b>u", '<i>a<p a="x',
        "<p a=", "<p a", "<p", "<", "</p", "</p ", "<p/", "<p/ >",
        "<p a=`b>", '<p a=b"c>', "<p a=b'c>", "<p a=b<c>", "<p a=b=c>",
        "<p =a>", "<p a= >", "<p a=b c=>", "<p a='b'c>", "</p a=b>",
    ]
    for stop in ("title", "script", "textarea", "plaintext", "style",
                 "xmp", "noscript", "pre", "iframe", "listing"):
        cases += [f"<p>a<b>b</b><{stop}>c<i>d</i></{stop}><u>e</u>",
                  f"<head><meta a=1><{stop} x=1>c<i>d</{stop}><link>",
                  "<div>" + "<i>x</i>" * 20 + f"<{stop}/>y<b>z",
                  f"<p>a<{stop.upper()} A='&amp;'>\nb</{stop}>c<p>d"]
    # the first batch of a document comes from tokenizer._data (scan());
    # after a stop-set tag the tree builder's full pump scans the rest
    cases += ["<title>t</title>" + c for c in cases]
    cases.append("<p>x<html A=1 b=2><body C=3 c=4><html a=5 D=6><p>y")

    rng = random.Random(22)
    inserts = ["\x00", "\r\n", "\r", "\n", "\t", "\x0c", "'", '"',
               "&", "&amp;", "&#0;", "<", ">", "/", "=", " ", "`", " a=1",
               " A='&lt;x'", "<title>", "</title>", "<script>",
               "<textarea>", "<plaintext>", "<B>", "</P>", "<br/>"]
    for _ in range(500):
        s = rng.choice(htmls)
        for _ in range(rng.randint(1, 3)):
            lts = [i for i, c in enumerate(s) if c == "<"] or [0]
            i = min(len(s), rng.choice(lts) + rng.randrange(16))
            op = rng.randrange(4)
            if op == 0:  # case flip
                j = i + rng.randint(1, 12)
                s = s[:i] + s[i:j].swapcase() + s[j:]
            elif op == 1:
                s = s[:i] + rng.choice(inserts) + s[i:]
            elif op == 2:
                s = s[:i] + s[i + rng.randint(1, 4):]
            else:  # repeat the tag at i (duplicate attributes, runs)
                a = s.find("<", i)
                b = s.find(">", a)
                if a != -1 and b != -1:
                    s = s[:b + 1] + s[a:b + 1] * rng.randint(1, 3) + s[b + 1:]
        cases.append(s)
    return cases


def test_c_accelerators_match_python_paths(monkeypatch):
    """The pure-Python tokeniser, tree builder and span walker are the
    source of truth for the C tokeniser (tokenizer._C), tree-builder
    applier (treebuilder._FT) and span walker (spans._CW). On every
    golden input, and on the scanner edge inputs built from them, each
    configuration with some of them switched off gives the canonical
    tree, parse errors and spans of the all-C run."""
    from jsoup_spark.extract import spans
    from jsoup_spark.parser import tokenizer, treebuilder

    htmls = [c["html"] for c in load_fixture("golden_tree.json")]
    htmls += [c["html"] for c in load_fixture("golden_bodyhtml.json")]
    htmls += _scanner_edge_inputs(htmls)

    def run():
        out = []
        for html in htmls:
            doc = parse(html)
            out.append((canonical(doc), list(doc.errors),
                        spans.extract_spans(doc)))
        return out

    assert None not in (treebuilder._FT, tokenizer._C, spans._CW)
    all_c = run()
    for off in [[(treebuilder, "_FT")], [(tokenizer, "_C")],
                [(treebuilder, "_FT"), (tokenizer, "_C"), (spans, "_CW")]]:
        with monkeypatch.context() as m:
            for mod, name in off:
                m.setattr(mod, name, None)
            got = run()
        bad = [h for h, a, b in zip(htmls, all_c, got) if a != b]
        assert not bad, ([n for _, n in off], len(bad), bad[0][:200])


def _edge_text_trees():
    """Hand-built trees for the text walker's edge cases."""
    from jsoup_spark.parser.nodes import (
        CDataNode, Element, PseudoTextElement, TextNode)

    def el(name, *kids):
        e = Element(name)
        for k in kids:
            e.append(TextNode(k) if isinstance(k, str) else k)
        return e

    def chain(top, depth, leaf):
        # `top` > div x depth > text(leaf): the text's parent is `depth`
        # elements below `top`
        inner = el("div", leaf)
        for _ in range(depth - 1):
            inner = el("div", inner)
        return el(top, inner)

    trees = [
        # an empty raw fragment: accum[-1] == "" hides the trailing space
        el("div", "a ", el("pre", ""), " b"),
        el("div", "a ", el("pre", "", el("span", "x")), el("i", " y")),
        el("pre", "a ", "", el("br"), "b"),
        el("div", el("pre", ""), el("p", "x")),
        el("p", "a", CDataNode("  c\n d "), el("br"), CDataNode(""), " e"),
        el("div", el("pre", CDataNode("")), "z"),
        el("div", PseudoTextElement("p"), " x ",
           el("b", PseudoTextElement("span")), "y"),
        el("div", "a\xa0\xa0 \u200b b\xad\xad c \u200b\u200b",
           el("span", "\u200b"), " \xad d", el("br"), "\xa0e\t\n"),
        el("td", "\u200b ", el("b", " \xad"), el("br"), el("br"), " f "),
        el("div", el("span", el("b")), el("br"), "g", el("img"), el("p"),
           el("span", " h "), el("p", "i"), "j"),
    ]
    trees[6].children[0].append(TextNode(" pseudo  text "))
    trees[6].children[2].children[0].append(TextNode("q"))
    for depth in (4, 5, 6, 7):
        trees.append(chain("pre", depth, "  ws \n kept?  "))
        trees.append(el("p", "x", chain("textarea", depth, " a  b ")))
    # nesting past the C walker's frame limit: it bails to Python
    deep = el("span", "end")
    for i in range(700):
        deep = el("div" if i % 3 else "b", deep, " t%d " % i)
    trees.append(el("body", deep))
    return trees


def test_c_text_walker_matches_python(monkeypatch):
    """Element.text() and own_text() from the C walker
    (_native/fasttree.c element_text / element_own_text) equal the Python
    source of truth (nodes._text_accumulate, Element.own_text) on every
    element of every golden input and of the hand-built edge trees."""
    from jsoup_spark.parser import nodes
    from jsoup_spark.parser.xmlbuilder import parse_xml
    from jsoup_spark.select.selector import select

    htmls = [c["html"] for c in load_fixture("golden_tree.json")]
    htmls += [c["html"] for c in load_fixture("golden_bodyhtml.json")]
    text_fx = load_fixture("golden_text.json")
    for key in ("text", "wholetext", "title"):
        htmls += [c["html"] for c in text_fx[key]]
    select_fx = load_fixture("golden_select.json")
    htmls += sorted({c["doc"] for c in select_fx["fuzz"]})
    roots = [parse(h) for h in htmls]
    # :matchText wraps text runs in PseudoTextElements
    pseudo = parse(select_fx["doc"])
    select(pseudo, "p:matchText, div:matchText, li:matchText")
    assert any(isinstance(e, nodes.PseudoTextElement)
               for e in pseudo.elements())
    roots.append(pseudo)
    roots += [parse_xml(c["xml"]) for c in load_fixture("golden_xml.json")]
    roots += _edge_text_trees()

    def texts():
        return [(e.text(), e.own_text())
                for r in roots for e in [r, *r.elements()]]

    assert nodes._FT is not None
    assert nodes._FT.element_text(roots[-1]) is None  # past the limit
    c_out = texts()
    monkeypatch.setattr(nodes, "_FT", None)
    py_out = texts()
    els = [e for r in roots for e in [r, *r.elements()]]
    bad = [(e.name, a, b) for e, a, b in zip(els, c_out, py_out) if a != b]
    assert not bad, (len(bad), len(els), bad[0])
    assert c_out[-702][0].startswith("end t0 t1 ")


def test_c_span_walker_matches_python_on_edge_trees():
    """The C span walker (spans._CW.walk_spans) shares the text walker's
    fragment state: on the hand-built edge trees it emits the Python
    walker's spans, or bails."""
    from jsoup_spark.extract import spans

    for tree in _edge_text_trees():
        out, accum = [], []
        spans._walk(tree, out, accum)
        spans._flush(out, accum)
        got = spans._CW.walk_spans(tree, "")
        if got is not None:
            assert got == [tuple(o) for o in out]


@pytest.mark.skipif(not os.path.isdir(REF_RESOURCES + "/htmltests"),
                    reason=REF_RESOURCES + "/htmltests is missing: the wild "
                    "corpus hashed in golden_wild.json is not here")
def test_wild_corpus_hashes():
    """The reference's wild-HTML corpus must parse to the canonical-tree
    and body-text SHA-256s in `golden_wild.json`. Skipped where the
    reference checkout (`htmltests/`) is missing; where it exists, a
    file missing from it fails the test."""
    from jsoup_spark.parser.nodes import Document
    cases = load_fixture("golden_wild.json")
    for case in cases:
        path = case["path"]
        data = gzip.open(path, "rb").read() if path.endswith(".gz") \
            else open(path, "rb").read()
        html = data.decode("utf-8")
        doc = parse(html)
        tree_sha = hashlib.sha256(canonical(doc).encode()).hexdigest()
        assert tree_sha == case["tree_sha"], path
        body = doc.body
        text = body.text() if body is not None else ""
        text_sha = hashlib.sha256(text.encode()).hexdigest()
        assert text_sha == case["text_sha"], path


def test_xml_golden():
    from jsoup_spark.parser.xmlbuilder import parse_xml
    cases = load_fixture("golden_xml.json")
    bad = 0
    for case in cases:
        mine = canonical(parse_xml(case["xml"]))
        if mine != case["tree"]:
            bad += 1
    assert bad == 0, f"{bad} xml tree mismatches"


@pytest.mark.skipif(not os.path.isdir(REF_RESOURCES + "/fuzztests"),
                    reason=REF_RESOURCES + "/fuzztests is missing: the "
                    "reference's OSS-Fuzz regression corpus is not here")
def test_fuzz_corpus_no_crash():
    """The reference's OSS-Fuzz regression corpus must parse without
    exceptions or pathological slowdown (ParserSoakIT-style bound).
    Skipped where the reference checkout (`fuzztests/`) is missing."""
    import glob
    import time
    files = sorted(glob.glob(REF_RESOURCES + "/fuzztests/*.gz"))
    assert files
    for f in files:
        data = gzip.open(f, "rb").read().decode("utf-8", errors="replace")
        t0 = time.time()
        doc = parse(data)
        assert doc is not None
        assert time.time() - t0 < 20, f"pathological slowdown on {f}"


def test_inbody_script_is_rawtext_not_scriptdata():
    """Reference semantics: the InBody default branch drives the
    tokenizer from Tag.textState(), and script's textState() is
    Rawtext (HtmlTreeBuilderState.java:592-595) — only the in-HEAD
    branch transitions to ScriptData (:141-143). So an in-body
    <script><!-- <script></script> closes at the FIRST end tag (no
    double-escape), while the same markup in head consumes it.
    Found by a fresh mega_fuzz seed (81702) this session: the C
    SA_TEXT_SWITCH action used ScriptData; 5500/5500 exact after the
    fix, revalidated across 5 seeds + stress + positions +
    select/clean campaigns."""
    from jsoup_spark.extract.canonical import canonical
    body = canonical(parse("x<script><!-- <script></script>y"))
    assert body == ('(html(head)(body"x"'
                    '(script#data:<!-- <script>;)"y"))')
    head = canonical(parse("<script><!-- <script></script>y"))
    assert head == ('(html(head(script#data:'
                    '<!-- <script></script>y;))(body))')
