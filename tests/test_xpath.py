"""XPath subset parity tests, encoding the reference's select/XpathTest.java
assertions (file:line cited per test) against jsoup_spark.select.xpath."""
import pytest

from jsoup_spark.parser.treebuilder import parse
from jsoup_spark.parser.xmlbuilder import parse_xml
from jsoup_spark.select.selector import SelectorParseError, select_first
from jsoup_spark.select.xpath import select_xpath, select_xpath_nodes


def test_supports_xpath():
    # XpathTest.java:28-36
    doc = parse("<body><div><p>One</div><div><p>Two</div><div>Three</div>")
    els = select_xpath(doc, "//div/p")
    assert len(els) == 2
    assert els[0].text() == "One"
    assert els[1].text() == "Two"


def test_supports_xpath_from_element():
    # XpathTest.java:39-54
    doc = parse("<body><div><p>One</div><div><p>Two</div><div>Three</div>")
    div = select_first(doc, "div")
    assert div is not None
    w3c_div = select_xpath(div, ".")[0]
    assert w3c_div is div

    els = select_xpath(div, "p")
    assert len(els) == 1
    assert els[0].text() == "One"
    assert els[0].name == "p"

    # the whole document is visible on the div context
    assert len(select_xpath(div, "//body")) == 1
    assert len(select_xpath(doc, "//body")) == 1


def test_empty_elements_if_no_results():
    # XpathTest.java:57-60
    doc = parse("<p>One<p>Two")
    assert select_xpath(doc, "//div") == []


def test_throws_select_exception():
    # XpathTest.java:62-80
    doc = parse("<p>One<p>Two")
    with pytest.raises(SelectorParseError) as exc:
        select_xpath(doc, "//???")
    assert str(exc.value).startswith("Could not evaluate XPath query [//???]:")


def test_supports_localname():
    # XpathTest.java:82-90
    xhtml = "<html xmlns='http://www.w3.org/1999/xhtml'><body id='One'><div>hello</div></body></html>"
    doc = parse_xml(xhtml)
    els = select_xpath(doc, "//*[local-name()='body']")
    assert len(els) == 1
    assert els[0].id == "One"


def test_not_namespace_aware_body():
    # XpathTest.java:199-206 — name test matches local name in XML mode
    xhtml = "<html xmlns='http://www.w3.org/1999/xhtml'><body id='One'><div>hello</div></body></html>"
    doc = parse_xml(xhtml)
    els = select_xpath(doc, "//body")
    assert len(els) == 1
    assert els[0].id == "One"


CSS_XPATH_EQUIV = [
    ("DIV", "//div"),
    ("div > p.foo", "//div/p[@class]"),
    ("div + div", "//div/following-sibling::div[1]"),
    ("p:containsOwn(Hello)", '//p[contains(text(),"Hello")]'),
]


@pytest.mark.parametrize("css,xpath", CSS_XPATH_EQUIV)
def test_css_and_xpath_equivalents(css, xpath):
    # XpathTest.java:104-126
    from jsoup_spark.select.selector import select

    doc = parse("<div id=1><div id=2><p class=foo>Hello</p></div></div><DIV id=3>")
    from_css = select(doc, css)
    from_xpath = select_xpath(doc, xpath)
    assert len(from_css) >= 1
    assert from_css == from_xpath  # same size, order, identity


def test_can_select_text_nodes():
    # XpathTest.java:129-146
    doc = parse("<div><p>One<p><a>Two</a><p>Three and some more")
    nodes = select_xpath_nodes(doc, "//body//p//text()")
    assert [n.value for n in nodes] == ["One", "Two", "Three and some more"]


def test_select_by_attribute():
    # XpathTest.java:148-155
    doc = parse("<p><a href='/foo'>Foo</a><a href='/bar'>Bar</a><a>None</a>")
    hrefs = [e.attr("href") for e in select_xpath(doc, "//a[@href]")]
    assert hrefs == ["/foo", "/bar"]


def test_select_outside_of_element_tree():
    # XpathTest.java:157-170
    doc = parse("<p>One<p>Two<p>Three")
    ps = select_xpath(doc, "//p")
    assert len(ps) == 3
    p1 = ps[0]
    assert p1.text() == "One"
    sibs = select_xpath(p1, "following-sibling::p")
    assert [s.text() for s in sibs] == ["Two", "Three"]


def test_select_ancestors_on_context_element():
    # XpathTest.java:172-181 (jhy/jsoup#1652)
    doc = parse("<div><p>Hello")
    p = select_first(doc, "p")
    chain = select_xpath(p, "ancestor-or-self::*")
    assert [e.name for e in chain] == ["html", "body", "div", "p"]


def test_supports_prefixes():
    # XpathTest.java:208-237 — prefixed names match by local name;
    # name() keeps the prefix, local-name() strips it
    xml = (
        '<?xml version="1.0"?>\n'
        "<bk:book xmlns:bk='urn:loc.gov:books'\n"
        "         xmlns:isbn='urn:ISBN:0-395-36341-6'>\n"
        "    <bk:title>Cheaper by the Dozen</bk:title>\n"
        "    <isbn:number>1568491379</isbn:number>\n"
        "</bk:book>"
    )
    doc = parse_xml(xml)
    els = select_xpath(doc, "//book/title")
    assert len(els) == 1
    assert els[0].text() == "Cheaper by the Dozen"

    by_prefix = select_xpath(doc, "//*[name()='bk:book']/*[name()='bk:title']")
    assert len(by_prefix) == 1
    assert by_prefix[0].text() == "Cheaper by the Dozen"

    by_local = select_xpath(doc, "//*[local-name()='book']/*[local-name()='title']")
    assert len(by_local) == 1

    isbn = select_xpath(doc, "//book/number")
    assert len(isbn) == 1
    assert isbn[0].text() == "1568491379"


def test_with_semi_in_attribute_name():
    # XpathTest.java:239-244 (jhy/jsoup#2244)
    doc = parse('<div grading?&quot;=foo>One</div>')
    assert len(select_xpath(doc, "//div")) == 1


# --- subset coverage beyond the reference's test file ---------------------

def test_positional_and_last():
    doc = parse("<ul><li>a<li>b<li>c</ul>")
    assert [e.text() for e in select_xpath(doc, "//li[1]")] == ["a"]
    assert [e.text() for e in select_xpath(doc, "//li[last()]")] == ["c"]
    assert [e.text() for e in select_xpath(doc, "//li[position()>1]")] == ["b", "c"]


def test_union_and_parent():
    doc = parse("<div><p>One</p><span>Two</span></div>")
    els = select_xpath(doc, "//p | //span")
    assert [e.name for e in els] == ["p", "span"]
    assert select_xpath(doc, "//p/..")[0].name == "div"


def test_attr_value_and_functions():
    doc = parse("<a href='http://x/a'>A</a><a href='/b'>B</a>")
    assert [e.text() for e in select_xpath(doc, "//a[@href='/b']")] == ["B"]
    assert [e.text() for e in select_xpath(doc, "//a[starts-with(@href,'http')]")] == ["A"]
    assert [e.text() for e in select_xpath(doc, "//a[not(starts-with(@href,'http'))]")] == ["B"]
    assert [e.text() for e in select_xpath(doc, "//*[count(a)=2]")][:1] == ["AB"]


def test_nested_relative_path_predicate():
    doc = parse("<div><span>x</span></div><div><p>y</p></div>")
    assert [e.text() for e in select_xpath(doc, "//div[span]")] == ["x"]
    assert [e.text() for e in select_xpath(doc, "//div[.//p]")] == ["y"]


def test_descendant_or_self_abbrev_mid_path():
    doc = parse("<div><section><p>deep</p></section></div>")
    assert [e.text() for e in select_xpath(doc, "//div//p")] == ["deep"]


def test_comment_and_normalize_space():
    doc = parse("<div><!-- note --><p>  padded   text </p></div>")
    comments = select_xpath_nodes(doc, "//div/comment()")
    assert len(comments) == 1 and comments[0].value == " note "
    assert [e.text() for e in select_xpath(doc, "//p[normalize-space()='padded text']")] == [
        "padded text"
    ]


# ---------------------------------------------------------------------------
# Round-8 extensions: arithmetic, following/preceding, filter expressions,
# the remaining XPath 1.0 core functions, and the Xalan data-model corners
# probed against the compiled reference (fuzzed against it in round 8;
# these pin the behaviors that campaign established).

def test_arithmetic_in_predicates():
    doc = parse("<ul><li>a</li><li>b</li><li>c</li><li>d</li></ul>")
    texts = lambda q: [e.text() for e in select_xpath(doc, q)]
    assert texts("//li[position()+1=2]") == ["a"]
    assert texts("//li[position()-1=2]") == ["c"]
    assert texts("//li[position()*2=4]") == ["b"]
    assert texts("//li[position() div 2 = 1]") == ["b"]
    assert texts("//li[position() mod 2 = 1]") == ["a", "c"]
    assert texts("//li[-position()+3=1]") == ["b"]
    assert texts("//li[last()-1]") == ["c"]


def test_arithmetic_ieee_semantics():
    # div by zero -> +/-Infinity, 0 div 0 and mod 0 -> NaN (Java %)
    doc = parse("<p n='5'>x</p>")
    assert select_xpath(doc, "//p[1 div 0 > 1000]")
    assert select_xpath(doc, "//p[-1 div 0 < -1000]")
    assert not select_xpath(doc, "//p[0 div 0 = 0 div 0]")  # NaN != NaN
    assert select_xpath(doc, "//p[5 mod 2 = 1]")
    assert select_xpath(doc, "//p[-5 mod 2 = -1]")  # dividend sign
    assert select_xpath(doc, "//p[string(1 div 0) = 'Infinity']")


def test_following_preceding_axes():
    doc = parse("<div><a>1</a><b><i>2</i></b><c>3</c></div><p>4</p>")
    assert [e.text() for e in select_xpath(doc, "//b/following::*")] == ["3", "4"]
    # nearest-first (reverse axis); head precedes everything in body
    assert [e.name for e in select_xpath(doc, "//c/preceding::*")] == [
        "head", "a", "b", "i"]
    # preceding is a reverse axis: [1] is the nearest in reverse doc order
    assert select_xpath(doc, "//c/preceding::*[1]")[0].text() == "2"
    # preceding excludes ancestors; following excludes descendants
    assert "div" not in [e.name for e in select_xpath(doc, "//c/preceding::*")]
    assert [e.name for e in select_xpath(doc, "//b/following::i")] == []


def test_filter_expressions():
    doc = parse("<ul><li>a<b>x</b></li><li>b</li></ul><ol><li>c</li></ol>")
    assert [e.text() for e in select_xpath(doc, "(//li)[last()]")] == ["c"]
    assert [e.text() for e in select_xpath(doc, "(//li)[2]")] == ["b"]
    # trailing path continues from the filtered set
    assert [e.text() for e in select_xpath(doc, "(//li)[1]/b")] == ["x"]
    assert [e.text() for e in select_xpath(doc, "(//ul/li | //ol/li)[position()>2]")] == ["c"]


def test_string_functions():
    doc = parse("<p id='abc'>Hello world</p>")
    hits = lambda q: bool(select_xpath(doc, q))
    assert hits("//p[substring(text(), 1, 5) = 'Hello']")
    assert hits("//p[substring('12345', 1.5, 2.6) = '234']")  # spec example
    assert hits("//p[substring-before(text(), ' ') = 'Hello']")
    assert hits("//p[substring-after(text(), ' ') = 'world']")
    assert hits("//p[substring-after(text(), 'zz') = '']")
    assert hits("//p[translate(@id, 'abc', 'ABC') = 'ABC']")
    assert hits("//p[translate('bar', 'abc', 'AB') = 'BAr']")  # deletion
    assert hits("//p[string-length(text()) = 11]")


def test_number_functions():
    doc = parse("<ul><li n='1.5'>x</li><li n='2.5'>y</li></ul>")
    hits = lambda q: bool(select_xpath(doc, q))
    assert hits("//ul[floor(1.7) = 1]")
    assert hits("//ul[ceiling(1.2) = 2]")
    assert hits("//ul[round(2.5) = 3]")    # half toward +Infinity
    assert hits("//ul[round(-2.5) = -2]")  # not away from zero
    assert hits("//ul[sum(li/@n) = 4]")
    assert hits("//ul[count(li) = 2]")


def test_document_level_data_model():
    # probed against the compiled reference (Xalan over W3CDom): the
    # context node for a Document is its root element; the document node
    # and its non-element children are invisible to axes
    doc = parse("<!-- outside --><html><body><p>x</p></body></html>")
    assert select_xpath(doc, ".")[0].name == "html"
    assert select_xpath_nodes(doc, "..") == []
    assert select_xpath_nodes(doc, "/comment()") == []
    assert [n.name for n in select_xpath(doc, "/*")] == ["html"]
    assert [e.name for e in select_xpath(doc, "//p/ancestor::node()")] == [
        "html", "body"]


def test_adjacent_text_run_semantics():
    # XPath data model: adjacent text siblings are ONE logical node whose
    # string-value is the concatenated run, identified by the run's first
    # member (foster-parenting produces such runs; harness-probed)
    doc = parse("<div><table>AAA</tr>BBB<p>x</p></table></div>")
    texts = select_xpath_nodes(doc, "//text()")
    # p fosters out before the table; BBB folds into AAA's run
    assert [t.value for t in texts] == ["x", "AAA"]
    assert select_xpath_nodes(doc, "//text()[. = 'AAABBB']")
    assert not select_xpath_nodes(doc, "//text()[. = 'AAA']")
    assert select_xpath_nodes(doc, "//table/text()[last()]")[0].value == "AAA"


def test_script_data_is_text_in_data_model():
    # //script/text() matches the data node in the reference (script
    # contents become W3C text nodes); element string-values include them
    doc = parse("<div><script>var x=1;</script><p>t</p></div>")
    assert [n.value for n in select_xpath_nodes(doc, "//script/text()")] == ["var x=1;"]
    assert select_xpath(doc, "//script[string-length(.) = 8]")


def test_unknown_function_is_compile_error():
    # Xalan fails unknown functions at compile time, even when the
    # predicate would never evaluate
    doc = parse("<div>no p here</div>")
    with pytest.raises(SelectorParseError):
        select_xpath(doc, "//p[unknownfn(2)]")


def test_variables_error_lazily():
    # jsoup has no variable binding; the reference NPEs when a variable
    # RESOLVES — so an unevaluated predicate (empty candidate set) stays
    # silent while a reachable one raises
    doc = parse("<div><p>x</p></div>")
    assert select_xpath(doc, "//missing[$v = 1]") == []
    with pytest.raises(SelectorParseError):
        select_xpath(doc, "//p[$v = 1]")


def test_id_returns_empty():
    # no DTD: no ID-typed attributes, so id() is empty (matches Xalan
    # over the reference's conversion)
    doc = parse("<div id='x'><p>t</p></div>")
    assert select_xpath(doc, "//p[id('x')]") == []


def test_xalan_descendant_fusion_divergence():
    # DOCUMENTED DIVERGENCE: Xalan drops the predicate when an explicit
    # descendant[-or-self]::node()[pred] step is followed by another
    # descendant-family step (it fuses the walks and returns every
    # element under the context). We follow the XPath 1.0 spec instead:
    # the predicate filters step 1, and step 2 walks only from there.
    # The round-8 differential campaign skipped this shape.
    doc = parse("<div><a href='/x'><b>T</b></a><p>n</p></div>")
    els = select_xpath(doc, "descendant::node()[@href]/descendant-or-self::*")
    assert [e.name for e in els] == ["a", "b"]  # spec; Xalan says head..p


def test_document_node_occupies_positions():
    # the document node EXISTS in the data model — it holds position 1
    # of (//ancestor::node()) and counts toward last() — but is never
    # RETURNED (the reference's source-map back-conversion has no jsoup
    # node for it; we filter Document at the API boundary). All four
    # shapes harness-verified against the compiled reference.
    doc = parse("<div><p>x</p></div>")
    assert select_xpath(doc, "(//ancestor::node())[1]") == []  # the doc node
    assert [e.name for e in select_xpath(doc, "(//ancestor::node())[2]")] == ["html"]
    assert [e.name for e in select_xpath(doc, "(//parent::node())[2]")] == ["html"]
    assert [e.name for e in select_xpath(doc, "(//ancestor::node())[last()]")] == ["p"]


def test_lang_always_false():
    # harness-probed: the reference's W3CDom conversion is not namespace
    # aware, so "xml:lang" never lands in the XML namespace and Xalan's
    # FuncLang lookup finds no language — lang() is constantly false
    # (<div xml:lang=en> + //p[lang('en')] → empty on the reference too)
    doc = parse("<div xml:lang='en'><p id='a'>x</p></div>")
    assert select_xpath(doc, "//p[lang('en')]") == []
    assert [e.attr("id") for e in select_xpath(doc, "//p[not(lang('en'))]")] == ["a"]
    assert [e.attr("id")
            for e in select_xpath(doc, "//p[string(lang('en'))='false']")] == ["a"]


def test_wrong_arity_is_compile_error():
    # Xalan validates arity at compile time (harness-probed: //zz[floor()]
    # errors on a zz-less doc). Matrix: see _ARITY in select/xpath.py.
    doc = parse("<b>x</b>")
    for q in ("//zz[floor()]", "//zz[lang()]", "//zz[lang('a','b')]",
              "//zz[contains('a')]", "//zz[concat('a')]",
              "//zz[substring('a')]", "//zz[translate('a','b')]",
              "//zz[not()]", "//zz[true(1)]", "//zz[position(1)]",
              "//zz[normalize-space('a','b')]", "//zz[last(1)]",
              "//zz[count(//p,//b)]", "//zz[name('a','b')]"):
        with pytest.raises(SelectorParseError):
            select_xpath(doc, q)
    # optional-arg forms stay legal
    assert select_xpath(doc, "//b[string-length() = 1]") != []
    assert select_xpath(doc, "//b[normalize-space() = 'x']") != []


def test_variable_bindings():
    # BEYOND the reference surface: jsoup's selectXpath delegation has no
    # variable resolver (any $x NPEs at resolution, Element.java:788);
    # ours accepts a bindings dict. Unbound keeps the lazy error parity.
    doc = parse("<ul><li id='a'>1</li><li id='b'>2</li><li id='c'>30</li></ul>")
    assert [e.attr("id") for e in
            select_xpath(doc, "//li[@id=$which]", variables={"which": "b"})] == ["b"]
    assert [e.attr("id") for e in
            select_xpath(doc, "//li[number(text()) > $min]",
                         variables={"min": 1.5})] == ["b", "c"]
    assert [e.attr("id") for e in
            select_xpath(doc, "//li[$keep]", variables={"keep": True})] == \
        ["a", "b", "c"]
    # node-set binding: count() over caller-supplied nodes
    lis = select_xpath(doc, "//li")
    assert [e.attr("id") for e in
            select_xpath(doc, "//li[count($set) = 3]",
                         variables={"set": lis})] == ["a", "b", "c"]
    # unbound still fails lazily at evaluation
    with pytest.raises(SelectorParseError):
        select_xpath(doc, "//li[@id=$nope]")
    assert select_xpath(parse("<b>x</b>"), "//li[@id=$nope]") == []


def test_xml_preserved_case_name_tests():
    # xmlParser preserves case and Xalan matches case-sensitively
    # (harness-probed via the xpathxml op): //Item and //item are
    # distinct; //a does not match <A>.
    from jsoup_spark.parser.xmlbuilder import parse_xml
    doc = parse_xml('<root><Item id="a">X</Item><item id="b">y</item></root>')
    assert [e.attr("id") for e in select_xpath(doc, "//Item")] == ["a"]
    assert [e.attr("id") for e in select_xpath(doc, "//item")] == ["b"]
    assert select_xpath(parse_xml('<Root><A id="x">1</A></Root>'), "//a") == []


def test_prefixed_name_tests_never_match():
    # jsoup supplies no NamespaceContext to Xalan, so a prefixed test's
    # prefix is unresolvable and matches NOTHING — silently, not an
    # error (harness-probed on both parse paths). Unprefixed tests match
    # the LOCAL part of the preserved name: //t matches <ns:t> AND <t>;
    # name() returns the full prefixed name.
    from jsoup_spark.parser.xmlbuilder import parse_xml
    doc = parse_xml('<root xmlns:ns="http://x">'
                    '<ns:t id="a">v</ns:t><t id="b">w</t></root>')
    assert [e.attr("id") for e in select_xpath(doc, "//t")] == ["a", "b"]
    assert select_xpath(doc, "//ns:t") == []
    assert select_xpath(doc, "//ns:*") == []
    assert [e.attr("id") for e in select_xpath(doc, "//*[name()='ns:t']")] == ["a"]
    assert [e.attr("id")
            for e in select_xpath(doc, "//*[local-name()='t']")] == ["a", "b"]
    # html flavor: <fb:like> keeps the colon in the tag name
    hdoc = parse("<fb:like id='a'>x</fb:like>")
    assert [e.attr("id") for e in select_xpath(hdoc, "//like")] == ["a"]
    assert select_xpath(hdoc, "//fb:like") == []


def test_pi_and_doctype_invisible():
    # xml declarations / PIs / doctypes are dropped by the reference's
    # W3C conversion at EVERY level: they never match (even node()),
    # never occupy positions, and do NOT break adjacent text runs
    # (t1<?pi?>t2 is ONE logical text node; a comment DOES break runs).
    from jsoup_spark.parser.xmlbuilder import parse_xml
    doc = parse_xml("<root><?pi d?><a>x</a></root>")
    assert select_xpath_nodes(doc, "//processing-instruction()") == []
    assert select_xpath_nodes(doc, "//processing-instruction('pi')") == []
    assert [e.name for e in select_xpath_nodes(doc, "/root/node()[1]")] == ["a"]
    run = parse_xml("<root><a>t1<?pi d?>t2</a></root>")
    assert select_xpath(run, "//a[text()='t1t2']") != []
    assert select_xpath(run, "//a[text()='t1']") == []
    broken = parse_xml("<root><a>t1<!--c-->t2</a></root>")
    assert select_xpath(broken, "//a[text()='t1']") != []
    assert select_xpath(broken, "//a[text()='t1t2']") == []
    # CDATA is text and coalesces into runs
    cd = parse_xml("<root><a><![CDATA[c1]]>t2</a></root>")
    assert select_xpath(cd, "//a[text()='c1t2']") != []
    # grammar: PI target must be a literal, arity <= 1
    with pytest.raises(SelectorParseError):
        select_xpath(doc, "//processing-instruction(5)")
    with pytest.raises(SelectorParseError):
        select_xpath(doc, "//processing-instruction('a','b')")


def test_xalan_reverse_axis_position_last_divergence():
    # DOCUMENTED DIVERGENCE #2: on a REVERSE axis, the reference's Xalan
    # gives internal-state-dependent garbage when a predicate references
    # BOTH position() and last() and is followed by another predicate —
    # harness-probed on a 9-deep chain: [1]/[2] empty, [3] returns the
    # rank-1 survivor, [4] rank-2, [5..] empty; a different arithmetic
    # shape ([position() <= last()-5][k]) returns nothing at ANY k.
    # Forward axes and single-predicate forms are exact on both sides.
    # We follow the XPath 1.0 spec: predicates filter sequentially with
    # proximity positions recounted in axis direction each time.
    # The round-8 differential campaign skipped the shape.
    doc = parse("<div><section><article><p><em><b>x</b></em></p>"
                "</article></section></div>")
    els = select_xpath(
        doc, "(//b)[1]/ancestor-or-self::node()[position()*2 <= last()][2]")
    assert [e.name for e in els] == ["em"]  # spec; Xalan returns nothing
    els = select_xpath(
        doc, "(//b)[1]/ancestor::*[position()*2 <= last()][2]")
    assert [e.name for e in els] == ["p"]  # spec; Xalan returns nothing
    # the single-predicate form is exact on both sides (fuzzed)
    els = select_xpath(
        doc, "(//b)[1]/ancestor-or-self::node()[position()*2 <= last()]")
    assert [e.name for e in els] == ["article", "p", "em", "b"]


def test_xalan_fusion_extends_to_kind_test_child_steps():
    # DOCUMENTED DIVERGENCE #1, broader shape (found by a fresh 9k-case
    # campaign): the Xalan fusion that drops the predicate of
    # descendant[-or-self]::node()[pred] fires not only for
    # descendant-family continuations but for CHILD steps with a
    # wildcard/kind test — /*, /node(), /text() (the "//X" abbreviation
    # optimizer). Named-test continuations (/p) keep the predicate and
    # are exact on both sides. We follow the spec.
    doc = parse("<div type='t' id='d1'><p id='p1'>x</p></div><b id='b1'>y</b>")
    els = select_xpath(doc, "/descendant-or-self::node()[@type]/*")
    assert [e.attr("id") for e in els] == ["p1"]  # spec; Xalan: ALL elements
    els = select_xpath(doc, "/descendant-or-self::node()[@type]/p")
    assert [e.attr("id") for e in els] == ["p1"]  # exact on both sides


def test_xalan_reverse_axis_last_plus_second_predicate():
    # DOCUMENTED DIVERGENCE #2, broader shape: pred1 containing last()
    # in ANY form ([last()] alone included) followed by a second
    # predicate garbles on reverse axes — harness-probed:
    # ancestor::*[last()][3 and 4] returns the NEAREST ancestor (em)
    # instead of the farthest (html). We follow the spec.
    doc = parse("<div><p>a</p><p>b</p><em><b>x</b></em></div>")
    els = select_xpath(doc, "(//b)[1]/ancestor::*[last()][3 and 4]")
    assert [e.name for e in els] == ["html"]  # spec; Xalan says em
    els = select_xpath(doc, "(//b)[1]/ancestor::*[last()]")
    assert [e.name for e in els] == ["html"]  # single pred: exact both sides


def test_xalan_predicate_free_descendant_fusion():
    # DOCUMENTED DIVERGENCE #1, predicate-free shape: plain
    # descendant::node() + a // continuation fuses into one descendant
    # walk in the reference, forgetting the depth>=2 floor of the
    # two-step form (spec: X whose PARENT is a strict descendant).
    # Harness-probed over xmlParser: <root>12.5<a>x</a></root> with
    # descendant::node()//text() returns both texts on the reference;
    # the spec answer is only the nested one.
    from jsoup_spark.parser.xmlbuilder import parse_xml
    doc = parse_xml("<root>12.5<a>x</a></root>")
    texts = select_xpath_nodes(doc, "descendant::node()//text()")
    assert [t.value for t in texts] == ["x"]  # spec; Xalan adds 12.5
    assert select_xpath(doc, "descendant::node()//*") == []  # spec; Xalan: a
    # descendant-or-self predicate-free coincides with the fused walk —
    # exact on both sides (kept fuzzable)
    els = select_xpath(doc, "descendant-or-self::node()//*")
    assert [e.name for e in els] == ["a"]


def test_attribute_axis_kind_tests_do_not_crash():
    # r9 ADVICE: @xml:lang (unresolvable prefix -> ('never',) test),
    # @node(), @text(), @comment() previously hit step.test[1] and the
    # raw IndexError escaped the SelectorParseError wrapper, failing the
    # whole worker batch. The reference silently matches nothing for
    # unresolvable prefixes; node() selects every attribute (the axis'
    # principal node kind).
    doc = parse('<div data-x disabled lang="en"><a href="u">t</a></div>')
    assert select_xpath(doc, "//div[@xml:lang]") == []
    assert select_xpath(doc, "//div[@text()]") == []
    assert select_xpath(doc, "//div[@comment()]") == []
    # @node() == @* : div has 3 attributes
    assert len(select_xpath(doc, "//div[count(@node()) = 3]")) == 1


def test_attribute_wildcard_valueless_string_value():
    # r9 ADVICE: @* wrapped valueless attributes as _AttrValue(None) —
    # contains(@*, ...) raised AttributeError and @*='' was wrong. The
    # reference's W3C conversion gives valueless attrs string-value ''.
    doc = parse("<div data-x disabled>t</div>")
    assert len(select_xpath(doc, "//div[@*='']")) == 1
    assert len(select_xpath(doc, "//div[contains(@*, '')]")) == 1
    # named branch already coerced; parity between the two lookups
    assert len(select_xpath(doc, "//div[@data-x = @*]")) == 1


def test_filter_expression_keeps_attribute_nodes():
    # r9 ADVICE: (//@href)[1] was always empty because _eval_filter
    # discarded attribute nodes from the base before predicates.
    doc = parse('<p><a href="u1">A</a><a href="u2">B</a></p>')
    assert len(select_xpath(doc, "//p[count((//@href)[1]) = 1]")) == 1
    assert len(select_xpath(doc, "//p[count((//@href)[2]) = 1]")) == 1
    assert len(select_xpath(doc, "//p[count((//@href)[3]) = 0]")) == 1
    assert len(select_xpath(doc, "//p[(//@href)[1] = 'u1']")) == 1
    assert select_xpath(doc, "//p[(//@href)[1] = 'u2']") == []


def test_count_of_non_node_set_raises():
    # r9 ADVICE: count(1) returned NaN silently while Xalan raises an
    # evaluation error (and our own sum() already raised) — error parity.
    doc = parse("<p>t</p>")
    with pytest.raises(SelectorParseError):
        select_xpath(doc, "//p[count(1)]")
    with pytest.raises(SelectorParseError):
        select_xpath(doc, "//p[count('x')]")


def test_mixed_union_attribute_document_order():
    # r9 review fix: attribute nodes in mixed element/attribute unions
    # sort in true document order (owner element < its attributes < its
    # children), not after all elements.
    doc = parse('<p><a href="u1">x</a><b>y</b></p>')
    assert len(select_xpath(doc, "//p[( //@href | //b )[1] = 'u1']")) == 1
    assert select_xpath(
        doc, "//p[count(((//@href | //b)[1])/self::b) = 1]") == []
    # elements-only unions keep ordering; pure-attr positional unchanged
    assert [e.name for e in select_xpath(doc, "//b | //a")] == ["a", "b"]
    assert len(select_xpath(doc, "//p[(//@href)[2] = 'u1']")) == 0
