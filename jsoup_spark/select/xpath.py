"""XPath 1.0 subset evaluator over the jsoup_spark DOM.

Re-expresses the reference's `Element.selectXpath` surface
(reference: nodes/Element.java:784-801, helper/W3CDom.java:56-71 — which
delegates to javax.xml.xpath over a converted W3C DOM) as a direct
evaluator over our node tree, with the same observable semantics the
reference's test suite exercises (select/XpathTest.java):

* location paths (absolute / relative), `//` abbreviation, unions,
  filter expressions with trailing paths (`(//p)[last()]/span`)
* axes: child (default), self (`.`/self::), parent (`..`/parent::),
  descendant, descendant-or-self, ancestor, ancestor-or-self,
  following-sibling, preceding-sibling, following, preceding,
  attribute (in expressions)
* node tests: name (matched against the LOCAL name, as the reference's
  non-namespace-aware conversion does — XpathTest.java:204-236), `*`,
  text(), node(), comment()
* predicates: positional ([1], last(), position()), attribute
  existence/value, and/or, arithmetic (`+ - * div mod`, unary minus)
  with IEEE semantics (div by zero → ±Infinity/NaN, mod = Java `%`),
  XPath 1.0 comparison coercion rules
* functions: contains / starts-with / not / true / false / name /
  local-name / normalize-space / string / concat / string-length /
  number / boolean / count / sum / substring / substring-before /
  substring-after / translate / floor / ceiling / round / id / lang
  (id() always empty — no DTD; lang() always false — the reference's
  non-namespace-aware conversion hides xml:lang from Xalan; arity is
  validated at compile time like Xalan's FunctionTable)
* variables: $name references resolve through an optional bindings dict
  (select_xpath(..., variables=...)) — BEYOND the reference surface,
  whose delegation has no resolver; unbound references keep the
  reference's lazy evaluation-time failure
* results in document order, deduplicated

Differentially fuzzed against the compiled reference's selectXpath
(javax.xml.xpath over W3CDom) in round 8; the pinned boundary vs full
XPath 1.0: no namespace-prefixed name tests (the reference's HTML
conversion is not namespace aware either), no namespace axis, no
processing-instruction() test (HTML parsing never produces PIs —
bogus-comment state).

Raises SelectorParseError with the reference's message shape
("Could not evaluate XPath query [q]: ...", XpathTest.java:66-80).
"""
from __future__ import annotations

import math
import re

from jsoup_spark.parser.nodes import (
    CommentNode,
    DataNode,
    DoctypeNode,
    Document,
    Element,
    Node,
    TextNode,
    XmlDeclNode,
)

#: the XPath data model's "text node" covers our TextNode AND DataNode
#: (script/style contents become W3C text nodes in the reference's
#: conversion — harness-probed: //script/text() matches the data node)
_TEXTUAL = (TextNode, DataNode)
#: nodes that do NOT EXIST in the converted W3C data model, at any depth:
#: xml declarations / processing instructions and doctypes are dropped by
#: the reference's conversion (harness-probed via the xpathxml op:
#: /root/node()[1] skips a leading <?pi?>, and t1<?pi?>t2 is ONE text run)
_INVISIBLE = (XmlDeclNode, DoctypeNode)
from jsoup_spark.select.selector import SelectorParseError

__all__ = ["select_xpath", "select_xpath_nodes", "compile_xpath"]


# ---------------------------------------------------------------------------
# Lexer

_TOKEN_RE = re.compile(
    r"""
    \s*(?:
      (?P<num>\d+(?:\.\d*)?|\.\d+)
    | (?P<lit>"[^"]*"|'[^']*')
    | (?P<dslash>//)
    | (?P<dcolon>::)
    | (?P<ddot>\.\.)
    | (?P<var>\$[A-Za-z_][A-Za-z0-9_.-]*)
    | (?P<op>!=|<=|>=|[=<>|/@\[\]().,*+-])
    | (?P<name>[A-Za-z_][A-Za-z0-9_.-]*(?::(?:[A-Za-z_][A-Za-z0-9_.-]*|\*))?)
    )""",
    re.VERBOSE,
)

_AXES = {
    "child",
    "self",
    "parent",
    "descendant",
    "descendant-or-self",
    "ancestor",
    "ancestor-or-self",
    "following-sibling",
    "preceding-sibling",
    "following",
    "preceding",
    "attribute",
}


# ---------------------------------------------------------------------------
# AST

class _Step:
    __slots__ = ("axis", "test", "predicates")

    def __init__(self, axis: str, test: tuple, predicates: list):
        self.axis = axis
        self.test = test  # ('name', n) | ('*',) | ('text',) | ('node',) | ('comment',)
        self.predicates = predicates


class _Path:
    __slots__ = ("absolute", "steps")

    def __init__(self, absolute: bool, steps: list[_Step]):
        self.absolute = absolute
        self.steps = steps


class _Union:
    __slots__ = ("paths",)

    def __init__(self, paths: list):
        self.paths = paths


class _Call:
    __slots__ = ("name", "args")

    def __init__(self, name: str, args: list):
        self.name = name
        self.args = args


class _BinOp:
    __slots__ = ("op", "left", "right")

    def __init__(self, op: str, left, right):
        self.op = op
        self.left = left
        self.right = right


class _Neg:
    __slots__ = ("operand",)

    def __init__(self, operand):
        self.operand = operand


class _Filter:
    """FilterExpr with optional trailing path: PrimaryExpr Predicate* ('/'|'//' steps)?

    Covers the `(//p)[last()]` / `(//a | //b)[2]/span` idioms: predicates
    apply over the base node-set in document order (XPath proximity
    position of a filter expression), then the tail path continues from
    each survivor.
    """

    __slots__ = ("base", "predicates", "tail")

    def __init__(self, base, predicates: list, tail):
        self.base = base
        self.predicates = predicates
        self.tail = tail  # _Path (relative) or None


class _Var:
    """XPath variable reference. jsoup's selectXpath has no way to bind
    variables, so any reference fails — but only at EVALUATION time (the
    reference's resolver NPEs inside the predicate), so a variable inside
    a predicate whose candidate set is empty goes silently unevaluated."""

    __slots__ = ("name",)

    def __init__(self, name: str):
        self.name = name


class _Num:
    __slots__ = ("value",)

    def __init__(self, value: float):
        self.value = value


class _Str:
    __slots__ = ("value",)

    def __init__(self, value: str):
        self.value = value


# ---------------------------------------------------------------------------
# Parser (recursive descent over the token list)

class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str]:
        tok = self.peek()
        if tok is None:
            raise ValueError("unexpected end of query")
        self.i += 1
        return tok

    def expect(self, text: str) -> None:
        tok = self.next()
        if tok[1] != text:
            raise ValueError(f"expected {text!r}, got {tok[1]!r}")

    def at(self, text: str) -> bool:
        tok = self.peek()
        return tok is not None and tok[1] == text

    # expr := or_expr
    def parse_expr(self):
        return self.parse_or()

    def parse_or(self):
        left = self.parse_and()
        while self.peek() is not None and self.peek()[1] == "or" and self.peek()[0] == "name":
            self.next()
            left = _BinOp("or", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_equality()
        while self.peek() is not None and self.peek()[1] == "and" and self.peek()[0] == "name":
            self.next()
            left = _BinOp("and", left, self.parse_equality())
        return left

    def parse_equality(self):
        left = self.parse_relational()
        while self.peek() is not None and self.peek()[1] in ("=", "!="):
            op = self.next()[1]
            left = _BinOp(op, left, self.parse_relational())
        return left

    def parse_relational(self):
        left = self.parse_additive()
        while self.peek() is not None and self.peek()[1] in ("<", "<=", ">", ">="):
            op = self.next()[1]
            left = _BinOp(op, left, self.parse_additive())
        return left

    def parse_additive(self):
        left = self.parse_multiplicative()
        while (self.peek() is not None and self.peek()[0] == "op"
               and self.peek()[1] in ("+", "-")):
            op = self.next()[1]
            left = _BinOp(op, left, self.parse_multiplicative())
        return left

    def parse_multiplicative(self):
        # at OPERATOR position a '*' (or the names div/mod) is the operator,
        # never a node test — the XPath 1.0 disambiguation rule falls out of
        # recursive descent for free
        left = self.parse_unary()
        while self.peek() is not None and (
            self.peek() == ("op", "*")
            or (self.peek()[0] == "name" and self.peek()[1] in ("div", "mod"))
        ):
            op = self.next()[1]
            left = _BinOp(op, left, self.parse_unary())
        return left

    def parse_unary(self):
        if self.peek() is not None and self.peek() == ("op", "-"):
            self.next()
            return _Neg(self.parse_unary())
        return self.parse_union()

    def parse_union(self):
        left = self.parse_primary()
        paths = [left]
        while self.at("|"):
            self.next()
            paths.append(self.parse_primary())
        if len(paths) == 1:
            return left
        return _Union(paths)

    def parse_primary(self):
        tok = self.peek()
        if tok is None:
            raise ValueError("unexpected end of query")
        kind, text = tok
        if kind == "var":
            self.next()
            return _Var(text[1:])
        if kind == "num":
            self.next()
            return _Num(float(text))
        if kind == "lit":
            self.next()
            return _Str(text[1:-1])
        if text == "(":
            self.next()
            inner = self.parse_expr()
            self.expect(")")
            return self._maybe_filter(inner)
        # function call: name '(' but not a node-test name (text/node/comment
        # followed by '(' inside a path position is handled by parse_path)
        if kind == "name" and self._is_function_ahead():
            name = self.next()[1]
            self.expect("(")
            args = []
            if not self.at(")"):
                args.append(self.parse_expr())
                while self.at(","):
                    self.next()
                    args.append(self.parse_expr())
            self.expect(")")
            if name not in _KNOWN_FUNCS:
                # compile-time error, matching Xalan ("Could not find
                # function"): an unknown function must fail even when the
                # predicate never evaluates (empty candidate set)
                raise ValueError(f"could not find function: {name}")
            lo, hi = _ARITY[name]
            if not (lo <= len(args) <= hi):
                # arity is ALSO compile-time in Xalan (harness-probed:
                # //p[floor()] on a p-less doc still errors) — the WRONG
                # NUMBER OF ARGUMENTS path of FunctionTable resolution
                raise ValueError(
                    f"wrong number of arguments to {name}(): {len(args)}")
            return self._maybe_filter(_Call(name, args))
        return self.parse_path()

    def _maybe_filter(self, base):
        """Predicates / trailing path after a parenthesized expr or call."""
        predicates = []
        while self.at("["):
            self.next()
            predicates.append(self.parse_expr())
            self.expect("]")
        tail_steps: list[_Step] = []
        while True:
            if self.at("/"):
                self.next()
                tail_steps.append(self.parse_step())
            elif self.at("//"):
                self.next()
                tail_steps.append(_Step("descendant-or-self", ("node",), []))
                tail_steps.append(self.parse_step())
            else:
                break
        if not predicates and not tail_steps:
            return base
        return _Filter(base, predicates,
                       _Path(False, tail_steps) if tail_steps else None)

    _NODE_TESTS = {"text", "node", "comment", "processing-instruction"}

    def _is_function_ahead(self) -> bool:
        tok = self.peek()
        if tok is None or tok[0] != "name":
            return False
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        if nxt is None or nxt[1] != "(":
            return False
        # text()/node()/comment() are node tests (a one-step relative path)
        return tok[1] not in self._NODE_TESTS

    def parse_path(self) -> _Path:
        absolute = False
        steps: list[_Step] = []
        if self.at("/"):
            absolute = True
            self.next()
            if self.peek() is None:
                return _Path(True, [])
        elif self.at("//"):
            absolute = True
            self.next()
            steps.append(_Step("descendant-or-self", ("node",), []))
        steps.append(self.parse_step())
        while True:
            if self.at("/"):
                self.next()
                steps.append(self.parse_step())
            elif self.at("//"):
                self.next()
                steps.append(_Step("descendant-or-self", ("node",), []))
                steps.append(self.parse_step())
            else:
                break
        return _Path(absolute, steps)

    def parse_step(self) -> _Step:
        tok = self.peek()
        if tok is None:
            raise ValueError("location step expected")
        kind, text = tok
        if text == ".":
            # '.' lexes as op via the num alternative? '.' alone: num regex
            # requires digits; op list has '.'? It does not — handle ddot/'.'
            self.next()
            return _Step("self", ("node",), [])
        if kind == "ddot":
            self.next()
            return _Step("parent", ("node",), [])
        axis = "child"
        if text == "@":
            self.next()
            axis = "attribute"
        elif kind == "name":
            nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
            if nxt is not None and nxt[0] == "dcolon":
                if text not in _AXES:
                    raise ValueError(f"unsupported axis {text!r}")
                axis = text
                self.next()
                self.next()
        test = self.parse_node_test(axis)
        predicates = []
        while self.at("["):
            self.next()
            predicates.append(self.parse_expr())
            self.expect("]")
        return _Step(axis, test, predicates)

    def parse_node_test(self, axis: str) -> tuple:
        tok = self.next()
        kind, text = tok
        if text == "*":
            return ("*",)
        if kind != "name":
            raise ValueError(f"node test expected, got {text!r}")
        if text in self._NODE_TESTS and self.at("("):
            self.next()
            if text == "processing-instruction":
                # optional literal target name; PIs never exist in the
                # converted data model so the test is constantly empty,
                # but the grammar (and arity: 0 or 1 LITERAL) must hold
                if not self.at(")"):
                    arg = self.next()
                    if arg[0] != "lit":
                        raise ValueError(
                            "processing-instruction() target must be a literal")
                self.expect(")")
                return ("pi",)
            self.expect(")")
            return (text,)
        if ":" in text:
            # prefixed name test (ns:tag / ns:*): jsoup never supplies a
            # NamespaceContext to Xalan, so the prefix is unresolvable and
            # the test silently matches NOTHING (harness-probed on both
            # the html and xml parse paths — no error)
            return ("never",)
        # unprefixed names match the LOCAL part of the preserved-case name
        # (the reference's conversion keeps prefixes in the node name but
        # Xalan's non-namespace match compares local names:
        # XpathTest.java:204-236; //like matches <fb:like>)
        return ("name", text)


# '.' needs to lex: add to the op class — the op charclass above includes '.'
# only via num; patch: treat a lone '.' as its own token kind.
_DOT_RE = re.compile(r"\s*\.(?!\.|\d)")


def _lex_full(query: str) -> list[tuple[str, str]]:
    # two-pass: find lone dots first (the main regex's num alternative
    # requires a digit after '.'), then the main lexer per segment
    tokens: list[tuple[str, str]] = []
    pos = 0
    n = len(query)
    while pos < n:
        m = _DOT_RE.match(query, pos)
        if m is not None:
            tokens.append(("dot", "."))
            pos = m.end()
            continue
        m = _TOKEN_RE.match(query, pos)
        if m is None or m.end() == pos:
            if query[pos:].strip() == "":
                break
            raise ValueError(f"unexpected token at offset {pos}: {query[pos:pos+10]!r}")
        pos = m.end()
        kind = m.lastgroup
        tokens.append((kind, m.group(kind)))
    return tokens


# ---------------------------------------------------------------------------
# Evaluation

def _doc_order(root: Node) -> dict[int, int]:
    order: dict[int, int] = {}
    stack = [root]
    i = 0
    while stack:
        node = stack.pop()
        order[id(node)] = i
        i += 1
        kids = getattr(node, "children", None)
        if kids:
            stack.extend(reversed(kids))
    return order


def _string_value(node: Node) -> str:
    if isinstance(node, Element):
        out: list[str] = []
        stack = list(reversed(node.children))
        while stack:
            cur = stack.pop()
            if isinstance(cur, _TEXTUAL):
                out.append(cur.value)
            elif isinstance(cur, Element):
                stack.extend(reversed(cur.children))
        return "".join(out)
    if isinstance(node, _TEXTUAL):
        # XPath data model: adjacent text siblings are ONE logical node
        # whose string-value is the concatenated run (the reference's
        # Xalan DTM does this; node identity maps to the run's first
        # member — see _is_run_start)
        parent = node.parent
        if parent is not None:
            sibs = _children_vis(parent)
            idx = next((i for i, s in enumerate(sibs) if s is node), None)
            if idx is not None:
                out = [node.value]
                j = idx + 1
                while j < len(sibs) and isinstance(sibs[j], _TEXTUAL):
                    out.append(sibs[j].value)
                    j += 1
                return "".join(out)
        return node.value
    return getattr(node, "value", "")


def _is_run_start(node: Node) -> bool:
    """True unless the node is a text node glued to a preceding text
    sibling — mid-run members are facets of the run's first node in the
    XPath data model and never match node tests themselves."""
    if not isinstance(node, _TEXTUAL):
        return True
    parent = node.parent
    if parent is None:
        return True
    sibs = _children_vis(parent)
    idx = next((i for i, s in enumerate(sibs) if s is node), None)
    return idx is None or idx == 0 or not isinstance(sibs[idx - 1], _TEXTUAL)


def _to_num(v) -> float:
    if isinstance(v, float):
        return v
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, str):
        try:
            return float(v.strip())
        except ValueError:
            return math.nan
    if isinstance(v, list):
        return _to_num(_to_str(v))
    return math.nan


def _to_str(v) -> str:
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        if v == int(v):
            return str(int(v))
        return repr(v)
    if isinstance(v, list):
        return _string_value(v[0]) if v else ""
    return str(v)


def _to_bool(v) -> bool:
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return v != 0 and not math.isnan(v)
    if isinstance(v, str):
        return len(v) > 0
    if isinstance(v, list):
        return len(v) > 0
    return bool(v)


class _AttrValue(Node):
    """Wrapper so attribute-axis results flow through nodeset machinery.

    ord_key places the attribute in DOCUMENT order for mixed
    element/attribute node-sets ((//@href | //b)[1]): XPath data-model
    order puts an element's attributes after the element and before its
    children, so the key is owner_order + a fraction by attribute
    position (r9 review fix — attrs used to sort after ALL elements)."""

    __slots__ = ("value", "attr_name", "ord_key")

    def __init__(self, value: str, attr_name: str = "",
                 ord_key: float = float(1 << 30)):
        self.parent = None
        self.value = value
        self.attr_name = attr_name
        self.ord_key = ord_key


def _doc_key(n: Node, order: dict):
    """Document-order sort key valid for elements, leaves AND attribute
    wrappers."""
    if n.__class__ is _AttrValue:
        return n.ord_key
    return order.get(id(n), 1 << 30)


def _compare(op: str, left, right) -> bool:
    lns = isinstance(left, list)
    rns = isinstance(right, list)
    if op in ("=", "!="):
        if lns and rns:
            lvals = [_string_value(n) for n in left]
            rvals = [_string_value(n) for n in right]
            if op == "=":
                rset = set(rvals)
                return any(v in rset for v in lvals)
            return any(a != b for a in lvals for b in rvals)
        if lns or rns:
            ns, other = (left, right) if lns else (right, left)
            if isinstance(other, bool):
                return (_to_bool(ns) == other) == (op == "=")
            if isinstance(other, float):
                return any(((_to_num(_string_value(n)) == other) == (op == "=")) for n in ns)
            return any(((_string_value(n) == other) == (op == "=")) for n in ns)
        if isinstance(left, bool) or isinstance(right, bool):
            return (_to_bool(left) == _to_bool(right)) == (op == "=")
        if isinstance(left, float) or isinstance(right, float):
            return (_to_num(left) == _to_num(right)) == (op == "=")
        return (left == right) == (op == "=")
    # relational: numeric comparison, nodesets existentially
    def nums(v):
        if isinstance(v, list):
            return [_to_num(_string_value(n)) for n in v]
        return [_to_num(v)]

    cmp = {
        "<": lambda a, b: a < b,
        "<=": lambda a, b: a <= b,
        ">": lambda a, b: a > b,
        ">=": lambda a, b: a >= b,
    }[op]
    return any(cmp(a, b) for a in nums(left) for b in nums(right))


class _Ctx:
    __slots__ = ("node", "position", "size", "doc", "order", "vars")

    def __init__(self, node, position, size, doc, order, vars=None):
        self.node = node
        self.position = position
        self.size = size
        self.doc = doc
        self.order = order
        self.vars = vars


def _children_vis(node: Node) -> list[Node]:
    """Children as the reference's XPath data model sees them: at the
    document level only the root element exists (doc-level comments and
    doctypes are not part of the converted W3C tree — probed against the
    harness: /node() returns only html), and xml declarations / PIs /
    doctypes are dropped at EVERY level (_INVISIBLE)."""
    kids = getattr(node, "children", ())
    if isinstance(node, Document):
        return [c for c in kids if isinstance(c, Element)]
    return [c for c in kids if not isinstance(c, _INVISIBLE)]


def _axis_nodes(node: Node, axis: str):
    if axis == "child":
        return _children_vis(node)
    if axis == "self":
        return [node]
    if axis == "parent":
        # the document node EXISTS in the data model (it occupies an
        # ancestor position — //ancestor::node()[position()*2<=last()]
        # counts it, harness-probed) but is never RETURNED: the
        # reference's source-map back-conversion has no jsoup node for
        # it, and select_xpath/_nodes filter Document from results.
        return [node.parent] if node.parent is not None else []
    if axis == "descendant" or axis == "descendant-or-self":
        out = [node] if axis == "descendant-or-self" else []
        stack = list(reversed(_children_vis(node)))
        while stack:
            cur = stack.pop()
            out.append(cur)
            if getattr(cur, "children", None):
                stack.extend(reversed(_children_vis(cur)))
        return out
    if axis == "ancestor" or axis == "ancestor-or-self":
        # the document node participates (position/size in predicates
        # see it); it is filtered from final results at the API boundary
        out = [node] if axis == "ancestor-or-self" else []
        cur = node.parent
        while cur is not None:
            out.append(cur)
            cur = cur.parent
        return out  # reverse axis order: nearest first
    if axis == "following-sibling" or axis == "preceding-sibling":
        parent = node.parent
        # the root element has no siblings in the converted data model
        # (doc-level comments/doctypes are invisible — harness-probed)
        if parent is None or isinstance(parent, Document):
            return []
        sibs = _children_vis(parent)
        idx = next((i for i, s in enumerate(sibs) if s is node), None)
        if idx is None:
            return []
        if axis == "following-sibling":
            return list(sibs[idx + 1 :])
        return list(reversed(sibs[:idx]))  # reverse axis order
    if axis == "following" or axis == "preceding":
        # following: everything after the node's subtree in document order
        # (no descendants, no ancestors); preceding: everything before the
        # node, minus ancestors — a reverse axis, emitted nearest-first
        out: list[Node] = []
        cur = node
        while cur.parent is not None and not isinstance(cur.parent, Document):
            sibs = _children_vis(cur.parent)
            idx = next((i for i, s in enumerate(sibs) if s is cur), None)
            if idx is None:
                break
            if axis == "following":
                for s in sibs[idx + 1 :]:
                    out.extend(_subtree(s))
            else:
                for s in reversed(sibs[:idx]):
                    out.extend(reversed(_subtree(s)))
            cur = cur.parent
        return out
    raise ValueError(f"unsupported axis {axis!r}")


def _subtree(node: Node) -> list[Node]:
    """Pre-order subtree including the node itself (visible nodes only)."""
    out = [node]
    stack = list(reversed(_children_vis(node)))
    while stack:
        cur = stack.pop()
        out.append(cur)
        if getattr(cur, "children", None):
            stack.extend(reversed(_children_vis(cur)))
    return out


def _node_test(node: Node, test: tuple, axis: str) -> bool:
    kind = test[0]
    if isinstance(node, _TEXTUAL) and not _is_run_start(node):
        return False
    if kind == "node":
        return True
    if kind == "text":
        return isinstance(node, _TEXTUAL)
    if kind == "comment":
        return isinstance(node, CommentNode)
    if kind in ("pi", "never"):
        # pi: PIs don't exist in the converted model; never: prefixed
        # name tests have no resolvable prefix (see parse_node_test)
        return False
    if kind == "*":
        return isinstance(node, Element) and not isinstance(node, Document)
    # name test: compare the LOCAL part of the PRESERVED-case name —
    # xmlParser keeps case ("//A" matches <A> only) and keeps prefixes
    # in the node name ("//like" matches <fb:like>); the html parser
    # normalizes at parse so nothing changes for html docs
    if not isinstance(node, Element) or isinstance(node, Document):
        return False
    local = (node.tag_name_case or node.name).rsplit(":", 1)[-1]
    return local == test[1]


def _eval_step(step: _Step, ctx: _Ctx) -> list[Node]:
    if step.axis == "attribute":
        el = ctx.node
        if not isinstance(el, Element):
            return []
        kind = step.test[0]
        base = ctx.order.get(id(el), 1 << 30)
        n_attrs = len(el.attrs) + 1
        if kind in ("*", "node"):
            # node() on the attribute axis selects every attribute, like *
            # (the principal node kind of the axis); valueless attributes
            # carry string-value '' in the reference's W3C conversion
            return [_AttrValue(v if v is not None else "", k,
                               base + (i + 1) / n_attrs)
                    for i, (k, v) in enumerate(el.attrs.items())]
        if kind in ("never", "pi", "text", "comment"):
            # never: unresolvable prefix (matches nothing, like the
            # reference); the other kind tests cannot match an attribute
            return []
        key = step.test[1]
        # EXACT match: Xalan compares the stored attribute QName
        # case-sensitively (//svg[@viewbox] does NOT find viewBox —
        # harness-probed on both parse paths; the html parser lowercases
        # keys at parse, which is why @id "feels" insensitive there)
        if key in el.attrs:
            v = el.attrs[key]
            idx = next(i for i, k in enumerate(el.attrs) if k == key)
            return [_AttrValue(v if v is not None else "", key,
                               base + (idx + 1) / n_attrs)]
        return []
    candidates = [
        n for n in _axis_nodes(ctx.node, step.axis) if _node_test(n, step.test, step.axis)
    ]
    for pred in step.predicates:
        size = len(candidates)
        kept = []
        for pos, node in enumerate(candidates, start=1):
            v = _eval_expr(pred, _Ctx(node, pos, size, ctx.doc, ctx.order, ctx.vars))
            if isinstance(v, float):
                if pos == v:
                    kept.append(node)
            elif _to_bool(v):
                kept.append(node)
        candidates = kept
    return candidates


def _eval_path(path: _Path, ctx: _Ctx) -> list[Node]:
    if path.absolute:
        start: list[Node] = [ctx.doc]
    else:
        start = [ctx.node]
    current = start
    for step in path.steps:
        seen: set[int] = set()
        nxt: list[Node] = []
        for node in current:
            for res in _eval_step(step, _Ctx(node, 1, 1, ctx.doc, ctx.order, ctx.vars)):
                if id(res) not in seen:
                    seen.add(id(res))
                    nxt.append(res)
        current = nxt
    # results in document order (attribute values carry fractional
    # owner-based keys, so mixed sets order correctly too)
    current.sort(key=lambda n: _doc_key(n, ctx.order))
    return current


def _eval_call(call: _Call, ctx: _Ctx):
    name = call.name
    args = [_eval_expr(a, ctx) for a in call.args]
    if name == "last":
        return float(ctx.size)
    if name == "position":
        return float(ctx.position)
    if name == "count":
        if not isinstance(args[0], list):
            # Xalan raises an evaluation error for count(1); sum() already
            # does, so keep error parity consistent across the two
            raise ValueError("count() requires a node-set")
        return float(len(args[0]))
    if name == "contains":
        return _to_str(args[0]).find(_to_str(args[1])) >= 0
    if name == "starts-with":
        return _to_str(args[0]).startswith(_to_str(args[1]))
    if name == "not":
        return not _to_bool(args[0])
    if name == "true":
        return True
    if name == "false":
        return False
    if name == "normalize-space":
        s = _to_str(args[0]) if args else _string_value(ctx.node)
        return " ".join(s.split())
    if name == "string":
        return _to_str(args[0]) if args else _string_value(ctx.node)
    if name == "concat":
        return "".join(_to_str(a) for a in args)
    if name == "string-length":
        s = _to_str(args[0]) if args else _string_value(ctx.node)
        return float(len(s))
    if name == "number":
        return _to_num(args[0]) if args else _to_num(_string_value(ctx.node))
    if name == "boolean":
        return _to_bool(args[0])
    if name in ("name", "local-name"):
        if args:
            ns = args[0]
            node = ns[0] if isinstance(ns, list) and ns else None
        else:
            node = ctx.node
        if isinstance(node, _AttrValue):
            return node.attr_name
        if not isinstance(node, Element) or isinstance(node, Document):
            return ""
        # preserved-case name with prefix (name() of <ns:t> is "ns:t",
        # of xml <A> is "A"); local-name() strips the prefix only
        full = node.tag_name_case or node.name
        if name == "local-name":
            return full.rsplit(":", 1)[-1]
        return full
    if name == "substring":
        # XPath 1.0: 1-based positions, round() per spec, NaN-safe
        s = _to_str(args[0])
        start = _xp_round(_to_num(args[1]))
        end = (start + _xp_round(_to_num(args[2]))
               if len(args) >= 3 else math.inf)
        return "".join(
            ch for i, ch in enumerate(s, 1) if i >= start and i < end)
    if name == "substring-before":
        s, sub = _to_str(args[0]), _to_str(args[1])
        i = s.find(sub)
        return s[:i] if i >= 0 else ""
    if name == "substring-after":
        s, sub = _to_str(args[0]), _to_str(args[1])
        i = s.find(sub)
        return s[i + len(sub):] if i >= 0 else ""
    if name == "translate":
        s, frm, to = _to_str(args[0]), _to_str(args[1]), _to_str(args[2])
        table: dict[str, str | None] = {}
        for i, ch in enumerate(frm):  # first occurrence wins
            if ch not in table:
                table[ch] = to[i] if i < len(to) else None
        return "".join(
            table.get(ch, ch) for ch in s if table.get(ch, ch) is not None)
    if name == "floor":
        v = _to_num(args[0])
        return v if math.isnan(v) or math.isinf(v) else float(math.floor(v))
    if name == "ceiling":
        v = _to_num(args[0])
        return v if math.isnan(v) or math.isinf(v) else float(math.ceil(v))
    if name == "round":
        return _xp_round(_to_num(args[0]))
    if name == "sum":
        if not isinstance(args[0], list):
            raise ValueError("sum() requires a node-set")
        return float(sum(_to_num(_string_value(n)) for n in args[0]))
    if name == "id":
        # no DTD: no attributes are typed as ID, so id() is always empty
        # (Xalan over the reference's W3C conversion behaves the same)
        return []
    if name == "lang":
        # always FALSE against the reference: W3CDom's non-namespace-aware
        # conversion leaves "xml:lang" as a plain attribute name, so
        # Xalan's FuncLang lookup in the XML namespace never finds a
        # language (harness-probed: <div xml:lang=en> + //p[lang('en')]
        # → empty, //p[not(lang('en'))] → the p). The argument is still
        # coerced for side-effect-free type parity.
        _to_str(args[0])
        return False
    raise ValueError(f"unsupported function {name}()")


#: name -> (min_args, max_args); validated at COMPILE time like Xalan
_ARITY = {
    "last": (0, 0), "position": (0, 0), "true": (0, 0), "false": (0, 0),
    "count": (1, 1), "not": (1, 1), "boolean": (1, 1), "floor": (1, 1),
    "ceiling": (1, 1), "round": (1, 1), "sum": (1, 1), "id": (1, 1),
    "lang": (1, 1),
    "normalize-space": (0, 1), "string": (0, 1), "string-length": (0, 1),
    "number": (0, 1), "name": (0, 1), "local-name": (0, 1),
    "contains": (2, 2), "starts-with": (2, 2),
    "substring-before": (2, 2), "substring-after": (2, 2),
    "substring": (2, 3), "translate": (3, 3),
    "concat": (2, 1 << 30),
}

_KNOWN_FUNCS = frozenset(_ARITY)


def _xp_round(x: float) -> float:
    """XPath round(): half toward +Infinity; NaN/Inf pass through."""
    if math.isnan(x) or math.isinf(x):
        return x
    return float(math.floor(x + 0.5))


def _arith(op: str, a: float, b: float) -> float:
    if math.isnan(a) or math.isnan(b):
        return math.nan
    if op == "+":
        return a + b
    if op == "-":
        return a - b
    if op == "*":
        return a * b
    if op == "div":
        if b == 0:
            return math.nan if a == 0 else math.copysign(math.inf, a) * math.copysign(1, b)
        return a / b
    # mod: IEEE remainder with the dividend's sign (Java %)
    if b == 0 or math.isinf(a):
        return math.nan
    if math.isinf(b):
        return a
    return math.fmod(a, b)


def _eval_expr(expr, ctx: _Ctx):
    if isinstance(expr, _Num):
        return expr.value
    if isinstance(expr, _Str):
        return expr.value
    if isinstance(expr, _Path):
        return _eval_path(expr, ctx)
    if isinstance(expr, _Union):
        seen: set[int] = set()
        out: list[Node] = []
        for p in expr.paths:
            v = _eval_expr(p, ctx)
            if not isinstance(v, list):
                raise ValueError("union operand is not a node-set")
            for n in v:
                if id(n) not in seen:
                    seen.add(id(n))
                    out.append(n)
        out.sort(key=lambda n: _doc_key(n, ctx.order))
        return out
    if isinstance(expr, _Call):
        return _eval_call(expr, ctx)
    if isinstance(expr, _Var):
        # beyond-reference extension: jsoup's selectXpath has no variable
        # resolver (Xalan NPEs at resolution), but ours accepts a bindings
        # dict through select_xpath(..., variables=...). Unbound variables
        # keep the reference's LAZY failure timing: the error fires only
        # when the reference actually resolves (round-8 error parity).
        if ctx.vars is not None and expr.name in ctx.vars:
            v = ctx.vars[expr.name]
            if isinstance(v, bool):
                return v
            if isinstance(v, (int, float)):
                return float(v)
            if isinstance(v, str):
                return v
            if isinstance(v, list):
                return list(v)  # node-set (caller-supplied nodes)
            raise ValueError(
                f"unsupported variable type for ${expr.name}: {type(v).__name__}")
        raise ValueError(f"cannot resolve variable ${expr.name}")
    if isinstance(expr, _Neg):
        return -_to_num(_eval_expr(expr.operand, ctx))
    if isinstance(expr, _Filter):
        return _eval_filter(expr, ctx)
    if isinstance(expr, _BinOp):
        if expr.op == "or":
            return _to_bool(_eval_expr(expr.left, ctx)) or _to_bool(_eval_expr(expr.right, ctx))
        if expr.op == "and":
            return _to_bool(_eval_expr(expr.left, ctx)) and _to_bool(_eval_expr(expr.right, ctx))
        if expr.op in ("+", "-", "*", "div", "mod"):
            return _arith(expr.op,
                          _to_num(_eval_expr(expr.left, ctx)),
                          _to_num(_eval_expr(expr.right, ctx)))
        return _compare(expr.op, _eval_expr(expr.left, ctx), _eval_expr(expr.right, ctx))
    raise ValueError(f"unsupported expression {expr!r}")


def _eval_filter(f: _Filter, ctx: _Ctx) -> list[Node]:
    v = _eval_expr(f.base, ctx)
    if not isinstance(v, list):
        raise ValueError("predicate/path applied to a non-node-set")
    # attribute nodes survive predicate filtering ((//@href)[1] is the
    # first href) and sort in true document order via their fractional
    # owner keys; the API boundary drops them as elsewhere
    nodes = list(v)
    nodes.sort(key=lambda n: _doc_key(n, ctx.order))
    for pred in f.predicates:
        size = len(nodes)
        kept = []
        for pos, node in enumerate(nodes, start=1):
            pv = _eval_expr(pred, _Ctx(node, pos, size, ctx.doc, ctx.order, ctx.vars))
            if isinstance(pv, float):
                if pos == pv:
                    kept.append(node)
            elif _to_bool(pv):
                kept.append(node)
        nodes = kept
    if f.tail is not None:
        seen: set[int] = set()
        out: list[Node] = []
        for node in nodes:
            for res in _eval_path(f.tail, _Ctx(node, 1, 1, ctx.doc, ctx.order, ctx.vars)):
                if id(res) not in seen:
                    seen.add(id(res))
                    out.append(res)
        out.sort(key=lambda n: _doc_key(n, ctx.order))
        return out
    return nodes


# ---------------------------------------------------------------------------
# Public API

class _Compiled:
    __slots__ = ("query", "expr")

    def __init__(self, query: str, expr):
        self.query = query
        self.expr = expr


def compile_xpath(query: str) -> _Compiled:
    try:
        parser = _Parser(_lex_full(query))
        # patch: treat 'dot' tokens like '.' ops for the parser
        parser.toks = [("op", ".") if k == "dot" else (k, t) for k, t in parser.toks]
        expr = parser.parse_expr()
        if parser.i != len(parser.toks):
            raise ValueError(f"trailing input: {parser.toks[parser.i:][:3]!r}")
        return _Compiled(query, expr)
    except ValueError as e:
        raise SelectorParseError(
            f"Could not evaluate XPath query [{query}]: {e}"
        ) from e


def _run(context: Node, query_or_compiled,
         variables: dict | None = None) -> list[Node]:
    compiled = (
        query_or_compiled
        if isinstance(query_or_compiled, _Compiled)
        else compile_xpath(query_or_compiled)
    )
    doc = context.owner_document() or context
    if isinstance(context, Document):
        # the reference's context node for a Document is its root element
        # (W3CDom.contextNode; harness-probed: '.' on a Document → html)
        root = next((c for c in context.children if isinstance(c, Element)),
                    None)
        if root is not None:
            context = root
    order = _doc_order(doc)
    ctx = _Ctx(context, 1, 1, doc, order, variables)
    try:
        result = _eval_expr(compiled.expr, ctx)
    except ValueError as e:
        raise SelectorParseError(
            f"Could not evaluate XPath query [{compiled.query}]: {e}"
        ) from e
    if not isinstance(result, list):
        raise SelectorParseError(
            f"Could not evaluate XPath query [{compiled.query}]: "
            f"result is not a node-set"
        )
    return result


def select_xpath(context: Node, query,
                 variables: dict | None = None) -> list[Element]:
    """Evaluate an XPath query, returning matched Elements in doc order.

    Mirrors Element.selectXpath(String) (Element.java:784-793): non-element
    results are dropped.

    ``variables`` (beyond the reference surface — jsoup's delegation has
    no resolver, Element.java:788): bindings for $name references, keyed
    by bare name; values may be str, bool, int/float (number), or a list
    of nodes (node-set). Unbound references keep the reference's lazy
    evaluation-time failure.
    """
    return [
        n
        for n in _run(context, query, variables)
        if isinstance(n, Element) and not isinstance(n, Document)
    ]


def select_xpath_nodes(context: Node, query,
                       variables: dict | None = None) -> list[Node]:
    """Evaluate an XPath query, returning all matched nodes (Element,
    TextNode, CommentNode, ...) in document order.

    Mirrors Element.selectXpath(String, Class<T>) (Element.java:795-801):
    the document node itself is never a result (the reference's source-map
    back-conversion yields no jsoup node for it).
    """
    return [
        n for n in _run(context, query, variables)
        if not isinstance(n, (_AttrValue, Document))
    ]
