"""Collection / accessor functions over selected elements.

The Elements-level surface from the reference (select/Elements.java:85-271,
nodes/Element.java:1113 cssSelector, nodes/FormElement.java formData),
re-expressed over the Python DOM for use inside batch UDFs and exposed
through pipeline select columns.
"""

from __future__ import annotations

from ..parser.nodes import Element
from ..select.selector import select

_CSS_ESCAPE_NEEDED = set(" !\"#$%&'()*+,./:;<=>?@[\\]^`{|}~")


def escape_css_identifier(ident: str) -> str:
    """TokenQueue.escapeCssIdentifier subset: escape chars that would not
    round-trip through the query parser."""
    out = []
    for i, c in enumerate(ident):
        if c in _CSS_ESCAPE_NEEDED:
            out.append("\\" + c)
        elif i == 0 and c.isdigit():
            out.append(f"\\3{c} ")
        else:
            out.append(c)
    return "".join(out)


def each_text(els: list[Element]) -> list[str]:
    """Elements.eachText: normalized text per element, non-empty only."""
    return [t for t in (el.text() for el in els) if t]


def each_attr(els: list[Element], key: str) -> list[str]:
    """Elements.eachAttr: attr values for elements carrying the attr."""
    out = []
    for el in els:
        if key.startswith("abs:"):
            v = el.abs_url(key[4:])
            if v:
                out.append(v)
        elif el.has_attr(key):
            out.append(el.attr(key))
    return out


def first_attr(els: list[Element], key: str) -> str:
    """Elements.attr: first non-empty attribute value (Elements.java:85)."""
    for el in els:
        if el.has_attr(key):
            v = el.attr(key)
            if v:
                return v
    return ""


def elements_text(els: list[Element]) -> str:
    """Elements.text(): space-joined element texts."""
    return " ".join(t for t in (el.text() for el in els) if t)


def _unique_id_selector(el: Element, doc) -> str:
    """Element.uniqueIdSelector (Element.java:1090-1102): '#id' iff the id
    resolves to exactly this element document-wide ('' otherwise; an
    ownerless element returns the selector unchecked)."""
    idv = el.attr("id")
    if idv:
        id_sel = "#" + escape_css_identifier(idv)
        if doc is None:
            return id_sel
        hits = select(doc, id_sel)
        if len(hits) == 1 and hits[0] is el:
            return id_sel
    return ""


def _css_selector_component(el: Element) -> str:
    """Element.cssSelectorComponent (Element.java:1133-1151): escaped tag
    (escaped ':' becomes the CSS namespace '|'), '.'-joined escaped
    classes, and :nth-child(i) iff the parent-context child select
    ('> tag.classes') is ambiguous."""
    from ..parser.nodes import Document
    tag = escape_css_identifier(el.tag_name_case or el.name).replace("\\:", "|")
    classes = ".".join(escape_css_identifier(c) for c in el.class_names())
    sel = tag + ("." + classes if classes else "")
    parent = el.parent
    if parent is None or isinstance(parent, Document):
        return sel
    sel = " > " + sel
    if len(select(parent, sel)) > 1:
        sibs = [c for c in parent.children if isinstance(c, Element)]
        idx = next(i for i, c in enumerate(sibs) if c is el)
        sel += f":nth-child({idx + 1})"
    return sel


def css_selector(el: Element) -> str:
    """Element.cssSelector (Element.java:1113-1131): '#id' when unique,
    else components up the parent chain — STOPPING at the first ancestor
    with a unique id ('#a > p:nth-child(1)'), never including the
    Document."""
    from ..parser.nodes import Document
    doc = el.owner_document()
    id_sel = _unique_id_selector(el, doc)
    if id_sel:
        return id_sel
    parts: list[str] = []
    node = el
    while isinstance(node, Element) and not isinstance(node, Document):
        id_sel = _unique_id_selector(node, doc)
        if id_sel:
            parts.insert(0, id_sel)
            break
        parts.insert(0, _css_selector_component(node))
        node = node.parent
    return "".join(parts)


_SUBMITTABLE = frozenset(("input", "select", "textarea", "button", "keygen"))


def form_data(form: Element) -> list[tuple[str, str]]:
    """FormElement.formData semantics: key/value pairs for submittable,
    named, enabled controls; checkbox/radio only when checked; selects use
    selected options (or the first option as fallback)."""
    out: list[tuple[str, str]] = []
    for el in form.elements():
        if el.name not in _SUBMITTABLE:
            continue
        if el.has_attr("disabled"):
            continue
        name = el.attr("name")
        if not name:
            continue
        typ = el.attr("type").lower()
        if el.name == "select":
            options = [o for o in el.elements() if o.name == "option"]
            picked = [o for o in options if o.has_attr("selected")]
            if not picked and options:
                picked = options[:1]
            for o in picked:
                val = o.attr("value") if o.has_attr("value") else o.text()
                out.append((name, val))
        elif el.name == "textarea":
            out.append((name, el.whole_text()))
        elif typ in ("checkbox", "radio"):
            if el.has_attr("checked"):
                val = el.attr("value") if el.has_attr("value") else "on"
                out.append((name, val))
        elif typ not in ("submit", "image", "button"):
            out.append((name, el.attr("value")))
    return out


def forms(doc) -> list[Element]:
    """Document.forms(): all <form> elements."""
    return [el for el in doc.elements() if el.name == "form"]
