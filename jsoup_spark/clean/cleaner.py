"""Safelist-based document cleaner.

Pure tree-to-tree projection with the reference's semantics
(safety/Cleaner.java:56-235): copy-only-safe-nodes into a fresh shell with a
destination cursor; unsafe elements are unwrapped (children still visited);
text copied verbatim; comments/doctypes dropped; per-attr safelist filter
with abs-URL enforcement; enforced attributes; rel=nofollow same-host
exemption for <a>.
"""

from __future__ import annotations

from urllib.parse import urlparse

from ..parser.nodes import (
    DataNode, Document, Element, TextNode, make_ci_attrs, resolve_url,
)
from ..parser.treebuilder import parse_body_fragment
from .safelist import Safelist


class CleanResult:
    __slots__ = ("doc", "num_discarded")

    def __init__(self, doc: Document, num_discarded: int):
        self.doc = doc
        self.num_discarded = num_discarded


def clean_document(dirty: Document, safelist: Safelist) -> CleanResult:
    """Cleaner.clean: copy safe nodes of dirty.body into a fresh shell."""
    clean = Document(dirty.base)
    html_el = Element("html")
    head_el = Element("head")
    body_el = Element("body")
    clean.append(html_el)
    html_el.append(head_el)
    html_el.append(body_el)
    num = 0
    body = dirty.body
    if body is not None:
        num = _copy_safe_nodes(body, body_el, safelist, _AbsUrls(dirty.base))
    return CleanResult(clean, num)


def clean_html(body_html: str, base_uri: str, safelist: Safelist) -> Document:
    """Jsoup.clean pipeline minus serialization: parse dirty input as body
    fragment, clean, return the clean Document (serialize via
    clean.serializer or compare tree/text)."""
    dirty = parse_body_fragment(body_html, base_uri)
    return clean_document(dirty, safelist).doc


def is_valid_body_html(body_html: str, safelist: Safelist) -> bool:
    dirty = parse_body_fragment(body_html, "")
    return clean_document(dirty, safelist).num_discarded == 0


class _AbsUrls(dict):
    """One document's Node.absUrl results, keyed by the attribute value:
    each distinct URL is resolved against the document base once, and
    the base host is parsed once. Lives for one clean_document call."""

    def __init__(self, base: str):
        super().__init__()
        self.base = base
        self.base_host = _host(base)

    def __missing__(self, rel: str) -> str:
        out = self[rel] = resolve_url(self.base, rel)
        return out

    def abs_url(self, el: Element, key: str) -> str:
        """el.abs_url(key) for an element of this document."""
        return self[el.attr(key)] if el.has_attr(key) else ""


def _copy_safe_nodes(source_root: Element, dest_root: Element,
                     safelist: Safelist, urls: _AbsUrls) -> int:
    num_discarded = 0
    # iterative head/tail walk with destination cursor
    dest = dest_root
    stack: list[list] = [[source_root, 0]]
    while stack:
        top = stack[-1]
        node, idx = top[0], top[1]
        if isinstance(node, Element) and idx < len(node.children):
            top[1] = idx + 1
            child = node.children[idx]
            if isinstance(child, Element):
                if safelist.is_safe_tag(child.name):
                    new_el, discarded = _create_safe_element(
                        child, safelist, urls)
                    dest.append(new_el)
                    num_discarded += discarded
                    dest = new_el
                    stack.append([child, 0, True])
                else:
                    num_discarded += 1
                    stack.append([child, 0, False])
            elif isinstance(child, TextNode):
                dest.append(TextNode(child.value))
            elif isinstance(child, DataNode) and isinstance(child.parent, Element) \
                    and safelist.is_safe_tag(child.parent.name):
                dest.append(DataNode(child.value))
            else:
                num_discarded += 1
        else:
            frame = stack.pop()
            if len(frame) == 3 and frame[2]:
                dest = dest.parent
    return num_discarded


def _create_safe_element(source: Element, safelist: Safelist,
                         urls: _AbsUrls):
    tag = source.name
    dest = Element(source.name, source.ns)
    dest.tag_name_case = source.tag_name_case
    num_discarded = 0
    for key, value in source.attrs.items():
        sval = value if value is not None else ""
        if safelist.is_safe_attribute(tag, source, key, sval, urls.abs_url):
            out_val = sval
            if value is not None and safelist.should_abs_url(tag, key):
                out_val = urls.abs_url(source, key) or sval
            dest.attrs[key] = out_val if value is not None else value
        else:
            num_discarded += 1

    enforced = safelist.enforced_for(tag)
    # rel=nofollow same-host exemption (Cleaner.java:213-226)
    if tag == "a" and enforced.get("rel") == "nofollow":
        base_host = urls.base_host
        href = urls.abs_url(source, "href") if base_host else ""
        if href and base_host.lower() == (_host(href) or "").lower():
            enforced.pop("rel", None)
    for k, v in enforced.items():
        # case-insensitive removal of any preserved-case duplicate
        for existing in [e for e in dest.attrs if e.lower() == k]:
            del dest.attrs[existing]
        dest.attrs[k] = v
    if any(k != k.lower() for k in dest.attrs):
        # copied keys keep source case: restore the plain-dict
        # all-lowercase invariant (Element.attr fast path, r9)
        dest.attrs = make_ci_attrs(dest.attrs)
    return dest, num_discarded


def _host(url: str) -> str | None:
    try:
        return urlparse(url).hostname
    except ValueError:
        return None
