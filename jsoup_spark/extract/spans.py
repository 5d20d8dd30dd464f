"""Span emitter — the engine's flagship extraction output.

Walks a parsed document and emits an ordered span sequence
(kind, text, media_ref, order):

* ``title``  — document title (first <title>, normalized), if non-empty
* ``text``   — normalized text runs (Element.text() semantics,
               nodes/Element.java:1551-1705), flushed at media/data barriers
* ``media``  — one per media element (img/video/audio/source/embed/iframe/
               track) in document order; media_ref = absUrl(src) (raw src
               if unresolvable), text = trimmed alt
* ``data``   — one per script/style element (raw data contents)

The identical algorithm runs over the reference DOM in
tools/golden/Harness.java `spans()`, giving golden fixtures for
span-sequence equality — the per-row invariant from BASELINE.json.
"""

from __future__ import annotations

from ..parser.tags import NS_HTML as _NS_HTML
from ..parser.nodes import (
    Document, Element, TextNode, _append_normalised_text,
    _last_char_is_ws, _needs_leading_sep, _tail, java_trim,
)

MEDIA_TAGS = frozenset(("img", "video", "audio", "source", "embed",
                        "iframe", "track"))
DATA_SPAN_TAGS = frozenset(("script", "style"))

# optional C walker (same strict-subset/bail design as the parser
# accelerators; _walk below remains the source of truth and fallback)
try:
    from .._native import jsoup_fasttree as _CW
except ImportError:  # pragma: no cover - extension not built
    _CW = None
else:
    from ..parser.nodes import (
        CommentNode as _CM, DataNode as _DN, resolve_url as _resolve)
    _CW.configure_walk(MEDIA_TAGS, DATA_SPAN_TAGS, _resolve, _DN, _CM)


def extract_spans(doc: Document) -> list[tuple[str, str, str, int]]:
    """Emit (kind, text, media_ref, order) tuples for a document."""
    out: list[list] = []
    # C fast path for the common title shape (leaf text children only);
    # NotImplemented -> the Python Document.title() source of truth
    title = NotImplemented
    if _CW is not None:
        title = _CW.title_text(doc)
    if title is NotImplemented:
        title = doc.title()
    if title:
        out.append(["title", title, ""])
    body = doc.body
    if body is not None:
        res = None
        if _CW is not None:
            res = _CW.walk_spans(body, doc.base or "")
        if res is not None:
            out.extend(res)
        else:
            accum: list[str] = []
            _walk(body, out, accum)
            _flush(out, accum)
    return [(k, t, r, i) for i, (k, t, r) in enumerate(out)]


def _flush(out: list, accum: list[str]) -> None:
    text = java_trim("".join(accum))
    accum.clear()
    if text:
        out.append(["text", text, ""])


def _emit_barrier(el: Element, out: list, accum: list[str]) -> None:
    name = el.name
    if name in MEDIA_TAGS:
        _flush(out, accum)
        if el.has_attr("src"):
            ref = el.abs_url("src") or el.attr("src")
        else:
            ref = ""
        alt = java_trim(el.attr("alt")) if el.has_attr("alt") else ""
        out.append(["media", alt, ref])
    else:  # data element
        _flush(out, accum)
        out.append(["data", el.data(), ""])


def _walk(root: Element, out: list, accum: list[str]) -> None:
    # Element.text()'s head/tail traversal (nodes._text_accumulate) with
    # barrier emission for media/data elements; _native/fasttree.c
    # walk_spans is its C twin
    stack: list[list] = [[root, 0, None]]
    _TN, _EL = TextNode, Element
    while stack:
        top = stack[-1]
        node, idx = top[0], top[1]
        children = node.children
        if idx < len(children):
            top[1] = idx + 1
            child = children[idx]
            nxt = children[idx + 1] if idx + 1 < len(children) else None
            if isinstance(child, _TN):
                _append_normalised_text(accum, child)
                continue
            if not isinstance(child, _EL):
                continue
            if child.ns == _NS_HTML and (
                    child.name in MEDIA_TAGS or child.name in DATA_SPAN_TAGS):
                _emit_barrier(child, out, accum)
                # media may nest source; data children are DataNodes
                # (ignored) — matches the golden traversal
            elif accum and _needs_leading_sep(child) \
                    and not _last_char_is_ws(accum):
                accum.append(" ")
            if child.children:
                stack.append([child, 0, nxt])
            else:
                _tail(child, accum, nxt)
        else:
            stack.pop()
            if node is not root:
                _tail(node, accum, top[2])


# ------------------------------------------------------------ streaming

def stream_spans(html: str, base_uri: str = "",
                 _prune: bool = True,
                 errors_out: list | None = None
                 ) -> list[tuple[str, str, str, int]]:
    """Memory-bounded span extraction for giant documents.

    Drives StreamParser (reference parser/StreamParser.java:58-233): as
    each direct child of <body> completes, its spans are emitted through
    the same walk/accumulator as extract_spans and the child is pruned
    from the DOM (Node.remove() strategy, StreamParser.java:33-36), so
    peak memory is one top-level chunk — not the whole tree. The output
    is identical to extract_spans(parse(html)): text accumulation and
    separator decisions carry across chunk boundaries (the trailing-
    separator of a chunk needs its next sibling, so it is deferred until
    that sibling exists).
    """
    from ..parser.streamparser import StreamParser

    sp = StreamParser().parse(html, base_uri)
    doc = sp.document()
    body_out: list[list] = []
    accum: list[str] = []
    pending_tail: Element | None = None
    body = None

    def process_node(child, nxt):
        nonlocal pending_tail
        if isinstance(child, TextNode):
            _append_normalised_text(accum, child)
            return
        if not isinstance(child, Element):
            return
        if child.ns == _NS_HTML and (
                child.name in MEDIA_TAGS or child.name in DATA_SPAN_TAGS):
            _emit_barrier(child, body_out, accum)
        elif accum and _needs_leading_sep(child) \
                and not _last_char_is_ws(accum):
            accum.append(" ")
        if child.children:
            _walk(child, body_out, accum)
        if nxt is _DEFER:
            pending_tail = child
        else:
            _tail(child, accum, nxt)

    def drain(upto_el, at_eof):
        nonlocal pending_tail
        kids = body.children
        if at_eof:
            batch = list(kids)
        else:
            batch = list(kids[:kids.index(upto_el) + 1])
            # a completed element (e.g. a misplaced-</br> insert) can sit
            # AFTER a still-open sibling in body.children; defer until the
            # open one closes so the prefix is processed in document order
            open_ids = {id(x) for x in sp._tb.stack}
            if any(id(n) in open_ids for n in batch):
                return
        if pending_tail is not None:
            _tail(pending_tail, accum, batch[0] if batch else None)
            pending_tail = None
        for i, node in enumerate(batch):
            nxt = batch[i + 1] if i + 1 < len(batch) else (
                None if at_eof else _DEFER)
            process_node(node, nxt)
        if _prune:
            del kids[:len(batch)]
            for node in batch:
                node.parent = None

    def sync_body():
        # <frameset> in a frameset-ok body REPLACES the body element;
        # spans must then come from the new body, discarding stale output
        nonlocal body, pending_tail
        cur = doc.body
        if cur is not body:
            body = cur
            body_out.clear()
            accum.clear()
            pending_tail = None

    for el in sp:
        sync_body()
        if body is not None and el.parent is body:
            drain(el, at_eof=False)
    sync_body()
    if body is not None:
        drain(None, at_eof=True)
        _flush(body_out, accum)

    out: list[list] = []
    title = doc.title()
    if title:
        out.append(["title", title, ""])
    out.extend(body_out)
    if errors_out is not None:
        errors_out.extend(doc.errors)
    return [(k, t, r, i) for i, (k, t, r) in enumerate(out)]


class _Defer:
    __slots__ = ()


_DEFER = _Defer()
