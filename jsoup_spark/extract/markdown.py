"""HTML -> Markdown conversion — the training-corpus serialisation.

LLM data pipelines routinely serialise cleaned DOM to markdown
(structure survives, chrome doesn't). This walks the engine's own
DOM (parser/nodes.py) and emits CommonMark-shaped output with a
pinned, deterministic policy:

* h1-h6 -> ``#``-runs; p/div blocks -> paragraphs separated by one
  blank line; br -> hard break (two-space suffix); hr -> ``---``;
* strong/b -> ``**``, em/i -> ``*``, code -> backticks, s/del/strike
  -> ``~~``;
* a -> ``[text](absolute href)`` (``abs:href`` via base-URI
  resolution, the reference's absUrl contract), img ->
  ``![alt](abs src)``;
* ul/ol -> ``-`` / ``1.`` items (ordinals count), nesting indents by
  two spaces, tight lists;
* blockquote -> ``> `` prefix per line (nested quotes stack);
* pre -> fenced code block (whitespace preserved verbatim,
  ``language-*`` class surfaces as the info string);
* table -> pipe table with a ``---`` delimiter row after the first
  row (header row = the table's first tr, th or td);
* inline text is whitespace-normalised exactly like the reference's
  Element.text(); script/style/template subtrees are dropped;
* markdown metacharacters in source text are backslash-escaped
  (``\\ ` * _ [ ]`` always; ``#``, ``-``, ``>``, ``1.`` only where
  they would start a block) so conversion round-trips visually.

`markdown_stage` lifts the walk to Spark on the shared per-document
Arrow kernel (operators/pipeline.py doc_stage), map-only.
"""

from __future__ import annotations

import re

from ..parser.nodes import Document, Element, TextNode

__all__ = ["to_markdown", "markdown_stage"]

_SKIP = frozenset(("script", "style", "template", "noscript", "head"))
_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_INLINE_WRAP = {"strong": "**", "b": "**", "em": "*", "i": "*",
                "s": "~~", "del": "~~", "strike": "~~"}

_ESC_RE = re.compile(r"([\\`*_\[\]])")
_BR = "\x00BR\x00"                 # survives whitespace normalisation


def _norm_inline(s: str) -> str:
    s = re.sub(r"\s+", " ", s).strip()
    return s.replace(" " + _BR + " ", "  \n").replace(
        _BR + " ", "  \n").replace(" " + _BR, "  \n").replace(
        _BR, "  \n")
_BLOCK_START_RE = re.compile(r"^(\s*)([#>+-]|\d+\.)(\s)")


def _esc(text: str) -> str:
    return _ESC_RE.sub(r"\\\1", text)


def _esc_block_start(line: str) -> str:
    # "3. x" escapes the period (CommonMark), "# x"/"- x" the marker
    def sub(m):
        tok = m.group(2)
        esc = tok[:-1] + "\\." if tok.endswith(".") else "\\" + tok
        return m.group(1) + esc + m.group(3)
    return _BLOCK_START_RE.sub(sub, line)


class _Walker:
    def __init__(self):
        self.blocks: list[str] = []

    # ---- inline assembly (whitespace-normalised, like text())

    def inline(self, el: Element) -> str:
        parts: list[str] = []
        self._inline_into(el, parts)
        return _norm_inline("".join(parts))

    def _inline_into(self, node, parts: list[str]) -> None:
        for c in node.children:
            if isinstance(c, TextNode):
                parts.append(_esc(c.value))
            elif isinstance(c, Element):
                name = c.name
                if name in _SKIP:
                    continue
                if name == "br":
                    parts.append(_BR)
                elif name == "a":
                    inner = self.inline(c)
                    href = c.abs_url("href") or c.attr("href")
                    parts.append(f"[{inner}]({href})" if href else inner)
                elif name == "img":
                    src = c.abs_url("src") or c.attr("src")
                    parts.append(f"![{_esc(c.attr('alt'))}]({src})")
                elif name == "code":
                    # literal content, no markdown escaping inside
                    parts.append("`" + c.text() + "`")
                elif name in _INLINE_WRAP:
                    inner = self.inline(c)
                    w = _INLINE_WRAP[name]
                    parts.append(f"{w}{inner}{w}" if inner else "")
                else:
                    self._inline_into(c, parts)

    # ---- block walk

    def walk(self, el: Element) -> None:
        pending: list = []          # consecutive inline nodes -> one par

        def flush():
            if pending:
                text = _norm_inline("".join(pending))
                if text:
                    self.blocks.append(_esc_block_start(text))
                pending.clear()

        for c in el.children:
            if isinstance(c, TextNode):
                pending.append(_esc(c.value))
                continue
            if not isinstance(c, Element):
                continue
            name = c.name
            if name in _SKIP:
                continue
            if name in _HEADINGS:
                flush()
                self.blocks.append("#" * _HEADINGS[name] + " "
                                   + self.inline(c))
            elif name == "p":
                flush()
                text = self.inline(c)
                if text:
                    self.blocks.append(_esc_block_start(text))
            elif name == "hr":
                flush()
                self.blocks.append("---")
            elif name in ("ul", "ol"):
                flush()
                lines: list[str] = []
                self._list(c, 0, lines)
                if lines:
                    self.blocks.append("\n".join(lines))
            elif name == "blockquote":
                flush()
                sub = _Walker()
                sub.walk(c)
                body = "\n\n".join(sub.blocks)
                if body:
                    self.blocks.append("\n".join(
                        ("> " + ln).rstrip()
                        for ln in body.split("\n")))
            elif name == "pre":
                flush()
                lang = next((cl[9:] for cl in
                             (c.class_names()
                              + (c.child_elements()[0].class_names()
                                 if c.child_elements() else []))
                             if cl.startswith("language-")), "")
                self.blocks.append(
                    f"```{lang}\n{c.whole_text().strip(chr(10))}\n```")
            elif name == "table":
                flush()
                self._table(c)
            elif name in ("div", "section", "article", "main", "body",
                          "html", "header", "footer", "aside", "nav",
                          "figure", "figcaption", "form", "center",
                          "details", "summary", "address", "fieldset"):
                flush()
                self.walk(c)
            elif name in ("br",):
                pending.append(_BR)
            else:
                # inline element between blocks: fold into paragraph
                sub: list[str] = []
                self._inline_into_one(c, sub)
                pending.append("".join(sub))
        flush()

    def _inline_into_one(self, c: Element, parts: list[str]) -> None:
        saved = [c]
        holder_parts: list[str] = []
        self._inline_into(_FakeParent(saved), holder_parts)
        parts.extend(holder_parts)

    def _list(self, el: Element, depth: int, lines: list[str]) -> None:
        ordered = el.name == "ol"
        n = 0
        for li in el.child_elements():
            if li.name != "li":
                continue
            n += 1
            marker = f"{n}." if ordered else "-"
            # item text excluding nested lists
            sub_lists = [c for c in li.child_elements()
                         if c.name in ("ul", "ol")]
            parts: list[str] = []
            for c in li.children:
                if isinstance(c, Element) and c.name in ("ul", "ol"):
                    continue
                if isinstance(c, TextNode):
                    parts.append(_esc(c.value))
                elif isinstance(c, Element):
                    sub: list[str] = []
                    self._inline_into_one(c, sub)
                    parts.append("".join(sub))
            text = _norm_inline("".join(parts))
            lines.append("  " * depth + f"{marker} {text}".rstrip())
            for sl in sub_lists:
                self._list(sl, depth + 1, lines)

    def _table(self, el: Element) -> None:
        rows: list[list[str]] = []
        for tr in (t for t in el.elements() if t.name == "tr"):
            cells = [self.inline(c) for c in tr.child_elements()
                     if c.name in ("td", "th")]
            if cells:
                rows.append(cells)
        if not rows:
            return
        width = max(len(r) for r in rows)
        out = []
        for i, r in enumerate(rows):
            r = r + [""] * (width - len(r))
            out.append("| " + " | ".join(r) + " |")
            if i == 0:
                out.append("|" + "|".join(" --- " for _ in range(width))
                           + "|")
        self.blocks.append("\n".join(out))


class _FakeParent:
    __slots__ = ("children",)

    def __init__(self, children):
        self.children = children


def to_markdown(doc: Document) -> str:
    """Document -> markdown string (body subtree; pinned policy in
    the module docstring)."""
    body = doc.body if isinstance(doc, Document) else doc
    if body is None:
        body = doc
    w = _Walker()
    w.walk(body)
    return "\n\n".join(b for b in w.blocks if b)


def markdown_stage(docs: "DataFrame") -> "DataFrame":
    """(doc_id, html[, base_uri]) -> (doc_id, markdown). Map-only stage
    (operators.pipeline.page_stage)."""
    from .. import schemas
    from ..operators.pipeline import page_stage
    return page_stage(docs, lambda doc: [(to_markdown(doc),)],
                      schemas.MARKDOWN_OUT)
