"""Main-content extraction by DOM heuristics (readability scoring).

The north rule names "DOM heuristics" as a pillar of the extraction
pipeline: given a full page (nav, sidebars, ads, comments, footer
chrome AROUND the article), find the content block. This is the
published Arc90/Mozilla-Readability + boilerpipe family of
heuristics, re-implemented from the public algorithm descriptions
over this engine's own DOM (parser/nodes.py):

* paragraph-mass scoring: every text-bearing `p/pre/td/blockquote/li`
  contributes `1 + commas + min(len/100, 3)` to its parent (full) and
  grandparent (half);
* ancestor priors: container tags get a bias (+8 article/main,
  +5 div, +3 pre/td/blockquote, -3 list/form containers, -5
  headings) plus a ±25 class/id regex weight (the published positive
  and negative hint lists);
* link-density scaling: a candidate's score is multiplied by
  `(1 - linked_chars/total_chars)` — link farms with big text mass
  die here;
* deterministic election: highest score wins, document order breaks
  ties; with no candidate at all (tiny/empty pages) the body is the
  answer.

All integer/string outputs (scores are scaled to integer e3 units)
so driver hashing never sees a float.

`main_content_stage` lifts the per-doc election to Spark on the shared
per-document Arrow kernel (operators/pipeline.py doc_stage) over
(doc_id, html[, base_uri]) — one map-only stage, no shuffle.

Reference parity anchor: text assembly semantics are the reference's
Element.text() whitespace normalisation (org/jsoup/nodes/
Element.java); the scoring layer is public readability knowledge.
"""

from __future__ import annotations

import re
from operator import itemgetter

from ..parser.nodes import Document, Element

__all__ = ["score_document", "extract_main", "main_content_stage"]

POSITIVE_RE = re.compile(
    r"article|body|content|entry|hentry|h-entry|main|page|pagination"
    r"|post|text|blog|story", re.I)
NEGATIVE_RE = re.compile(
    r"-ad-|ad-|hidden|banner|combx|comment|com-|contact|foot|footer"
    r"|footnote|gdpr|masthead|media|meta|outbrain|promo|related"
    r"|scroll|share|shoutbox|sidebar|skyscraper|sponsor|shopping"
    r"|tags|tool|widget|nav|menu", re.I)

# paragraph-like elements whose text mass feeds ancestor scores
_PARA_TAGS = frozenset(("p", "pre", "td", "blockquote", "li"))
# ancestors eligible to be elected as the content container
_CANDIDATE_TAGS = frozenset(
    ("div", "article", "section", "main", "td", "pre", "blockquote",
     "body", "ul", "ol", "figure", "aside"))
_TAG_PRIOR = {
    "article": 8.0, "main": 8.0, "section": 5.0, "div": 5.0,
    "pre": 3.0, "td": 3.0, "blockquote": 3.0,
    "address": -3.0, "ol": -3.0, "ul": -3.0, "dl": -3.0,
    "dd": -3.0, "dt": -3.0, "li": -3.0, "form": -3.0,
    "h1": -5.0, "h2": -5.0, "h3": -5.0, "h4": -5.0,
    "h5": -5.0, "h6": -5.0, "th": -5.0,
}
MIN_PARA_CHARS = 25


def _class_weight(el: Element) -> float:
    w = 0.0
    hint = el.attr("class") + " " + el.attr("id")
    if NEGATIVE_RE.search(hint):
        w -= 25.0
    if POSITIVE_RE.search(hint):
        w += 25.0
    return w


def _memo_text(el: Element, memo: dict[int, str]) -> str:
    t = memo.get(id(el))
    if t is None:
        t = el.text()
        memo[id(el)] = t
    return t


def score_document(doc: Document) -> list[tuple[Element, float]]:
    """-> [(candidate element, link-density-scaled score)], doc order."""
    return _score_document(doc, {})


def _score_document(doc: Document,
                    memo: dict[int, str]) -> list[tuple[Element, float]]:
    """score_document with a shared per-doc text memo: every text a
    candidate walk produces is cached by element identity, so the
    election (candidate text + per-anchor texts + the winner's output
    text) never normalizes the same subtree twice."""
    body = doc.body
    if body is None:
        return []
    scores: dict[int, float] = {}
    order: dict[int, int] = {}
    cands: dict[int, Element] = {}

    def init(el: Element, pos: int) -> None:
        key = id(el)
        if key not in scores:
            scores[key] = _TAG_PRIOR.get(el.name, 0.0) + _class_weight(el)
            order[key] = pos
            cands[key] = el

    anchors = []
    for pos, el in enumerate(body.elements()):
        if el.name == "a":
            anchors.append(el)
        if el.name not in _PARA_TAGS:
            continue
        text = _memo_text(el, memo)
        if len(text) < MIN_PARA_CHARS:
            continue
        delta = 1.0 + text.count(",") + min(len(text) // 100, 3)
        parent = el.parent
        if isinstance(parent, Element):
            init(parent, pos)
            scores[id(parent)] += delta
            grand = parent.parent
            if isinstance(grand, Element):
                init(grand, pos)
                scores[id(grand)] += delta / 2.0
    # linked chars per candidate: each anchor's text length, added to
    # every candidate among its ancestors
    linked = {key: 0 for key, el in cands.items()
              if el.name in _CANDIDATE_TAGS}
    for a in anchors:
        n = None
        up = a.parent
        while isinstance(up, Element):
            if id(up) in linked:
                if n is None:
                    n = len(_memo_text(a, memo))
                linked[id(up)] += n
            up = up.parent
    out = []
    for key in linked:
        el = cands[key]
        total = len(_memo_text(el, memo))
        density = min(1.0, linked[key] / total) if total else 0.0
        out.append((el, scores[key] * (1.0 - density), order[key]))
    out.sort(key=lambda t: t[2])
    return [(el, s) for el, s, _ in out]


def extract_main(doc: Document) -> dict:
    """-> {tag, el_id, el_class, score_e3, text}. Highest-scoring
    candidate wins; ties break to document order; no candidate falls
    back to the body."""
    memo: dict[int, str] = {}
    ranked = _score_document(doc, memo)
    best, best_score = None, float("-inf")
    for el, s in ranked:
        if s > best_score:
            best, best_score = el, s
    if best is None:
        body = doc.body
        return {
            "tag": "body" if body is not None else "",
            "el_id": body.attr("id") if body is not None else "",
            "el_class": body.attr("class") if body is not None else "",
            "score_e3": 0,
            "text": _memo_text(body, memo) if body is not None else "",
        }
    return {
        "tag": best.name,
        "el_id": best.attr("id"),
        "el_class": best.attr("class"),
        "score_e3": int(round(best_score * 1000)),
        "text": _memo_text(best, memo),
    }


def main_content_stage(docs: "DataFrame") -> "DataFrame":
    """(doc_id, html[, base_uri]) -> (doc_id, tag, el_id, el_class,
    score_e3, text). Map-only stage (operators.pipeline.page_stage)."""
    from .. import schemas
    from ..operators.pipeline import page_stage
    row = itemgetter(*schemas.MAIN_CONTENT_OUT.names[1:])
    return page_stage(docs, lambda doc: [row(extract_main(doc))],
                      schemas.MAIN_CONTENT_OUT)
