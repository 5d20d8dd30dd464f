"""Page metadata extraction: OpenGraph, Twitter cards, JSON-LD,
microdata, standard meta/link tags.

A main-content pipeline needs (title, author, date, canonical URL,
language, ...) next to the body text; wild pages scatter these over
four vocabularies. This module reads all four through the engine's
own selector (select/selector.py) and resolves them with a pinned,
documented precedence — the trafilatura/newspaper-family approach,
re-implemented from the public vocabularies:

* OpenGraph  — ``meta[property]`` ``og:*`` / ``article:*`` pairs;
* Twitter    — ``meta[name^=twitter:]``;
* JSON-LD    — ``script[type=application/ld+json]`` blocks (stdlib
  json, tolerant: first object, ``@graph`` unwrapped, Article-family
  preferred), fields @type/headline/datePublished/author;
* microdata  — ``[itemscope][itemtype]`` scopes with ``itemprop``
  descendants (content attr, else datetime attr, else text);
* classic    — <title>, meta[name=description|author|date],
  link[rel=canonical], <time datetime>, html[lang].

Precedence (first non-empty wins):
  title:       og:title > twitter:title > JSON-LD headline > <title>
               > first h1
  description: og:description > meta[name=description]
               > twitter:description
  author:      meta[name=author] > JSON-LD author(.name)
               > article:author
  published:   article:published_time > JSON-LD datePublished
               > first <time datetime>  > meta[name=date]
  canonical:   link[rel=canonical] abs href > og:url
  image:       og:image > twitter:image
  site_name:   og:site_name;  lang: html[lang]
               > meta[http-equiv=content-language]

`metadata_stage` lifts extraction to Spark on the shared per-document
Arrow kernel (operators/pipeline.py doc_stage): flat string columns,
map-only plan.

Reference parity anchor: attribute/text access semantics are the
reference's (org/jsoup/nodes/Element.java attr()/text(); absUrl for
canonical); the vocabularies are public standards.
"""

from __future__ import annotations

import json
from operator import itemgetter
from typing import Any

from ..parser.nodes import Document, Element
from ..select.selector import select

__all__ = ["extract_metadata", "metadata_stage"]

_ARTICLE_TYPES = frozenset((
    "Article", "NewsArticle", "BlogPosting", "ScholarlyArticle",
    "Report", "TechArticle", "SocialMediaPosting", "WebPage"))


def _meta_maps(doc: Document):
    og: dict[str, str] = {}
    named: dict[str, str] = {}
    n_meta = 0
    for m in select(doc, "meta"):
        n_meta += 1
        content = m.attr("content")
        prop = m.attr("property").strip().lower()
        name = m.attr("name").strip().lower()
        if prop and prop not in og:
            og[prop] = content
        if name and name not in named:
            named[name] = content
    return og, named, n_meta


def _jsonld(doc: Document) -> dict:
    """First parseable JSON-LD object; Article-family types preferred
    over the first object seen; @graph containers unwrapped."""
    first: dict | None = None
    for s in select(doc, "script[type=application/ld+json]"):
        try:
            data = json.loads(s.data())
        except (ValueError, TypeError):
            continue
        objs: list[Any] = data if isinstance(data, list) else [data]
        flat: list[dict] = []
        for o in objs:
            if isinstance(o, dict) and isinstance(o.get("@graph"), list):
                flat.extend(x for x in o["@graph"] if isinstance(x, dict))
            elif isinstance(o, dict):
                flat.append(o)
        for o in flat:
            if first is None:
                first = o
            t = o.get("@type")
            types = t if isinstance(t, list) else [t]
            if any(isinstance(x, str) and x in _ARTICLE_TYPES
                   for x in types):
                return o
    return first or {}


def _jsonld_str(obj: dict, key: str) -> str:
    v = obj.get(key)
    if isinstance(v, str):
        return v
    if isinstance(v, list) and v and isinstance(v[0], (str, dict)):
        v = v[0]
    if isinstance(v, dict):
        name = v.get("name")
        return name if isinstance(name, str) else ""
    return ""


def microdata_items(doc: Document) -> list[dict]:
    """[{type, props: {name: value}}] for each [itemscope][itemtype]
    scope; nested scopes own their props (not double-counted)."""
    items = []
    scopes = [el for el in select(doc, "[itemscope]")
              if el.has_attr("itemtype")]
    scope_set = set(map(id, scopes))

    def owner(el: Element):
        p = el.parent
        while p is not None:
            if id(p) in scope_set:
                return p
            p = p.parent
        return None

    for scope in scopes:
        props: dict[str, str] = {}
        for el in scope.elements():
            name = el.attr("itemprop")
            if not name or owner(el) is not scope:
                continue
            value = (el.attr("content") or el.attr("datetime")
                     or (el.abs_url("href") if el.name == "a"
                         and el.has_attr("href") else "")
                     or (el.abs_url("src") if el.has_attr("src") else "")
                     or el.text())
            props.setdefault(name, value)
        items.append({"type": scope.attr("itemtype"), "props": props})
    return items


def _first(*vals: str) -> str:
    for v in vals:
        if v:
            return v
    return ""


def extract_metadata(doc: Document) -> dict:
    og, named, n_meta = _meta_maps(doc)
    ld = _jsonld(doc)

    title_el = select(doc, "title")
    h1 = select(doc, "h1")
    canon = select(doc, "link[rel=canonical]")
    time_el = next((t for t in select(doc, "time[datetime]")), None)
    html_el = select(doc, "html")

    lang = _first(
        html_el[0].attr("lang") if html_el else "",
        named.get("content-language", ""))
    # http-equiv is a distinct attr; fold it in
    if not lang:
        for m in select(doc, "meta[http-equiv=content-language]"):
            lang = m.attr("content")
            break

    return {
        "title": _first(og.get("og:title", ""),
                        named.get("twitter:title", ""),
                        _jsonld_str(ld, "headline"),
                        title_el[0].text() if title_el else "",
                        h1[0].text() if h1 else ""),
        "description": _first(og.get("og:description", ""),
                              named.get("description", ""),
                              named.get("twitter:description", "")),
        "author": _first(named.get("author", ""),
                         _jsonld_str(ld, "author"),
                         og.get("article:author", "")),
        "published": _first(og.get("article:published_time", ""),
                            _jsonld_str(ld, "datePublished"),
                            time_el.attr("datetime") if time_el else "",
                            named.get("date", "")),
        "canonical_url": _first(
            canon[0].abs_url("href") if canon else "",
            og.get("og:url", "")),
        "image": _first(og.get("og:image", ""),
                        named.get("twitter:image", "")),
        "site_name": og.get("og:site_name", ""),
        "lang": lang,
        "jsonld_type": (ld.get("@type") if isinstance(
            ld.get("@type"), str) else ""),
        "n_meta": n_meta,
    }


def metadata_stage(docs: "DataFrame") -> "DataFrame":
    """(doc_id, html[, base_uri]) -> flat metadata columns. Map-only
    stage (operators.pipeline.page_stage)."""
    from .. import schemas
    from ..operators.pipeline import page_stage
    row = itemgetter(*schemas.METADATA_OUT.names[1:])
    return page_stage(docs, lambda doc: [row(extract_metadata(doc))],
                      schemas.METADATA_OUT)
