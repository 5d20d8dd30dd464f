"""Crawl-plumbing sources: RSS/Atom feeds, XML sitemaps, robots.txt.

A web-scale extraction pipeline discovers and schedules its corpus
through exactly three sidecar formats: syndication feeds (RSS 2.0 /
Atom), sitemaps (sitemaps.org urlset/sitemapindex), and robots.txt
(REP, RFC 9309). All three parse through this engine's own machinery
— feeds and sitemaps via the XML tree builder
(parser/xmlbuilder.py) + selector, robots.txt with the RFC 9309
longest-match rule evaluation:

* `parse_feed`: RSS 2.0 (`rss>channel>item`: title/link/guid/pubDate/
  description) and Atom (`feed>entry`: title, `link[href]` with
  rel=alternate preferred, id, published|updated, summary), sniffed
  by root element;
* `parse_sitemap`: urlset (loc/lastmod/changefreq/priority) and
  sitemapindex (nested sitemap locs) — the recursive fetch is the
  caller's loop, this parses one document;
* `parse_robots` / `robots_allowed`: group collection per user-agent
  token (most-specific agent match wins, `*` fallback), rule
  evaluation by LONGEST matching path, Allow winning ties (the
  published Google/RFC 9309 semantics), `$` end-anchor and `*`
  wildcard support, crawl-delay and sitemap directives.

`feed_stage` / `sitemap_stage` lift parsing to Spark on the shared
per-document Arrow kernel (operators/pipeline.py doc_stage), one row
per entry.

Reference parity anchor: XML tree semantics are the reference's
XmlTreeBuilder (parser/XmlTreeBuilder.java); the three formats are
public standards.
"""

from __future__ import annotations

import re

from jsoup_spark import parse_xml
from jsoup_spark.select.selector import select

__all__ = [
    "parse_feed", "parse_sitemap", "parse_robots", "robots_allowed",
    "feed_stage", "sitemap_stage",
]


def _local(el) -> str:
    return el.name.split(":")[-1].lower()


def _child_text(el, name: str) -> str:
    for c in el.child_elements():
        if _local(c) == name:
            return c.text()
    return ""


# ----------------------------------------------------------------- feeds

def parse_feed(xml_text: str) -> dict:
    """-> {kind, title, entries: [{title, link, id, published,
    summary}]}; kind '' for non-feed documents."""
    doc = parse_xml(xml_text)
    root = next((c for c in doc.child_elements()
                 if _local(c) not in ("?xml",)), None)
    if root is None:
        return {"kind": "", "title": "", "entries": []}
    kind = _local(root)
    entries = []
    if kind == "rss":
        chan = next((c for c in root.child_elements()
                     if _local(c) == "channel"), None)
        title = _child_text(chan, "title") if chan is not None else ""
        for item in (chan.child_elements() if chan is not None else []):
            if _local(item) != "item":
                continue
            entries.append({
                "title": _child_text(item, "title"),
                "link": _child_text(item, "link"),
                "id": _child_text(item, "guid"),
                "published": _child_text(item, "pubdate"),
                "summary": _child_text(item, "description"),
            })
        return {"kind": "rss", "title": title, "entries": entries}
    if kind == "feed":
        title = _child_text(root, "title")
        for entry in root.child_elements():
            if _local(entry) != "entry":
                continue
            link = alt = ""
            for l in entry.child_elements():
                if _local(l) != "link":
                    continue
                rel = l.attr("rel")
                if rel in ("", "alternate") and not alt:
                    alt = l.attr("href")
                if not link:
                    link = l.attr("href")
            entries.append({
                "title": _child_text(entry, "title"),
                "link": alt or link,
                "id": _child_text(entry, "id"),
                "published": (_child_text(entry, "published")
                              or _child_text(entry, "updated")),
                "summary": _child_text(entry, "summary"),
            })
        return {"kind": "atom", "title": title, "entries": entries}
    return {"kind": "", "title": "", "entries": []}


# -------------------------------------------------------------- sitemaps

def parse_sitemap(xml_text: str) -> dict:
    """-> {kind: 'urlset'|'sitemapindex'|'', entries: [{loc, lastmod,
    changefreq, priority}]} (index entries carry loc/lastmod only)."""
    doc = parse_xml(xml_text)
    root = next(iter(doc.child_elements()), None)
    if root is None:
        return {"kind": "", "entries": []}
    kind = _local(root)
    if kind not in ("urlset", "sitemapindex"):
        return {"kind": "", "entries": []}
    child_name = "url" if kind == "urlset" else "sitemap"
    entries = []
    for u in root.child_elements():
        if _local(u) != child_name:
            continue
        entries.append({
            "loc": _child_text(u, "loc").strip(),
            "lastmod": _child_text(u, "lastmod").strip(),
            "changefreq": _child_text(u, "changefreq").strip(),
            "priority": _child_text(u, "priority").strip(),
        })
    return {"kind": kind, "entries": entries}


# ------------------------------------------------------------ robots.txt

def parse_robots(text: str) -> dict:
    """-> {groups: [{agents: [lowercase tokens], rules: [(allow:bool,
    pattern)], crawl_delay: str}], sitemaps: [str]}. RFC 9309 group
    model: consecutive user-agent lines open one group; rules before
    any user-agent line are ignored; sitemap is a non-group record."""
    groups: list[dict] = []
    sitemaps: list[str] = []
    cur: dict | None = None
    last_was_agent = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not last_was_agent or cur is None:
                cur = {"agents": [], "rules": [], "crawl_delay": ""}
                groups.append(cur)
            cur["agents"].append(value.lower())
            last_was_agent = True
            continue
        last_was_agent = False
        if field == "sitemap":
            sitemaps.append(value)
        elif cur is not None and field in ("allow", "disallow"):
            cur["rules"].append((field == "allow", value))
        elif cur is not None and field == "crawl-delay":
            cur["crawl_delay"] = value
    return {"groups": groups, "sitemaps": sitemaps}


def _pattern_match_len(pattern: str, path: str) -> int:
    """Length of the matching rule pattern (its specificity) if it
    matches path, else -1. `*` is a wildcard, `$` anchors the end."""
    if not pattern:
        return -1
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    regex = ".*".join(re.escape(part) for part in pattern.split("*"))
    m = re.match(regex + ("$" if anchored else ""), path)
    return len(pattern) + (1 if anchored else 0) if m else -1


def _group_for(robots: dict, agent: str) -> dict | None:
    """Most-specific agent-token match; '*' group as fallback."""
    agent = agent.lower()
    best, best_len = None, -1
    star = None
    for g in robots["groups"]:
        for tok in g["agents"]:
            if tok == "*":
                if star is None:
                    star = g
            elif tok in agent and len(tok) > best_len:
                best, best_len = g, len(tok)
    return best if best is not None else star


def robots_allowed(robots: dict, agent: str, path: str) -> bool:
    """RFC 9309 evaluation: within the matched group, the longest
    matching rule decides; Allow wins exact ties; no match = allowed."""
    g = _group_for(robots, agent)
    if g is None:
        return True
    best_len, best_allow = -1, True
    for allow, pattern in g["rules"]:
        ml = _pattern_match_len(pattern, path)
        if ml > best_len or (ml == best_len and allow and ml >= 0):
            if ml >= 0:
                best_len, best_allow = ml, allow
    return best_allow if best_len >= 0 else True


def crawl_delay(robots: dict, agent: str) -> str:
    g = _group_for(robots, agent)
    return g["crawl_delay"] if g is not None else ""


# ---------------------------------------------------------- Spark stages

def feed_stage(df: "DataFrame") -> "DataFrame":
    """(doc_id, xml string) -> one row per feed entry."""
    from jsoup_spark import schemas
    from jsoup_spark.operators.pipeline import doc_stage

    def per_doc(xml):
        f = parse_feed(xml)
        return [(i, f["kind"], f["title"], e["title"], e["link"], e["id"],
                 e["published"], e["summary"])
                for i, e in enumerate(f["entries"])]

    return doc_stage(df, ["xml"], per_doc, schemas.FEED_OUT)


def sitemap_stage(df: "DataFrame") -> "DataFrame":
    """(doc_id, xml string) -> one row per sitemap entry."""
    from jsoup_spark import schemas
    from jsoup_spark.operators.pipeline import doc_stage

    def per_doc(xml):
        s = parse_sitemap(xml)
        return [(i, s["kind"], e["loc"], e["lastmod"], e["changefreq"],
                 e["priority"])
                for i, e in enumerate(s["entries"])]

    return doc_stage(df, ["xml"], per_doc, schemas.SITEMAP_OUT)
