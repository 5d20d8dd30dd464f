"""Safelist configuration for the boilerplate cleaner.

Preset and rule semantics per the reference (safety/Safelist.java:102-205
presets; isSafeAttribute :529-551; protocol checks :560-606; enforced attrs
:613-623). Frozen plain-data config — broadcastable to executors.
"""

from __future__ import annotations

ALL = ":all"


class Safelist:
    def __init__(self):
        self.tag_names: set[str] = set()
        self.attributes: dict[str, set[str]] = {}
        self.enforced: dict[str, dict[str, str]] = {}
        self.protocols: dict[str, dict[str, set[str]]] = {}
        self.preserve_relative_links = False

    # --- configuration (names normalized to lowercase) ---
    def add_tags(self, *tags: str) -> "Safelist":
        for t in tags:
            if t.lower() == "noscript":
                raise ValueError("noscript is unsupported in Safelists")
            self.tag_names.add(t.lower())
        return self

    def remove_tags(self, *tags: str) -> "Safelist":
        for t in tags:
            t = t.lower()
            self.tag_names.discard(t)
            self.attributes.pop(t, None)
            self.enforced.pop(t, None)
            self.protocols.pop(t, None)
        return self

    def add_attributes(self, tag: str, *keys: str) -> "Safelist":
        tag = tag.lower()
        if tag != ALL:
            self.tag_names.add(tag)
        self.attributes.setdefault(tag, set()).update(k.lower() for k in keys)
        return self

    def remove_attributes(self, tag: str, *keys: str) -> "Safelist":
        tag = tag.lower()
        ok = self.attributes.get(tag)
        if ok:
            for k in keys:
                ok.discard(k.lower())
        return self

    def add_enforced_attribute(self, tag: str, key: str, value: str) -> "Safelist":
        tag = tag.lower()
        self.tag_names.add(tag)
        self.enforced.setdefault(tag, {})[key.lower()] = value
        return self

    def remove_enforced_attribute(self, tag: str, key: str) -> "Safelist":
        self.enforced.get(tag.lower(), {}).pop(key.lower(), None)
        return self

    def add_protocols(self, tag: str, key: str, *prots: str) -> "Safelist":
        tag, key = tag.lower(), key.lower()
        self.protocols.setdefault(tag, {}).setdefault(key, set()).update(
            p.lower() for p in prots)
        return self

    def remove_protocols(self, tag: str, key: str, *prots: str) -> "Safelist":
        attr_prots = self.protocols.get(tag.lower(), {})
        ps = attr_prots.get(key.lower())
        if ps:
            for p in prots:
                ps.discard(p.lower())
            if not ps:
                attr_prots.pop(key.lower(), None)
        return self

    def set_preserve_relative_links(self, preserve: bool) -> "Safelist":
        self.preserve_relative_links = preserve
        return self

    # --- checks (Safelist.java:500-606) ---
    def is_safe_tag(self, name: str) -> bool:
        return name in self.tag_names

    def is_safe_attribute(self, tag: str, el, key: str, value: str,
                          abs_url) -> bool:
        """abs_url(el, key) resolves a protocol-checked attribute
        (Node.absUrl)."""
        ok = self.attributes.get(tag)
        if ok is not None and key in ok:
            prots_for_tag = self.protocols.get(tag)
            if prots_for_tag is not None:
                prots = prots_for_tag.get(key)
                if prots is None:
                    return True
                return self._is_safe_protocol(
                    abs_url(el, key) or value, prots)
            return True
        enforced = self.enforced.get(tag)
        if enforced is not None and key in enforced:
            return enforced[key] == value
        return tag != ALL and self.is_safe_attribute(
            ALL, el, key, value, abs_url)

    @staticmethod
    def _is_safe_protocol(value: str, prots: set[str]) -> bool:
        for prot in prots:
            if prot == "#":
                if value.startswith("#") and not any(c.isspace() for c in value):
                    return True
                continue
            if value.lower().startswith(prot + ":"):
                return True
        return False

    def should_abs_url(self, tag: str, key: str) -> bool:
        if self.preserve_relative_links:
            return False
        return self._should_abs(tag, key)

    def _should_abs(self, tag: str, key: str) -> bool:
        ok = self.attributes.get(tag)
        if ok is not None and key in ok:
            prots = self.protocols.get(tag)
            return prots is not None and key in prots
        if key in self.enforced.get(tag, {}):
            return False
        return tag != ALL and self._should_abs(ALL, key)

    def enforced_for(self, tag: str) -> dict[str, str]:
        return dict(self.enforced.get(tag, {}))


def none() -> Safelist:
    return Safelist()


def simple_text() -> Safelist:
    return Safelist().add_tags("b", "em", "i", "strong", "u")


def basic() -> Safelist:
    return (
        Safelist()
        .add_tags("a", "b", "blockquote", "br", "cite", "code", "dd", "dl",
                  "dt", "em", "i", "li", "ol", "p", "pre", "q", "small",
                  "span", "strike", "strong", "sub", "sup", "u", "ul")
        .add_attributes("a", "href")
        .add_attributes("blockquote", "cite")
        .add_attributes("q", "cite")
        .add_protocols("a", "href", "ftp", "http", "https", "mailto")
        .add_protocols("blockquote", "cite", "http", "https")
        .add_protocols("cite", "cite", "http", "https")
        .add_enforced_attribute("a", "rel", "nofollow")
    )


def basic_with_images() -> Safelist:
    return (
        basic()
        .add_tags("img")
        .add_attributes("img", "align", "alt", "height", "src", "title", "width")
        .add_protocols("img", "src", "http", "https")
    )


def relaxed() -> Safelist:
    return (
        Safelist()
        .add_tags("a", "b", "blockquote", "br", "caption", "cite", "code",
                  "col", "colgroup", "dd", "div", "dl", "dt", "em", "h1",
                  "h2", "h3", "h4", "h5", "h6", "i", "img", "li", "ol", "p",
                  "pre", "q", "small", "span", "strike", "strong", "sub",
                  "sup", "table", "tbody", "td", "tfoot", "th", "thead",
                  "tr", "u", "ul")
        .add_attributes("a", "href", "title")
        .add_attributes("blockquote", "cite")
        .add_attributes("col", "span", "width")
        .add_attributes("colgroup", "span", "width")
        .add_attributes("img", "align", "alt", "height", "src", "title", "width")
        .add_attributes("ol", "start", "type")
        .add_attributes("q", "cite")
        .add_attributes("table", "summary", "width")
        .add_attributes("td", "abbr", "axis", "colspan", "rowspan", "width")
        .add_attributes("th", "abbr", "axis", "colspan", "rowspan", "scope", "width")
        .add_attributes("ul", "type")
        .add_protocols("a", "href", "ftp", "http", "https", "mailto")
        .add_protocols("blockquote", "cite", "http", "https")
        .add_protocols("cite", "cite", "http", "https")
        .add_protocols("img", "src", "http", "https")
        .add_protocols("q", "cite", "http", "https")
    )


PRESETS = {
    "none": none,
    "simpleText": simple_text,
    "basic": basic,
    "basicWithImages": basic_with_images,
    "relaxed": relaxed,
}
