"""Tag metadata registry for the HTML parser.

Flyweight flag table equivalent to the reference's TagSet/Tag
(reference: parser/Tag.java:18-38, parser/TagSet.java:236-298). Flags drive
both tree construction (block/void/rcdata/data) and text extraction
(preserve-whitespace, text-boundary). Plain frozen data — safe to broadcast
to executors / import inside pandas UDF workers.
"""

from __future__ import annotations

NS_HTML = "http://www.w3.org/1999/xhtml"
NS_XML = "http://www.w3.org/XML/1998/namespace"
NS_MATHML = "http://www.w3.org/1998/Math/MathML"
NS_SVG = "http://www.w3.org/2000/svg"

# Bit flags (mirrors semantics of parser/Tag.java:18-38)
KNOWN = 1
VOID = 2
BLOCK = 4
INLINE_CONTAINER = 8
SELF_CLOSE = 16
SEEN_SELF_CLOSE = 32
PRESERVE_WS = 64
RCDATA = 128
DATA = 256
FORM_SUBMITTABLE = 512
TEXT_BOUNDARY = 1024

# Default HTML classification lists (behavioral data per parser/TagSet.java:236-298)
BLOCK_TAGS = frozenset("""
    html head body frameset script noscript style meta link title frame
    noframes section nav aside hgroup header footer p h1 h2 h3 h4 h5 h6
    dialog search ul ol pre div blockquote hr address figure figcaption form
    fieldset dl dt dd li table caption thead tfoot tbody colgroup col tr th
    td details menu plaintext template article main center dir applet
    marquee listing #root
""".split())

INLINE_TAGS = frozenset("""
    object base font tt i b u big small em strong dfn code samp kbd var cite
    abbr time acronym mark ruby rt rp rtc a img wbr map q sub sup bdo iframe
    embed span input select textarea label audio video canvas optgroup
    option legend datalist keygen output progress meter area param source
    track summary command device basefont bgsound menuitem data bdi s strike
    nobr ins del button picture slot rb
""".split())

INLINE_CONTAINER_TAGS = frozenset(
    "title p h1 h2 h3 h4 h5 h6 pre address li th td script style".split()
)

VOID_TAGS = frozenset("""
    meta link base frame img br wbr embed hr input keygen col command device
    area basefont bgsound menuitem param source track
""".split())

PRESERVE_WS_TAGS = frozenset("pre plaintext title textarea script".split())

RCDATA_TAGS = frozenset(("title", "textarea"))

DATA_TAGS = frozenset("iframe noembed noframes script style xmp".split())

FORM_SUBMIT_TAGS = frozenset(
    "input keygen object select textarea button".split()
)

TEXT_BOUNDARY_TAGS = frozenset("""
    button input select textarea option output progress meter
    img picture audio video canvas object embed iframe
""".split())

MATHML_BLOCK = frozenset(("math",))
MATHML_INLINE = frozenset("mi mo msup mn mtext".split())
SVG_BLOCK = frozenset(("svg", "femerge", "femergenode"))
SVG_INLINE = frozenset(("text",))
SVG_DATA = frozenset(("script",))


def _build_flags() -> dict[tuple[str, str], int]:
    table: dict[tuple[str, str], int] = {}

    def add(ns: str, names, flag: int) -> None:
        for n in names:
            key = (ns, n)
            table[key] = table.get(key, KNOWN) | flag

    add(NS_HTML, BLOCK_TAGS, BLOCK)
    add(NS_HTML, INLINE_TAGS, 0)
    add(NS_HTML, INLINE_CONTAINER_TAGS, INLINE_CONTAINER)
    add(NS_HTML, VOID_TAGS, VOID)
    add(NS_HTML, PRESERVE_WS_TAGS, PRESERVE_WS)
    add(NS_HTML, RCDATA_TAGS, RCDATA)
    add(NS_HTML, DATA_TAGS, DATA)
    add(NS_HTML, FORM_SUBMIT_TAGS, FORM_SUBMITTABLE)
    add(NS_HTML, TEXT_BOUNDARY_TAGS, TEXT_BOUNDARY)
    add(NS_MATHML, MATHML_BLOCK, BLOCK)
    add(NS_MATHML, MATHML_INLINE, 0)
    add(NS_SVG, SVG_BLOCK, BLOCK)
    add(NS_SVG, SVG_INLINE, 0)
    add(NS_SVG, SVG_DATA, DATA)
    return table


#: (namespace, lowercase tag name) -> flag bitmask. Unknown tags -> 0 (inline, not known).
TAG_FLAGS: dict[tuple[str, str], int] = _build_flags()

# fast-path table for the common HTML namespace
_HTML_FLAGS: dict[str, int] = {
    name: fl for (ns, name), fl in TAG_FLAGS.items() if ns == NS_HTML
}


def flags(name: str, ns: str = NS_HTML) -> int:
    """Flag bitmask for a tag (0 for unknown/custom tags)."""
    if ns == NS_HTML:
        return _HTML_FLAGS.get(name, 0)
    return TAG_FLAGS.get((ns, name), 0)


def is_block(name: str, ns: str = NS_HTML) -> bool:
    return bool(flags(name, ns) & BLOCK)


def is_known(name: str, ns: str = NS_HTML) -> bool:
    if ns == NS_HTML:
        return name in _HTML_FLAGS
    return (ns, name) in TAG_FLAGS


# ------------------------------------------------------- TagSet (mutable)

def _normal_name(name: str) -> str:
    """ParseSettings.normalName: lowercase trim (ASCII-fold is just
    str.lower for tag names)."""
    return name.strip().lower()


class Tag:
    """Mutable per-TagSet tag record (reference parser/Tag.java:18-38,
    155-199). Plain frozen-table lookups stay on the module functions; Tag
    objects only exist inside customized TagSets."""

    __slots__ = ("name", "normal", "ns", "flags")

    def __init__(self, name: str, ns: str = NS_HTML, flags_: int | None = None,
                 normal: str | None = None):
        self.name = name
        self.normal = normal if normal is not None else _normal_name(name)
        self.ns = ns
        # a Tag constructed by name alone picks up the default options for
        # that name but is NOT Known until added/touched (Tag.java:74,103)
        self.flags = flags_ if flags_ is not None else flags(self.normal, ns)

    def set(self, flag: int) -> "Tag":
        """Set an option; any touch marks the tag Known (Tag.java:190-193)."""
        if flag != KNOWN:
            self.flags |= KNOWN
        self.flags |= flag
        return self

    def clear(self, flag: int) -> "Tag":
        if flag != KNOWN:
            self.flags |= KNOWN
        self.flags &= ~flag
        return self

    def is_(self, flag: int) -> bool:
        return bool(self.flags & flag)

    def is_known(self) -> bool:
        return bool(self.flags & KNOWN)

    def clone(self) -> "Tag":
        return Tag(self.name, self.ns, self.flags, self.normal)

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Tag({self.name!r}, ns={self.ns!r}, flags={self.flags:#x})"


class TagSet:
    """Mutable tag configuration for a parse (reference parser/
    TagSet.java:24-231). Defaults pull through lazily from the frozen
    module tables; customizers registered with on_new_tag run once per Tag
    as it enters the set (explicit add() or on-demand value_of())."""

    def __init__(self, template: "TagSet | None" = None):
        self._tags: dict[tuple[str, str], Tag] = {}
        self._customizers: list = []
        if template is not None:
            # copy tags eagerly so the template is never mutated by
            # read-through (TagSet.java:52-66)
            self._tags = {k: t.clone() for k, t in template._tags.items()}
            self._customizers = list(template._customizers)

    @classmethod
    def html(cls) -> "TagSet":
        """A mutable TagSet over the default HTML table (TagSet.Html())."""
        return cls()

    def on_new_tag(self, customizer) -> "TagSet":
        """Register a callback invoked for each Tag as it is added
        (explicitly or via value_of pull-through); the callback may mutate
        the Tag's flags (TagSet.java:211-215; e.g. treat <x-raw> as Data)."""
        self._customizers.append(customizer)
        return self

    def add(self, tag: Tag) -> "TagSet":
        """Insert a tag; explicitly added tags are Known (TagSet.java:81-85)."""
        tag.flags |= KNOWN
        self._do_add(tag)
        return self

    def register_tag(self, name: str, flags_: int = 0,
                     ns: str = NS_HTML) -> Tag:
        """Convenience: add a (custom) tag with extra option flags OR-ed
        onto its defaults, e.g. register_tag('x-raw', DATA)."""
        t = Tag(name, ns)
        t.flags |= flags_
        self.add(t)
        return t

    def _do_add(self, tag: Tag) -> None:
        for fn in self._customizers:
            fn(tag)
        self._tags[(tag.ns, tag.name)] = tag

    def get(self, name: str, ns: str = NS_HTML) -> Tag | None:
        """Existing tag by case-sensitive name, pulling defaults through
        on demand (customizers apply to the pulled copy); None if unknown."""
        t = self._tags.get((ns, name))
        if t is not None:
            return t
        fl = TAG_FLAGS.get((ns, name))
        if fl is not None:
            t = Tag(name, ns, fl, name)
            self._do_add(t)
            return t
        return None

    def value_of(self, name: str, ns: str = NS_HTML,
                 preserve_case: bool = False) -> Tag:
        """Tag by name; creates (and customizes) an unknown tag on demand
        (TagSet.java:136-163)."""
        name = name.strip()
        t = self.get(name, ns)
        if t is not None:
            return t
        normal = _normal_name(name)
        if not preserve_case:
            name = normal
        t = self.get(normal, ns)
        if t is not None:
            if preserve_case and name != normal:
                t = t.clone()
                t.name = name
                self._do_add(t)
            return t
        t = Tag(name, ns, 0, normal)
        self._do_add(t)
        return t

    # -- parser-facing lookups (signature-compatible with module functions)
    def flags(self, name: str, ns: str = NS_HTML) -> int:
        return self.value_of(name, ns).flags

    def is_known(self, name: str, ns: str = NS_HTML) -> bool:
        return self.value_of(name, ns).is_known()

