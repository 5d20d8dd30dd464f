"""HTML character-reference (entity) tables and decoding.

Mirrors the reference's entity semantics (parser/Tokeniser.java:137-221,
nodes/Entities.java:42-158):

* full named set = the 2125-name WHATWG table — identical to Python's
  stdlib ``html.entities.html5`` (verified against the reference's extended
  table); requires a trailing ``;``.
* base set = the 106 HTML4 names, matchable WITHOUT a trailing ``;``;
  also used for longest-prefix fallback in text (not attributes).
* numeric refs: decimal/hex, optional ``;``; 0x80-0x9F remapped through the
  windows-1252 extension table; invalid/out-of-range -> U+FFFD.
* in attributes: a name match followed by ``=``, ``-``, ``_`` or
  alphanumeric does not decode (legacy URL-query protection).

Pure data + functions — broadcastable, importable in UDF workers.
"""

from __future__ import annotations

import html.entities as _he

REPLACEMENT = "�"

# Full WHATWG table: name (with ';' stripped) -> replacement string
# (may be 2 codepoints for multipoint entities).
FULL: dict[str, str] = {
    k[:-1]: v for k, v in _he.html5.items() if k.endswith(";")
}

# 106 base (HTML4) names — match without a semicolon.
# (behavioral data per nodes/Entities.java:50, verified via the reference)
BASE_NAMES = frozenset("""
AElig AMP Aacute Acirc Agrave Aring Atilde Auml COPY Ccedil ETH Eacute
Ecirc Egrave Euml GT Iacute Icirc Igrave Iuml LT Ntilde Oacute Ocirc Ograve
Oslash Otilde Ouml QUOT REG THORN Uacute Ucirc Ugrave Uuml Yacute aacute
acirc acute aelig agrave amp aring atilde auml brvbar ccedil cedil cent
copy curren deg divide eacute ecirc egrave eth euml frac12 frac14 frac34 gt
iacute icirc iexcl igrave iquest iuml laquo lt macr micro middot nbsp not
ntilde oacute ocirc ograve ordf ordm oslash otilde ouml para plusmn pound
quot raquo reg sect shy sup1 sup2 sup3 szlig thorn times uacute ucirc
ugrave uml uuml yacute yen yuml
""".split())

# longest base name is 6 chars; prefix fallback checks spans directly
_BASE_MAX_LEN = max(len(n) for n in BASE_NAMES)

# windows-1252 remap of numeric refs 0x80..0x9F (Tokeniser.java:20-28)
WIN1252 = [
    0x20AC, 0x0081, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x008D, 0x017D, 0x008F,
    0x0090, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0x009D, 0x017E, 0x0178,
]

import re as _re

_P_NAMEREF = _re.compile("[a-zA-Z]+[0-9]*")
_HEX = "0123456789abcdefABCDEF"
_DIGITS = "0123456789"
_LETTERS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LETTER_SET = frozenset(_LETTERS)
_DIGIT_SET = frozenset(_DIGITS)
_NOT_CHARREF = frozenset("\t\n\r\f <&")


def find_base_prefix(name: str) -> str:
    """Longest base entity that is a prefix of `name` ('' if none)."""
    for ln in range(min(_BASE_MAX_LEN, len(name)), 1, -1):
        if name[:ln] in BASE_NAMES:
            return name[:ln]
    return ""


def consume_charref(
    s: str, i: int, additional_allowed: str | None, in_attribute: bool,
    errors: list | None = None,
) -> tuple[str | None, int]:
    """Try to consume a character reference at position ``i`` (just past '&').

    Returns (decoded_string_or_None, new_position). When None, caller emits a
    literal '&' and continues from the returned position (== i).
    Mirrors Tokeniser.consumeCharacterReference (Tokeniser.java:137-221).
    """
    n = len(s)
    if i >= n:
        return None, i
    c = s[i]
    if additional_allowed is not None and c == additional_allowed:
        return None, i
    if c in _NOT_CHARREF:
        return None, i

    if c == "#":  # numeric
        j = i + 1
        hexmode = j < n and s[j] in "xX"
        if hexmode:
            j += 1
        start = j
        allowed = _HEX if hexmode else _DIGITS
        while j < n and s[j] in allowed:
            j += 1
        if j == start:  # no numerals
            return None, i
        numref = s[start:j]
        if j < n and s[j] == ";":
            j += 1
        try:
            charval = int(numref, 16 if hexmode else 10)
        except ValueError:
            charval = -1
        if charval == -1 or charval > 0x10FFFF:
            return REPLACEMENT, j
        if 0x80 <= charval <= 0x9F:
            charval = WIN1252[charval - 0x80]
        if 0xD800 <= charval <= 0xDFFF or charval == 0:
            return REPLACEMENT, j
        return chr(charval), j

    # named: letters then digits (CharacterReader.consumeLetterThenDigitSequence)
    m = _P_NAMEREF.match(s, i)
    if m is None:
        return None, i
    j = m.end()
    name = s[i:j]
    looks_legit = j < n and s[j] == ";"
    found = name in BASE_NAMES or (looks_legit and name in FULL)

    if not found:
        if in_attribute:
            return None, i
        prefix = find_base_prefix(name)
        if not prefix:
            return None, i
        name = prefix
        j = i + len(prefix)
        looks_legit = j < n and s[j] == ";"

    if in_attribute and j < n and (s[j] in _LETTER_SET or s[j] in _DIGIT_SET or s[j] in "=-_"):
        return None, i

    if looks_legit:
        j += 1
    return FULL[name], j


def unescape(s: str, in_attribute: bool = False) -> str:
    """Decode all character references in a string (Entities semantics)."""
    if "&" not in s:
        return s
    out: list[str] = []
    pos = 0
    n = len(s)
    while True:
        amp = s.find("&", pos)
        if amp == -1:
            out.append(s[pos:])
            break
        out.append(s[pos:amp])
        decoded, newpos = consume_charref(s, amp + 1, None, in_attribute)
        if decoded is None:
            out.append("&")
            pos = amp + 1
        else:
            out.append(decoded)
            pos = newpos
    return "".join(out)


# --- escaping (for the HTML serializer; Entities.escape, Entities.java:160-230) ---

def escape(text: str, *, in_attribute: bool = False, syntax: str = "html") -> str:
    """Escape text for HTML output (base escape mode, UTF-8 charset).

    Matches the subset of Entities.escape used by the default serializer:
    &, <, > (in text), ", (in attributes), and nbsp -> &nbsp;.
    """
    out = text.replace("&", "&amp;").replace("\xa0", "&nbsp;")
    if in_attribute:
        out = out.replace('"', "&quot;")
        if syntax == "xml":
            out = out.replace("<", "&lt;").replace(">", "&gt;")
    else:
        out = out.replace("<", "&lt;").replace(">", "&gt;")
    return out


# ------------------------------------------------------------ escape modes

def _java_binary_search(a, key):
    lo, hi = 0, len(a) - 1
    while lo <= hi:
        mid = (lo + hi) >> 1
        v = a[mid]
        if v < key:
            lo = mid + 1
        elif v > key:
            hi = mid - 1
        else:
            return mid
    return -(lo + 1)


def _build_codepoint_tables():
    """Replicate the reference's codepoint->entity-name choice exactly:
    BuildEntities.ByCode ordering (same cp: longer name first, then name
    asc; multi-codepoint refs pushed after singles) + Entities
    .nameForCodepoint's Java binarySearch landing + prefer-next-duplicate
    rule (Entities.java:79-90, BuildEntities.java:105-123). Data source is
    the same W3C entities.json, via Python's stdlib html5 table."""
    from functools import cmp_to_key

    def by_code(r1, r2):
        (n1, v1), (n2, v2) = r1, r2
        first = ord(v1[0]) - ord(v2[0])
        if first:
            return first
        if len(v1) == 1 and len(v2) == 1:
            ln = len(n2) - len(n1)
            if ln:
                return ln
            return -1 if n1 < n2 else (1 if n1 > n2 else 0)
        if len(v1) == 2 and len(v2) == 2:
            return ord(v1[1]) - ord(v2[1])
        return len(v2) - len(v1)

    def build(refs):
        arr = sorted(refs, key=cmp_to_key(by_code))
        code_keys = [ord(v[0]) for _, v in arr]
        name_vals = [n for n, _ in arr]
        table = {}
        for cp in set(code_keys):
            i = _java_binary_search(code_keys, cp)
            if i >= 0:
                if i < len(name_vals) - 1 and code_keys[i + 1] == cp:
                    table[cp] = name_vals[i + 1]
                else:
                    table[cp] = name_vals[i]
        return table

    base_refs, full_refs = [], []
    for raw, val in _he.html5.items():
        if raw.endswith(";"):
            full_refs.append((raw[:-1], val))
        else:
            base_refs.append((raw, val))
    return build(base_refs), build(full_refs)


_CP_BASE, _CP_FULL = _build_codepoint_tables()
# differentially-verified landing artifact: the reference's binary search
# for U+2A7D lands on the multipoint name 'nles' (its own comment: "don't
# support multi lookup by codepoint yet"); our simulation over the stdlib
# array lands one entry off. Every other codepoint matches the compiled
# reference exactly (1453 cps x 3 modes x 2 charsets differential).
_CP_FULL[0x2A7D] = "nles"


def _can_encode(cp: int, charset: str) -> bool:
    cs = charset.lower().replace("_", "-")
    if cs in ("ascii", "us-ascii"):
        return cp < 0x80
    if cs.startswith("utf"):
        return True
    if cs in ("iso-8859-1", "latin-1", "latin1"):
        return cp < 0x100
    try:
        chr(cp).encode(charset)
        return True
    except (UnicodeEncodeError, LookupError):
        return False


def escape_full(text: str, charset: str = "utf-8",
                mode: str = "base") -> str:
    """Entities.escape(string, OutputSettings) equivalent: MAXIMAL
    escaping (covers both text and attribute use), with named entities
    per escape mode for characters the output charset cannot encode
    (Entities.java:160-260). Modes: 'xhtml' (numeric only, the 4 core
    names), 'base' (HTML4 106), 'extended' (full WHATWG)."""
    xhtml = mode == "xhtml"
    table = {} if xhtml else (_CP_FULL if mode == "extended" else _CP_BASE)
    out = []
    append = out.append
    for ch in text:
        cp = ord(ch)
        if ch == "&":
            append("&amp;")
        elif ch == "<":
            append("&lt;")
        elif ch == ">":
            append("&gt;")
        elif ch == '"':
            append("&quot;")
        elif ch == "'":
            append("&#x27;" if xhtml else "&apos;")
        elif ch == "\xa0":
            append("&#xa0;" if xhtml else "&nbsp;")
        elif _can_encode(cp, charset):
            append(ch)
        else:
            name = table.get(cp)
            append(f"&{name};" if name is not None else f"&#x{cp:x};")
    return "".join(out)
