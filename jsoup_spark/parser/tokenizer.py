"""WHATWG HTML5 tokenizer.

From-scratch Python implementation of the HTML tokenization state machine
with the same observable token stream as the reference engine
(parser/TokeniserState.java:12-1681, parser/Tokeniser.java:66-221). Designed
for batch execution inside pandas/Arrow UDFs: hot states consume input with
bulk regex scans (the `consumeTo` analog, CharacterReader.java:306-322)
instead of per-character stepping, and character runs are coalesced into
single tokens.

Notable reference behaviors preserved:
* nulls in Data are passed through raw (tree builder strips/replaces);
  nulls in RCDATA/Rawtext/ScriptData/PLAINTEXT become U+FFFD.
* RCDATA with no matching close tag ahead breaks out to TagOpen instead of
  swallowing to EOF (TokeniserState.java:188-198 divergence).
* named entities: base set matches without ';', extended requires ';';
  attribute values refuse a match followed by [=alnum-_].
* tag names eat nulls then replace with U+FFFD; attr names likewise.
* self-closing unacknowledged start tags, first-wins attr dedup and the
  512-attribute cap are handled in the tree builder.
"""

from __future__ import annotations

import re
import sys
from collections import deque

from .entities import REPLACEMENT, consume_charref

EOF = "￿"
NULL = "\x00"
_JAVA_TRIM_CHARS = "".join(chr(c) for c in range(0x21))

# ---------------------------------------------------------------- tokens

T_DOCTYPE = 0
T_START = 1
T_END = 2
T_COMMENT = 3
T_CHAR = 4
T_CDATA = 5
T_EOF = 6
T_XMLDECL = 7


class Tok:
    # source offsets (Token.java:20 startPos/endPos); stamped by the
    # Tokeniser at emit; -1 = unset (synthetic/virtual tokens)
    __slots__ = ("start_pos", "end_pos")

    def __init__(self):
        self.start_pos = -1
        self.end_pos = -1


class Doctype(Tok):
    __slots__ = ("name", "pub_sys_key", "public_id", "system_id",
                 "force_quirks", "internal_subset")
    type = T_DOCTYPE

    def __init__(self):
        self.start_pos = -1
        self.end_pos = -1
        self.name = ""
        self.pub_sys_key = None
        self.public_id = ""
        self.system_id = ""
        self.force_quirks = False
        # raw XML internal subset text; non-None == subset was seen
        # (Token.java:62 sawInternalSubset + internalSubset)
        self.internal_subset = None


# raw tag name -> interned lowercase form. Interning means every
# downstream name comparison and frozenset/dict probe in the tree builder
# hits the pointer-equality / cached-hash fast path (the reference's
# CharacterReader string cache plays the same role, CharacterReader.java:22)
_NORMAL_CACHE: dict = {}


class Tag(Tok):
    __slots__ = ("name", "attrs", "self_closing", "normal", "attr_ranges")

    def __init__(self, name: str, attrs, self_closing: bool):
        self.start_pos = -1
        self.end_pos = -1
        self.name = name          # original case
        self.attrs = attrs        # list[(name, value-or-None)] or None
        self.self_closing = self_closing
        normal = _NORMAL_CACHE.get(name)
        if normal is None:
            normal = sys.intern(name.lower())
            if len(_NORMAL_CACHE) < 8192:
                _NORMAL_CACHE[name] = normal
        self.normal = normal      # lc for case-insensitive tree build
        # staged (name, name_start, name_end, val_start, val_end) tuples
        # when position tracking is on (Token.java:131-133)
        self.attr_ranges = None


class StartTag(Tag):
    __slots__ = ()
    type = T_START


class EndTag(Tag):
    __slots__ = ()
    type = T_END


class XmlDecl(Tag):
    __slots__ = ("is_declaration",)  # <!..> vs <?..?>
    type = T_XMLDECL

    def __init__(self, name, attrs, self_closing, is_declaration):
        super().__init__(name, attrs, self_closing)
        self.is_declaration = is_declaration


class Comment(Tok):
    __slots__ = ("data", "bogus")
    type = T_COMMENT

    def __init__(self, data: str, bogus: bool = False):
        self.start_pos = -1
        self.end_pos = -1
        self.data = data
        self.bogus = bogus


class Character(Tok):
    __slots__ = ("data",)
    type = T_CHAR

    def __init__(self, data: str):
        self.start_pos = -1
        self.end_pos = -1
        self.data = data


class CData(Character):
    __slots__ = ()
    type = T_CDATA


class EOFTok(Tok):
    __slots__ = ()
    type = T_EOF


# ---------------------------------------------------------------- states

(
    DATA, RCDATA, RAWTEXT, SCRIPT_DATA, PLAINTEXT, TAG_OPEN, END_TAG_OPEN,
    TAG_NAME, RCDATA_LT, RCDATA_END_OPEN, RCDATA_END_NAME, RAWTEXT_LT,
    RAWTEXT_END_OPEN, RAWTEXT_END_NAME, SD_LT, SD_END_OPEN, SD_END_NAME,
    SD_ESC_START, SD_ESC_START_DASH, SD_ESC, SD_ESC_DASH, SD_ESC_DASH_DASH,
    SD_ESC_LT, SD_ESC_END_OPEN, SD_ESC_END_NAME, SD_DBL_START, SD_DBL,
    SD_DBL_DASH, SD_DBL_DASH_DASH, SD_DBL_LT, SD_DBL_END,
    BEFORE_ATTR_NAME, ATTR_NAME, AFTER_ATTR_NAME, BEFORE_ATTR_VALUE,
    ATTR_VALUE_DQ, ATTR_VALUE_SQ, ATTR_VALUE_UQ, AFTER_ATTR_VALUE_Q,
    SELF_CLOSING, BOGUS_COMMENT, MARKUP_DECL_OPEN, MARKUP_PROC_OPEN,
    COMMENT_START, COMMENT_START_DASH, COMMENT, COMMENT_END_DASH,
    COMMENT_END, COMMENT_END_BANG, DOCTYPE_ST, BEFORE_DT_NAME, DT_NAME,
    AFTER_DT_NAME, AFTER_DT_PUBLIC_KW, BEFORE_DT_PUBLIC_ID, DT_PUBLIC_DQ,
    DT_PUBLIC_SQ, AFTER_DT_PUBLIC_ID, BETWEEN_DT_PUB_SYS, AFTER_DT_SYSTEM_KW,
    BEFORE_DT_SYSTEM_ID, DT_SYSTEM_DQ, DT_SYSTEM_SQ, AFTER_DT_SYSTEM_ID,
    BOGUS_DOCTYPE, CDATA_SECTION, DT_INTERNAL_SUBSET,
) = range(67)

_WS = "\t\n\r\f "

# ---- whole-tag fast path (DATA state only) ----
# One regex matches the overwhelmingly common well-formed tag shapes and
# the token is built directly, skipping the per-state dispatch round-trips
# (TagName -> BeforeAttributeName -> AttributeName -> ... at ~8-12 Python
# calls/tag). The pattern is a strict SUBSET of inputs on which the WHATWG
# state machine emits no parse error, no NULL replacement, and no
# whitespace ambiguity:
# * tag/attr whitespace is the explicit [\t\n\r\f ] set (NOT \s — Python's
#   \s matches \x0b/\x85/\xa0, which WHATWG treats as name characters);
# * attr names exclude the AttributeName error chars (" ' <) and all
#   controls <= 0x20 (java-trim region), so no trim/replace is needed;
# * unquoted values exclude the error chars (" ' < = `) and &;
# * quoted values may contain & — decoded after capture by the same
#   consume_charref on absolute positions, so error strings match;
# * each attr unit is atomic ((?>...)) and the attr loop possessive (*+):
#   a failing tag exits in linear time instead of exponential backtracking
#   through ws-vs-value ambiguity.
# Anything else — NULLs, error chars, '=' without value, '/' separators,
# bare '&' values — fails the match and falls through to the exact state
# machine. Position-tracked parses always take the slow path (attr source
# ranges). Semantics mirror TokeniserState TagName..AfterAttributeValue.
_A_NAME = r"[a-zA-Z][a-zA-Z0-9:._-]*"
_A_ATTR = r"[^\x00-\x20/=>\"'<]+"
_A_VD = r'"[^"\x00]*"'
_A_VS = r"'[^'\x00]*'"
_A_VU = r"[^\x00\t\n\r\f >\"'<=`&]+"
_A_UNIT = (r"(?>[\t\n\r\f ]+" + _A_ATTR +
           r"(?:[\t\n\r\f ]*=[\t\n\r\f ]*(?:" + _A_VD + "|" + _A_VS + "|"
           + _A_VU + r"))?)")
_P_FAST_START = re.compile(
    "<(" + _A_NAME + ")((?:" + _A_UNIT + r")*+)[\t\n\r\f ]*(/?)>")
_P_FAST_END = re.compile("</(" + _A_NAME + r")[\t\n\r\f ]*>")
_P_FAST_ATTR = re.compile(
    "[\t\n\r\f ]+(" + _A_ATTR + r")(?:[\t\n\r\f ]*=[\t\n\r\f ]*("
    + _A_VD + "|" + _A_VS + "|" + _A_VU + r"))?")
# attr-less start tag (the most common shape): one cheap probe
_P_FAST_SIMPLE = re.compile("<(" + _A_NAME + r")[\t\n\r\f ]*(/?)>")
# tag-open for the incremental attr loop
_P_FAST_OPEN = re.compile("<(" + _A_NAME + ")")
# tag close after the incremental attr loop
_P_FAST_TAIL = re.compile(r"[\t\n\r\f ]*(/?)>")


def _decode_attr_value(s: str, start: int, end: int, errors: list) -> str:
    """Attribute-mode charref decode of s[start:end], position-exact: the
    same consume_charref the state machine calls, on the same absolute
    offsets. The captured span cannot contain the closing quote, so the
    additional-allowed char of the quoted-value states can never trigger
    inside it (it would have ended the capture)."""
    out = []
    i = start
    find = s.find
    while True:
        amp = find("&", i, end)
        if amp < 0:
            out.append(s[i:end])
            return "".join(out)
        out.append(s[i:amp])
        decoded, newpos = consume_charref(s, amp + 1, None, True, errors)
        if decoded is None:
            out.append("&")
            i = amp + 1
        else:
            out.append(decoded)
            i = newpos


# tags after which the tree builder may switch the tokeniser state
# (rcdata/rawtext/script/plaintext elements + noscript); batching must
# stop so the raw content is not tokenised as markup. Self-closing tags
# also stop the batch (customized self-closable tags make insert_element
# queue a synthetic end tag, which must directly follow its start tag).
_BATCH_STOP = frozenset(
    "title textarea iframe noembed noframes script style xmp plaintext "
    "noscript pre listing".split())  # pre/listing: the tree builder
# consumes the leading newline off the READER (treebuilder skip-first-LF),
# which requires the following text to still be untokenised

# flags whose presence on a START tag must stop token batching when a
# custom TagSet is active (Data/Rawtext switch state; SelfClose queues a
# synthetic end tag that must directly follow its start tag)
from . import tags as _tags  # noqa: E402 (cycle-safe: tags has no imports)

_CUSTOM_STOP = _tags.DATA | _tags.RCDATA | _tags.SELF_CLOSE

# optional C accelerator for the batching fast path (fasttree.c's Data-state
# scanner, also run by the tree builder's full pump; a strict subset of the
# Python path, the source of truth and fallback when the extension is absent)
try:
    from .._native import jsoup_fasttree as _C

    _C.configure_scan(_BATCH_STOP, _decode_attr_value, DATA)
except ImportError:  # pragma: no cover - extension not built
    _C = None


def _fast_attr_tag(t, s: str, at: int):
    """Incremental fast parse of a start tag with attributes at s[at] —
    accepts exactly the language of _P_FAST_START in one scan (the attr
    unit regex is atomic, so greedy-incremental matching and the
    possessive whole-tag regex agree). Returns (StartTag, end) or None.
    Attr values are decoded only after the tail confirms the tag, so a
    bail emits no errors."""
    m = _P_FAST_OPEN.match(s, at)
    if m is None:
        return None
    raw = []  # (attr_name, raw_value, value_start)
    p = m.end()
    attr_match = _P_FAST_ATTR.match
    while True:
        am = attr_match(s, p)
        if am is None:
            tail = _P_FAST_TAIL.match(s, p)
            if tail is None:
                return None
            attrs = None
            if raw:
                attrs = []
                for aname, v, vstart in raw:
                    if v is None:
                        val = None
                    else:
                        quote = v[0]
                        if quote == '"' or quote == "'":
                            if "&" in v:
                                val = _decode_attr_value(
                                    s, vstart + 1, vstart + len(v) - 1,
                                    t.errors)
                            else:
                                val = v[1:-1]
                        else:
                            val = v  # unquoted capture excludes &
                    attrs.append((aname, val))
            return (StartTag(m.group(1), attrs, tail.group(1) == "/"),
                    tail.end())
        p = am.end()
        if len(raw) < 512:
            raw.append((am.group(1), am.group(2), am.start(2)))


# exact tag-span -> (cls, name, normal, attrs, self_closing). attrs lists
# are shared across the tokens built from one entry and are read-only
# downstream (the tree builder copies into per-element dicts). Bounded:
# spans <= 257 chars, <= 8192 entries (~2 MB).
_TAG_CACHE: dict = {}

_P_DATA = re.compile("[&<\x00]")
_P_RAW = re.compile("[<\x00]")
_P_PLAIN = re.compile("\x00")
_P_TAGNAME = re.compile("[\t\n\r\f />]")
_P_ATTRNAME = re.compile("[\t\n\r\f \"'/<=>?]")
_P_ATTRVAL_UQ = re.compile("[\x00\t\n\r\f \"&'<=>`]")
_P_ATTRVAL_DQ = re.compile('[\x00&"]')
_P_ATTRVAL_SQ = re.compile("[\x00&']")
_P_COMMENT = re.compile("[-\x00]")
_P_SD_ESC = re.compile("[-<\x00]")
_P_LETTERS = re.compile(r"[^\W\d_]+")  # unicode letters (Character.isLetter analog)
_P_ASCII_ALPHA = re.compile("[A-Za-z]")


class Tokeniser:
    """Pull tokenizer: call read() until an EOFTok is returned."""

    __slots__ = (
        "s", "s_lower", "pos", "n", "state", "syntax", "cdata_allowed",
        "errors", "_queue", "_chars", "custom_flags",
        "tag_start", "_tag_name_parts", "tag_attrs", "tag_self_closing",
        "tag_is_decl", "tag_decl_bang",
        "attr_name", "attr_value", "attr_has_empty_value", "attr_had_value",
        "comment", "comment_bogus", "doctype", "data_buf", "last_start",
        "markup_start", "char_start", "char_run_start", "char_end",
        "track", "attr_ns", "attr_ne", "attr_vs", "attr_ve",
        "tag_attr_ranges",
    )

    def __init__(self, s: str, syntax: str = "html", errors: list | None = None):
        self.s = s
        self.s_lower = None  # lazily built for contains-scan
        self.pos = 0
        self.n = len(s)
        # source-position tracking (Tokeniser.java:54 markupStartPos /
        # charStartPos): markup start set on transition into TagOpen,
        # char start on token emit
        self.markup_start = 0
        self.char_start = 0
        self.char_run_start = 0
        self.char_end = 0
        # attribute source-range capture (Token.java:130,324-365) —
        # only populated when track is set by the tree builder
        self.track = False
        self.attr_ns = -1
        self.attr_ne = -1
        self.attr_vs = -1
        self.attr_ve = -1
        self.tag_attr_ranges = None
        self.state = DATA
        self.syntax = syntax
        self.cdata_allowed = lambda: syntax == "xml"
        self.errors = errors if errors is not None else []
        self._queue: deque = deque()
        self._chars: list[str] = []
        self.tag_start = True
        # custom TagSet flag lookup (set via set_custom_flags): batching
        # must stop after tags a customizer may have made Data/RcData/
        # SelfClose, and the C scanner (global static stop set) is bypassed
        self.custom_flags = None
        self._tag_name_parts = []
        self.tag_attrs = None
        self.tag_self_closing = False
        self.tag_is_decl = False
        self.tag_decl_bang = False
        self.attr_name = None
        self.attr_value = None
        self.attr_has_empty_value = False
        self.attr_had_value = False
        self.comment = None
        self.comment_bogus = False
        self.doctype = None
        self.data_buf = None
        self.last_start = None

    # --- error reporting (bounded) ---
    def error(self, msg: str) -> None:
        if len(self.errors) < 64:
            self.errors.append(msg)

    # --- emit plumbing ---
    def _emit_str(self, data: str) -> None:
        chars = self._chars
        if not chars:
            self.char_run_start = self.char_start
        self.char_end = self.pos
        chars.append(data)

    def set_custom_flags(self, flags_fn) -> None:
        """Route batching stop decisions through a TagSet's flag lookup
        (tags that can switch tokeniser state or self-close)."""
        self.custom_flags = flags_fn

    def _emit_tok(self, tok: Tok) -> None:
        tok.start_pos = self.markup_start
        tok.end_pos = self.pos
        self.char_start = self.pos
        self._queue.append(tok)
        if tok.type == T_START:
            self.last_start = tok.normal
        elif tok.type == T_END and tok.attrs:
            self.error("attributes on end tag")

    def read(self) -> Tok:
        """Next token; coalesces character runs (Tokeniser.java:101-108)."""
        q = self._queue
        chars = self._chars
        states = _STATES
        while not q:
            states[self.state](self)
        if chars:
            tok = Character("".join(chars))
            tok.start_pos = self.char_run_start
            tok.end_pos = self.char_end
            chars.clear()
            return tok
        return q.popleft()

    # --- pending tag helpers ---
    def create_tag(self, start: bool) -> None:
        self.tag_start = start
        self._tag_name_parts = []
        self.tag_attrs = None
        self.tag_self_closing = False
        self.tag_is_decl = False
        self.attr_name = None
        self.attr_value = None
        self.attr_has_empty_value = False
        if self.track:
            self.attr_ns = self.attr_ne = self.attr_vs = self.attr_ve = -1
            self.tag_attr_ranges = None

    def create_xmldecl(self, declaration: bool) -> None:
        self.create_tag(True)
        self.tag_is_decl = True
        self.tag_decl_bang = declaration

    def append_tag_name(self, s: str) -> None:
        if NULL in s:
            s = s.replace(NULL, REPLACEMENT)
        self._tag_name_parts.append(s)

    def new_attribute(self) -> None:
        if self.tag_attrs is None:
            self.tag_attrs = []
        if self.attr_name:
            # Java String.trim strips only chars <= U+0020 (keeps \xa0 etc.)
            name = "".join(self.attr_name).replace(NULL, REPLACEMENT)
            name = name.strip(_JAVA_TRIM_CHARS)
            if name and len(self.tag_attrs) < 512:
                if self.attr_value is not None:
                    value = "".join(self.attr_value)
                elif self.attr_has_empty_value:
                    value = ""
                else:
                    value = None
                self.tag_attrs.append((name, value))
                if self.track and self.tag_start:
                    # stage the range (Token.trackAttributeRange,
                    # Token.java:194-200): valueless attrs (boolean OR
                    # empty-quoted) get an implicit range at name end
                    vs, ve = self.attr_vs, self.attr_ve
                    if self.attr_value is None:
                        vs = ve = self.attr_ne
                    if self.tag_attr_ranges is None:
                        self.tag_attr_ranges = []
                    self.tag_attr_ranges.append(
                        (name, self.attr_ns, self.attr_ne, vs, ve))
        self.attr_name = None
        self.attr_value = None
        self.attr_has_empty_value = False
        if self.track:
            self.attr_ns = self.attr_ne = self.attr_vs = self.attr_ve = -1

    def append_attr_name(self, s: str, start: int = -1, end: int = -1) -> None:
        if self.attr_name is None:
            self.attr_name = [s]
        else:
            self.attr_name.append(s)
        if self.track:
            # default: the chunk was just consumed, source == text length
            # (Token.attrNamePos: start latches to first, end updates)
            e = self.pos if end < 0 else end
            if self.attr_ns < 0:
                self.attr_ns = (e - len(s)) if start < 0 else start
            self.attr_ne = e

    def append_attr_value(self, s: str, start: int = -1, end: int = -1) -> None:
        if self.attr_value is None:
            self.attr_value = [s]
        else:
            self.attr_value.append(s)
        if self.track:
            e = self.pos if end < 0 else end
            if self.attr_vs < 0:
                self.attr_vs = (e - len(s)) if start < 0 else start
            self.attr_ve = e

    @property
    def tag_name(self) -> str:
        return "".join(self._tag_name_parts)

    def emit_tag(self) -> None:
        if (self.attr_name is not None or self.attr_value is not None
                or self.attr_has_empty_value):
            self.new_attribute()
        if self.tag_is_decl:
            tok = XmlDecl(self.tag_name, self.tag_attrs,
                          self.tag_self_closing, self.tag_decl_bang)
        elif self.tag_start:
            tok = StartTag(self.tag_name, self.tag_attrs, self.tag_self_closing)
        else:
            tok = EndTag(self.tag_name, self.tag_attrs, self.tag_self_closing)
        if self.tag_attr_ranges is not None:
            tok.attr_ranges = self.tag_attr_ranges
            self.tag_attr_ranges = None
        self._emit_tok(tok)

    def create_comment(self, bogus: bool = False) -> None:
        self.comment = []
        self.comment_bogus = bogus

    def emit_comment(self) -> None:
        self._emit_tok(Comment("".join(self.comment), self.comment_bogus))
        self.comment = None

    def create_doctype(self) -> None:
        self.doctype = Doctype()

    def emit_doctype(self) -> None:
        self._emit_tok(self.doctype)
        self.doctype = None

    # --- appropriate end tag ---
    def appropriate_end(self) -> str | None:
        return self.last_start

    def is_appropriate_end(self) -> bool:
        return self.last_start is not None and self.tag_name.lower() == self.last_start

    def contains_close_ahead(self) -> bool:
        if self.last_start is None:
            return False
        if self.s_lower is None:
            self.s_lower = self.s.lower()
        return self.s_lower.find("</" + self.last_start, self.pos) != -1

    # --- charref ---
    def consume_charref_tokens(self, additional: str | None, in_attr: bool) -> str | None:
        decoded, newpos = consume_charref(self.s, self.pos, additional, in_attr, self.errors)
        if decoded is not None:
            self.pos = newpos
        return decoded


# state function registry
_STATES: list = [None] * 67


def _state(idx):
    def deco(fn):
        _STATES[idx] = fn
        return fn
    return deco


def _cur(t: Tokeniser) -> str:
    return t.s[t.pos] if t.pos < t.n else EOF


def _consume(t: Tokeniser) -> str:
    # advances even at EOF (CharacterReader.consume, CharacterReader.java:277-282
    # bufPos++ unconditionally) — reader.pos() can exceed input length, which
    # source-position tracking observes
    pos = t.pos
    t.pos = pos + 1
    return t.s[pos] if pos < t.n else EOF


def _consume_to_re(t: Tokeniser, pattern) -> str:
    m = pattern.search(t.s, t.pos)
    if m is None:
        data = t.s[t.pos:]
        t.pos = t.n
    else:
        end = m.start()
        data = t.s[t.pos:end]
        t.pos = end
    return data


def _consume_letters(t: Tokeniser) -> str:
    m = _P_LETTERS.match(t.s, t.pos)
    if m is None:
        return ""
    t.pos = m.end()
    return m.group()


@_state(DATA)
def _data(t):
    pos = t.pos
    c = t.s[pos] if pos < t.n else EOF
    if c == "&":
        # fused entity/text run: keep consuming charrefs and plain text in
        # this one state call until hitting < / NUL / EOF — identical emit
        # sequence to re-entering Data per charref, minus the dispatch
        s = t.s
        n = t.n
        errors = t.errors
        emit = t._emit_str
        while True:
            decoded, newpos = consume_charref(s, t.pos + 1, None, False,
                                              errors)
            if decoded is None:
                t.pos += 1
                emit("&")
            else:
                t.pos = newpos
                emit(decoded)
            m = _P_DATA.search(s, t.pos)
            end = m.start() if m is not None else n
            if end > t.pos:
                data = s[t.pos:end]
                t.pos = end  # advance BEFORE emit: char_end latches t.pos
                emit(data)
            if end >= n or s[end] != "&":
                return
    elif c == "<":
        s = t.s
        n = t.n
        if not t.track:
            # whole-tag fast path + token batching (see the _A_* pattern
            # block above for the safety proof). Each committed iteration
            # queues [pending text as one coalesced Character][fast tag];
            # text is consumed ONLY when the tag that follows it is fast,
            # so a bail always leaves the stream exactly where the state
            # machine expects it and char-run coalescing is unbroken.
            # Batching stops after any tag that can change the tokeniser
            # state (rawtext/rcdata/plaintext elements, self-closing) and
            # caps the queue length.
            if _C is not None and t.custom_flags is None:
                toks, endp, ms, ls = _C.scan(s, pos, t.errors)
                if toks:
                    chars = t._chars
                    q = t._queue
                    if chars:  # pending text precedes the first tag
                        ct = Character("".join(chars))
                        ct.start_pos = t.char_run_start
                        ct.end_pos = t.char_end
                        chars.clear()
                        q.append(ct)
                    q.extend(toks)
                    t.pos = endp
                    t.markup_start = ms
                    t.char_start = endp
                    if ls is not None:
                        t.last_start = ls
                    return
            q = t._queue
            chars = t._chars
            tag_cache = _TAG_CACHE
            count = 0
            end2 = pos
            p2 = pos
            while True:
                nxt = s[end2 + 1] if end2 + 1 < n else ""
                tok = None
                if "a" <= nxt <= "z" or "A" <= nxt <= "Z" or nxt == "/":
                    # exact-span tag cache: corpora repeat identical tag
                    # bytes; key = substring to the FIRST '>'. Safe: if
                    # that '>' sits inside a quoted value, the prefix has
                    # an unterminated quote, which can never fast-parse,
                    # so it is never stored — prefix keys always miss.
                    gt = s.find(">", end2 + 2, end2 + 258)
                    if gt != -1:
                        hit = tag_cache.get(s[end2:gt + 1])
                        if hit is not None:
                            cls, nm, normal, attrs, sc = hit
                            tok = cls.__new__(cls)
                            tok.name = nm
                            tok.normal = normal
                            tok.attrs = attrs  # read-only downstream
                            tok.self_closing = sc
                            tok.attr_ranges = None
                            tend = gt + 1
                if tok is None and ("a" <= nxt <= "z" or "A" <= nxt <= "Z"):
                    m = _P_FAST_SIMPLE.match(s, end2)
                    if m is not None:
                        tok = StartTag(m.group(1), None, m.group(2) == "/")
                        tend = m.end()
                    else:
                        pair = _fast_attr_tag(t, s, end2)
                        if pair is not None:
                            tok, tend = pair
                    if tok is not None and tend - end2 <= 257 \
                            and len(tag_cache) < 8192:
                        tag_cache[s[end2:tend]] = (
                            StartTag, tok.name, tok.normal, tok.attrs,
                            tok.self_closing)
                elif tok is None and nxt == "/":
                    m = _P_FAST_END.match(s, end2)
                    if m is not None:
                        tok = EndTag(m.group(1), None, False)
                        tend = m.end()
                        if tend - end2 <= 257 and len(tag_cache) < 8192:
                            tag_cache[s[end2:tend]] = (
                                EndTag, tok.name, tok.normal, None, False)
                if tok is None:
                    if count == 0:
                        break  # slow dispatch handles the '<' at pos
                    return  # text since p2 left unconsumed
                # commit: text segment [p2, end2) then the tag
                if end2 > p2:
                    if not chars:
                        t.char_run_start = t.char_start
                    t.char_end = end2
                    chars.append(s[p2:end2])
                if chars:
                    ct = Character("".join(chars))
                    ct.start_pos = t.char_run_start
                    ct.end_pos = t.char_end
                    chars.clear()
                    q.append(ct)
                t.markup_start = end2
                t.pos = tok.end_pos = tend
                tok.start_pos = end2
                t.char_start = tend
                q.append(tok)
                count += 1
                if tok.type == T_START:
                    t.last_start = tok.normal
                    if tok.self_closing or tok.normal in _BATCH_STOP or (
                            t.custom_flags is not None
                            and t.custom_flags(tok.normal) & _CUSTOM_STOP):
                        return
                if count >= 48:
                    return
                # find the next '<'; any other special (& NUL EOF) ends
                # the batch with the trailing text unconsumed
                p2 = tend
                m = _P_DATA.search(s, p2)
                end2 = m.start() if m is not None else n
                if end2 >= n or s[end2] != "<":
                    return
        # fused fast path for the remaining <name / </name shapes: skips
        # the TagOpen/EndTagOpen dispatch round-trips (semantics identical
        # to TokeniserState.TagOpen/EndTagOpen)
        nxt = s[pos + 1] if pos + 1 < n else ""
        t.markup_start = pos  # transition(TagOpen), Tokeniser.java:122-123
        t.pos += 1
        if "a" <= nxt <= "z" or "A" <= nxt <= "Z":
            t.create_tag(True)
            t.state = TAG_NAME
            return _tag_name(t)
        if nxt == "/":
            n2 = s[t.pos + 1] if t.pos + 1 < t.n else ""
            if "a" <= n2 <= "z" or "A" <= n2 <= "Z":
                t.pos += 1
                t.create_tag(False)
                t.state = TAG_NAME
                return _tag_name(t)
        t.state = TAG_OPEN
    elif c == NULL:
        t.error("null in data")
        t.pos += 1
        t._emit_str(NULL)  # raw null; tree builder normalizes
    elif c == EOF:
        t._emit_tok(EOFTok())
    else:
        t._emit_str(_consume_to_re(t, _P_DATA))


def _fused_text_close(t) -> bool:
    """Fused close-tag fast path for the text states (RCDATA / RAWTEXT /
    SCRIPT_DATA), at a '<': when the input is exactly the appropriate
    `</name>` (no attrs/ws/self-close, exact '>'), emit the end tag and
    return to DATA in one step instead of the 4-state LT/END_OPEN/
    END_NAME round-trip. Token stream and positions are identical: the
    normal path also leaves markup_start stale (reference parity,
    Tokeniser.java — RCDataLessthanSign never moves markupStartPos) and
    ends with emit_tag + DATA."""
    nm = t.last_start
    if nm is None:
        return False
    if not (nm.isascii() and nm.isalpha()):
        # END_NAME consumes letter sequences only: a custom text tag like
        # `x-rc` reads back as `x`, never appropriate — `</x-rc>` must
        # stay TEXT (reference TokeniserState consumeLetterSequence;
        # golden_customtags.json pins this)
        return False
    s = t.s
    pos = t.pos
    if pos + 1 >= t.n or s[pos + 1] != "/":
        return False
    end = pos + 2 + len(nm)
    if end >= t.n or s[end] != ">" or s[pos + 2:end].lower() != nm:
        return False
    t.create_tag(False)
    t.append_tag_name(s[pos + 2:end])
    t.pos = end + 1
    t.emit_tag()
    t.state = DATA
    return True


@_state(RCDATA)
def _rcdata(t):
    c = _cur(t)
    if c == "&":
        t.pos += 1
        decoded = t.consume_charref_tokens(None, False)
        t._emit_str(decoded if decoded is not None else "&")
    elif c == "<":
        if _fused_text_close(t):
            return
        t.pos += 1
        t.state = RCDATA_LT
    elif c == NULL:
        t.error("null in rcdata")
        t.pos += 1
        t._emit_str(REPLACEMENT)
    elif c == EOF:
        t._emit_tok(EOFTok())
    else:
        t._emit_str(_consume_to_re(t, _P_DATA))


def _raw_data(t, lt_state):
    c = _cur(t)
    if c == "<":
        if _fused_text_close(t):
            return
        t.pos += 1
        t.state = lt_state
    elif c == NULL:
        t.error("null in raw text")
        t.pos += 1
        t._emit_str(REPLACEMENT)
    elif c == EOF:
        t._emit_tok(EOFTok())
    else:
        t._emit_str(_consume_to_re(t, _P_RAW))


@_state(RAWTEXT)
def _rawtext(t):
    _raw_data(t, RAWTEXT_LT)


@_state(SCRIPT_DATA)
def _script_data(t):
    _raw_data(t, SD_LT)


@_state(PLAINTEXT)
def _plaintext(t):
    c = _cur(t)
    if c == NULL:
        t.error("null in plaintext")
        t.pos += 1
        t._emit_str(REPLACEMENT)
    elif c == EOF:
        t._emit_tok(EOFTok())
    else:
        t._emit_str(_consume_to_re(t, _P_PLAIN))


@_state(TAG_OPEN)
def _tag_open(t):
    c = _cur(t)
    if c == "!":
        t.pos += 1
        t.state = MARKUP_DECL_OPEN
    elif c == "/":
        t.pos += 1
        t.state = END_TAG_OPEN
    elif c == "?":
        if t.syntax == "xml":
            t.pos += 1
            t.state = MARKUP_PROC_OPEN
        else:
            t.create_comment(bogus=True)
            t.state = BOGUS_COMMENT
    elif c != EOF and _P_ASCII_ALPHA.match(c):
        t.create_tag(True)
        t.state = TAG_NAME
    else:
        t.error("unexpected after <")
        t._emit_str("<")
        t.state = DATA


@_state(END_TAG_OPEN)
def _end_tag_open(t):
    c = _cur(t)
    if c == EOF:
        t.error("eof after </")
        t._emit_str("</")
        t.state = DATA
    elif _P_ASCII_ALPHA.match(c):
        t.create_tag(False)
        t.state = TAG_NAME
    elif c == ">":
        t.error("</>")
        t.pos += 1
        t.state = DATA
    else:
        t.error("bogus end tag")
        t.create_comment(bogus=True)
        t.comment.append("/")
        t.state = BOGUS_COMMENT


@_state(TAG_NAME)
def _tag_name(t):
    # consumeTagName: stops at ws / > ; eats nulls (replaced in append)
    name = _consume_to_re(t, _P_TAGNAME)
    if name:
        t.append_tag_name(name)
    c = _consume(t)
    if c in _WS:
        t.state = BEFORE_ATTR_NAME
        return _before_attr_name(t)  # fused forward edge
    elif c == "/":
        t.state = SELF_CLOSING
    elif c == ">":
        t.emit_tag()
        t.state = DATA
    elif c == EOF:
        t.error("eof in tag name")
        t.state = DATA
    else:
        t.append_tag_name(c)


@_state(RCDATA_LT)
def _rcdata_lt(t):
    c = _cur(t)
    if c == "/":
        t.data_buf = []
        t.pos += 1
        t.state = RCDATA_END_OPEN
    elif (c != EOF and _P_ASCII_ALPHA.match(c) and t.appropriate_end() is not None
          and not t.contains_close_ahead()):
        # divergence per reference: no close tag ahead -> emit synthetic end tag
        # and break out (TokeniserState.java:188-198)
        t.create_tag(False)
        t._tag_name_parts = [t.appropriate_end()]
        t.emit_tag()
        t.state = TAG_OPEN
        t.markup_start = t.pos  # transition(TagOpen) AFTER the emit
    else:
        t._emit_str("<")
        t.state = RCDATA


@_state(RCDATA_END_OPEN)
def _rcdata_end_open(t):
    c = _cur(t)
    if c != EOF and _P_ASCII_ALPHA.match(c):
        t.create_tag(False)
        t.append_tag_name(c)
        t.data_buf.append(c)
        t.pos += 1
        t.state = RCDATA_END_NAME
    else:
        t._emit_str("</")
        t.state = RCDATA


@_state(RCDATA_END_NAME)
def _rcdata_end_name(t):
    c = _cur(t)
    if c != EOF and _P_ASCII_ALPHA.match(c):
        name = _consume_to_re(t, _P_TAGNAME)
        t.append_tag_name(name)
        t.data_buf.append(name)
        return

    def anything_else():
        t._emit_str("</" + "".join(t.data_buf))
        t.state = RCDATA

    c = _consume(t)
    if c in _WS and t.is_appropriate_end():
        t.state = BEFORE_ATTR_NAME
    elif c == "/" and t.is_appropriate_end():
        t.state = SELF_CLOSING
    elif c == ">" and t.is_appropriate_end():
        t.emit_tag()
        t.state = DATA
    else:
        # emit BEFORE unconsume (RCDATAEndTagName anythingElse: emit,
        # emit, r.unconsume()) — char-run end positions observe the order
        anything_else()
        t.pos -= 1


def _read_end_tag(t, a, b):
    c = _cur(t)
    if c != EOF and _P_ASCII_ALPHA.match(c):
        t.create_tag(False)
        t.state = a
    else:
        t._emit_str("</")
        t.state = b


def _handle_data_end_tag(t, else_state):
    c = _cur(t)
    if c != EOF and _P_ASCII_ALPHA.match(c):
        m = _P_TAGNAME.search(t.s, t.pos)
        end = m.start() if m else t.n
        name = t.s[t.pos:end]
        t.pos = end
        t.append_tag_name(name)
        t.data_buf.append(name)
        return
    needs_exit = False
    if t.is_appropriate_end() and t.pos < t.n:
        c = _consume(t)
        if c in _WS:
            t.state = BEFORE_ATTR_NAME
        elif c == "/":
            t.state = SELF_CLOSING
        elif c == ">":
            t.emit_tag()
            t.state = DATA
        else:
            t.data_buf.append(c)
            needs_exit = True
    else:
        needs_exit = True
    if needs_exit:
        t._emit_str("</" + "".join(t.data_buf))
        t.state = else_state


@_state(RAWTEXT_LT)
def _rawtext_lt(t):
    if _cur(t) == "/":
        t.data_buf = []
        t.pos += 1
        t.state = RAWTEXT_END_OPEN
    else:
        t._emit_str("<")
        t.state = RAWTEXT


@_state(RAWTEXT_END_OPEN)
def _rawtext_end_open(t):
    _read_end_tag(t, RAWTEXT_END_NAME, RAWTEXT)


@_state(RAWTEXT_END_NAME)
def _rawtext_end_name(t):
    _handle_data_end_tag(t, RAWTEXT)


@_state(SD_LT)
def _sd_lt(t):
    c = _consume(t)
    if c == "/":
        t.data_buf = []
        t.state = SD_END_OPEN
    elif c == "!":
        t._emit_str("<!")
        t.state = SD_ESC_START
    elif c == EOF:
        t._emit_str("<")
        t.error("eof after < in script")
        t.state = DATA
    else:
        t._emit_str("<")
        t.pos -= 1
        t.state = SCRIPT_DATA


@_state(SD_END_OPEN)
def _sd_end_open(t):
    _read_end_tag(t, SD_END_NAME, SCRIPT_DATA)


@_state(SD_END_NAME)
def _sd_end_name(t):
    _handle_data_end_tag(t, SCRIPT_DATA)


@_state(SD_ESC_START)
def _sd_esc_start(t):
    if _cur(t) == "-":
        t._emit_str("-")
        t.pos += 1
        t.state = SD_ESC_START_DASH
    else:
        t.state = SCRIPT_DATA


@_state(SD_ESC_START_DASH)
def _sd_esc_start_dash(t):
    if _cur(t) == "-":
        t._emit_str("-")
        t.pos += 1
        t.state = SD_ESC_DASH_DASH
    else:
        t.state = SCRIPT_DATA


@_state(SD_ESC)
def _sd_esc(t):
    if t.pos >= t.n:
        t.error("eof in script escaped")
        t.state = DATA
        return
    c = _cur(t)
    if c == "-":
        t._emit_str("-")
        t.pos += 1
        t.state = SD_ESC_DASH
    elif c == "<":
        t.pos += 1
        t.state = SD_ESC_LT
    elif c == NULL:
        t.error("null in script")
        t.pos += 1
        t._emit_str(REPLACEMENT)
    else:
        t._emit_str(_consume_to_re(t, _P_SD_ESC))


@_state(SD_ESC_DASH)
def _sd_esc_dash(t):
    if t.pos >= t.n:
        t.error("eof in script escaped")
        t.state = DATA
        return
    c = _consume(t)
    if c == "-":
        t._emit_str(c)
        t.state = SD_ESC_DASH_DASH
    elif c == "<":
        t.state = SD_ESC_LT
    elif c == NULL:
        t.error("null")
        t._emit_str(REPLACEMENT)
        t.state = SD_ESC
    else:
        t._emit_str(c)
        t.state = SD_ESC


@_state(SD_ESC_DASH_DASH)
def _sd_esc_dash_dash(t):
    if t.pos >= t.n:
        t.error("eof in script escaped")
        t.state = DATA
        return
    c = _consume(t)
    if c == "-":
        t._emit_str(c)
    elif c == "<":
        t.state = SD_ESC_LT
    elif c == ">":
        t._emit_str(c)
        t.state = SCRIPT_DATA
    elif c == NULL:
        t.error("null")
        t._emit_str(REPLACEMENT)
        t.state = SD_ESC
    else:
        t._emit_str(c)
        t.state = SD_ESC


@_state(SD_ESC_LT)
def _sd_esc_lt(t):
    c = _cur(t)
    if c != EOF and _P_ASCII_ALPHA.match(c):
        t.data_buf = [c]
        t._emit_str("<" + c)
        t.pos += 1
        t.state = SD_DBL_START
    elif c == "/":
        t.data_buf = []
        t.pos += 1
        t.state = SD_ESC_END_OPEN
    else:
        t._emit_str("<")
        t.state = SD_ESC


@_state(SD_ESC_END_OPEN)
def _sd_esc_end_open(t):
    c = _cur(t)
    if c != EOF and _P_ASCII_ALPHA.match(c):
        t.create_tag(False)
        t.append_tag_name(c)
        t.data_buf.append(c)
        t.pos += 1
        t.state = SD_ESC_END_NAME
    else:
        t._emit_str("</")
        t.state = SD_ESC


@_state(SD_ESC_END_NAME)
def _sd_esc_end_name(t):
    _handle_data_end_tag(t, SD_ESC)


def _double_escape_tag(t, primary, fallback):
    c = _cur(t)
    if c != EOF and _P_ASCII_ALPHA.match(c):
        name = _consume_letters(t)
        t.data_buf.append(name)
        t._emit_str(name)
        return
    c = _consume(t)
    if c in "\t\n\r\f />":
        t.state = primary if "".join(t.data_buf) == "script" else fallback
        t._emit_str(c)
    else:
        t.pos -= 1  # unconditional unconsume (ScriptDataDoubleEscape*)
        t.state = fallback


@_state(SD_DBL_START)
def _sd_dbl_start(t):
    _double_escape_tag(t, SD_DBL, SD_ESC)


@_state(SD_DBL)
def _sd_dbl(t):
    c = _cur(t)
    if c == "-":
        t._emit_str(c)
        t.pos += 1
        t.state = SD_DBL_DASH
    elif c == "<":
        t._emit_str(c)
        t.pos += 1
        t.state = SD_DBL_LT
    elif c == NULL:
        t.error("null")
        t.pos += 1
        t._emit_str(REPLACEMENT)
    elif c == EOF:
        t.error("eof in script")
        t.state = DATA
    else:
        t._emit_str(_consume_to_re(t, _P_SD_ESC))


@_state(SD_DBL_DASH)
def _sd_dbl_dash(t):
    c = _consume(t)
    if c == "-":
        t._emit_str(c)
        t.state = SD_DBL_DASH_DASH
    elif c == "<":
        t._emit_str(c)
        t.state = SD_DBL_LT
    elif c == NULL:
        t.error("null")
        t._emit_str(REPLACEMENT)
        t.state = SD_DBL
    elif c == EOF:
        t.error("eof")
        t.state = DATA
    else:
        t._emit_str(c)
        t.state = SD_DBL


@_state(SD_DBL_DASH_DASH)
def _sd_dbl_dash_dash(t):
    c = _consume(t)
    if c == "-":
        t._emit_str(c)
    elif c == "<":
        t._emit_str(c)
        t.state = SD_DBL_LT
    elif c == ">":
        t._emit_str(c)
        t.state = SCRIPT_DATA
    elif c == NULL:
        t.error("null")
        t._emit_str(REPLACEMENT)
        t.state = SD_DBL
    elif c == EOF:
        t.error("eof")
        t.state = DATA
    else:
        t._emit_str(c)
        t.state = SD_DBL


@_state(SD_DBL_LT)
def _sd_dbl_lt(t):
    if _cur(t) == "/":
        t._emit_str("/")
        t.data_buf = []
        t.pos += 1
        t.state = SD_DBL_END
    else:
        t.state = SD_DBL


@_state(SD_DBL_END)
def _sd_dbl_end(t):
    _double_escape_tag(t, SD_ESC, SD_DBL)


@_state(BEFORE_ATTR_NAME)
def _before_attr_name(t):
    c = _consume(t)
    if c in _WS:
        return
    if c == "/":
        t.state = SELF_CLOSING
    elif c == ">":
        t.emit_tag()
        t.state = DATA
    elif c == NULL:
        t.pos -= 1
        t.error("null before attr name")
        t.new_attribute()
        t.state = ATTR_NAME
    elif c == EOF:
        t.error("eof before attr name")
        t.state = DATA
    elif c in "\"'=":
        t.error("bad char in attr name")
        t.new_attribute()
        t.append_attr_name(c)
        t.state = ATTR_NAME
    elif c == "?" and t.tag_is_decl and not t.tag_decl_bang:
        return
    else:
        t.new_attribute()
        t.pos -= 1
        t.state = ATTR_NAME
        return _attr_name(t)  # fused forward edge


@_state(ATTR_NAME)
def _attr_name(t):
    name = _consume_to_re(t, _P_ATTRNAME)
    if name:
        t.append_attr_name(name)
    c = _consume(t)
    if c in _WS:
        t.state = AFTER_ATTR_NAME
    elif c == "/":
        t.state = SELF_CLOSING
    elif c == "=":
        t.state = BEFORE_ATTR_VALUE
        return _before_attr_value(t)  # fused forward edge
    elif c == ">":
        t.emit_tag()
        t.state = DATA
    elif c == EOF:
        t.error("eof in attr name")
        t.state = DATA
    elif c in "\"'<":
        t.error("bad char in attr name")
        t.append_attr_name(c)
    elif c == "?" and t.syntax == "xml" and t.tag_is_decl:
        t.state = AFTER_ATTR_NAME
    else:
        t.append_attr_name(c)


@_state(AFTER_ATTR_NAME)
def _after_attr_name(t):
    c = _consume(t)
    if c in _WS:
        return
    if c == "/":
        t.state = SELF_CLOSING
    elif c == "=":
        t.state = BEFORE_ATTR_VALUE
    elif c == ">":
        t.emit_tag()
        t.state = DATA
    elif c == NULL:
        t.error("null")
        t.append_attr_name(REPLACEMENT)
        t.state = ATTR_NAME
    elif c == EOF:
        t.error("eof")
        t.state = DATA
    elif c in "\"'<":
        t.error("bad char")
        t.new_attribute()
        t.append_attr_name(c)
        t.state = ATTR_NAME
    else:
        t.new_attribute()
        t.pos -= 1
        t.state = ATTR_NAME


@_state(BEFORE_ATTR_VALUE)
def _before_attr_value(t):
    c = _consume(t)
    if c in _WS:
        return
    if c == '"':
        t.state = ATTR_VALUE_DQ
        return _attr_value_quoted(t, _P_ATTRVAL_DQ, '"')  # fused
    elif c == "&":
        t.pos -= 1
        t.state = ATTR_VALUE_UQ
    elif c == "'":
        t.state = ATTR_VALUE_SQ
        return _attr_value_quoted(t, _P_ATTRVAL_SQ, "'")  # fused
    elif c == NULL:
        t.error("null")
        t.append_attr_value(REPLACEMENT)
        t.state = ATTR_VALUE_UQ
    elif c == EOF:
        t.error("eof")
        t.emit_tag()
        t.state = DATA
    elif c == ">":
        t.error("> before attr value")
        t.emit_tag()
        t.state = DATA
    elif c in "<=`":
        t.error("bad char before attr value")
        t.append_attr_value(c)
        t.state = ATTR_VALUE_UQ
    else:
        t.pos -= 1
        t.state = ATTR_VALUE_UQ


def _attr_value_quoted(t, pattern, quote):
    value = _consume_to_re(t, pattern)
    if value:
        t.append_attr_value(value)
    else:
        t.attr_has_empty_value = True
    c = _consume(t)
    if c == quote:
        t.state = AFTER_ATTR_VALUE_Q
    elif c == "&":
        amp = t.pos - 1
        decoded = t.consume_charref_tokens(quote, True)
        # decoded text length != source length: pass explicit range
        t.append_attr_value(decoded if decoded is not None else "&",
                            amp, t.pos)
    elif c == NULL:
        t.error("null in attr value")
        t.append_attr_value(REPLACEMENT)
    elif c == EOF:
        t.error("eof in attr value")
        t.state = DATA


@_state(ATTR_VALUE_DQ)
def _attr_value_dq(t):
    _attr_value_quoted(t, _P_ATTRVAL_DQ, '"')


@_state(ATTR_VALUE_SQ)
def _attr_value_sq(t):
    _attr_value_quoted(t, _P_ATTRVAL_SQ, "'")


@_state(ATTR_VALUE_UQ)
def _attr_value_uq(t):
    value = _consume_to_re(t, _P_ATTRVAL_UQ)
    if value:
        t.append_attr_value(value)
    c = _consume(t)
    if c in _WS:
        t.state = BEFORE_ATTR_NAME
    elif c == "&":
        amp = t.pos - 1
        decoded = t.consume_charref_tokens(">", True)
        t.append_attr_value(decoded if decoded is not None else "&",
                            amp, t.pos)
    elif c == ">":
        t.emit_tag()
        t.state = DATA
    elif c == NULL:
        t.error("null")
        t.append_attr_value(REPLACEMENT)
    elif c == EOF:
        t.error("eof")
        t.state = DATA
    else:
        t.error("bad char in unquoted attr value")
        t.append_attr_value(c)


@_state(AFTER_ATTR_VALUE_Q)
def _after_attr_value_q(t):
    c = _consume(t)
    if c in _WS:
        t.state = BEFORE_ATTR_NAME
    elif c == "/":
        t.state = SELF_CLOSING
    elif c == ">":
        t.emit_tag()
        t.state = DATA
    elif c == EOF:
        t.error("eof")
        t.state = DATA
    elif c == "?" and t.tag_is_decl and not t.tag_decl_bang:
        return
    else:
        t.pos -= 1
        t.error("missing space after attr value")
        t.state = BEFORE_ATTR_NAME


@_state(SELF_CLOSING)
def _self_closing(t):
    c = _consume(t)
    if c == ">":
        t.tag_self_closing = True
        t.emit_tag()
        t.state = DATA
    elif c == EOF:
        t.error("eof in self-closing tag")
        t.state = DATA
    else:
        t.pos -= 1
        t.error("bad char after /")
        t.state = BEFORE_ATTR_NAME


@_state(BOGUS_COMMENT)
def _bogus_comment(t):
    end = t.s.find(">", t.pos)
    if end == -1:
        t.comment.append(t.s[t.pos:])
        # consume() past EOF like the reference (BogusComment: r.consume()
        # on eof) — reader.pos() ends at n+1, observed by position tracking
        t.pos = t.n + 1
    else:
        t.comment.append(t.s[t.pos:end])
        t.pos = end + 1
    t.emit_comment()
    t.state = DATA


@_state(MARKUP_DECL_OPEN)
def _markup_decl_open(t):
    s, pos = t.s, t.pos
    if s.startswith("--", pos):
        t.pos += 2
        t.create_comment()
        t.state = COMMENT_START
    elif s[pos:pos + 7].upper() == "DOCTYPE":
        t.pos += 7
        t.state = DOCTYPE_ST
    elif s.startswith("[CDATA[", pos):
        t.pos += 7
        if t.cdata_allowed():
            t.data_buf = []
            t.state = CDATA_SECTION
        else:
            t.error("cdata outside foreign content")
            t.create_comment(bogus=True)
            t.comment.append("[CDATA[")
            t.state = BOGUS_COMMENT
    elif t.syntax == "xml" and pos < t.n and _P_ASCII_ALPHA.match(s[pos]):
        t.create_xmldecl(True)
        t.state = TAG_NAME
    else:
        t.error("bogus markup declaration")
        t.create_comment(bogus=True)
        t.state = BOGUS_COMMENT


@_state(MARKUP_PROC_OPEN)
def _markup_proc_open(t):
    c = _cur(t)
    if c != EOF and _P_ASCII_ALPHA.match(c):
        t.create_xmldecl(False)
        t.state = TAG_NAME
    else:
        t.error("bogus processing instruction")
        t.create_comment(bogus=True)
        t.comment.append("?")
        t.state = BOGUS_COMMENT


@_state(COMMENT_START)
def _comment_start(t):
    c = _consume(t)
    if c == "-":
        t.state = COMMENT_START_DASH
    elif c == NULL:
        t.error("null")
        t.comment.append(REPLACEMENT)
        t.state = COMMENT
    elif c == ">":
        t.error("empty comment")
        t.emit_comment()
        t.state = DATA
    elif c == EOF:
        t.error("eof in comment")
        t.emit_comment()
        t.state = DATA
    else:
        t.pos -= 1
        t.state = COMMENT


@_state(COMMENT_START_DASH)
def _comment_start_dash(t):
    c = _consume(t)
    if c == "-":
        t.state = COMMENT_END
    elif c == NULL:
        t.error("null")
        t.comment.append(REPLACEMENT)
        t.state = COMMENT
    elif c == ">":
        t.error("empty comment")
        t.emit_comment()
        t.state = DATA
    elif c == EOF:
        t.error("eof in comment")
        t.emit_comment()
        t.state = DATA
    else:
        t.comment.append(c)
        t.state = COMMENT


@_state(COMMENT)
def _comment(t):
    c = _cur(t)
    if c == "-":
        t.pos += 1
        t.state = COMMENT_END_DASH
    elif c == NULL:
        t.error("null in comment")
        t.pos += 1
        t.comment.append(REPLACEMENT)
    elif c == EOF:
        t.error("eof in comment")
        t.emit_comment()
        t.state = DATA
    else:
        t.comment.append(_consume_to_re(t, _P_COMMENT))


@_state(COMMENT_END_DASH)
def _comment_end_dash(t):
    c = _consume(t)
    if c == "-":
        t.state = COMMENT_END
    elif c == NULL:
        t.error("null")
        t.comment.append("-" + REPLACEMENT)
        t.state = COMMENT
    elif c == EOF:
        t.error("eof in comment")
        t.emit_comment()
        t.state = DATA
    else:
        t.comment.append("-")
        t.comment.append(c)
        t.state = COMMENT


@_state(COMMENT_END)
def _comment_end(t):
    c = _consume(t)
    if c == ">":
        t.emit_comment()
        t.state = DATA
    elif c == NULL:
        t.error("null")
        t.comment.append("--" + REPLACEMENT)
        t.state = COMMENT
    elif c == "!":
        t.state = COMMENT_END_BANG
    elif c == "-":
        t.comment.append("-")
    elif c == EOF:
        t.error("eof in comment")
        t.emit_comment()
        t.state = DATA
    else:
        t.comment.append("--")
        t.comment.append(c)
        t.state = COMMENT


@_state(COMMENT_END_BANG)
def _comment_end_bang(t):
    c = _consume(t)
    if c == "-":
        t.comment.append("--!")
        t.state = COMMENT_END_DASH
    elif c == ">":
        t.emit_comment()
        t.state = DATA
    elif c == NULL:
        t.error("null")
        t.comment.append("--!" + REPLACEMENT)
        t.state = COMMENT
    elif c == EOF:
        t.error("eof in comment")
        t.emit_comment()
        t.state = DATA
    else:
        t.comment.append("--!")
        t.comment.append(c)
        t.state = COMMENT


@_state(DOCTYPE_ST)
def _doctype_st(t):
    c = _consume(t)
    if c in _WS:
        t.state = BEFORE_DT_NAME
    elif c in (">", EOF):
        if c == EOF:
            t.error("eof in doctype")
        t.error("invalid doctype")
        t.create_doctype()
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    else:
        # char is consumed and dropped (TokeniserState Doctype default)
        t.error("missing space before doctype name")
        t.state = BEFORE_DT_NAME


@_state(BEFORE_DT_NAME)
def _before_dt_name(t):
    c = _cur(t)
    if c != EOF and _P_ASCII_ALPHA.match(c):
        t.create_doctype()
        t.state = DT_NAME
        return
    c = _consume(t)
    if c in _WS:
        return
    if c == NULL:
        t.error("null")
        t.create_doctype()
        t.doctype.name = REPLACEMENT
        t.state = DT_NAME
    elif c == EOF:
        t.error("eof in doctype")
        t.create_doctype()
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    else:
        t.create_doctype()
        t.doctype.name = c
        t.state = DT_NAME


@_state(DT_NAME)
def _dt_name(t):
    c = _cur(t)
    if c != EOF and _P_ASCII_ALPHA.match(c):
        t.doctype.name += _consume_letters(t)
        return
    c = _consume(t)
    if c == ">":
        t.emit_doctype()
        t.state = DATA
    elif c in _WS:
        t.state = AFTER_DT_NAME
    elif c == NULL:
        t.error("null")
        t.doctype.name += REPLACEMENT
    elif c == EOF:
        t.error("eof in doctype")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    else:
        t.doctype.name += c


@_state(AFTER_DT_NAME)
def _after_dt_name(t):
    if t.pos >= t.n:
        t.error("eof in doctype")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
        return
    c = _cur(t)
    if c in _WS:
        t.pos += 1
        return
    if c == ">":
        # emit BEFORE advancing (TokeniserState AfterDoctypeName:
        # emitDoctypePending(); advanceTransition(Data)) — position
        # tracking observes the order
        t.emit_doctype()
        t.pos += 1
        t.state = DATA
    elif c == "[" and t.syntax == "xml":
        t.pos += 1
        t.doctype.internal_subset = ""
        t.state = DT_INTERNAL_SUBSET
    elif t.s[t.pos:t.pos + 6].upper() == "PUBLIC":
        t.pos += 6
        t.doctype.pub_sys_key = "PUBLIC"
        t.state = AFTER_DT_PUBLIC_KW
    elif t.s[t.pos:t.pos + 6].upper() == "SYSTEM":
        t.pos += 6
        t.doctype.pub_sys_key = "SYSTEM"
        t.state = AFTER_DT_SYSTEM_KW
    else:
        t.error("unexpected in doctype")
        t.doctype.force_quirks = True
        t.pos += 1
        t.state = BOGUS_DOCTYPE


@_state(AFTER_DT_PUBLIC_KW)
def _after_dt_public_kw(t):
    c = _consume(t)
    if c in _WS:
        t.state = BEFORE_DT_PUBLIC_ID
    elif c == '"':
        t.error("unexpected quote")
        t.state = DT_PUBLIC_DQ
    elif c == "'":
        t.error("unexpected quote")
        t.state = DT_PUBLIC_SQ
    elif c == ">":
        t.error("unexpected >")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    elif c == EOF:
        t.error("eof")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    else:
        t.error("unexpected char")
        t.doctype.force_quirks = True
        t.state = BOGUS_DOCTYPE


@_state(BEFORE_DT_PUBLIC_ID)
def _before_dt_public_id(t):
    c = _consume(t)
    if c in _WS:
        return
    if c == '"':
        t.state = DT_PUBLIC_DQ
    elif c == "'":
        t.state = DT_PUBLIC_SQ
    elif c == ">":
        t.error("unexpected >")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    elif c == EOF:
        t.error("eof")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    else:
        t.error("unexpected char")
        t.doctype.force_quirks = True
        t.state = BOGUS_DOCTYPE


_P_DT_ID_DQ = re.compile('[">\x00]')
_P_DT_ID_SQ = re.compile("['>\x00]")


def _dt_identifier(t, quote, which, after_state):
    pattern = _P_DT_ID_DQ if quote == '"' else _P_DT_ID_SQ
    parts = []
    while True:
        chunk = _consume_to_re(t, pattern)
        parts.append(chunk)
        c = _consume(t)
        if c == quote:
            t.state = after_state
            break
        if c == NULL:
            t.error("null in doctype identifier")
            parts.append(REPLACEMENT)
            continue
        # '>' or EOF: error, force quirks, emit
        t.error("unexpected end of doctype identifier")
        t.doctype.force_quirks = True
        val = "".join(parts)
        if which == "public":
            t.doctype.public_id += val
        else:
            t.doctype.system_id += val
        t.emit_doctype()
        t.state = DATA
        return
    val = "".join(parts)
    if which == "public":
        t.doctype.public_id += val
    else:
        t.doctype.system_id += val


@_state(DT_PUBLIC_DQ)
def _dt_public_dq(t):
    _dt_identifier(t, '"', "public", AFTER_DT_PUBLIC_ID)


@_state(DT_PUBLIC_SQ)
def _dt_public_sq(t):
    _dt_identifier(t, "'", "public", AFTER_DT_PUBLIC_ID)


@_state(AFTER_DT_PUBLIC_ID)
def _after_dt_public_id(t):
    c = _consume(t)
    if c in _WS:
        t.state = BETWEEN_DT_PUB_SYS
    elif c == ">":
        t.emit_doctype()
        t.state = DATA
    elif c == '"':
        t.error("unexpected quote")
        t.state = DT_SYSTEM_DQ
    elif c == "'":
        t.error("unexpected quote")
        t.state = DT_SYSTEM_SQ
    elif c == EOF:
        t.error("eof")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    else:
        t.error("unexpected char")
        t.doctype.force_quirks = True
        t.state = BOGUS_DOCTYPE


@_state(BETWEEN_DT_PUB_SYS)
def _between_dt_pub_sys(t):
    c = _consume(t)
    if c in _WS:
        return
    if c == ">":
        t.emit_doctype()
        t.state = DATA
    elif c == '"':
        t.state = DT_SYSTEM_DQ
    elif c == "'":
        t.state = DT_SYSTEM_SQ
    elif c == "[":
        if t.syntax == "xml":
            t.doctype.internal_subset = ""
            t.state = DT_INTERNAL_SUBSET
        else:
            # error + force quirks, stay in state
            # (BetweenDoctypePublicAndSystemIdentifiers '[')
            t.error("unexpected [ in doctype")
            t.doctype.force_quirks = True
    elif c == EOF:
        t.error("eof")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    else:
        t.error("unexpected char")
        t.doctype.force_quirks = True
        t.state = BOGUS_DOCTYPE


@_state(AFTER_DT_SYSTEM_KW)
def _after_dt_system_kw(t):
    c = _consume(t)
    if c in _WS:
        t.state = BEFORE_DT_SYSTEM_ID
    elif c == ">":
        t.error("unexpected >")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    elif c == '"':
        t.error("unexpected quote")
        t.state = DT_SYSTEM_DQ
    elif c == "'":
        t.error("unexpected quote")
        t.state = DT_SYSTEM_SQ
    elif c == EOF:
        t.error("eof")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    else:
        t.error("unexpected char")
        t.doctype.force_quirks = True
        t.state = BOGUS_DOCTYPE


@_state(BEFORE_DT_SYSTEM_ID)
def _before_dt_system_id(t):
    c = _consume(t)
    if c in _WS:
        return
    if c == '"':
        t.state = DT_SYSTEM_DQ
    elif c == "'":
        t.state = DT_SYSTEM_SQ
    elif c == ">":
        t.error("unexpected >")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    elif c == EOF:
        t.error("eof")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    else:
        t.error("unexpected char")
        t.doctype.force_quirks = True
        t.state = BOGUS_DOCTYPE


@_state(DT_SYSTEM_DQ)
def _dt_system_dq(t):
    _dt_identifier(t, '"', "system", AFTER_DT_SYSTEM_ID)


@_state(DT_SYSTEM_SQ)
def _dt_system_sq(t):
    _dt_identifier(t, "'", "system", AFTER_DT_SYSTEM_ID)


@_state(AFTER_DT_SYSTEM_ID)
def _after_dt_system_id(t):
    c = _consume(t)
    if c in _WS:
        return
    if c == ">":
        t.emit_doctype()
        t.state = DATA
    elif c == "[" and t.syntax == "xml":
        t.doctype.internal_subset = ""
        t.state = DT_INTERNAL_SUBSET
    elif c == EOF:
        t.error("eof")
        t.doctype.force_quirks = True
        t.emit_doctype()
        t.state = DATA
    else:
        t.error("unexpected char")
        t.state = BOGUS_DOCTYPE  # NOT force quirks (spec)


_P_DTIS = re.compile("['\"<\\-?\\]\x00]")
_P_WS_RUN = re.compile("[ \t\n\f\r]+")


@_state(DT_INTERNAL_SUBSET)
def _dt_internal_subset(t):
    """XML doctype internal subset: raw capture incl. quoted strings,
    comments, and PIs; terminates at ']' ws* '>'
    (readDoctypeInternalSubset, TokeniserState.java:1821-1896)."""
    NONE, SQ, DQ, COM, PI = 0, 1, 2, 3, 4
    ctx = NONE
    parts = [t.doctype.internal_subset or ""]
    s = t.s
    while True:
        run = _consume_to_re(t, _P_DTIS)
        if run:
            parts.append(run)
        c = _consume(t)
        if c == "'":
            parts.append(c)
            if ctx == NONE:
                ctx = SQ
            elif ctx == SQ:
                ctx = NONE
        elif c == '"':
            parts.append(c)
            if ctx == NONE:
                ctx = DQ
            elif ctx == DQ:
                ctx = NONE
        elif c == "<":
            parts.append(c)
            if ctx == NONE:
                if s.startswith("!--", t.pos):
                    t.pos += 3
                    parts.append("!--")
                    ctx = COM
                elif s.startswith("?", t.pos):
                    t.pos += 1
                    parts.append("?")
                    ctx = PI
        elif c == "-":
            parts.append(c)
            if ctx == COM and s.startswith("->", t.pos):
                t.pos += 2
                parts.append("->")
                ctx = NONE
        elif c == "?":
            parts.append(c)
            if ctx == PI and t.pos < t.n and s[t.pos] == ">":
                t.pos += 1
                parts.append(">")
                ctx = NONE
        elif c == "]":
            if ctx == NONE:
                m = _P_WS_RUN.match(s, t.pos)
                ws = m.group() if m else ""
                t.pos += len(ws)
                if t.pos < t.n and s[t.pos] == ">":
                    t.pos += 1
                    t.doctype.internal_subset = "".join(parts)
                    t.emit_doctype()
                    t.state = DATA
                    return
                parts.append(c)
                parts.append(ws)
            else:
                parts.append(c)
        elif c == NULL:
            t.error("null in doctype internal subset")
            parts.append(REPLACEMENT)
        elif c == EOF:
            t.error("eof in doctype internal subset")
            t.doctype.internal_subset = "".join(parts)
            t.emit_doctype()
            t.state = DATA
            return
        else:
            parts.append(c)


@_state(BOGUS_DOCTYPE)
def _bogus_doctype(t):
    end = t.s.find(">", t.pos)
    if end == -1:
        # consume() past EOF like the reference's per-char loop
        # (BogusDoctype: case eof reached via r.consume())
        t.pos = t.n + 1
    else:
        t.pos = end + 1
    t.emit_doctype()
    t.state = DATA


@_state(CDATA_SECTION)
def _cdata_section(t):
    end = t.s.find("]]>", t.pos)
    if end == -1:
        t.data_buf.append(t.s[t.pos:])
        t.pos = t.n
    else:
        t.data_buf.append(t.s[t.pos:end])
        t.pos = end + 3
    t._emit_tok(CData("".join(t.data_buf)))
    t.state = DATA
