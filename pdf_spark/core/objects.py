"""COS object model, the one PDF token table, and the object parsers.

**The token table.** ``TOKEN_RE`` is one compiled alternation with one
capture group per token kind (``id gen R``, number, name, ``<< >> [ ]``,
simple string, hex string, ``true/false/null``, operator run, and a
catch-all ``bad``); see its comment for the grammar. Both lexers use it:

- ``parse_indirect_at`` / ``parse_direct_at`` (indirect objects, ObjStm
  members, trailers): one ``findall`` per object body, bounded by its
  ``endobj``/``stream`` keyword (or the trailer's ``startxref``, the next
  ObjStm member), and ``_settle`` builds the value with an explicit
  container stack. A stream is read when the top-level dict closes.
  A body whose exact bytes recur is served from ``_BODY_MEMO`` in fresh
  containers (see its comment).
- ``content.parse_content_stream``: one ``findall`` per window of a
  content stream.

**Two oracles.** Whatever the table cannot settle (a ``bad`` token, an
escaped or nested string, an empty name or string, i32 overflow, a
missing ``endobj``, a ``%`` in the range) is re-parsed from its start by
the recursive-descent ``ObjectParser`` below, so values and error codes
match it by construction; ``tests/test_cos_scanner.py`` holds the
scanner to it (value, error code, end offset).
``content.parse_content_stream_slow`` is the content scanner's oracle in
the same way.

``ObjectParser`` reimplements (from public PDF-spec knowledge + observed
behavior of the reference) the object layer of the reference's
``libs/pdf/src/object.c``:

- dispatch on first byte(s): ``t/f``→bool, digit→indirect-or-number with
  bounded backtrack, ``(``→string, ``<``→hex string, ``<<``→dict, ``/``→name,
  ``[``→array, ``n``→null            (object.c:65-134)
- number: sign + digits + optional ``.`` fraction; int vs real decided by the
  presence of ``.``                   (object.c:226-346)
- string literal: balanced parens, ``\\n \\r \\t \\b \\f \\( \\) \\\\`` escapes
  (object.c:348-467). DIVERGENCE: we additionally implement octal escapes and
  backslash-EOL continuation per the PDF spec — the reference panics on octal
  (object.c:451); none of the parity corpus uses them.
- hex string: whitespace-tolerant pairs, odd trailing digit = high nibble
  (object.c:484-552)
- name: ``/`` + regular chars with ``#xx`` escapes, chars in ``!``..``~``
  (object.c:554-651)
- array/dict: insertion order kept; duplicate dict keys → FIRST wins
  (lookup is a linear scan from the front, object.c:929-945)
- stream: dict + ``stream`` keyword + EOL, ``Length``-bounded slice (Length
  may be an indirect ref), ``endstream``   (object.c:775-849)
- indirect object/ref: ``id gen obj … endobj`` vs ``id gen R`` with
  backtrack-to-number fallback        (object.c:851-926)

Character classes follow ctx.c:418-433 (whitespace = NUL TAB LF FF CR SP;
delimiters = ``()<>[]{}/%``). DIVERGENCE: ``%`` comments are skipped as
whitespace (PDF spec 7.2.4); the reference never encounters comments inside
parsed regions, so this is strictly more permissive.
"""

from __future__ import annotations

import re
from typing import Any, Optional

from pdf_spark.core.errors import (
    INCORRECT_TYPE,
    INVALID_OBJECT,
    MISSING_KEY,
    NAME_BAD_CHAR_CODE,
    UNBALANCED_STR,
    PdfError,
)

# -- character classes (ctx.c:418-433) ---------------------------------------

WHITESPACE = b"\x00\t\n\x0c\r "
DELIMITERS = b"()<>[]{}/%"

# whitespace run, optionally interleaved with %-comments
WS_ATOM = rb"[\x00\t\n\x0c\r\x20]+|%[^\r\n]*"
_WS_RE = re.compile(b"(?:" + WS_ATOM + b")+")
_WS_OR_PCT = frozenset(b"\x00\t\n\x0c\r %")
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_INT_RE = re.compile(rb"\d+")
# `id gen obj` header in one shot
_INDOBJ_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]|%[^\r\n]*[\r\n])*(\d+)"
    rb"(?:[\x00\t\n\x0c\r ]|%[^\r\n]*[\r\n])+(\d+)"
    rb"(?:[\x00\t\n\x0c\r ]|%[^\r\n]*[\r\n])+obj"
    rb"(?![^\x00\t\n\x0c\r ()<>\[\]{}/%])"
)
# run of regular characters (not whitespace, not delimiter)
_REG_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+")
_HEX_RE = re.compile(rb"[0-9a-fA-F]")
_EOL_RE = re.compile(rb"\r\n|\n|\r")

# -- the token table ------------------------------------------------------------

# `id gen R` separator: whitespace, or a comment that ends at an EOL
_REF_SEP = rb"(?:[\x00\t\n\x0c\r ]|%[^\r\n]*[\r\n])+"
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"

# The one token table of the COS and content-stream lexers. Every match is
# ONE token with exactly one kind group set, and every capture a token can
# make is non-empty, so a ``findall`` tuple names its kind by which field
# is truthy. Ordered alternatives:
#   rid/rgen  ``id gen R``; a number never swallows a ref's first integer
#   num       sign, digits, optional fraction; int vs real by the ``.``
#   name      ``/`` + regular chars (``#xx`` undecoded); an empty name is bad
#   punct     ``<<`` ``>>`` ``[`` ``]``
#   sstr      a literal string with no escape, no nested paren, non-empty
#   hstr      a hex string body (hex digits and whitespace), non-empty
#   kw        ``true`` ``false`` ``null``, delimited
#   op        a ``'``/``"`` singleton, else a run of regular chars
#   bad       anything else: the REST of the searched range, so a
#             findall stops there and ``endpos - len(bad)`` is its offset
# The ``id gen R`` runs are possessive only for speed (no run could give
# back a byte the next part accepts). The whitespace/comment prefix MUST
# be possessive: a backtrackable one could shorten a %-comment and lex
# phantom tokens out of the comment text when the next real token matches
# no alternative. A last empty alternative matches at the end of the
# range: trailing whitespace yields one all-empty tuple, never a rescan
# per byte.
TOKEN_RE = re.compile(
    rb"[\x00\t\n\x0c\r\x20]*+(?:%[^\r\n]*[\x00\t\n\x0c\r\x20]*+)*+"
    + rb"(?:(?P<rid>\d++)" + _REF_SEP + rb"+(?P<rgen>\d++)" + _REF_SEP
    + b"+R(?!" + _REGULAR + b")"
    + rb"""
    | (?P<num>[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+))
    | /(?P<name>[^\x00\t\n\x0c\r\x20()<>\[\]{}/%]+)
    | (?P<punct><<|>>|\[|\])
    | \((?P<sstr>[^()\\]+)\)
    | <(?P<hstr>[0-9a-fA-F\x00\t\n\x0c\r\x20]+)>
    | (?P<kw>true|false|null)(?![^\x00\t\n\x0c\r\x20()<>\[\]{}/%])
    | (?P<op>['"]|[^\x00\t\n\x0c\r\x20()<>\[\]{}/%]+)
    | (?P<bad>(?s:.+))
    | \Z
    )""",
    re.X,
)

_STR_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\b",
    ord("f"): b"\x0c",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}


# -- object model -------------------------------------------------------------


class Name(str):
    """A PDF name (``/Foo``) — distinct from text strings (object.h:20)."""

    __slots__ = ()

    def __repr__(self) -> str:  # pragma: no cover
        return f"/{str(self)}"


class Ref:
    """Indirect reference ``(object_id, generation)`` (object.h:56-60)."""

    __slots__ = ("obj_id", "gen")

    def __init__(self, obj_id: int, gen: int) -> None:
        self.obj_id = obj_id
        self.gen = gen

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, Ref)
            and other.obj_id == self.obj_id
            and other.gen == self.gen
        )

    def __hash__(self) -> int:
        return hash((self.obj_id, self.gen))

    def __repr__(self) -> str:  # pragma: no cover
        return f"Ref({self.obj_id},{self.gen})"


class Stream:
    """A stream object: dict + raw (still-encoded) bytes (object.h:49-54).

    Decoding is lazy — ``decoded(resolver)`` runs the filter chain once and
    memoizes, mirroring the reference's decode-at-parse but keeping giant
    unused streams (embedded font programs) cheap.
    """

    __slots__ = ("dict", "raw", "_decoded")

    def __init__(self, d: dict, raw: bytes) -> None:
        self.dict = d
        self.raw = raw
        self._decoded: Optional[bytes] = None

    def decoded(self, resolver=None) -> bytes:
        if self._decoded is None:
            from pdf_spark.core.filters import decode_stream

            self._decoded = decode_stream(self.dict, self.raw, resolver)
        return self._decoded

    def __repr__(self) -> str:  # pragma: no cover
        return f"Stream({self.dict!r}, {len(self.raw)}B)"


class IndirectObject:
    """``id gen obj … endobj`` wrapper (object.c:851-926)."""

    __slots__ = ("obj_id", "gen", "value")

    def __init__(self, obj_id: int, gen: int, value: Any) -> None:
        self.obj_id = obj_id
        self.gen = gen
        self.value = value


# sentinel distinct from None-the-python-object so "key absent" != "null"
PDF_NULL = None


# -- parser -------------------------------------------------------------------


_NAME_CACHE: dict[bytes, Name] = {}


def hex_body_to_bytes(body: bytes) -> bytes:
    """Shared hex-string decode core: strip PDF whitespace, pad an odd
    trailing digit as the high nibble (object.c:536), bytes.fromhex. Used
    by the object parser, the content scanner, and ASCIIHexDecode."""
    compact = body.translate(None, WHITESPACE)
    if len(compact) % 2:
        compact += b"0"
    return bytes.fromhex(compact.decode("ascii"))


def decode_name_bytes(raw: bytes) -> Name:
    """Decode a name token body (after ``/``) with ``#xx`` escapes
    (object.c:554-651); shared by the recursive parser and the
    content-stream scanner. Decoded names are interned in a bounded
    module-level cache — the same few names (Type, Page, Font, ...) occur
    in every document of a batch."""
    cached = _NAME_CACHE.get(raw)
    if cached is not None:
        return cached
    if b"#" not in raw:
        # latin-1, matching the #xx escape path below: bytes 0x80-0xFF are
        # regular characters per PDF 32000-1 §7.3.5, and /Fo\xe9 must decode
        # the same as /Fo#E9
        name = Name(raw.decode("latin-1"))
        if len(_NAME_CACHE) < 4096:
            _NAME_CACHE[raw] = name
        return name
    out = bytearray()
    i = 0
    while i < len(raw):
        if raw[i] == 0x23:  # '#'
            pair = raw[i + 1 : i + 3]
            if len(pair) != 2 or not (
                _HEX_RE.match(pair[0:1]) and _HEX_RE.match(pair[1:2])
            ):
                raise PdfError(NAME_BAD_CHAR_CODE, f"bad #xx escape {pair!r}")
            out.append(int(pair, 16))
            i += 3
        else:
            out.append(raw[i])
            i += 1
    try:
        return Name(out.decode("latin-1"))
    except UnicodeDecodeError:  # pragma: no cover — latin-1 total
        raise PdfError(NAME_BAD_CHAR_CODE, "undecodable name") from None


class ObjectParser:
    """Cursor + recursive-descent COS parser over one in-memory document.

    ``resolver`` (optional) is consulted only to resolve an indirect
    ``/Length`` when slicing stream bytes (object.c:787-800 resolves Length
    through the trailer's resolver).
    """

    __slots__ = ("buf", "pos", "resolver", "content")

    def __init__(self, buf: bytes, pos: int = 0, resolver=None, content: bool = False):
        self.buf = buf
        self.pos = pos
        self.resolver = resolver
        # content-stream operand mode: numbers never start indirect refs
        # (object.c:136-186 is the no-resolver operand variant)
        self.content = content

    # -- cursor helpers --

    def skip_ws(self) -> None:
        buf, pos = self.buf, self.pos
        if pos < len(buf) and buf[pos] in _WS_OR_PCT:
            self.pos = _WS_RE.match(buf, pos).end()

    def peek(self) -> int:
        if self.pos >= len(self.buf):
            raise PdfError(INVALID_OBJECT, "unexpected EOF")
        return self.buf[self.pos]

    def expect(self, token: bytes) -> None:
        if not self.buf.startswith(token, self.pos):
            raise PdfError(
                INVALID_OBJECT,
                f"expected {token!r} at offset {self.pos}",
            )
        self.pos += len(token)

    def expect_keyword(self, kw: bytes) -> None:
        """Expect a keyword followed by a non-regular char (or EOF)."""
        self.expect(kw)
        if self.pos < len(self.buf):
            c = self.buf[self.pos]
            if c not in WHITESPACE and c not in DELIMITERS:
                raise PdfError(INVALID_OBJECT, f"keyword {kw!r} not delimited")

    # -- object dispatch (object.c:65-134) --

    def parse_object(self) -> Any:
        # inlined skip_ws/peek + dispatch ordered by corpus frequency
        # (numbers/refs and names dominate body objects)
        buf, pos = self.buf, self.pos
        if pos < len(buf) and buf[pos] in _WS_OR_PCT:
            pos = self.pos = _WS_RE.match(buf, pos).end()
        if pos >= len(buf):
            raise PdfError(INVALID_OBJECT, "unexpected EOF")
        c = buf[pos]
        if 0x30 <= c <= 0x39:  # digit
            if self.content:
                return self.parse_number()
            # the token table's ``id gen R``, else its number
            m = TOKEN_RE.match(buf, pos)
            self.pos = m.end()
            if m.group("rid") is None:
                return number_token(m.group("num"))
            return Ref(int(m.group("rid")), int(m.group("rgen")))
        if c == 0x2F:  # /
            return self.parse_name()
        if c == 0x3C:  # <
            if buf.startswith(b"<<", pos):
                d = self.parse_dict()
                return self._maybe_stream(d)
            return self.parse_hex_string()
        if c == 0x28:  # (
            return self.parse_string_literal()
        if c == 0x5B:  # [
            return self.parse_array()
        if c in (0x2B, 0x2D, 0x2E):  # + - .
            return self.parse_number()
        if c == 0x74:  # t
            self.expect_keyword(b"true")
            return True
        if c == 0x66:  # f
            self.expect_keyword(b"false")
            return False
        if c == 0x6E:  # n
            self.expect_keyword(b"null")
            return PDF_NULL
        raise PdfError(INVALID_OBJECT, f"cannot parse object at byte {c:#x}")

    # -- numbers (object.c:226-346) --

    def parse_number(self):
        m = _NUM_RE.match(self.buf, self.pos)
        if not m:
            raise PdfError(INVALID_OBJECT, "malformed number")
        self.pos = m.end()
        return number_token(m.group())

    def parse_indirect_object(self) -> IndirectObject:
        """``id gen obj <value> [stream] endobj`` at the current offset."""
        m = _INDOBJ_RE.match(self.buf, self.pos)
        if m is None:
            # re-run the verbose path for the precise error message
            self.skip_ws()
            if not _INT_RE.match(self.buf, self.pos):
                raise PdfError(INVALID_OBJECT, "indirect object: missing id")
            raise PdfError(INVALID_OBJECT, "indirect object: malformed header")
        self.pos = m.end()
        value = self.parse_object()
        self.expect_endobj()
        return IndirectObject(int(m.group(1)), int(m.group(2)), value)

    def expect_endobj(self) -> None:
        """The ``endobj`` that closes an indirect object. Optional-lenient in
        many real files; the reference expects it (object.c:905-916), and so
        do we."""
        self.skip_ws()
        if not self.buf.startswith(b"endobj", self.pos):
            raise PdfError(INVALID_OBJECT, "indirect object: missing endobj")
        self.expect_keyword(b"endobj")

    # -- strings (object.c:348-467) --

    def parse_string_literal(self) -> bytes:
        self.expect(b"(")
        buf = self.buf
        n = len(buf)
        out = bytearray()
        depth = 1
        p = self.pos
        while True:
            if p >= n:
                raise PdfError(UNBALANCED_STR, "string never closed")
            c = buf[p]
            if c == 0x5C:  # backslash
                if p + 1 >= n:
                    raise PdfError(UNBALANCED_STR, "escape at EOF")
                e = buf[p + 1]
                rep = _STR_ESCAPES.get(e)
                if rep is not None:
                    out += rep
                    p += 2
                elif 0x30 <= e <= 0x37:
                    # octal escape \d{1,3} — PDF spec 7.3.4.2.
                    # DIVERGENCE: reference panics on octal (object.c:451).
                    q = p + 1
                    val = 0
                    while q < n and q < p + 4 and 0x30 <= buf[q] <= 0x37:
                        val = (val << 3) | (buf[q] - 0x30)
                        q += 1
                    out.append(val & 0xFF)
                    p = q
                elif e in (0x0A, 0x0D):
                    # line continuation: backslash-EOL dropped (spec 7.3.4.2)
                    p += 2
                    if e == 0x0D and p < n and buf[p] == 0x0A:
                        p += 1
                else:
                    # unknown escape: backslash ignored (spec behavior)
                    out.append(e)
                    p += 2
            elif c == 0x28:  # (
                depth += 1
                out.append(c)
                p += 1
            elif c == 0x29:  # )
                depth -= 1
                if depth == 0:
                    p += 1
                    break
                out.append(c)
                p += 1
            else:
                # fast path: copy a run of plain chars
                q = p
                while q < n and buf[q] not in (0x28, 0x29, 0x5C):
                    q += 1
                out += buf[p:q]
                p = q
        self.pos = p
        return bytes(out)

    def parse_hex_string(self) -> bytes:
        """``<...>`` hex pairs; whitespace skipped; odd trailing = high nibble
        (object.c:484-552)."""
        self.expect(b"<")
        buf = self.buf
        end = buf.find(b">", self.pos)
        if end < 0:
            raise PdfError(UNBALANCED_STR, "hex string never closed")
        body = buf[self.pos : end]
        self.pos = end + 1
        try:
            return hex_body_to_bytes(body)
        except (ValueError, UnicodeDecodeError) as exc:
            raise PdfError(INVALID_OBJECT, f"bad hex string: {exc}") from None

    # -- names (object.c:554-651) --

    def parse_name(self) -> Name:
        buf, pos = self.buf, self.pos
        if not buf.startswith(b"/", pos):
            raise PdfError(INVALID_OBJECT, f"expected b'/' at offset {pos}")
        m = _REG_RE.match(buf, pos + 1)
        if m is None:
            self.pos = pos + 1
            return decode_name_bytes(b"")
        self.pos = m.end()
        return decode_name_bytes(m.group())

    # -- array/dict (object.c:653-773) --

    def parse_array(self) -> list:
        self.expect(b"[")
        out = []
        buf = self.buf
        n = len(buf)
        while True:
            pos = self.pos
            if pos < n and buf[pos] in _WS_OR_PCT:
                pos = self.pos = _WS_RE.match(buf, pos).end()
            if pos >= n:
                raise PdfError(INVALID_OBJECT, "unexpected EOF")
            if buf[pos] == 0x5D:  # ]
                self.pos = pos + 1
                return out
            out.append(self.parse_object())

    def parse_dict(self) -> dict:
        self.expect(b"<<")
        out: dict = {}
        buf = self.buf
        while True:
            self.skip_ws()
            pos = self.pos
            if buf.startswith(b">>", pos):
                self.pos = pos + 2
                return out
            if pos >= len(buf):
                raise PdfError(INVALID_OBJECT, "unexpected EOF")
            if buf[pos] != 0x2F:  # /
                raise PdfError(INVALID_OBJECT, "dict key must be a name")
            key = self.parse_name()
            value = self.parse_object()
            # duplicate keys: FIRST wins (linear-scan lookup, object.c:929-945)
            if key not in out:
                out[key] = value

    # -- streams (object.c:775-849) --

    def _maybe_stream(self, d: dict):
        saved = self.pos
        self.skip_ws()
        if not self.buf.startswith(b"stream", self.pos):
            self.pos = saved
            return d
        self.pos += len(b"stream")
        m = _EOL_RE.match(self.buf, self.pos)
        if not m:
            raise PdfError(INVALID_OBJECT, "stream keyword not followed by EOL")
        self.pos = m.end()
        length = d.get("Length")
        if isinstance(length, Ref):
            if self.resolver is None:
                raise PdfError(MISSING_KEY, "indirect /Length without resolver")
            length = self.resolver.resolve(length)
        if not isinstance(length, int) or length < 0:
            raise PdfError(INCORRECT_TYPE, f"bad stream /Length: {length!r}")
        if self.pos + length > len(self.buf):
            raise PdfError(INVALID_OBJECT, "stream Length past EOF")
        raw = self.buf[self.pos : self.pos + length]
        self.pos += length
        self.skip_ws()
        self.expect_keyword(b"endstream")
        return Stream(d, raw)


# -- the table-driven scanner ---------------------------------------------------

_UNSETTLED = object()
KEYWORDS = {b"true": True, b"false": False, b"null": PDF_NULL}
_NON_REGULAR = frozenset(WHITESPACE + DELIMITERS)
# containers deeper than this go to ObjectParser, whose recursion decides
# (a Python RecursionError past ~490 levels) exactly as before
_SETTLE_DEPTH_MAX = 64
# parsed number tokens by their bytes, for the scanners' hot loops
NUM_CACHE: dict[bytes, Any] = {}


def number_token(tok: bytes) -> Any:
    """The int or float a ``num`` token spells, cached in ``NUM_CACHE``; an
    int outside i32 raises, as the reference clamps (object.c:288-294)."""
    if b"." in tok:
        v = float(tok)
    else:
        v = int(tok)
        if not -2147483648 <= v <= 2147483647:
            raise PdfError(INVALID_OBJECT, f"integer out of i32 range: {v}")
    if len(NUM_CACHE) < 4096:
        NUM_CACHE[tok] = v
    return v


# interned refs, as names are: the same few ``id gen`` pairs recur in every
# document of a batch (a Ref is never mutated); a hit skips two int()
# parses and a Ref construction
_REF_CACHE: dict[tuple, Ref] = {}

# Settled object bodies by their exact bytes, for the life of the process.
# Catalogs, page-tree nodes, font dicts, /Widths arrays and trailers repeat
# byte for byte across the documents of one producer, and ``_settle``'s
# result depends only on those bytes. A body's first sight stores only
# the marker ``_SEEN``, so a one-off body (a content stream's dict with
# its own /Length) costs a lookup and never a copy; its second sight
# keeps the value. A hit hands out fresh dicts and lists around the
# shared leaves (bytes, Name, numbers, bools, None and the interned Ref,
# none of which is ever mutated), so each document still owns its
# containers: in-place decryption of a Stream's dict, the ``id()``-keyed
# page, OCG and form caches and ``Resolver._cache`` see exactly what a
# fresh parse gives.
# Bound: at most _BODY_MEMO_MAX entries, each keyed by at most
# _BODY_LEN_MAX bytes. The costliest entry is a ``[[][]…]`` body (an empty
# list and its slot per two bytes, ~33 bytes per body byte): under 18 KiB
# with its key, so the memo holds under 18 MiB even when every body is
# built to fill it. It is cleared when full, so a worker that moves on to
# another producer refills it with that producer's bodies; a longer body
# is settled every time.
_BODY_MEMO: dict[bytes, Any] = {}
_BODY_MEMO_MAX = 1024
_BODY_LEN_MAX = 512
_SEEN = object()


def _settle(toks: list) -> Any:
    """The one object that ``toks`` (``TOKEN_RE.findall`` tuples) spell,
    built with an explicit container stack, or ``_UNSETTLED`` when they do
    not spell exactly one object or hold a token only ``ObjectParser`` can
    read (``op``/``bad``, i32 overflow, a non-name dict key, a stray
    closer, deep nesting)."""
    stack: list = []  # enclosing containers of ``cur`` (None = top level)
    cur: Any = None  # innermost open container
    in_dict = False  # ``cur`` is a dict
    key = None  # its pending key
    top: Any = _UNSETTLED
    refs = _REF_CACHE.get
    numbers = NUM_CACHE.get
    for rid, rgen, num, name, punct, sstr, hstr, kw, op, bad in toks:
        if name:
            v = decode_name_bytes(name)
            if in_dict and key is None:
                key = v
                continue
        elif punct:
            if punct == b"<<" or punct == b"[":
                if len(stack) >= _SETTLE_DEPTH_MAX:
                    return _UNSETTLED
                v = {} if punct == b"<<" else []
            else:  # a closer must match the innermost container
                if punct == b">>":
                    closes = in_dict and key is None
                else:
                    closes = type(cur) is list
                if not closes:
                    return _UNSETTLED
                cur = stack.pop()
                in_dict = type(cur) is dict
                continue
        elif rid:
            v = refs((rid, rgen))
            if v is None:
                v = Ref(int(rid), int(rgen))
                if len(_REF_CACHE) < 4096:
                    _REF_CACHE[rid, rgen] = v
        elif num:
            v = numbers(num)
            if v is None:
                v = number_token(num)  # i32 overflow raises: unsettled
        elif sstr:
            v = sstr
        elif hstr:
            v = hex_body_to_bytes(hstr)
        elif kw:
            v = KEYWORDS[kw]
        elif op or bad:
            return _UNSETTLED
        else:
            continue  # the end-of-range match
        if in_dict:
            if key is None:
                return _UNSETTLED  # dict key that is not a name
            # duplicate keys: FIRST wins, as in ObjectParser.parse_dict
            if key not in cur:
                cur[key] = v
            key = None
        elif cur is not None:
            cur.append(v)
        elif top is _UNSETTLED:
            top = v
        else:
            return _UNSETTLED  # a second top-level object
        if punct:  # an opened container becomes the innermost
            stack.append(cur)
            cur = v
            in_dict = punct == b"<<"
    return _UNSETTLED if cur is not None else top


_BOXES = (dict, list)


def _fresh(v: Any) -> Any:
    """``v`` with every dict and list in it copied; the leaves are shared."""
    if type(v) is dict:
        return {k: _fresh(x) if type(x) in _BOXES else x for k, x in v.items()}
    return [_fresh(x) if type(x) in _BOXES else x for x in v]


def _scan(buf: bytes, start: int, stop: int) -> Any:
    """The one object alone (but for whitespace) in ``buf[start:stop]``,
    tokenized by one ``findall`` (or copied out of ``_BODY_MEMO``), or
    ``_UNSETTLED``. A range holding a ``%`` is left to ``ObjectParser``
    (the stop keyword may sit in a comment), as is a range whose last byte
    is regular (its token may run on past ``stop``: ``/Fooendobj``)."""
    if stop < len(buf) and buf[stop - 1] not in _NON_REGULAR:
        return _UNSETTLED
    key = hit = None
    if stop - start <= _BODY_LEN_MAX:
        key = buf[start:stop]
        try:
            hit = _BODY_MEMO.get(key)
        except TypeError:  # a bytearray's slices are unhashable
            key = None
        if hit is not None and hit is not _SEEN:
            value, copy = hit
            return value if copy is None else copy(value)
    if buf.find(b"%", start, stop) >= 0:
        value = _UNSETTLED
    else:
        try:
            value = _settle(TOKEN_RE.findall(buf, start, stop))
        except PdfError:  # bad #xx escape, i32 overflow: ObjectParser raises it
            value = _UNSETTLED
    if key is None:
        return value
    if hit is None:  # first sight: remember the body, keep no value
        if len(_BODY_MEMO) >= _BODY_MEMO_MAX:
            _BODY_MEMO.clear()
        _BODY_MEMO[key] = _SEEN
        return value
    # second sight: keep this value, hand out a copy
    copy = None
    if type(value) in _BOXES:
        # one opener in the bytes: no container inside the value
        flat = key.count(b"<<") + key.count(b"[") == 1
        copy = type(value).copy if flat else _fresh
    _BODY_MEMO[key] = (value, copy)
    return value if copy is None else copy(value)


def parse_indirect_at(buf: bytes, offset: int, resolver=None) -> tuple:
    """``(IndirectObject, end offset)`` for the ``id gen obj … endobj`` at
    ``offset``, the same as ``ObjectParser.parse_indirect_object``.

    The body is tokenized by one ``findall`` up to its ``endobj`` keyword,
    or up to ``stream`` when a dict opens a stream; the stream itself (its
    ``/Length`` may be an indirect ref) and the closing ``endobj`` are read
    by ``ObjectParser``'s own code. Anything the table cannot settle
    re-parses the object from ``offset`` with ``ObjectParser``."""
    m = _INDOBJ_RE.match(buf, offset)
    end = buf.find(b"endobj", m.end()) if m is not None else -1
    if end >= 0:
        kw = buf.find(b"stream", m.end(), end)
        value = _scan(buf, m.end(), end if kw < 0 else kw)
        if value is not _UNSETTLED:
            ind = IndirectObject(int(m.group(1)), int(m.group(2)), value)
            if kw < 0:
                end += 6  # past ``endobj``, which must be delimited
                if end == len(buf) or buf[end] in _NON_REGULAR:
                    return ind, end
            elif type(value) is dict:
                p = ObjectParser(buf, kw, resolver)
                ind.value = p._maybe_stream(value)
                p.expect_endobj()
                return ind, p.pos
    p = ObjectParser(buf, offset, resolver)
    return p.parse_indirect_object(), p.pos


def parse_direct_at(buf: bytes, start: int, stop: int, resolver=None) -> Any:
    """The direct object at ``start`` (an ObjStm member, a trailer dict),
    the same as ``ObjectParser.parse_object``. ``stop`` bounds the one
    ``findall`` (-1: unknown); only whitespace may follow the object
    there, else ``ObjectParser`` re-parses from ``start``."""
    if stop >= 0:
        value = _scan(buf, start, stop)
        if value is not _UNSETTLED:
            if type(value) is not dict:
                return value
            # ObjectParser would read a ``stream`` after a dict
            q = stop
            if q < len(buf) and buf[q] in _WS_OR_PCT:
                q = _WS_RE.match(buf, q).end()
            if not buf.startswith(b"stream", q):
                return value
    return ObjectParser(buf, start, resolver).parse_object()
