"""Content-stream tokenizer: operand loop -> operator dispatch.

Mirrors ``pdf_deserde_content_stream`` (/root/reference/libs/pdf/src/
content_stream/stream.c:17-110): parse operands until an operator token,
look the operator up in the token table (operator.c:89-506), then typecheck
into a canonical op (operation.c:515-806). ``BX``/``EX`` compatibility
sections swallow unknown operators (stream.c:79-97). ``Tj`` is canonicalized
into a one-element ``TJ`` (operation.c:706-715).

Two implementations with identical results (cross-checked in tests):

- ``parse_content_stream`` — a single-pass regex scanner: one compiled
  alternation recognizes whitespace/comments, numbers, names, simple
  strings, hex strings, array brackets and operator runs at C speed, with
  array nesting handled by a list stack. Anything the fast alternation
  cannot express (strings with escapes or nested parens, ``<<`` dicts)
  falls back to the recursive-descent ``ObjectParser`` at that position.
- ``parse_content_stream_slow`` — the original per-token loop over
  ``ObjectParser``; kept as the behavioral oracle.

Operator support classes (SURVEY.md §2.2):

- parsed + executed by our interpreter: the text set ``BT ET Tc Tw Tz TL Tf
  Tr Ts Td TD Tm T* Tj TJ ' "`` plus state ``q Q cm gs`` and ``Do``.
  EXTENSION: ``Tz Tr Ts ' "`` are implemented per spec — the reference
  deserializes ``Tz`` but panics executing it and panics parsing the others
  (operator.h:153-157,196-211); a 100TB extraction engine needs them.
- parsed + ignored (no effect on text): path/paint/clip/color/shading ops.
- warn-skip class (matching the reference): ``d``; ``BMC BDC EMC`` are
  emitted to the interpreter (EXTENSION: /ActualText scopes, §14.9.4).
- inline images: ``BI`` skips spec-correctly to the terminating ``EI``
  (EXTENSION — the reference panics and loses the document; see
  ``skip_inline_image``); a bare ``ID``/``EI`` outside a BI section is
  still an error, as are unknown tokens outside BX/EX.

Malformed streams raise ``PdfError`` (always an error ROW, never a task
failure); the two implementations may differ in which specific code a
given corruption maps to (e.g. a bare ``+`` is INVALID_OBJECT in the slow
path, UNSUPPORTED_OPERATOR in the scanner) — the status class is what the
pipeline contract guarantees.
"""

from __future__ import annotations

import re
from typing import Any, List, Tuple

from pdf_spark.core.errors import (
    INVALID_OBJECT,
    UNSUPPORTED_OPERATOR,
    PdfError,
)
from pdf_spark.core.objects import (
    PDF_NULL,
    Name,
    ObjectParser,
    decode_name_bytes,
    hex_body_to_bytes,
)

# full 73-operator token set (operator.h:3-306)
OPERATORS = frozenset(
    """w J j M d ri i gs q Q cm m l c v y h re S s f F f* B B* b b* n W W*
    BT ET Tc Tw Tz TL Tf Tr Ts Td TD Tm T* Tj TJ ' " d0 d1 CS cs SC SCN sc
    scn G g RG rg K k sh BI ID EI Do MP DP BMC BDC EMC BX EX""".split()
)

# ops with no bearing on extracted text: operands validated loosely, dropped.
# BMC/BDC/EMC are NOT here: marked-content scopes carry /ActualText
# replacement text (PDF 32000-1 §14.9.4), which the interpreter honors
# (EXTENSION — the reference warn-skips them); point marks MP/DP open no
# scope and stay dropped.
IGNORED = frozenset(
    """w J j M i ri m l c v y h re S s f F f* B B* b b* n W W* CS cs SC SCN
    sc scn G g RG rg K k sh d0 d1 MP DP d""".split()
)

# bare ID/EI outside a BI section are malformed (BI itself is handled by the
# spec-driven skip below; the reference panics on all three)
ERROR_OPS = frozenset(("ID", "EI"))

Op = Tuple[str, List[Any]]

_DELIM_SET = frozenset(b"()<>[]{}/%")


def skip_inline_image(data: bytes, pos: int) -> int:
    """Skip a ``BI <dict> ID <binary> EI`` inline image (PDF 32000-1 §8.9.7).

    EXTENSION: the reference panics on BI (operator.h:259-261), killing the
    whole document; a Common-Crawl-scale engine recovers the rest of the
    page's text instead. ``pos`` points just after the ``BI`` token; returns
    the position after the terminating ``EI``, which must be a standalone
    token (whitespace before, whitespace/delimiter/EOF after) so binary data
    containing the two bytes ``EI`` doesn't end the image early.

    The dict region between ``BI`` and ``ID`` is tokenized with the normal
    scanner (names/numbers/strings/arrays), so an ``ID`` byte pair inside a
    literal-string value — ``BI /Name (x ID y) ... ID`` — cannot terminate
    the dict early and desynchronize the EI search.
    """
    n = len(data)
    fallback: ObjectParser | None = None
    while True:
        m = _TOK_RE.match(data, pos)
        if m is None:
            pos = _WS_SKIP_RE.match(data, pos).end()
            if pos < n and data[pos] in b"(<":
                # escaped/nested string or << dict value: full parser
                if fallback is None:
                    fallback = ObjectParser(data, content=True)
                fallback.pos = pos
                fallback.parse_object()
                pos = fallback.pos
                continue
            raise PdfError(INVALID_OBJECT, "inline image: no ID token")
        if m.lastgroup == "ws":  # trailing ws at EOF: dict never closed
            raise PdfError(INVALID_OBJECT, "inline image: no ID token")
        pos = m.end()
        if m.lastgroup == "op" and m.group("op") == b"ID":
            break
        # any other token is part of the image dict; keep scanning
    # pos + 1: consume the single post-ID whitespace byte
    j = find_standalone_ei(data, pos + 1)
    if j < 0:
        raise PdfError(INVALID_OBJECT, "inline image: no EI terminator")
    return j + 2


def find_standalone_ei(data: bytes, start: int) -> int:
    """Offset of the first ``EI`` at or after ``start`` that is a standalone
    token (whitespace or start of data before; whitespace, a delimiter or
    EOF after), so image bytes holding the pair ``EI`` cannot end an
    inline image early; -1 when there is none."""
    n = len(data)
    while True:
        j = data.find(b"EI", start)
        if j < 0:
            return -1
        nxt = data[j + 2] if j + 2 < n else None
        if (j == 0 or data[j - 1] in _WS_ONLY) and (
            nxt is None or nxt in _WS_ONLY or nxt in _DELIM_SET
        ):
            return j
        start = j + 1

# one alternation, ordered: number, name, simple string (no escapes/
# nesting), hex string, array brackets, quote singletons, operator run.
# Quote chars lead only as singletons (matching the slow path, which
# checks them before the regular-char run); mid-run quotes stay part of
# the run. Whitespace/comments are folded into a prefix so every match
# yields a REAL token (standalone-ws matches used to be ~40% of all
# match calls); the terminal (?P<ws>\Z) alternative fires for trailing
# ws at EOF. The prefix MUST be atomic: a backtrackable prefix lets the
# engine shorten a %-comment when the following token needs the
# fallback parser, re-interpreting comment text as tokens
# (`1 % c\n (ne(st)ed)` dropped the 1 and emitted a phantom `c`
# operator before the fix). Possessive quantifiers (*+) need
# Python >= 3.11; older interpreters get the equivalent
# lookahead-capture + backreference idiom (a satisfied lookahead is
# never re-entered on backtrack, so the consumed prefix is fixed).


def _atomic_star(atom: bytes, tag: bytes) -> bytes:
    try:
        re.compile(b"(?:" + atom + b")*+")
        return b"(?:" + atom + b")*+"
    except re.error:  # pragma: no cover — Python < 3.11
        g = b"(?P<" + tag + b">(?:" + atom + b")*)"
        return b"(?=" + g + b")(?P=" + tag + b")"


_WS_ATOM = rb"[\x00\t\n\x0c\r\x20]+|%[^\r\n]*"
_TOK_RE = re.compile(
    _atomic_star(_WS_ATOM, b"wsat")
    + rb"""
    (?:
      (?P<num>[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+))
    | (?P<name>/[^\x00\t\n\x0c\r\x20()<>\[\]{}/%]*)
    | \((?P<sstr>[^()\\]*)\)
    | <(?P<hstr>[0-9a-fA-F\x00\t\n\x0c\r\x20]*)>
    | (?P<arr>[\[\]])
    | (?P<q>['"])
    | (?P<op>[^\x00\t\n\x0c\r\x20()<>\[\]{}/%]+)
    | (?P<ws>\Z)
    )""",
    re.X,
)

# ws/comment-only skipper for the fallback path: when the alternation
# fails (escaped string, << dict), the leading ws the prefix would have
# eaten is still at ``pos`` and must be stepped over before dispatch.
_WS_SKIP_RE = re.compile(rb"(?:[\x00\t\n\x0c\r\x20]+|%[^\r\n]*)*")

# pre-decoded operator-token interning: the same few dozen operator
# byte-tokens recur in every stream; avoids a per-token str allocation
_OP_STR = {s.encode("ascii"): s for s in OPERATORS}

_WS_ONLY = frozenset(b"\x00\t\n\x0c\r ")


def parse_content_stream(data: bytes) -> List[Op]:
    """Tokenize one decoded content stream into ``[(operator, operands)]``."""
    ops: List[Op] = []
    operands: List[Any] = []
    cur: List[Any] = operands
    arr_stack: List[List[Any]] = []
    in_compat = 0  # BX/EX nesting
    fallback: ObjectParser | None = None
    pos = 0
    n = len(data)
    match = _TOK_RE.match
    while pos < n:
        m = match(data, pos)
        if m is None:
            pos = _WS_SKIP_RE.match(data, pos).end()
            c = data[pos]
            if c in b"(<":
                # escaped/nested string or << dict: recursive-descent parse
                if fallback is None:
                    fallback = ObjectParser(data, content=True)
                fallback.pos = pos
                cur.append(fallback.parse_object())
                pos = fallback.pos
                continue
            raise PdfError(
                UNSUPPORTED_OPERATOR, f"stray byte {c:#x} in content stream"
            )
        pos = m.end()
        g = m.lastgroup
        if g == "ws":  # trailing ws/comments at EOF
            break
        if g == "num":
            tok = m.group("num")
            if b"." in tok:
                cur.append(float(tok))
            else:
                v = int(tok)
                # i32 clamp with overflow error (object.c:288-294)
                if not (-2147483648 <= v <= 2147483647):
                    raise PdfError(
                        INVALID_OBJECT, f"integer out of i32 range: {v}"
                    )
                cur.append(v)
            continue
        if g == "sstr":
            cur.append(m.group("sstr"))
            continue
        if g == "name":
            cur.append(decode_name_bytes(m.group("name")[1:]))
            continue
        if g == "hstr":
            try:
                cur.append(hex_body_to_bytes(m.group("hstr")))
            except (ValueError, UnicodeDecodeError) as exc:  # pragma: no cover
                raise PdfError(INVALID_OBJECT, f"bad hex string: {exc}") from None
            continue
        if g == "arr":
            if m.group("arr") == b"[":
                new: List[Any] = []
                cur.append(new)
                arr_stack.append(cur)
                cur = new
            else:
                if not arr_stack:
                    raise PdfError(
                        UNSUPPORTED_OPERATOR, "stray byte 0x5d in content stream"
                    )
                cur = arr_stack.pop()
            continue
        # operator token (or keyword operand)
        tok_b = m.group("q") if g == "q" else m.group("op")
        if g == "op":
            if tok_b == b"true":
                cur.append(True)
                continue
            if tok_b == b"false":
                cur.append(False)
                continue
            if tok_b == b"null":
                cur.append(PDF_NULL)
                continue
        if arr_stack:
            raise PdfError(INVALID_OBJECT, f"operator {tok_b!r} inside array")
        tok = _OP_STR.get(tok_b) or tok_b.decode("latin-1")
        if tok == "BX":
            in_compat += 1
            operands = cur = []
            continue
        if tok == "EX":
            in_compat = max(0, in_compat - 1)
            operands = cur = []
            continue
        if tok == "BI":
            pos = skip_inline_image(data, pos)
            operands = cur = []
            continue
        if tok not in OPERATORS:
            if in_compat:
                operands = cur = []  # swallowed inside BX/EX (stream.c:79-97)
                continue
            raise PdfError(UNSUPPORTED_OPERATOR, f"unknown operator {tok!r}")
        if tok in ERROR_OPS:
            raise PdfError(UNSUPPORTED_OPERATOR, f"inline image op {tok!r}")
        if tok in IGNORED:
            operands = cur = []
            continue
        # canonicalize Tj -> one-element TJ (operation.c:706-715)
        if tok == "Tj":
            ops.append(("TJ", [[operands[-1] if operands else b""]]))
        else:
            ops.append((tok, operands))
        operands = cur = []
    if arr_stack:
        # EOF with an open [ — the slow path (ObjectParser.parse_array hits
        # end-of-buffer) and the reference raise; the scanner must too, or a
        # stream truncated mid-array extracts as ok with partial text.
        raise PdfError(INVALID_OBJECT, "unterminated array in content stream")
    return ops


_REGULAR_EXCLUDE = frozenset(b"\x00\t\n\x0c\r ()<>[]{}/%")


def _kw_at(data: bytes, pos: int, kw: bytes) -> bool:
    """Keyword present AND delimited (next byte non-regular or EOF)."""
    if not data.startswith(kw, pos):
        return False
    j = pos + len(kw)
    return j >= len(data) or data[j] in _REGULAR_EXCLUDE


def parse_content_stream_slow(data: bytes) -> List[Op]:
    """Original per-token loop (behavioral oracle for the scanner)."""
    p = ObjectParser(data, content=True)
    ops: List[Op] = []
    operands: List[Any] = []
    in_compat = 0  # BX/EX nesting
    n = len(data)
    while True:
        p.skip_ws()
        if p.pos >= n:
            break
        c = data[p.pos]
        # operand start bytes: ( < / [ digit + - . or keyword true/false/null
        # (keywords only when delimited: `truen` is ONE regular-char token —
        # an unknown operator — not `true` + `n`)
        if (
            c in b"(</["
            or 0x30 <= c <= 0x39
            or c in b"+-."
            or _kw_at(data, p.pos, b"true")
            or _kw_at(data, p.pos, b"false")
            or _kw_at(data, p.pos, b"null")
        ):
            operands.append(p.parse_object())
            continue
        # operator token: run of regular chars, or ' / " singletons
        if c in b"'\"":
            tok = chr(c)
            p.pos += 1
        else:
            start = p.pos
            while p.pos < n and data[p.pos] not in b"\x00\t\n\x0c\r ()<>[]{}/%":
                p.pos += 1
            if p.pos == start:
                raise PdfError(
                    UNSUPPORTED_OPERATOR, f"stray byte {c:#x} in content stream"
                )
            tok = data[start : p.pos].decode("latin-1")
        if tok == "BX":
            in_compat += 1
            operands = []
            continue
        if tok == "EX":
            in_compat = max(0, in_compat - 1)
            operands = []
            continue
        if tok == "BI":
            p.pos = skip_inline_image(data, p.pos)
            operands = []
            continue
        if tok not in OPERATORS:
            if in_compat:
                operands = []  # swallowed inside BX/EX (stream.c:79-97)
                continue
            raise PdfError(UNSUPPORTED_OPERATOR, f"unknown operator {tok!r}")
        if tok in ERROR_OPS:
            raise PdfError(UNSUPPORTED_OPERATOR, f"inline image op {tok!r}")
        if tok in IGNORED:
            operands = []
            continue
        # canonicalize Tj -> one-element TJ (operation.c:706-715)
        if tok == "Tj":
            ops.append(("TJ", [[operands[-1] if operands else b""]]))
        else:
            ops.append((tok, operands))
        operands = []
    return ops
