"""Content-stream tokenizer: operand loop -> operator dispatch.

Mirrors ``pdf_deserde_content_stream`` (/root/reference/libs/pdf/src/
content_stream/stream.c:17-110): parse operands until an operator token,
look the operator up in the token table (operator.c:89-506), then typecheck
into a canonical op (operation.c:515-806). ``BX``/``EX`` compatibility
sections swallow unknown operators (stream.c:79-97). ``Tj`` is canonicalized
into a one-element ``TJ`` (operation.c:706-715).

Two implementations with identical results (cross-checked in tests):

- ``parse_content_stream`` — loops over the tuples of the shared token
  table (``objects.TOKEN_RE``, the one the COS object scanner uses): one
  ``findall`` per window, cut just after a whitespace byte outside a
  comment, so the token list stays bounded on a multi-MB stream. Operands
  go onto a list stack (arrays nest), operators through one table lookup.
  Where the table cannot settle a token — an escaped, nested or empty
  string, a string the window cut, bad hex, an empty name, a ``<<`` dict —
  the recursive-descent ``ObjectParser`` reads that one operand from its
  offset, and the next window starts after it. ``BI`` hands over to
  ``skip_inline_image`` the same way. No handover rescans the rest of the
  stream: a window ends just before a ``<<``, so a dict is the next
  window's first token; a ``bad`` token is the last of its window; and
  after a handover the next window starts at 256 B instead of 4 KB.
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
    KEYWORDS,
    NUM_CACHE,
    TOKEN_RE,
    ObjectParser,
    decode_name_bytes,
    hex_body_to_bytes,
    number_token,
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
    fallback: ObjectParser | None = None
    while True:
        m = TOKEN_RE.match(data, pos)
        kind = m.lastgroup
        if kind == "bad" or (kind == "punct" and m.group("punct") == b"<<"):
            start = m.start(kind)
            if data[start] not in b"(</":
                raise PdfError(INVALID_OBJECT, "inline image: no ID token")
            # escaped/nested/empty string, << dict or empty name: full parser
            if fallback is None:
                fallback = ObjectParser(data, content=True)
            fallback.pos = start
            fallback.parse_object()
            pos = fallback.pos
            continue
        if kind is None or m.group(kind) == b">>":  # no token left, or stray >>
            raise PdfError(INVALID_OBJECT, "inline image: no ID token")
        pos = m.end()
        if kind == "op" and m.group("op") == b"ID":
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


# A findall window is at least _WINDOW bytes, so a multi-MB stream never
# builds one huge token list. After a handover the next window starts at
# _WINDOW_MIN and doubles on each window that runs clean. Cutting a window
# scans its bytes (a few C searches), and a ``BI`` or a ``<<`` inside a
# window throws its later tuples away and matches its earlier ones again,
# so a handover costs at most one small window of extra work.
_WINDOW = 4096
_WINDOW_MIN = 256
_WS_BYTE = re.compile(rb"[\x00\t\n\x0c\r ]")
_EOL_BYTE = re.compile(rb"[\r\n]")

# operator tokens emitted as they are, pre-decoded (no per-token str
# allocation); Tj, BX, EX and BI are handled inline, the rest by set
_EMIT_AS = {
    s.encode("ascii"): s
    for s in OPERATORS - IGNORED - ERROR_OPS - {"Tj", "BX", "EX", "BI"}
}
_IGNORED_B = frozenset(s.encode("ascii") for s in IGNORED)
_ERROR_B = frozenset(s.encode("ascii") for s in ERROR_OPS)

_WS_ONLY = frozenset(b"\x00\t\n\x0c\r ")


def _window_end(data: bytes, pos: int, size: int) -> int:
    """End of the window that starts at ``pos``: just before the first
    ``<<`` in it, so a dict hands over as the next window's first token
    with no tuple thrown away, else just past the first whitespace byte at
    or after ``pos + size``. No token but a string or a comment runs on
    across either cut. A string cut there lexes as ``bad`` and goes whole
    to ObjectParser, and an ``id gen R`` cut there is the same two
    operands and operator it is uncut. A cut comment would lex its tail as
    tokens, so when a ``%`` has no EOL after it in the window, the window
    ends just before that ``%`` (a comment split at a ``%`` is two
    comments), or after the EOL that ends the comment."""
    n = len(data)
    end = n
    if pos + size < n:
        m = _WS_BYTE.search(data, pos + size)
        if m is not None:
            end = m.end()
    q = data.find(b"<<", pos, end)
    if q >= 0:
        end = q
    elif end == n:
        return n
    pct = data.rfind(b"%", pos, end)
    if pct < 0 or _EOL_BYTE.search(data, pct, end) is not None:
        return end
    if pct > pos:
        return pct
    m = _EOL_BYTE.search(data, end)
    return n if m is None else m.end()


def _token_end(data: bytes, pos: int, end: int, k: int) -> int:
    """Offset just past the first ``k`` tokens of ``data[pos:end]``."""
    match = TOKEN_RE.match
    for _ in range(k):
        pos = match(data, pos, end).end()
    return pos


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
    findall = TOKEN_RE.findall
    emit_as = _EMIT_AS.get
    numbers = NUM_CACHE.get
    size = _WINDOW
    while pos < n:
        if data.startswith(b"<<", pos):
            # a window cut just before a dict: hand it over at once
            if fallback is None:
                fallback = ObjectParser(data, content=True)
            fallback.pos = pos
            cur.append(fallback.parse_object())
            pos = fallback.pos
            continue
        end = _window_end(data, pos, size)
        toks = findall(data, pos, end)
        resume = end
        size = min(2 * size, _WINDOW)
        for tok in toks:
            rid, rgen, num, name, punct, sstr, hstr, kw, op, bad = tok
            if num:
                v = numbers(num)
                cur.append(number_token(num) if v is None else v)
            elif sstr:
                cur.append(sstr)
            elif op or rid:
                if rid:
                    # content operands never form refs: two integers, then R
                    cur.append(number_token(rid))
                    cur.append(number_token(rgen))
                    op = b"R"
                if arr_stack:
                    raise PdfError(INVALID_OBJECT, f"operator {op!r} inside array")
                emitted = emit_as(op)
                if emitted is not None:
                    ops.append((emitted, operands))
                elif op == b"Tj":
                    # canonicalize Tj -> one-element TJ (operation.c:706-715)
                    ops.append(("TJ", [[operands[-1] if operands else b""]]))
                elif op in _IGNORED_B:
                    pass
                elif op == b"BX":
                    in_compat += 1
                elif op == b"EX":
                    in_compat = max(0, in_compat - 1)
                elif op == b"BI":
                    # (index: an equal tuple earlier in toks would have
                    # broken out of this window already)
                    operands = cur = []
                    resume = skip_inline_image(
                        data, _token_end(data, pos, end, toks.index(tok) + 1)
                    )
                    size = _WINDOW_MIN
                    break
                elif op in _ERROR_B:
                    raise PdfError(
                        UNSUPPORTED_OPERATOR, f"inline image op {op.decode()!r}"
                    )
                elif not in_compat:
                    raise PdfError(
                        UNSUPPORTED_OPERATOR,
                        f"unknown operator {op.decode('latin-1')!r}",
                    )
                # else: an unknown operator swallowed inside BX/EX (stream.c:79-97)
                operands = cur = []
            elif name:
                cur.append(decode_name_bytes(name))
            elif punct == b"[":
                new: List[Any] = []
                cur.append(new)
                arr_stack.append(cur)
                cur = new
            elif punct == b"]":
                if not arr_stack:
                    raise PdfError(
                        UNSUPPORTED_OPERATOR, "stray byte 0x5d in content stream"
                    )
                cur = arr_stack.pop()
            elif hstr:
                cur.append(hex_body_to_bytes(hstr))
            elif kw:
                cur.append(KEYWORDS[kw])
            elif punct or bad:
                if punct == b">>":
                    raise PdfError(
                        UNSUPPORTED_OPERATOR, "stray byte 0x3e in content stream"
                    )
                if bad:
                    start = end - len(bad)
                    c = data[start]
                    if c not in b"(</":
                        raise PdfError(
                            UNSUPPORTED_OPERATOR, f"stray byte {c:#x} in content stream"
                        )
                else:  # <<: ObjectParser skips the whitespace before it
                    start = _token_end(data, pos, end, toks.index(tok))
                # escaped/nested/empty string, a string cut by the window,
                # bad hex, << dict or empty name: recursive-descent parse
                if fallback is None:
                    fallback = ObjectParser(data, content=True)
                fallback.pos = start
                cur.append(fallback.parse_object())
                resume = fallback.pos
                size = _WINDOW_MIN
                break
            # else: the end-of-window match
        pos = resume
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
