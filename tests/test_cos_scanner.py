"""The table-driven COS scanner against its oracle, ObjectParser.

``parse_indirect_at`` and ``parse_direct_at`` must give the same value, the
same error code and (for indirect objects) the same end offset as
``ObjectParser`` on every indirect object, ObjStm member and trailer of the
generator's good and corrupt variants, and on a seeded object-soup fuzz
campaign aimed at the places a one-findall scanner could go wrong.
"""

import gzip
import random

from pdf_spark.core.document import _OBJ_HEADER_RE, Resolver
from pdf_spark.core.errors import PdfError
from pdf_spark.core.objects import (
    WHITESPACE,
    Name,
    ObjectParser,
    Ref,
    Stream,
    _scan,
    _UNSETTLED,
    parse_direct_at,
    parse_indirect_at,
)
from pdf_spark.gen.pdfgen import N_BAD_VARIANTS, N_VARIANTS, generate_doc


def canon(v):
    """Type-tagged form of a parsed value (1 == 1.0 == True in Python)."""
    if isinstance(v, Stream):
        return ("S", canon(v.dict), v.raw)
    if isinstance(v, dict):
        return ("D", [(canon(k), canon(x)) for k, x in v.items()])
    if isinstance(v, list):
        return ("A", [canon(x) for x in v])
    if isinstance(v, Ref):
        return ("R", v.obj_id, v.gen)
    return (type(v).__name__, v)


def outcome(fn):
    try:
        return ("ok",) + fn()
    except PdfError as exc:
        return ("err", exc.code)


def check_indirect(buf, off, resolver=None):
    def oracle():
        p = ObjectParser(buf, off, resolver)
        ind = p.parse_indirect_object()
        return (ind.obj_id, ind.gen, canon(ind.value), p.pos)

    def scanner():
        ind, end = parse_indirect_at(buf, off, resolver)
        return (ind.obj_id, ind.gen, canon(ind.value), end)

    want, got = outcome(oracle), outcome(scanner)
    assert got == want, (buf[off : off + 120], want, got)


def check_direct(buf, start, stop, resolver=None):
    def oracle():
        p = ObjectParser(buf, start, resolver)
        return (canon(p.parse_object()), p.pos)

    want = outcome(oracle)
    got = outcome(lambda: (canon(parse_direct_at(buf, start, stop, resolver)),))
    assert got[:2] == want[:2], (buf[start : start + 120], want, got)
    if want[0] == "ok" and stop >= 0 and _scan(buf, start, stop) is not _UNSETTLED:
        # a settled scan claims the object ends where only whitespace
        # is left before ``stop``
        assert buf[want[2] : stop].strip(WHITESPACE) == b"", (buf[start:stop], want)


def objstm_members(resolver):
    """(data, start, stop) of every member of every ObjStm in a document,
    bounded as the resolver bounds them: by the next member's offset."""
    for oid, (kind, off, gen) in resolver.xref.items():
        if kind != "n":
            continue
        try:
            stm = resolver.resolve_ref(Ref(oid, gen))
        except PdfError:
            continue
        if not (isinstance(stm, Stream) and stm.dict.get("Type") == Name("ObjStm")):
            continue
        data = stm.decoded(resolver)
        hp = ObjectParser(data, 0)
        offs = []
        for _ in range(stm.dict["N"]):
            hp.parse_object()
            offs.append(stm.dict["First"] + hp.parse_object())
        bounds = sorted(set(offs)) + [len(data)]
        for off in offs:
            yield data, off, bounds[bounds.index(off) + 1]


def test_generator_objects_match_oracle():
    texts = ("Scanner oracle (with parens), 0.5 -1.25 and \\ backslash!", "x " * 400)
    counts = {"indirect": 0, "objstm": 0, "trailer": 0}
    for text, v in [(t, v) for t in texts for v in range(N_VARIANTS + N_BAD_VARIANTS)]:
        buf, _, name, _ = generate_doc(text, v)
        if name.startswith("html_"):
            continue
        if buf[:2] == b"\x1f\x8b":
            buf = gzip.decompress(buf)
        try:
            resolver = Resolver(buf)
        except PdfError:
            resolver = None
        for m in _OBJ_HEADER_RE.finditer(buf):
            check_indirect(buf, m.start(1), resolver)
            counts["indirect"] += 1
        if resolver is not None:
            for data, start, stop in objstm_members(resolver):
                check_direct(data, start, stop, resolver)
                counts["objstm"] += 1
        idx = buf.find(b"trailer")
        while idx >= 0:
            start = idx + len(b"trailer")
            check_direct(buf, start, buf.find(b"startxref", start))
            counts["trailer"] += 1
            idx = buf.find(b"trailer", start)
    assert counts["indirect"] > 600 and counts["objstm"] >= 8 and counts["trailer"] > 100, counts


class FakeResolver:
    """Indirect ``/Length`` targets: 5 0 R -> 4, 6 0 R -> -1, 7 0 R raises."""

    def resolve(self, obj):
        if obj == Ref(5, 0):
            return 4
        if obj == Ref(6, 0):
            return -1
        if obj == Ref(7, 0):
            raise PdfError("INVALID_XREF", "no object 7")
        return obj


_GOOD = [
    b"0", b"1", b"-2", b"+3", b"4.5", b"-.5", b"2147483647", b"1 0 R", b"3 0 R", b"1 %c\r2 R",
    b"/A", b"/Type", b"/N#41me", b"/Fo\xe9", b"(s)", b"(a b)", b"<414243>", b"<41 42 4>",
    b"<41\n42>", b"true", b"false", b"null",
]
_BAD = [
    b".", b"+", b"2147483648", b"-2147483649", b"99999999999", b"1.2.3", b"12abc",
    b"1 % c\n 0 R", b"1 0 % c R", b"1 0 RG", b"1 0R", b"/Foostream", b"/Aendobj", b"/",
    b"/Bad#zz", b"()", b"(a endobj b)", b"(x stream y)", b"(ne(st)ed)", b"(esc\\) ok)",
    b"(multi\nline)", b"(50%)", b"(open", b"<>", b"<4G>", b"truex", b"nul",
    b"[", b"]", b"<<", b">>", b"{", b"}", b")", b">", b"% comment\n", b"%endobj\n",
    b"%stream\n", b"startxref", b"endobj", b"stream", b"obj",
]
_SEPS = [b" "] * 6 + [b"", b"\n", b"\r\n", b"\t", b"\x00", b" % c\n "]


def _soup(rng, depth=0):
    """A value, well-formed but for a random damaged token or separator."""
    r = rng.random()
    if depth < 4 and r < 0.3:
        parts = [b"<<"]
        for _ in range(rng.randrange(0, 5)):
            key = rng.choice([b"/K", b"/Length", b"/A#42", b"/K"] * 5 + [b"/", b"/Kstream", b"1"])
            parts += [key, _soup(rng, depth + 1)]
        parts.append(b">>")
    elif depth < 4 and r < 0.5:
        parts = [b"["] + [_soup(rng, depth + 1) for _ in range(rng.randrange(0, 5))] + [b"]"]
    else:
        return rng.choice(_BAD if rng.random() < 0.04 else _GOOD)
    sep = lambda: rng.choice(_SEPS) if rng.random() < 0.05 else rng.choice([b" ", b"", b"\n"])
    return b"".join(p + sep() for p in parts)


def _stream_tail(rng):
    length = rng.choice([b"3", b"4", b"40", b"-1", b"5 0 R", b"6 0 R", b"7 0 R", b"(x)"])
    data = rng.choice([b"abcd", b"ab", b"endobj", b"x stream endstream y" * 2])
    return (
        b"<</Length " + length + b">>" + rng.choice([b"stream\n", b"\nstream\r\n", b"stream x"])
        + data + rng.choice([b"\nendstream", b"endstream", b"", b"\nendstreamx"])
    )


def test_object_soup_fuzz_matches_oracle():
    rng = random.Random(20261017)
    resolver = FakeResolver()
    settled = 0
    for _ in range(6000):
        body = _stream_tail(rng) if rng.random() < 0.2 else _soup(rng)
        head = rng.choice(
            [b"4 0 obj ", b"4 0 obj\n", b"4 0 obj", b" 12 3 obj\r\n", b"4 % c\n 0 obj "]
        )
        tail = rng.choice(
            [b"\nendobj\n", b" endobj", b"endobj", b"\nendobjx", b"", b" 5 endobj"]
        )
        more = rng.choice([b"", b"\n5 0 obj 1 endobj\n", b"\nstartxref\n0\n%%EOF"])
        prefix = rng.choice([b"", b"%PDF-1.4\n"])
        check_indirect(prefix + head + body + tail + more, len(prefix), resolver)
        # the body as a direct object: a trailer before ``startxref``, or
        # an ObjStm member bounded by the next member's offset
        nxt = rng.choice(
            [b"startxref\n0\n%%EOF", b"5 0 obj", b"6 ", b"/X", b"stream\n", b""]
        )
        dbuf = body + rng.choice([b"\n", b" ", b"", b"\r\n"]) + nxt
        stop = len(dbuf) - len(nxt)
        check_direct(dbuf, 0, stop, resolver)
        settled += _scan(dbuf, 0, stop) is not _UNSETTLED
    assert settled > 2000, settled


def test_scanner_settles_the_common_shapes():
    """The oracle comparisons above would pass if the scanner always fell
    back; pin that the everyday shapes settle in the table."""
    for body in (
        b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]/Contents 4 0 R>>",
        b"[1 0 R 2 0 R /Name (str) <4142> true false null -1.5]",
        b"<</Kids[3 0 R]/Count 1/Type/Pages>>",
        b"42",
    ):
        assert _scan(body + b"\n", 0, len(body) + 1) is not _UNSETTLED, body
    for body in (b"<</A (a\\)b)>>", b"[()]", b"<</A 99999999999>>", b"<</A 1 % c\n>>"):
        assert _scan(body, 0, len(body)) is _UNSETTLED, body
    # a name the stop keyword cuts: its token may run on past the stop
    assert _scan(b"/Aendobj", 0, 2) is _UNSETTLED


def test_large_content_stream_memory_is_bounded():
    """One findall per window keeps the transient token list small: the
    tracemalloc peak of tokenizing a multi-MB stream stays within 1.25x of
    what its op list alone retains (one findall over the whole stream
    would hold every token tuple at once, ~3x)."""
    import tracemalloc

    from pdf_spark.core.content import parse_content_stream

    rng = random.Random(3)
    lines = [
        b"BT /F1 12 Tf %d %d Td (line %d of the stream) Tj [(a) -120 (b)] TJ ET"
        % (rng.randrange(600), rng.randrange(800), i)
        for i in range(30000)
    ]
    data = b"\n".join(lines)
    assert len(data) > 2_000_000
    parse_content_stream(data[:10000])  # warm the interning caches
    tracemalloc.start()
    try:
        ops = parse_content_stream(data)
        retained, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(ops) == 30000 * 6
    assert peak <= 1.25 * retained, (peak, retained)


# -- content windows ----------------------------------------------------------

_CONTENT_ATOMS = [
    b"BT", b"ET", b"Tf", b"Td", b"Tj", b"TJ", b"'", b"q", b"Q", b"BDC",
    b"EMC", b"BX", b"EX", b"woozle", b"/F1", b"/P", b"/Span", b"/Name#41",
    b"1", b"-2.5", b"0", b"12", b"true", b"null", b"[", b"]",
    b"(str)", b"(two words)", b"(50% off)", b"(a << b)", b"(ne(st)ed)",
    b"(esc\\) x)", b"()", b"<48 65 6c>", b"<486>", b"<</MCID 3>>",
    b"<</ActualText (w\\351rd)/Lang (en)>>", b"<< /A [1 2] >>", b"1 0 R",
    b"1 % c\n 0 R", b"% note << (x\n", b"%tail", b"BI /W 1 /H 1 ID \x00\x01 EI",
]
_CONTENT_SEPS = [b" ", b"\n", b"", b"\r\n", b"  % c << (\n", b"\t"]


def _content_outcome(parse, data):
    try:
        return parse(data)
    except PdfError as exc:
        return exc.code


def test_content_windows_match_slow_at_any_cut(monkeypatch):
    """Tiny windows put a cut beside every token: whatever the cut splits (a
    string, a hex string, an ``id gen R``, a comment, a dict) must come out
    as it does uncut, and as the slow oracle reads it."""
    from pdf_spark.core import content

    rng = random.Random(606)
    soups = [
        b"".join(rng.choice(_CONTENT_ATOMS) + rng.choice(_CONTENT_SEPS)
                 for _ in range(rng.randrange(1, 40)))
        for _ in range(1500)
    ]
    uncut = [_content_outcome(content.parse_content_stream, s) for s in soups]
    for window, least in ((1, 1), (7, 3), (64, 16)):
        monkeypatch.setattr(content, "_WINDOW", window)
        monkeypatch.setattr(content, "_WINDOW_MIN", least)
        for soup, want in zip(soups, uncut):
            got = _content_outcome(content.parse_content_stream, soup)
            assert got == want, (window, soup)
    for soup, want in zip(soups, uncut):
        slow = _content_outcome(content.parse_content_stream_slow, soup)
        if isinstance(want, list) or isinstance(slow, list):
            assert want == slow, soup


class _CountingTable:
    """``TOKEN_RE`` stand-in that counts the bytes each ``findall`` covers
    and the single-token matches."""

    def __init__(self, table):
        self.table = table
        self.window_bytes = 0
        self.matches = 0

    def findall(self, data, pos, end):
        self.window_bytes += end - pos
        return self.table.findall(data, pos, end)

    def match(self, data, pos, end=None):
        self.matches += 1
        return self.table.match(data, pos, len(data) if end is None else end)


def test_content_handovers_cost_bounded_work(monkeypatch):
    """Streams that hand over to ObjectParser every few dozen bytes (a
    ``<</MCID n>> BDC`` per text run, escaped strings, a ``%`` in a string
    on one long line) tokenize each byte a bounded number of times: a
    handover never rescans the rest of the stream."""
    from pdf_spark.core import content
    from pdf_spark.core.objects import TOKEN_RE

    tagged = b"".join(
        b"/P <</MCID %d>> BDC BT /F1 12 Tf 72 %d Td (run %d) Tj ET EMC\n"
        % (i, i % 700, i) for i in range(800)
    )
    escaped = b"".join(
        b"/Span <</ActualText (w\\351rd)>> BDC (caf\\351 \\(%d\\)) Tj"
        b" (50%% off) Tj EMC\n" % i for i in range(800)
    )
    for data in (tagged, escaped, tagged.replace(b"\n", b" "),
                 escaped.replace(b"\n", b" ")):
        counting = _CountingTable(TOKEN_RE)
        monkeypatch.setattr(content, "TOKEN_RE", counting)
        ops = content.parse_content_stream(data)
        monkeypatch.setattr(content, "TOKEN_RE", TOKEN_RE)
        assert ops == content.parse_content_stream_slow(data)
        assert counting.window_bytes <= 1.5 * len(data), (
            counting.window_bytes, len(data))
        assert counting.matches <= len(data) // 100, counting.matches
