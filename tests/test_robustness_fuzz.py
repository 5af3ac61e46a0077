"""Crash-safety fuzz: extract_document must ALWAYS return a result row —
for arbitrary junk bytes or bit-flipped valid documents (north rule: parse
errors become error-code rows, never task failures). Seeded, deterministic."""

import random

from pdf_spark.core.extract import extract_document, extract_text
from pdf_spark.gen.pdfgen import N_VARIANTS, generate_doc


def test_random_junk_never_raises():
    rng = random.Random(1234)
    for i in range(400):
        n = rng.randrange(0, 4096)
        data = bytes(rng.randrange(256) for _ in range(n))
        r = extract_document(data)
        assert r.status in ("ok", "error")
        assert isinstance(r.error_code, str)


def test_junk_with_pdf_header_never_raises():
    rng = random.Random(99)
    for i in range(400):
        body = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 2048)))
        r = extract_document(b"%PDF-1.4\n" + body)
        assert r.status in ("ok", "error")


def test_bitflipped_valid_docs_never_raise():
    """Every good variant, 40 random single-byte corruptions each."""
    rng = random.Random(31337)
    text = "Fuzz corpus text with enough length to be interesting " * 3
    for v in range(N_VARIANTS):
        pdf, _, name, _ = generate_doc(text, v)
        for _ in range(40):
            mutated = bytearray(pdf)
            pos = rng.randrange(len(mutated))
            mutated[pos] = rng.randrange(256)
            t, status, code, n_pages, n_spans = extract_text(bytes(mutated))
            assert status in ("ok", "error"), (name, pos)
            if status == "ok":
                assert isinstance(t, str)


def test_truncations_never_raise():
    rng = random.Random(7)
    text = "Truncation fuzz text " * 5
    for v in range(0, N_VARIANTS, 3):
        pdf, _, name, _ = generate_doc(text, v)
        for _ in range(25):
            cut = rng.randrange(len(pdf))
            r = extract_document(pdf[:cut])
            assert r.status in ("ok", "error"), (name, cut)


def test_scanner_slow_parity_on_random_token_soup():
    """Randomized parity: the fast scanner and the recursive-descent loop
    must agree on arbitrary token soups — same op list, or both raise a
    PdfError (the status-class guarantee; exact codes may differ)."""
    import random

    from pdf_spark.core.content import (
        parse_content_stream,
        parse_content_stream_slow,
    )
    from pdf_spark.core.errors import PdfError

    rng = random.Random(20260817)
    atoms = [
        b"BT", b"ET", b"Tf", b"Td", b"TD", b"Tm", b"T*", b"Tj", b"TJ",
        b"'", b'"', b"q", b"Q", b"cm", b"gs", b"Do", b"BX", b"EX",
        b"re", b"W", b"n", b"sh", b"BDC", b"EMC",
        b"/F1", b"/Name#41", b"(str)", b"(ne(st)ed)", b"(esc\\))",
        b"<48656c>", b"<48 65 6c>", b"[", b"]", b"1", b"-2.5", b".75",
        b"0", b"true", b"false", b"null", b"% comment\n", b"woozle",
        b"BI", b"ID", b"EI",
    ]
    for trial in range(500):
        n = rng.randrange(0, 24)
        soup = b" ".join(rng.choice(atoms) for _ in range(n))
        try:
            fast = parse_content_stream(soup)
            fast_err = None
        except PdfError:
            fast = None
            fast_err = True
        try:
            slow = parse_content_stream_slow(soup)
            slow_err = None
        except PdfError:
            slow = None
            slow_err = True
        if fast_err or slow_err:
            assert fast_err and slow_err, (trial, soup, fast, slow)
        else:
            assert fast == slow, (trial, soup)


def test_scanner_slow_parity_glued_and_comment_separated():
    """Same parity sweep with EMPTY and %-comment separators: caught two
    real divergences — (a) a backtrackable ws/comment prefix in _TOK_RE
    let the regex shorten a comment and emit phantom tokens from inside
    it when the next token needed the fallback parser (now possessive),
    (b) the slow path's keyword probe lacked a delimiter check, lexing
    `truen` as `true`+error instead of one unknown-operator token."""
    import random

    from pdf_spark.core.content import (
        parse_content_stream,
        parse_content_stream_slow,
    )
    from pdf_spark.core.errors import PdfError

    # pinned regressions
    for soup in (
        b'Tj q     "\tfalse % c\n (ne(st)ed)\r\n % c\n T* % c\n ',
        b"1 % c\n (ne(st)ed) T*",
        b"BX truen EX BT ET",
    ):
        assert parse_content_stream(soup) == parse_content_stream_slow(soup)

    rng = random.Random(777)
    atoms = [
        b"BT", b"ET", b"Tf", b"Td", b"TD", b"Tm", b"T*", b"Tj", b"TJ",
        b"'", b'"', b"q", b"Q", b"cm", b"gs", b"Do", b"BX", b"EX",
        b"re", b"W", b"n", b"sh", b"BDC", b"EMC",
        b"/F1", b"/Name#41", b"(str)", b"(ne(st)ed)", b"(esc\\))",
        b"<48656c>", b"<48 65 6c>", b"[", b"]", b"1", b"-2.5", b".75",
        b"0", b"true", b"false", b"null", b"% comment\n", b"woozle",
        b"BI", b"ID", b"EI", b"<<", b">>", b"{", b"}",
        b"%co", b"", b"\x00", b"   ", b"\r\n",
    ]
    seps = [b" ", b"", b"\n", b"\t", b" % c\n "]
    for trial in range(3000):
        n = rng.randrange(0, 30)
        soup = b"".join(rng.choice(atoms) + rng.choice(seps) for _ in range(n))
        try:
            fast, fast_err = parse_content_stream(soup), None
        except PdfError:
            fast, fast_err = None, True
        try:
            slow, slow_err = parse_content_stream_slow(soup), None
        except PdfError:
            slow, slow_err = None, True
        if fast_err or slow_err:
            assert fast_err and slow_err, (trial, soup, fast, slow)
        else:
            assert fast == slow, (trial, soup)


def test_atomic_prefix_fallback_equivalent():
    """The pre-3.11 lookahead+backref prefix must behave identically to
    the possessive one (this container runs 3.11+, so the fallback branch
    is exercised here by building both patterns explicitly)."""
    import re

    from pdf_spark.core.objects import WS_ATOM as _WS_ATOM

    possessive = re.compile(
        b"(?:" + _WS_ATOM + b")*+" + rb"(?:(?P<num>\d+)|\((?P<s>[^()\\\\]*)\))"
    )
    fallback = re.compile(
        b"(?=(?P<wsat>(?:" + _WS_ATOM + b")*))(?P=wsat)"
        + rb"(?:(?P<num>\d+)|\((?P<s>[^()\\\\]*)\))"
    )
    cases = [
        b"  % c\n 42",        # ws+comment then token
        b"% c\n (ab)",        # comment then string
        b"% c\n (ne(st)",     # comment then fallback-needing text: NO match
        b"%only-comment",     # no token at all
        b"7",                 # bare token
        b"   ",               # pure ws
    ]
    for s in cases:
        mp = possessive.match(s)
        mf = fallback.match(s)
        assert (mp is None) == (mf is None), s
        if mp is not None:
            assert mp.end() == mf.end(), s
            assert mp.group("num") == mf.group("num"), s
            assert mp.group("s") == mf.group("s"), s


def test_metadata_walkers_never_raise_on_mutations():
    """The side-channel walkers (form fields, image inventory, meta, links,
    outline) share the extraction contract: any byte-mutated document
    yields a (possibly empty) result, never an exception."""
    import random

    from pdf_spark.core.document import Resolver
    from test_meta import (
        _doc_with_attachments,
        _doc_with_internal_links,
        _doc_with_page_labels,
    )

    from pdf_spark.core.meta import (
        extract_embedded_files,
        extract_form_fields,
        extract_image_inventory,
        extract_internal_links,
        extract_page_labels,
        extract_pdf_links,
        extract_pdf_meta,
        extract_pdf_outline,
    )
    from pdf_spark.gen.pdfgen import _GOOD_VARIANTS

    rng = random.Random(0xF0F0)
    builders = dict(_GOOD_VARIANTS)
    ab, acat, _ = _doc_with_attachments()
    seeds = [
        builders["acroform"](["fuzz seed text body"]),
        builders["info_annots"](["fuzz seed text body"]),
        ab.build(acat),
        _doc_with_internal_links(),
        _doc_with_page_labels(b"<</Nums[0<</S/r>> 2<</S/D/P(p-)/St 9>>]>>"),
    ]
    for seed in seeds:
        for _ in range(150):
            mutated = bytearray(seed)
            for _ in range(rng.randrange(1, 8)):
                mutated[rng.randrange(len(mutated))] = rng.randrange(256)
            try:
                r = Resolver(bytes(mutated))
            except Exception:
                continue  # constructor may reject the doc: that's an error row
            for walker in (
                extract_embedded_files,
                extract_form_fields,
                extract_image_inventory,
                extract_internal_links,
                extract_page_labels,
                extract_pdf_links,
                extract_pdf_meta,
                extract_pdf_outline,
            ):
                out = walker(r)  # must never raise
                assert out is not None
