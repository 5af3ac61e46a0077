"""End-to-end extraction on the reference fixture corpus (parity floor,
BASELINE.md: fixture text-match rate must be 100%) + content/interp units."""

import pytest

from pdf_spark.core.cmap import parse_cmap
from pdf_spark.core.content import parse_content_stream
from pdf_spark.core.errors import PdfError
from pdf_spark.core.extract import assemble_text, extract_document, extract_text

FIXTURES = "/root/reference/test-files"


@pytest.mark.parametrize("name", ["test.pdf", "compressed.pdf", "embedded.pdf"])
def test_fixture_parity(name):
    data = open(f"{FIXTURES}/{name}", "rb").read()
    text, status, err, n_pages, n_spans = extract_text(data)
    assert status == "ok", err
    assert text == "Hello World!"
    assert n_pages == 1 and n_spans >= 1


def test_fixture_span_geometry():
    data = open(f"{FIXTURES}/test.pdf", "rb").read()
    r = extract_document(data)
    s = r.spans[0]
    # BT /F1 100 Tf 10 400 Td — span origin is Tm·CTM translation
    assert (s.x, s.y) == (10.0, 400.0)
    assert s.size == 100.0
    assert s.page == 0


class TestContentStream:
    def test_tj_canonicalized_to_TJ(self):
        # Tj rewritten to 1-element TJ (operation.c:706-715)
        ops = parse_content_stream(b"BT (x) Tj ET")
        assert ("TJ", [[b"x"]]) in ops

    def test_ignored_ops_dropped(self):
        ops = parse_content_stream(b"1 w 0 0 1 RG 10 10 m 20 20 l S BT ET")
        assert [o for o, _ in ops] == ["BT", "ET"]

    def test_bx_ex_swallow_unknown(self):
        # stream.c:79-97
        ops = parse_content_stream(b"BX /x woozle EX BT ET")
        assert [o for o, _ in ops] == ["BT", "ET"]

    def test_unknown_op_outside_bx_is_error(self):
        with pytest.raises(PdfError) as e:
            parse_content_stream(b"woozle")
        assert e.value.code == "UNSUPPORTED_OPERATOR"

    def test_inline_image_skipped(self):
        # BI..EI is skipped spec-correctly (extension; reference panics)
        assert parse_content_stream(b"BI /W 1 ID x EI") == []


class TestCMap:
    def test_bfchar_and_bfrange(self):
        cm = parse_cmap(
            b"/CIDInit /ProcSet findresource begin\n"
            b"begincmap\n"
            b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"2 beginbfchar <0001> <0041> <0002> <00E9> endbfchar\n"
            b"1 beginbfrange <0010> <0012> <0061> endbfrange\n"
            b"endcmap end\n"
        )
        assert cm.get_unicode(1) == "A"
        assert cm.get_unicode(2) == "é"
        assert cm.get_unicode(0x10) == "a"
        assert cm.get_unicode(0x12) == "c"
        assert cm.get_unicode(0x99) is None

    def test_cidrange(self):
        cm = parse_cmap(
            b"1 begincidrange <0020> <007E> 32 endcidrange"
        )
        assert cm.get_cid(0x41) == 0x41

    def test_embedded_pdf_tounicode_table(self):
        # the fixture's own ToUnicode (bfrange-heavy) — reference can't parse
        # bfrange; we must (module docstring divergence)
        data = open(f"{FIXTURES}/embedded.pdf", "rb").read()
        start = data.index(b"/CIDInit")
        end = data.index(b"endstream", start)
        cm = parse_cmap(data[start:end])
        assert cm.get_unicode(0x0001) == " "  # <0001>-<005f> -> <0020>
        assert cm.get_unicode(0x007B) == "¿"  # bfchar pair


class TestAssembly:
    def test_error_doc_yields_error_row(self):
        r = extract_document(b"this is not a pdf, but it is long enough")
        assert r.status == "error" and r.error_code == "INVALID_VERSION"

    def test_empty_doc(self):
        assert extract_document(b"").error_code == "EMPTY_DOC"
        assert extract_document(None).error_code == "EMPTY_DOC"

    def test_byte_cap(self):
        r = extract_document(b"x" * 100, max_bytes=50)
        assert r.error_code == "DOC_TOO_LARGE"

    def test_line_ordering(self):
        from pdf_spark.core.interp import Span

        spans = [
            Span(0, 10.0, 100.0, 5, "world", "F", 10.0),
            Span(0, 10.0, 200.0, 0, "hello", "F", 10.0),
            Span(0, 60.0, 100.0, 9, "!", "F", 10.0),
            Span(1, 0.0, 700.0, 0, "page2", "F", 10.0),
        ]
        # y desc within page; same y joined; pages separated by newline
        assert assemble_text(spans) == "hello\nworld!\npage2"


def test_scanner_matches_slow_tokenizer_on_all_variants():
    """The fast single-pass scanner and the recursive-descent loop must
    produce identical op lists (the scanner is the hot path; the loop is
    the behavioral oracle)."""
    from pdf_spark.core.content import (
        parse_content_stream,
        parse_content_stream_slow,
    )
    from pdf_spark.core.document import Resolver
    from pdf_spark.gen.pdfgen import N_VARIANTS, generate_doc

    text = "Parity text (with parens), 0.5 -1.25 kerns and \\ backslash!"
    for v in range(N_VARIANTS):
        pdf, _, name, _ = generate_doc(text, v)
        if name.startswith("html_") or name == "pdf_gzip":
            continue  # HTML tier / gzip wrapper: not direct Resolver input
        r = Resolver(pdf)
        for page in r.iter_pages():
            for s in r.content_streams(page):
                assert parse_content_stream(s) == parse_content_stream_slow(
                    s
                ), name
    for f in ("test", "compressed", "embedded"):
        data = open(f"/root/reference/test-files/{f}.pdf", "rb").read()
        r = Resolver(data)
        for page in r.iter_pages():
            for s in r.content_streams(page):
                assert parse_content_stream(s) == parse_content_stream_slow(s), f


def test_scanner_edge_tokens():
    from pdf_spark.core.content import (
        parse_content_stream,
        parse_content_stream_slow,
    )

    cases = [
        b"BT /F1 12 Tf [(a) -120 (b)] TJ ET",          # TJ array w/ kerns
        b"BT (x) Tj ET",                                # Tj canonicalization
        b"BT <48656c6c6f> Tj ET",                       # hex string
        b"BT <48 65 6C> Tj ET",                         # hex w/ ws + odd digit
        b"BT (nested (parens) ok) Tj ET",               # fallback: nested
        b"BT (esc \\(paren\\)) Tj ET",                  # fallback: escapes
        b"q 1 0 0 1 10 20 cm Q",                        # state ops
        b"BX zzz 1 2 (x) EX BT (k) Tj ET",              # compat swallow
        b"% comment line\nBT (c) Tj ET",                # comment as ws
        b"BT /Na#6de 9 Tf (n) Tj ET",                   # name #xx escape
        b"BT 0 TL (a) ' ET",                            # quote op
        b'BT 1 2 (w) " ET',                             # double-quote op
        b"",                                            # empty stream
        b"true false null n",                           # keyword operands
    ]
    for c in cases:
        assert parse_content_stream(c) == parse_content_stream_slow(c), c


def test_scanner_rejects_unterminated_array():
    """A stream truncated mid-array must be an error row in BOTH paths, not
    a silent ok with partial text (status-class guarantee)."""
    import pytest

    from pdf_spark.core.content import (
        parse_content_stream,
        parse_content_stream_slow,
    )
    from pdf_spark.core.errors import PdfError

    for c in (b"BT [ (a)", b"BT [(a) -120 ", b"[ [ (x) ]"):
        with pytest.raises(PdfError):
            parse_content_stream(c)
        with pytest.raises(PdfError):
            parse_content_stream_slow(c)


def test_skip_inline_image_edges():
    """BI ... ID <binary> EI skip: embedded non-delimited EI must not
    terminate early; missing ID or EI raises."""
    import pytest

    from pdf_spark.core.content import parse_content_stream, skip_inline_image
    from pdf_spark.core.errors import PdfError

    s = b"BI /W 2/H 2/BPC 8/CS/G ID \x00aEIb\xff EI BT (ok) Tj ET"
    ops = parse_content_stream(s)
    assert ops == [("BT", []), ("TJ", [[b"ok"]]), ("ET", [])]
    # data whose EI is followed by a delimiter also terminates
    s2 = b"BI /W 1 ID \x01 EI/Name 1 2 Td"
    assert [o for o, _ in parse_content_stream(s2)] == ["Td"]
    with pytest.raises(PdfError):
        skip_inline_image(b"/W 2 no id token here", 0)
    with pytest.raises(PdfError):
        parse_content_stream(b"BI /W 2 ID \x00\x01\x02 never terminated")
    # bare EI outside a BI section is still the reference's error class
    with pytest.raises(PdfError):
        parse_content_stream(b"(x) Tj EI")
    # an 'ID' byte pair inside a literal-string dict value must NOT start
    # the binary region early (the dict is tokenized, not regex-scanned)
    s3 = b"BI /Name (x ID y) /W 1 ID \x00\x01 EI 9 9 Td (after) Tj"
    ops3 = parse_content_stream(s3)
    assert ops3 == [("Td", [9, 9]), ("TJ", [[b"after"]])]
    # same with an escaped string value (fallback parser path)
    s4 = b"BI /N (a\\) ID b) ID \xffEIx EI (t) Tj"
    assert [o for o, _ in parse_content_stream(s4)] == ["TJ"]


class TestSfntCmap:
    def test_format_0(self):
        import struct

        from pdf_spark.core.sfnt import parse_sfnt_cmaps

        # (1,0) format 0: byte table with gid 5 at code 65
        table = bytearray(256)
        table[65] = 5
        sub = struct.pack(">HHH", 0, 262, 0) + bytes(table)
        cmap = struct.pack(">HH", 0, 1) + struct.pack(">HHI", 1, 0, 12) + sub
        data = (
            struct.pack(">IHHHH", 0x00010000, 1, 16, 0, 16)
            + b"cmap" + struct.pack(">III", 0, 28, len(cmap))
            + cmap
        )
        out = parse_sfnt_cmaps(data)
        assert out is not None and out.symbol_map[65] == 5

    def test_format_4_and_6_via_mini_sfnt(self):
        from pdf_spark.core.sfnt import parse_sfnt_cmaps
        from pdf_spark.gen.pdfgen import _mini_sfnt

        data = _mini_sfnt(0x21, [k + 1 for k in range(95)], (0x20, 0x7E, -0x1F))
        out = parse_sfnt_cmaps(data)
        # symbol (1,0) fmt6: code 0x41+1 -> gid of 'A' = 0x41-0x1F
        assert out.symbol_map[0x42] == 0x41 - 0x1F + 1 - 1  # code 0x42 -> gid 0x22
        # unicode (3,1) fmt4 delta segment + inverse
        assert out.unicode_map[ord("A")] == ord("A") - 0x1F
        assert out.decode_code(ord("A") + 1) == "A"
        assert out.decode_gid(ord("z") - 0x1F) == "z"

    def test_format_12_astral(self):
        from pdf_spark.core.sfnt import parse_sfnt_cmaps
        from pdf_spark.gen.pdfgen import _NONBMP_GROUPS, _mini_sfnt

        data = _mini_sfnt(
            0x21, [k + 1 for k in range(95)], (0, 0, 0), uni12=_NONBMP_GROUPS
        )
        out = parse_sfnt_cmaps(data)
        # (3,10) format 12: 'A' gid maps from U+1D400 (MATH BOLD CAPITAL A)
        gid_a = ord("A") - 0x1F
        assert out.unicode_map[0x1D400] == gid_a
        assert out.decode_gid(gid_a) == "\U0001D400"
        # symbolic chain: shifted code -> gid -> astral char
        assert out.decode_code(ord("A") + 1) == "\U0001D400"
        # BMP identity run in the same format-12 table
        assert out.decode_code(ord(" ") + 1) == " "


    def test_post_v2_names(self):
        from pdf_spark.core.sfnt import parse_sfnt_cmaps
        from pdf_spark.gen.pdfgen import _mini_sfnt_post

        indices = [0] + [3 + k for k in range(95)]
        indices[95] = 258  # '~' via the custom pool
        data = _mini_sfnt_post(
            0x21, [k + 1 for k in range(95)], indices, [b"asciitilde"]
        )
        out = parse_sfnt_cmaps(data)
        # no Unicode cmap at all: unicode_map empty, post fills gids
        assert not out.unicode_map
        assert out.decode_gid(ord("A") - 0x1F) == "A"
        # symbolic chain: shifted code -> gid -> post name -> AGL
        assert out.decode_code(ord("z") + 1) == "z"
        # custom Pascal-pool name (index 258)
        assert out.decode_code(ord("~") + 1) == "~"
        # .notdef (index 0) has no AGL mapping
        assert out.decode_gid(0) is None

    def test_post_v1_standard_order(self):
        import struct

        from pdf_spark.core.sfnt import _parse_post_names

        post = struct.pack(">IiHHIIIII", 0x00010000, 0, 0, 0, 0, 0, 0, 0, 0)
        names = _parse_post_names(post, 0, len(post))
        assert names[3] == "space" and names[36] == "A" and names[97] == "asciitilde"
        assert len(names) == 258

    def test_post_unicode_cmap_wins(self):
        """Where both an inverse Unicode cmap and post names exist, the
        cmap is authoritative."""
        import struct

        from pdf_spark.core.sfnt import parse_sfnt_cmaps
        from pdf_spark.gen.pdfgen import _mini_sfnt

        base = _mini_sfnt(0x21, [k + 1 for k in range(95)], (0x20, 0x7E, -0x1F))
        # graft a post v2 that (wrongly) names every gid 'B'
        indices = [37] * 96  # index 37 = 'B'
        post = struct.pack(">IiHHIIIII", 0x00020000, 0, 0, 0, 0, 0, 0, 0, 0)
        post += struct.pack(">H", len(indices))
        post += b"".join(struct.pack(">H", i) for i in indices)
        # rebuild wrapper with both tables
        cmap = base[12 + 16:]
        header = struct.pack(">IHHHH", 0x00010000, 2, 16, 1, 0)
        off0 = 12 + 32
        data = (
            header
            + b"cmap" + struct.pack(">III", 0, off0, len(cmap))
            + b"post" + struct.pack(">III", 0, off0 + len(cmap), len(post))
            + cmap + post
        )
        out = parse_sfnt_cmaps(data)
        assert out.decode_code(ord("A") + 1) == "A"  # cmap, not post's 'B'

    def test_post_truncated_pool_tolerated(self):
        import struct

        from pdf_spark.core.sfnt import _parse_post_names

        post = struct.pack(">IiHHIIIII", 0x00020000, 0, 0, 0, 0, 0, 0, 0, 0)
        post += struct.pack(">HHH", 2, 258, 259)  # two custom indices
        post += bytes([10]) + b"only"  # pascal length 10, only 4 bytes
        names = _parse_post_names(post, 0, len(post))
        assert names.get(0) == "only"  # truncated but captured
        assert 1 not in names  # second pool entry never materializes

    def test_variant_truetype_post_roundtrip(self):
        from pdf_spark.core.extract import extract_text
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc

        idx = [i for i, (n, _) in enumerate(_GOOD_VARIANTS)
               if n == "truetype_post"][0]
        text = "Mixed CASE ~tilde~ & (parens) 0123!"
        pdf, expected, name, err = generate_doc(text, idx)
        assert name == "truetype_post" and err == ""
        got = extract_text(pdf)
        got_text = got[0] if isinstance(got, tuple) else got
        assert got_text == expected


    def test_format_12_work_cap(self):
        """One group spanning the whole Unicode range must be budget-bounded
        (honest fonts map a bounded repertoire)."""
        import struct
        import time

        from pdf_spark.core.sfnt import parse_sfnt_cmaps

        fmt12 = struct.pack(">HHIII", 12, 0, 16 + 12, 0, 1) + struct.pack(
            ">III", 0, 0x10FFFF, 1
        )
        cmap = struct.pack(">HH", 0, 1) + struct.pack(">HHI", 3, 10, 12) + fmt12
        data = (
            struct.pack(">IHHHH", 0x00010000, 1, 16, 0, 16)
            + b"cmap" + struct.pack(">III", 0, 28, len(cmap))
            + cmap
        )
        t0 = time.monotonic()
        out = parse_sfnt_cmaps(data)
        assert time.monotonic() - t0 < 5.0
        assert out is not None and out.unicode_map[0] == 1

    def test_no_cmap_returns_none(self):
        import struct

        from pdf_spark.core.sfnt import parse_sfnt_cmaps

        data = struct.pack(">IHHHH", 0x00010000, 1, 16, 0, 16) + b"glyf" + bytes(12)
        assert parse_sfnt_cmaps(data) is None

    def test_format_4_work_cap(self):
        """A crafted format-4 table with ~32k full-range segments would cost
        ~2e9 iterations; the visited-code budget must bound it to ~128k and
        return the partial map instead of stalling the executor."""
        import struct
        import time

        from pdf_spark.core.sfnt import parse_sfnt_cmaps

        nseg = 16384
        seg_x2 = 2 * nseg
        # every segment covers 0..0xFFFE with delta +1, roff 0
        ends = struct.pack(f">{nseg}H", *([0xFFFE] * nseg))
        starts = struct.pack(f">{nseg}H", *([0] * nseg))
        deltas = struct.pack(f">{nseg}H", *([1] * nseg))
        roffs = struct.pack(f">{nseg}H", *([0] * nseg))
        fmt4 = (
            struct.pack(">HHHHHHH", 4, 0, 0, seg_x2, 0, 0, 0)
            + ends + b"\x00\x00" + starts + deltas + roffs
        )
        cmap = (
            struct.pack(">HH", 0, 1) + struct.pack(">HHI", 3, 1, 12) + fmt4
        )
        data = (
            struct.pack(">IHHHH", 0x00010000, 1, 16, 0, 16)
            + b"cmap" + struct.pack(">III", 0, 28, len(cmap))
            + cmap
        )
        t0 = time.monotonic()
        out = parse_sfnt_cmaps(data)
        assert time.monotonic() - t0 < 5.0
        # the first budgeted segments still contribute a usable map
        assert out is not None and out.unicode_map[0] == 1
        assert parse_sfnt_cmaps(b"") is None


class TestEncodingTables:
    def test_macroman_high_range(self):
        from pdf_spark.core.encodings import (
            MAC_ROMAN_ENCODING,
            glyph_name_to_unicode,
        )

        # spot checks against PDF 32000-1 Annex D.2
        assert MAC_ROMAN_ENCODING[0x87] == "aacute"
        assert MAC_ROMAN_ENCODING[0x8E] == "eacute"
        assert MAC_ROMAN_ENCODING[0xA5] == "bullet"
        assert MAC_ROMAN_ENCODING[0xD0] == "endash"
        assert MAC_ROMAN_ENCODING[0xFF] == "caron"
        assert glyph_name_to_unicode("aacute") == "á"
        assert glyph_name_to_unicode("partialdiff") == "∂"
        assert glyph_name_to_unicode("caron") == "ˇ"
        # every MacRoman name must resolve through the AGL
        for code, name in MAC_ROMAN_ENCODING.items():
            assert glyph_name_to_unicode(name) is not None, (code, name)

    def test_predefined_unicode_cmaps(self):
        from pdf_spark.core.cmap import get_predefined_cmap
        from pdf_spark.core.errors import PdfError

        for name in (
            "UniJIS-UCS2-H", "UniGB-UCS2-V", "UniCNS-UTF16-H",
            "UniKS-UCS2-H", "UniKR-UTF16-V",
        ):
            cm = get_predefined_cmap(name)
            assert cm.unicode_identity
            assert cm.get_cid(0x41) == 0x41 - 0x20 + 1  # ASCII CID run
        ident = get_predefined_cmap("Identity-H")
        assert not ident.unicode_identity and ident.get_cid(0x1234) == 0x1234
        # legacy byte-keyed families are now supported (charset-decoded)
        legacy = get_predefined_cmap("90ms-RKSJ-H")
        assert legacy.charset == "cp932" and legacy.lead_lens is not None
        with pytest.raises(PdfError):
            get_predefined_cmap("Bogus-Keyed-H")


def test_surrogate_codes_never_leak_invalid_unicode():
    """Identity-H CIDs (or UTF16 CMap codes) in the surrogate range must
    yield Arrow-serializable text: pairs combine into the astral char,
    lone surrogates become U+FFFD. A lone surrogate in span text would
    crash the UTF-8 Arrow boundary — a task failure, not an error row."""
    from pdf_spark.gen.pdfgen import PdfBuilder

    def type0_doc(hexcodes: bytes) -> bytes:
        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        cid_font = b.add(
            b"<</Type/Font/Subtype/CIDFontType0/BaseFont/X"
            b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)"
            b"/Supplement 0>>/DW 500>>"
        )
        font = b.add(
            b"<</Type/Font/Subtype/Type0/BaseFont/X/Encoding/Identity-H"
            b"/DescendantFonts[" + str(cid_font).encode() + b" 0 R]>>"
        )
        cont = b.stream(b"BT /F1 12 Tf 72 700 Td <" + hexcodes + b"> Tj ET")
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        return b.build(cat)

    # valid pair D800 DC01 -> U+10001; lone high D800 + BMP char
    text, status, _, _, _ = extract_text(type0_doc(b"D800DC01"))
    assert status == "ok" and text == "\U00010001"
    text2, status2, _, _, _ = extract_text(type0_doc(b"D8000041"))
    assert status2 == "ok" and text2 == "�A"
    # both must round-trip through UTF-8 (the Arrow requirement)
    for t in (text, text2):
        t.encode("utf-8")


def test_gs_with_missing_extgstate_is_skipped():
    """A gs op naming an absent ExtGState has no text effect and must not
    error the document (leniency: hand-edited/merged PDFs drop resources)."""
    from pdf_spark.gen.pdfgen import PdfBuilder, _content_td_tj, F_HELV

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    content = b"/GS9 gs\n" + _content_td_tj(["hello world"])
    cont = b.stream(content)
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
    b.set(
        page,
        b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
        b"/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
        b"/Contents " + str(cont).encode() + b" 0 R>>",
    )
    text, status, err, _, _ = extract_text(b.build(cat))
    assert status == "ok", err
    assert text == "hello world"


def test_bfrange_surrogate_pair_destination():
    """A bfrange whose destination is a 4-byte UTF-16BE value (surrogate
    pair, e.g. mathematical alphanumerics) must decode to the astral char
    instead of raising chr(>0x10FFFF)."""
    from pdf_spark.core.cmap import parse_cmap

    cm = parse_cmap(b"1 beginbfrange <00> <0A> <D835DC00> endbfrange")
    assert cm.get_unicode(0) == "\U0001D400"
    assert cm.get_unicode(5) == "\U0001D405"


def test_operands_split_across_contents_streams():
    """PDF 32000-1 §7.8.2: the division between Contents streams may fall
    between any two tokens — operands at the end of stream 1 must find
    their operator at the start of stream 2."""
    from pdf_spark.core.document import Resolver
    from pdf_spark.gen.pdfgen import PdfBuilder, F_HELV
    from pdf_spark.core.interp import Interpreter

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    s1 = b.stream(b"BT /F1 12")          # ends mid-operator-operand group
    s2 = b.stream(b" Tf 72 700 Td (split) Tj ET")
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
    b.set(
        page,
        b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
        b"/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
        b"/Contents[" + str(s1).encode() + b" 0 R " + str(s2).encode() + b" 0 R]>>",
    )
    text, status, err, _, _ = extract_text(b.build(cat))
    assert status == "ok", err
    assert text == "split"


def test_truncated_op_gets_taxonomy_not_internal_error():
    """A bare Tf with no operands must land in the PdfError taxonomy
    (INCORRECT_TYPE), not INTERNAL_ERROR."""
    from pdf_spark.gen.pdfgen import PdfBuilder, F_HELV

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(b"BT Tf (x) Tj ET")
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
    b.set(
        page,
        b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
        b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
        b"/Contents " + str(cont).encode() + b" 0 R>>",
    )
    r = extract_document(b.build(cat))
    assert r.status == "error"
    assert r.error_code == "INCORRECT_TYPE"


def test_high_byte_name_matches_hex_escape():
    from pdf_spark.core.objects import decode_name_bytes

    assert decode_name_bytes(b"Fo\xe9") == decode_name_bytes(b"Fo#E9")


def test_ts_rise_shifts_span_y():
    from pdf_spark.core.document import Resolver
    from pdf_spark.core.interp import Interpreter
    from pdf_spark.gen.pdfgen import PdfBuilder, F_HELV

    b = PdfBuilder()
    cat = b.reserve()
    pages = b.reserve()
    page = b.reserve()
    font = b.add(F_HELV)
    cont = b.stream(b"BT /F1 10 Tf 72 700 Td 5 Ts (sup) Tj 0 Ts (base) Tj ET")
    b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
    b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
    b.set(
        page,
        b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
        b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
        b"/Contents " + str(cont).encode() + b" 0 R>>",
    )
    r = extract_document(b.build(cat))
    assert r.ok
    sup = next(s for s in r.spans if s.text == "sup")
    base = next(s for s in r.spans if s.text == "base")
    assert sup.y == base.y + 5.0


class TestLegacyCjkCmaps:
    """Legacy byte-oriented predefined CMaps (reference capability surface
    fonts/cmap_paths.c:1-515): mixed 1/2-byte codespace split + stdlib
    charset decode. Extraction needs code->Unicode only."""

    CASES = [
        ("90ms-RKSJ-H", "カタカナ abc123 ｱｲｳﾝ", "cp932"),
        ("90pv-RKSJ-H", "カナ abc", "shift_jis"),
        ("GB-EUC-H", "汉字 abc", "gb2312"),
        ("GBK-EUC-H", "汉字镕 abc", "gbk"),
        ("B5pc-H", "漢字 abc", "big5"),
        ("ETen-B5-V", "漢字 abc", "big5"),
        ("KSC-EUC-H", "한글 abc", "euc_kr"),
        ("KSCms-UHC-H", "한글샾 abc", "cp949"),
    ]

    def test_split_and_decode_roundtrip(self):
        from pdf_spark.core.cmap import get_predefined_cmap
        from pdf_spark.core.fonts import Font

        for name, payload, codec in self.CASES:
            cm = get_predefined_cmap(name)
            f = Font()
            f.is_type0 = True
            f.encoding_cmap = cm
            raw = payload.encode(codec)
            got = "".join(f.code_to_text(c) for c in f.split_codes(raw))
            assert got == payload, name

    def test_mixed_width_split_boundaries(self):
        from pdf_spark.core.cmap import get_predefined_cmap
        from pdf_spark.core.fonts import Font

        f = Font()
        f.is_type0 = True
        f.encoding_cmap = get_predefined_cmap("90ms-RKSJ-H")
        # 1-byte ASCII, 2-byte lead 0x81, 1-byte halfwidth kana 0xB1,
        # 2-byte lead 0xE0; trailing lead byte with no second byte -> 1 code
        raw = b"A\x81\x40\xb1\xe0\x40\x81"
        assert f.split_codes(raw) == [0x41, 0x8140, 0xB1, 0xE040, 0x81]

    def test_unknown_cmap_still_errors(self):
        import pytest

        from pdf_spark.core.cmap import get_predefined_cmap
        from pdf_spark.core.errors import PdfError

        for name in ("CNS-EUC-H", "NoSuch-CMap-H", "90ms-RKSJ-X"):
            with pytest.raises(PdfError):
                get_predefined_cmap(name)

    def test_legacy_variant_extracts_byte_identical(self):
        from pdf_spark.core.extract import extract_text
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc

        names = [n for n, _ in _GOOD_VARIANTS]
        v = names.index("type0_legacy_cmap")
        pdf, expected, vname, err = generate_doc(
            "The quick brown fox jumps over 12 lazy dogs! " * 4, v
        )
        assert vname == "type0_legacy_cmap" and err == ""
        text, status, code, _, _ = extract_text(pdf)
        assert status == "ok" and text == expected
        # the expected text is genuinely non-ASCII (katakana)
        assert any(ord(c) > 0x3000 for c in expected)


class TestNonLatinAgl:
    """Non-Latin AGL blocks: Cyrillic afii* runs, Greek names, expert-set
    smallcap/oldstyle names, MacExpertEncoding (reference: full
    glyphlist.txt via fonts/agl.c + fonts/encoding.c:13-431)."""

    def test_cyrillic_afii_run(self):
        from pdf_spark.core.encodings import glyph_name_to_unicode as g

        assert g("afii10017") == "А"  # U+0410
        assert g("afii10023") == "Ё"  # U+0401 interleaved
        assert g("afii10024") == "Ж"  # U+0416
        assert g("afii10049") == "Я"  # U+042F
        assert g("afii10065") == "а"
        assert g("afii10071") == "ё"
        assert g("afii10097") == "я"
        assert g("afii10055") == "І" and g("afii10103") == "і"
        assert g("afii61352") == "№"

    def test_greek_names(self):
        from pdf_spark.core.encodings import glyph_name_to_unicode as g

        assert g("alpha") == "α" and g("omega") == "ω"
        assert g("Alpha") == "Α" and g("Sigma") == "Σ" and g("Psi") == "Ψ"
        assert g("sigma1") == "ς"
        # legacy AGL quirks preserved: mu is micro, pi the math char
        assert g("mu") == "µ" and g("pi") == "π"

    def test_expert_names_text_equivalents(self):
        from pdf_spark.core.encodings import (
            MAC_EXPERT_ENCODING,
            glyph_name_to_unicode as g,
        )

        assert g("sevenoldstyle") == "7"
        assert g("Asmall") == "a" and g("Zsmall") == "z"
        assert g("exclamsmall") == "!"
        assert MAC_EXPERT_ENCODING[0x61] == "Asmall"
        assert MAC_EXPERT_ENCODING[0x37] == "sevenoldstyle"

    def test_symbol_zapf_builtin_encodings(self):
        # Annex D.5/D.6: symbolic base-14 fonts decode through their own
        # built-in tables, not StandardEncoding
        from pdf_spark.core.encodings import (
            SYMBOL_ENCODING,
            ZAPF_DINGBATS_ENCODING,
            glyph_name_to_unicode as g,
        )

        assert SYMBOL_ENCODING[0x61] == "alpha" and g("alpha") == "α"
        assert SYMBOL_ENCODING[0x57] == "Omega" and g("Omega") == "Ω"
        assert SYMBOL_ENCODING[0x4A] == "theta1" and g("theta1") == "ϑ"
        assert g(SYMBOL_ENCODING[0x22]) == "∀"   # universal
        assert g(SYMBOL_ENCODING[0xB7]) == "•"   # bullet
        assert g(SYMBOL_ENCODING[0xCE]) == "∈"   # element
        # dingbats: in-code-order rule + the Misc-Symbols/Geometric-Shapes
        # exceptions Unicode 1.0 had elsewhere
        assert ZAPF_DINGBATS_ENCODING[0x33] == "a19" and g("a19") == "✓"
        assert g(ZAPF_DINGBATS_ENCODING[0x25]) == "☎"  # a4 telephone
        assert g(ZAPF_DINGBATS_ENCODING[0x2B]) == "☞"  # a12 pointing hand
        assert g(ZAPF_DINGBATS_ENCODING[0x48]) == "★"  # a35 black star
        assert g(ZAPF_DINGBATS_ENCODING[0x6C]) == "●"  # a71 black circle
        assert g(ZAPF_DINGBATS_ENCODING[0x6E]) == "■"  # a73 black square

    def test_symbol_differences_over_builtin_base(self):
        # /Encoding dict WITHOUT BaseEncoding on a Symbol font: the base
        # table is the font's built-in encoding (§9.6.6.2), with the
        # Differences overrides applied on top
        from pdf_spark.core.document import Resolver
        from pdf_spark.core.fonts import load_font
        from pdf_spark.gen.pdfgen import PdfBuilder

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font = b.add(
            b"<</Type/Font/Subtype/Type1/BaseFont/Symbol"
            b"/Encoding<</Differences[65 /bullet]>>>>"
        )
        cont = b.stream(b"BT /F1 12 Tf 72 700 Td (A B) Tj ET")
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        r = Resolver(b.build(cat))
        pg = next(iter(r.iter_pages()))
        fonts = r.resolve(r.resolve(pg.get("Resources")).get("Font"))
        f = load_font(next(iter(fonts.values())), r)
        assert f.code_to_text(0x41) == "•"   # Differences override
        assert f.code_to_text(0x42) == "Β"   # built-in base, not latin 'B'

    def test_variants_extract_byte_identical(self):
        from pdf_spark.core.extract import extract_text
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc

        names = [n for n, _ in _GOOD_VARIANTS]
        payload = "The Quick Brown Fox; jumps over 012 lazy dogs!? " * 4
        for vn in ("differences_nonlatin", "macexpert", "symbol_zapf"):
            pdf, expected, vname, err = generate_doc(payload, names.index(vn))
            assert vname == vn and err == ""
            text, status, code, _, _ = extract_text(pdf)
            assert status == "ok" and text == expected, (vn, code)
        # the nonlatin expectation is genuinely Cyrillic/Greek
        pdf, expected, _, _ = generate_doc(payload, names.index("differences_nonlatin"))
        assert any("Ѐ" <= c <= "ӿ" for c in expected)
        assert any("Α" <= c <= "ω" for c in expected)


class TestFontCache:
    """Executor-level Font cache: equal flat font dicts share one instance
    across documents; every other font loads per document."""

    def _font_of(self, pdf: bytes):
        from pdf_spark.core.document import Resolver
        from pdf_spark.core.fonts import load_font

        r = Resolver(pdf)
        page = next(iter(r.iter_pages()))
        res = r.resolve(page.get("Resources"))
        fonts = r.resolve(res.get("Font"))
        return load_font(next(iter(fonts.values())), r)

    def test_equal_flat_fonts_share_instance(self):
        # a font dict of direct names/numbers/booleans is its own cache
        # key: equal dicts across documents share one instance
        from pdf_spark.gen.pdfgen import generate_doc

        a = generate_doc("alpha one", 0)[0]
        b = generate_doc("beta two three", 0)[0]
        assert self._font_of(a) is self._font_of(b)

    def test_flat_font_key_is_exact(self):
        # an int and an equal real, or another /BaseFont, never share
        from pdf_spark.core.fonts import load_font
        from pdf_spark.core.objects import Name

        class Direct:
            def get_dict(self, obj, what):
                return obj

            def resolve(self, obj):
                return obj

        def font(**extra):
            d = {
                Name("Type"): Name("Font"),
                Name("Subtype"): Name("Type1"),
                Name("BaseFont"): Name("Helvetica"),
            }
            d.update({Name(k): v for k, v in extra.items()})
            return load_font(d, Direct())

        assert font(FirstChar=1) is font(FirstChar=1)
        assert font(FirstChar=1) is not font(FirstChar=1.0)
        assert font(FirstChar=1) is not font(FirstChar=True)
        assert font(FirstChar=1) is not font(FirstChar=1, BaseFont=Name("Courier"))
        assert font(FirstChar=1, BaseFont=Name("Courier")).base_font == "Courier"

    def test_different_variant_fonts_do_not_collide(self):
        from pdf_spark.gen.pdfgen import N_VARIANTS, generate_doc
        from pdf_spark.core.extract import extract_text

        # extraction stays byte-identical when the same variants are
        # interleaved twice (second pass served from the cache)
        for i in range(2 * N_VARIANTS):
            pdf, exp, name, _ = generate_doc(f"cache pass {i}", i % N_VARIANTS)
            got, status, err, _, _ = extract_text(pdf)
            assert status == "ok", (name, err)
            assert got == exp, name

    def test_unread_font_subobject_is_never_resolved(self):
        # a dangling ref in a FontDescriptor entry the loader never reads
        # does not fail the document
        from pdf_spark.core.extract import extract_text
        from pdf_spark.gen.pdfgen import PdfBuilder

        b = PdfBuilder()
        cat, pages, page = b.reserve(), b.reserve(), b.reserve()
        fd = b.add(
            b"<</Type/FontDescriptor/FontName/Helvetica/Flags 32/Foo 99 0 R>>"
        )
        font = b.add(
            b"<</Type/Font/Subtype/TrueType/BaseFont/Helvetica"
            b"/FontDescriptor %d 0 R>>" % fd
        )
        cont = b.stream(b"BT /F1 12 Tf 72 700 Td (Hello world) Tj ET")
        b.set(cat, b"<</Type/Catalog/Pages %d 0 R>>" % pages)
        b.set(pages, b"<</Type/Pages/Kids[%d 0 R]/Count 1>>" % page)
        b.set(
            page,
            b"<</Type/Page/Parent %d 0 R/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 %d 0 R>>>>/Contents %d 0 R>>"
            % (pages, font, cont),
        )
        text, status, code, _, _ = extract_text(b.build(cat))
        assert (status, code, text) == ("ok", "", "Hello world")


class TestActualText:
    """/ActualText marked-content scopes (PDF 32000-1 §14.9.4) — engine
    EXTENSION; the reference warn-skips BDC/EMC (operator.h:208-211)."""

    @staticmethod
    def _doc(content: bytes, props: bytes = b"") -> bytes:
        from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font = b.add(F_HELV)
        cont = b.stream(content)
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>"
            + (b"/Properties<<" + props + b">>" if props else b"")
            + b">>/Contents " + str(cont).encode() + b" 0 R>>",
        )
        return b.build(cat)

    def test_decode_text_string_encodings(self):
        from pdf_spark.core.encodings import decode_text_string

        assert decode_text_string(b"\xfe\xff\x00f\x00i") == "fi"
        assert decode_text_string(b"\xff\xfef\x00i\x00") == "fi"
        assert decode_text_string(b"\xef\xbb\xbffi") == "fi"
        # PDFDocEncoding: 0x93 = fi-ligature, 0xa0 = EURO, ASCII unchanged
        assert decode_text_string(b"x\x93\xa0") == "xﬁ€"
        # undefined codes decode to U+FFFD, never raise
        assert decode_text_string(b"\x7f\x9f") == "��"
        # truncated UTF-16 payload -> replacement char, no exception
        assert "�" in decode_text_string(b"\xfe\xff\x00")

    def test_actualtext_replaces_glyph_text(self):
        content = (
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm\n"
            b"/Span <</ActualText (efficient)>> BDC (ef- ficient) Tj EMC\n"
            b"ET"
        )
        text, status, err, _, n_spans = extract_text(self._doc(content))
        assert (status, text) == ("ok", "efficient")
        assert n_spans == 1

    def test_scope_spanning_two_shows_emits_once(self):
        content = (
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm\n"
            b"/Span <</ActualText (whole)>> BDC (wh-) Tj (ole) Tj EMC\n"
            b"ET"
        )
        text, status, _, _, n_spans = extract_text(self._doc(content))
        assert (status, text) == ("ok", "whole")
        assert n_spans == 1

    def test_nested_scopes_outermost_wins(self):
        content = (
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm\n"
            b"/Span <</ActualText (outer)>> BDC (a) Tj\n"
            b"/Span <</ActualText (inner)>> BDC (b) Tj EMC\n"
            b"(c) Tj EMC (after) Tj\n"
            b"ET"
        )
        text, status, _, _, _ = extract_text(self._doc(content))
        assert status == "ok"
        assert text == "outerafter"

    def test_scope_without_show_contributes_nothing(self):
        content = (
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm\n"
            b"/Span <</ActualText (ghost)>> BDC EMC (real) Tj\n"
            b"ET"
        )
        text, status, _, _, _ = extract_text(self._doc(content))
        assert (status, text) == ("ok", "real")

    def test_empty_actualtext_suppresses_content(self):
        # empty replacement = decorative/dropped content (spec-sanctioned)
        content = (
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm\n"
            b"/Span <</ActualText ()>> BDC (noise) Tj EMC (keep) Tj\n"
            b"ET"
        )
        text, status, _, _, _ = extract_text(self._doc(content))
        assert (status, text) == ("ok", "keep")

    def test_stray_emc_and_bmc_passthrough(self):
        content = (
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm\n"
            b"EMC /P BMC (visible) Tj EMC EMC\n"
            b"ET"
        )
        text, status, _, _, _ = extract_text(self._doc(content))
        assert (status, text) == ("ok", "visible")

    def test_named_properties_resolved_and_missing_lenient(self):
        props = b"/AT1 <</ActualText (named)>>"
        content = (
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm\n"
            b"/Span /AT1 BDC (garb) Tj EMC\n"
            b"1 0 0 1 72 686 Tm\n"
            b"/Span /NoSuch BDC (kept) Tj EMC\n"
            b"ET"
        )
        text, status, _, _, _ = extract_text(self._doc(content, props))
        assert (status, text) == ("ok", "named\nkept")

    def test_unclosed_scope_in_form_does_not_leak(self):
        from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font = b.add(F_HELV)
        # form opens an ActualText scope and never closes it (stream ends)
        form = b.stream(
            b"BT /F1 12 Tf 1 0 0 1 0 0 Tm\n"
            b"/Span <</ActualText (formtext)>> BDC (x) Tj\n"
            b"ET",
            extra_dict=(
                b"/Type/XObject/Subtype/Form/BBox[0 0 612 792]"
                b"/Matrix[1 0 0 1 72 700]"
                b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            ),
        )
        cont = b.stream(
            b"q /Fm1 Do Q BT /F1 12 Tf 1 0 0 1 72 686 Tm (pagetext) Tj ET"
        )
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>"
            b"/XObject<</Fm1 " + str(form).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        text, status, _, _, _ = extract_text(b.build(cat))
        assert status == "ok"
        # the form's replacement is emitted; the page's own text must NOT
        # be suppressed by the form's unclosed scope
        assert text == "formtext\npagetext"

    def test_actualtext_variant_roundtrip(self):
        from pdf_spark.core.extract import extract_text
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc

        idx = [n for n, _ in _GOOD_VARIANTS].index("actualtext")
        corpus = (
            "the quick brown fox jumps over the lazy dog while the "
            "marked content scopes carry actual text replacements for "
            "ligature and hyphenation fix ups across many wrapped lines"
        )
        pdf, exp, name, err = generate_doc(corpus, idx)
        assert name == "actualtext" and err == ""
        got, status, ecode, _, _ = extract_text(pdf)
        assert (status, ecode) == ("ok", "")
        assert got == exp


class TestType3FontMatrix:
    """Type3 width scaling: /Widths are in glyph space mapped by /FontMatrix
    (§9.6.5), folded into the width table at load so the emitter's w/1000
    math stays uniform. EXTENSION — the reference panics on Type3
    (font.c:234-236)."""

    @staticmethod
    def _doc(font_matrix: bytes) -> bytes:
        from pdf_spark.gen.pdfgen import PdfBuilder

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font = b.add(
            b"<</Type/Font/Subtype/Type3"
            b"/FontMatrix" + font_matrix +
            b"/FirstChar 97/LastChar 99/Widths[50 60 70]"
            b"/Encoding<</Differences[97/a 98/b 99/c]>>"
            b"/CharProcs<<>>>>"
        )
        cont = b.stream(b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (abc) Tj ET")
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        return b.build(cat)

    def _load(self, pdf: bytes):
        from pdf_spark.core.document import Resolver
        from pdf_spark.core.fonts import load_font

        r = Resolver(pdf)
        page = next(iter(r.iter_pages()))
        res = r.resolve(page.get("Resources"))
        fonts = r.resolve(res.get("Font"))
        return load_font(next(iter(fonts.values())), r)

    def test_nonstandard_matrix_scales_widths(self):
        # a = 0.01 -> scale 10x: glyph-space 50 -> 500 per-mille
        f = self._load(self._doc(b"[0.01 0 0 0.01 0 0]"))
        assert f.widths == [500.0, 600.0, 700.0]

    def test_standard_matrix_is_noop(self):
        f = self._load(self._doc(b"[0.001 0 0 0.001 0 0]"))
        assert f.widths == [50.0, 60.0, 70.0]

    def test_extraction_with_type3_font(self):
        text, status, code, _, n_spans = extract_text(
            self._doc(b"[0.01 0 0 0.01 0 0]")
        )
        assert (status, text) == ("ok", "abc"), code


class TestOptionalContent:
    """Optional-content layers (§8.11): text in OFF layers is dropped, ON
    layers and policy-visible OCMDs kept. EXTENSION — the reference's
    catalog deserde marks /OCProperties unimplemented (catalog.c:38)."""

    @staticmethod
    def _doc(ocprops: bytes | None, content_ops: bytes,
             extra_props: bytes = b"") -> bytes:
        from pdf_spark.gen.pdfgen import PdfBuilder

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>")
        # objects 5/6: the ON and OFF groups referenced by the templates
        g1 = b.add(b"<</Type/OCG/Name(L1)>>")
        g2 = b.add(b"<</Type/OCG/Name(L2)>>")
        content = content_ops.replace(b"{G1}", str(g1).encode()).replace(
            b"{G2}", str(g2).encode()
        )
        cont = b.stream(content)
        cat_body = b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R"
        if ocprops is not None:
            cat_body += (
                b"/OCProperties"
                + ocprops.replace(b"{G1}", str(g1).encode()).replace(
                    b"{G2}", str(g2).encode()
                )
            )
        b.set(cat, cat_body + b">>")
        b.set(
            pages,
            b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>",
        )
        props = (
            b"/Properties<</P1 " + str(g1).encode() + b" 0 R"
            b"/P2 " + str(g2).encode() + b" 0 R" + extra_props.replace(
                b"{G1}", str(g1).encode()
            ).replace(b"{G2}", str(g2).encode()) + b">>"
        )
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>"
            + props + b">>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        return b.build(cat)

    _TWO_SCOPES = (
        b"BT /F1 12 Tf"
        b" 1 0 0 1 72 700 Tm /OC /P1 BDC (visible) Tj EMC"
        b" 1 0 0 1 72 680 Tm /OC /P2 BDC (hidden) Tj EMC"
        b" 1 0 0 1 72 660 Tm (plain) Tj ET"
    )

    def test_off_layer_dropped_on_layer_kept(self):
        pdf = self._doc(
            b"<</OCGs[{G1} 0 R {G2} 0 R]/D<</OFF[{G2} 0 R]>>>>",
            self._TWO_SCOPES,
        )
        text, status, code, _, _ = extract_text(pdf)
        assert (status, text) == ("ok", "visible\nplain"), code

    def test_no_ocproperties_everything_visible(self):
        pdf = self._doc(None, self._TWO_SCOPES)
        text, status, _, _, _ = extract_text(pdf)
        assert (status, text) == ("ok", "visible\nhidden\nplain")

    def test_basestate_off_with_on_reenable(self):
        pdf = self._doc(
            b"<</OCGs[{G1} 0 R {G2} 0 R]"
            b"/D<</BaseState/OFF/ON[{G1} 0 R]>>>>",
            self._TWO_SCOPES,
        )
        text, status, _, _, _ = extract_text(pdf)
        # G2 off via BaseState, G1 re-enabled by /ON; unmarked text stays
        assert (status, text) == ("ok", "visible\nplain")

    @pytest.mark.parametrize(
        "policy,expect_shown",
        [
            (b"/P/AnyOn", True),    # members: G1 on, G2 off -> any on
            (b"/P/AllOn", False),   # not all on
            (b"/P/AnyOff", True),   # G2 is off
            (b"/P/AllOff", False),  # G1 is on
            (b"", True),            # default AnyOn
        ],
    )
    def test_ocmd_policies(self, policy, expect_shown):
        extra = (
            b"/P3 <</Type/OCMD/OCGs[{G1} 0 R {G2} 0 R]" + policy + b">>"
        )
        pdf = self._doc(
            b"<</OCGs[{G1} 0 R {G2} 0 R]/D<</OFF[{G2} 0 R]>>>>",
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (head) Tj"
            b" 1 0 0 1 72 680 Tm /OC /P3 BDC (scoped) Tj EMC ET",
            extra_props=extra,
        )
        text, status, _, _, _ = extract_text(pdf)
        assert status == "ok"
        assert text == ("head\nscoped" if expect_shown else "head")

    def test_unclosed_hidden_scope_in_form_does_not_leak(self):
        # a form opens a hidden /OC scope and never closes it (§14.6
        # requires balance WITHIN one stream — forms are separate
        # streams); the CALLER's text after Do must still emit. NB the
        # page's own Contents ARRAY is one logical stream (§7.8.2,
        # run_streams joins it), so the boundary under test is the form's.
        from pdf_spark.gen.pdfgen import PdfBuilder

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>")
        g2 = b.add(b"<</Type/OCG/Name(L2)>>")
        form = b.stream(
            b"/OC /P2 BDC BT /F1 12 Tf 1 0 0 1 0 0 Tm (gone) Tj ET",
            extra_dict=(
                b"/Type/XObject/Subtype/Form/BBox[0 0 612 792]"
                b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>"
                b"/Properties<</P2 " + str(g2).encode() + b" 0 R>>>>"
            ),
        )
        cont = b.stream(
            b"q /Fm1 Do Q BT /F1 12 Tf 1 0 0 1 72 680 Tm (kept) Tj ET"
        )
        b.set(
            cat,
            b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R"
            b"/OCProperties<</OCGs[" + str(g2).encode() + b" 0 R]"
            b"/D<</OFF[" + str(g2).encode() + b" 0 R]>>>>>>",
        )
        b.set(
            pages,
            b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>",
        )
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>"
            b"/XObject<</Fm1 " + str(form).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        text, status, code, _, _ = extract_text(b.build(cat))
        assert (status, text) == ("ok", "kept"), code

    def test_hidden_form_xobject_skipped(self):
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc

        idx = next(
            i for i, (n, _) in enumerate(_GOOD_VARIANTS) if n == "ocg_layers"
        )
        pdf, expected, _, _ = generate_doc(
            "the watermark layer must never surface in extracted text", idx
        )
        text, status, code, _, _ = extract_text(pdf)
        assert (status, text) == ("ok", expected), code
        assert "CONFIDENTIAL" not in text and "DRAFT" not in text


class TestTwoColumnReadingOrder:
    def _span(self, x, y, text="word word word", page=0, order=0, size=12.0):
        from pdf_spark.core.interp import Span

        return Span(page, x, y, order, text, "F1", size)

    def test_side_by_side_columns_read_column_major(self):
        from pdf_spark.core.extract import assemble_text, assign_columns

        spans = []
        for i in range(8):
            spans.append(self._span(40.0, 700 - 16 * i, f"L{i}", order=2 * i))
            spans.append(self._span(330.0, 700 - 16 * i, f"R{i}", order=2 * i + 1))
        assign_columns(spans)
        text = assemble_text(spans)
        assert text == "\n".join([f"L{i}" for i in range(8)] + [f"R{i}" for i in range(8)])

    def test_stacked_blocks_stay_interleaved_order(self):
        """An indented block BELOW the main text (no y-overlap) must not
        be mistaken for a column: historical (y, x) order kept."""
        from pdf_spark.core.extract import assemble_text, assign_columns

        spans = [self._span(40.0, 700 - 16 * i, f"T{i}", order=i) for i in range(8)]
        spans += [
            self._span(330.0, 300 - 16 * i, f"Q{i}", order=8 + i) for i in range(8)
        ]
        assign_columns(spans)
        assert all(s.col == 0 for s in spans)
        assert assemble_text(spans).split("\n")[:8] == [f"T{i}" for i in range(8)]

    def test_wide_lines_crossing_gutter_block_split(self):
        """A full-width line anywhere kills the gutter (no false split on
        indented quotes inside normal text)."""
        from pdf_spark.core.extract import assign_columns

        spans = []
        for i in range(7):
            spans.append(self._span(40.0, 700 - 16 * i, f"L{i}", order=2 * i))
            spans.append(self._span(330.0, 700 - 16 * i, f"R{i}", order=2 * i + 1))
        spans.append(self._span(40.0, 700 - 16 * 7, "x" * 60, order=99))
        assign_columns(spans)
        assert all(s.col == 0 for s in spans)

    def test_too_few_spans_per_side(self):
        from pdf_spark.core.extract import assign_columns

        spans = []
        for i in range(4):
            spans.append(self._span(40.0, 700 - 16 * i, f"L{i}", order=2 * i))
            spans.append(self._span(330.0, 700 - 16 * i, f"R{i}", order=2 * i + 1))
        assign_columns(spans)
        assert all(s.col == 0 for s in spans)


class TestPageRotation:
    """/Rotate normalization: spans must sort in READER order
    (core/extract._apply_page_rotation; reference parses Rotate at
    page.c:51,110 for its canvas but never reorders text)."""

    LINES = "alpha beta gamma delta epsilon zeta eta theta " * 6

    def _roundtrip(self, variant_name):
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc

        idx = [n for n, _ in _GOOD_VARIANTS].index(variant_name)
        pdf, expected, _, _ = generate_doc(self.LINES, idx)
        r = extract_document(pdf)
        assert r.ok, r.error_code
        return assemble_text(r.spans), expected

    def test_rotate90_reader_order(self):
        got, expected = self._roundtrip("rotate90")
        assert got == expected

    def test_rotate270_reader_order(self):
        got, expected = self._roundtrip("rotate270")
        assert got == expected

    def test_rotate180_and_negative_wrap(self):
        # 180 flips both axes; -90 must wrap to 270 (spec allows negatives)
        from pdf_spark.core.extract import _apply_page_rotation
        from pdf_spark.core.interp import Span

        spans = [Span(0, 100.0, 700.0, 0, "a", "F1", 12.0),
                 Span(0, 200.0, 600.0, 1, "b", "F1", 12.0)]
        _apply_page_rotation(spans, 0, 180, 612.0, 792.0)
        assert (spans[0].x, spans[0].y) == (512.0, 92.0)
        assert (spans[1].x, spans[1].y) == (412.0, 192.0)
        spans2 = [Span(0, 100.0, 700.0, 0, "a", "F1", 12.0)]
        _apply_page_rotation(spans2, 0, -90, 612.0, 792.0)  # == 270
        assert (spans2[0].x, spans2[0].y) == (92.0, 100.0)

    def test_bogus_rotate_values_are_noops(self):
        from pdf_spark.core.extract import _apply_page_rotation
        from pdf_spark.core.interp import Span

        for rot in (None, "x", 45, 360, 0):
            s = [Span(0, 100.0, 700.0, 0, "a", "F1", 12.0)]
            _apply_page_rotation(s, 0, rot, 612.0, 792.0)
            assert (s[0].x, s[0].y) == (100.0, 700.0)
        # no MediaBox dims -> cannot rotate -> no-op, no crash
        s = [Span(0, 100.0, 700.0, 0, "a", "F1", 12.0)]
        _apply_page_rotation(s, 0, 90, None, None)
        assert (s[0].x, s[0].y) == (100.0, 700.0)


class TestOperandArity:
    """Per-op minimum-operand typecheck at dispatch (the reference's
    operation.c deserialization typecheck): a truncated stream's bare op
    is an INCORRECT_TYPE document error naming the op, raised before
    dispatch indexes the operand list."""

    def _doc_with_content(self, content: bytes) -> bytes:
        from pdf_spark.gen.pdfgen import _simple_doc

        return _simple_doc(["x"], lambda _L: content, filters="")

    def test_bare_tf_is_incorrect_type(self):
        r = extract_document(self._doc_with_content(b"BT /F1 Tf (x) Tj ET"))
        assert r.status == "error" and r.error_code == "INCORRECT_TYPE"

    def test_short_tm_is_incorrect_type(self):
        r = extract_document(
            self._doc_with_content(b"BT /F1 12 Tf 1 0 0 1 Tm (x) Tj ET")
        )
        assert r.status == "error" and r.error_code == "INCORRECT_TYPE"

    def test_short_cm_is_incorrect_type(self):
        # (bare Tj is NOT here: the scanner canonicalizes it to TJ with an
        # empty show string — a harmless no-op show, matching the lenient
        # reading real viewers take)
        r = extract_document(
            self._doc_with_content(b"1 0 0 cm BT /F1 12 Tf (x) Tj ET")
        )
        assert r.status == "error" and r.error_code == "INCORRECT_TYPE"

    def test_correct_arity_still_extracts(self):
        r = extract_document(
            self._doc_with_content(b"BT /F1 12 Tf 72 700 Td (ok) Tj ET")
        )
        assert r.ok and assemble_text(r.spans) == "ok"

    def test_rotate_inherited_from_pages_node(self):
        """/Rotate on the Pages PARENT must reach the page via the
        inheritance walk (INHERITABLE includes Rotate) and reorder spans
        exactly like a page-local /Rotate 90."""
        from pdf_spark.gen.pdfgen import (
            F_HELV,
            FONT_SIZE,
            PdfBuilder,
            _n,
            esc,
        )

        lines = ["first line of the rotated page", "second line follows it"]
        ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
        for i, line in enumerate(lines):
            rx, ry = 72.0, 560.0 - i * 16.0
            x, y = 612.0 - ry, rx
            ops.append(b"0 1 -1 0 " + _n(x) + b" " + _n(y) + b" Tm")
            ops.append(b"(" + esc(line) + b") Tj")
        ops.append(b"ET")
        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font = b.add(F_HELV)
        cont = b.stream(b"\n".join(ops), filters="FlateDecode")
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        # Rotate + MediaBox live on the PARENT only
        b.set(
            pages,
            b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1"
            b"/MediaBox[0 0 612 792]/Rotate 90>>",
        )
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        r = extract_document(b.build(cat))
        assert r.ok, r.error_code
        assert assemble_text(r.spans) == "\n".join(lines)


class TestTableCellDetection:
    """detect_table_cells: conservative grid recovery from span geometry
    (layout tier — the PDF twin of the HTML <td> walk)."""

    def _grid_doc(self, rows=3, cols=4):
        from pdf_spark.gen.pdfgen import PdfBuilder

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>")
        ops = [b"BT /F1 10 Tf"]
        for r in range(rows):
            for c in range(cols):
                x, y = 72 + 90 * c, 700 - 24 * r
                ops.append(
                    f"1 0 0 1 {x} {y} Tm (r{r}c{c}) Tj".encode()
                )
        ops.append(b"ET")
        cont = b.stream(b"\n".join(ops))
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        return b.build(cat)

    def test_grid_recovered(self):
        from pdf_spark.core.extract import detect_table_cells

        r = extract_document(self._grid_doc())
        assert r.ok
        cells = detect_table_cells(r.spans)
        assert len(cells) == 12
        assert cells[0] == (0, 0, 0, "r0c0")
        assert cells[-1] == (0, 2, 3, "r2c3")
        # row-major reading order
        assert [c[:3] for c in cells] == [
            (0, r_, c_) for r_ in range(3) for c_ in range(4)
        ]

    def test_prose_is_not_a_table(self):
        from pdf_spark.core.extract import detect_table_cells
        from pdf_spark.gen.pdfgen import generate_doc

        pdf, _, _, _ = generate_doc(
            "ordinary prose lines all start at the same left margin "
            "and must never be misread as a table " * 3,
            0,
        )
        r = extract_document(pdf)
        assert r.ok
        assert detect_table_cells(r.spans) == []


class TestHeadingClassification:
    def _doc(self):
        from pdf_spark.gen.pdfgen import PdfBuilder

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>")
        ops = [
            b"BT /F1 18 Tf 1 0 0 1 72 720 Tm (Title Line) Tj",
            b"/F1 12 Tf 1 0 0 1 72 700 Tm (body one) Tj",
            b"1 0 0 1 72 680 Tm (body two) Tj",
            b"/F1 16 Tf 1 0 0 1 72 660 Tm (Section) Tj",
            b"/F1 12 Tf 1 0 0 1 72 640 Tm (body three) Tj",
            # 13pt line: above body but below the 1.3x ratio -> not a heading
            b"/F1 13 Tf 1 0 0 1 72 620 Tm (emphasis) Tj ET",
        ]
        cont = b.stream(b"\n".join(ops))
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        return b.build(cat)

    def test_headings_by_font_size(self):
        from pdf_spark.core.extract import classify_headings

        r = extract_document(self._doc())
        assert r.ok
        heads = classify_headings(r.spans)
        assert heads == [(0, "Title Line"), (3, "Section")]

    def test_uniform_size_no_headings(self):
        from pdf_spark.core.extract import classify_headings
        from pdf_spark.gen.pdfgen import generate_doc

        pdf, _, _, _ = generate_doc("all lines one size " * 10, 0)
        r = extract_document(pdf)
        # every span IS >= 1.3x? no — all equal the modal size, ratio 1.3
        # excludes them, so zero headings
        assert classify_headings(r.spans) == []


class TestPdfMarkdown:
    def test_markdown_prefixes_and_coverage(self):
        from pdf_spark.core.extract import assemble_markdown, assemble_text

        doc = TestHeadingClassification()._doc()
        r = extract_document(doc)
        md = assemble_markdown(r.spans)
        assert md.split("\n")[0] == "## Title Line"
        assert "## Section" in md
        assert "## emphasis" not in md  # 13pt: below the 1.3x ratio
        stripped = "\n".join(
            l[3:] if l.startswith("## ") else l for l in md.split("\n")
        )
        assert stripped == assemble_text(r.spans)


class TestOcgIncrementalInteraction:
    """An incremental update that replaces the CATALOG with one whose
    /OCProperties turns a layer OFF: newest-wins must hide text the base
    revision showed (the sign/redact-by-update pattern — Prev chain and
    default-config visibility interacting)."""

    def _base(self):
        from pdf_spark.gen.pdfgen import PdfBuilder

        b = PdfBuilder()
        cat = b.reserve()      # 1
        pages = b.reserve()    # 2
        page = b.reserve()     # 3
        font = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>")  # 4
        ocg = b.add(b"<</Type/OCG/Name(Layer)>>")  # 5
        cont = b.stream(       # 6
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (always) Tj"
            b" 1 0 0 1 72 680 Tm /OC /P1 BDC (layered) Tj EMC ET"
        )
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(
            pages,
            b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>",
        )
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>"
            b"/Properties<</P1 " + str(ocg).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        return b.build(cat), ocg

    def test_update_turns_layer_off(self):
        from pdf_spark.gen.pdfgen import _find_startxref, incremental_update

        base, ocg = self._base()
        text, status, _, _, _ = extract_text(base)
        assert (status, text) == ("ok", "always\nlayered")
        new_cat = (
            b"<</Type/Catalog/Pages 2 0 R"
            b"/OCProperties<</OCGs[" + str(ocg).encode() + b" 0 R]"
            b"/D<</OFF[" + str(ocg).encode() + b" 0 R]>>>>>>"
        )
        updated = incremental_update(base, {1: new_cat}, _find_startxref(base))
        text2, status2, code2, _, _ = extract_text(updated)
        assert (status2, text2) == ("ok", "always"), code2


class TestVerticalWriting:
    """WMode 1 (§9.7.5.1): *-V predefined CMaps, embedded /WMode, DW2
    advance, and column-major reading order."""

    def test_predefined_v_cmaps_carry_wmode(self):
        from pdf_spark.core.cmap import get_predefined_cmap

        assert get_predefined_cmap("Identity-V").wmode == 1
        assert get_predefined_cmap("Identity-H").wmode == 0
        assert get_predefined_cmap("UniJIS-UCS2-V").wmode == 1
        assert get_predefined_cmap("90ms-RKSJ-V").wmode == 1
        # V forms share the H form's mappings (only the mode differs)
        v = get_predefined_cmap("90ms-RKSJ-V")
        h = get_predefined_cmap("90ms-RKSJ-H")
        assert v.charset == h.charset and v.codespace == h.codespace

    def test_embedded_cmap_wmode_token(self):
        from pdf_spark.core.cmap import parse_cmap

        cm = parse_cmap(
            b"/CIDSystemInfo <</Registry(A)/Ordering(B)/Supplement 0>> def\n"
            b"/WMode 1 def\n"
            b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            b"1 begincidrange\n<0000> <FFFF> 0\nendcidrange\nendcmap"
        )
        assert cm.wmode == 1
        cm0 = parse_cmap(b"/WMode 0 def\nendcmap")
        assert cm0.wmode == 0

    def test_vertical_variant_reading_order(self):
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc

        vi = [n for n, _ in _GOOD_VARIANTS].index("type0_vertical")
        pdf, expected, name, _ = generate_doc(
            "columns read right to left and glyphs top to bottom " * 8, vi
        )
        text, status, code, _, _ = extract_text(pdf)
        assert status == "ok", code
        assert text == expected

    def test_vertical_advance_orders_halves_within_column(self):
        """The second show of a column must land BELOW the first (DW2
        advance applied), so the assembled line reads half1+half2 — a
        missing vertical advance would leave both at the column top and
        glyph_order alone would still save it; a POSITIVE (upward)
        advance would swap them. Use distinct x for a second column to
        pin right-to-left column order too."""
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc
        from pdf_spark.core.document import Resolver
        from pdf_spark.core.extract import extract_document

        vi = [n for n, _ in _GOOD_VARIANTS].index("type0_vertical")
        pdf, expected, _, _ = generate_doc("abcdefgh " * 30, vi)
        r = extract_document(pdf)
        assert r.ok
        # after the reading-space transform: spans on one line share y
        # (the column x), ordered by transformed x = -original y
        lines = {}
        for s in r.spans:
            lines.setdefault(s.y, []).append(s)
        assert len(lines) >= 2
        for y, spans in lines.items():
            xs = [s.x for s in sorted(spans, key=lambda t: t.glyph_order)]
            assert xs == sorted(xs), "second half must sort after first"


class TestCffCharset:
    """FontFile3/Type1C charset+encoding reader (core/cff.py). Reference
    parity anchor: libs/cff/src/charsets.c parses the same three charset
    formats (for rendering); we additionally resolve SIDs to names."""

    def _prog(self, sids, codes, strings=()):
        from pdf_spark.gen.pdfgen import _mini_cff

        return _mini_cff(list(sids), list(codes), list(strings))

    def test_format0_charset_and_encoding(self):
        from pdf_spark.core.cff import parse_cff_names

        # gid1='A' (SID 34), gid2='B', code of gid k = 0x41+k-1+1
        out = parse_cff_names(self._prog([34, 35], [0x42, 0x43]))
        assert out is not None
        assert out.gid_to_name(0) == ".notdef"
        assert out.gid_to_name(1) == "A"
        assert out.code_to_name(0x42) == "A"
        assert out.code_to_name(0x43) == "B"
        assert out.code_to_name(0x99) is None

    def test_custom_string_sid(self):
        from pdf_spark.core.cff import parse_cff_names

        out = parse_cff_names(self._prog([391], [0x30], [b"uni0051"]))
        assert out.code_to_name(0x30) == "uni0051"

    def test_expert_sid_range_unnamed(self):
        from pdf_spark.core.cff import parse_cff_names

        # SIDs 229-390 (expert set) intentionally resolve to None
        out = parse_cff_names(self._prog([300], [0x30]))
        assert out.code_to_name(0x30) is None

    def test_charset_format1_ranges(self):
        import struct

        from pdf_spark.core.cff import parse_cff_names

        from pdf_spark.core.cff import _read_charset, parse_cff_names

        # format 1: one range (SID 34 'A', nLeft 2) covers gids 1..3
        # (offset must be non-zero: 0 selects the predefined ISOAdobe set)
        fmt1 = bytes([1]) + struct.pack(">H", 34) + bytes([2])
        names = _read_charset(b"\x00" * 4 + fmt1, 4, 4, [])
        assert names == [".notdef", "A", "B", "C"]
        # format 2 (same content, u16 nLeft) happens to be byte-equal in
        # LENGTH to the 3-glyph format-0 table, so splice it into a real
        # program and run the FULL parser over it
        prog = bytes(self._prog([34, 35, 36], [0x41, 0x42, 0x43]))
        cs0 = bytes([0]) + struct.pack(">HHH", 34, 35, 36)
        fmt2 = bytes([2]) + struct.pack(">HH", 34, 2) + bytes([0, 0])
        assert len(fmt2) == len(cs0)
        out = parse_cff_names(prog.replace(cs0, fmt2))
        assert out is not None
        assert [out.gid_to_name(g) for g in range(4)] == [
            ".notdef", "A", "B", "C",
        ]

    def test_encoding_supplement(self):
        from pdf_spark.core.cff import _read_encoding, CffNames

        # format 0 with supplement flag: 1 code, then 1 (code, SID) pair
        enc = bytes([0x80, 1, 0x41]) + bytes([1, 0x24]) + (34).to_bytes(2, "big")
        out = CffNames()
        out.gid_names = [".notdef", "A"]
        _read_encoding(enc, 0x10, out, [])  # need offset: rebuild w/ pad
        out2 = CffNames()
        out2.gid_names = [".notdef", "A"]
        _read_encoding(b"\x00" * 4 + enc, 4, out2, [])
        assert out2.enc_code_to_gid == {0x41: 1}
        assert out2.sup_code_to_name == {0x24: "A"}
        assert out2.code_to_name(0x24) == "A"

    def test_cid_keyed_rejected(self):
        from pdf_spark.core.cff import parse_cff_names, _read_index, _parse_dict

        prog = bytearray(self._prog([34], [0x41]))
        # splice a ROS op (12 30) into the Top DICT by rebuilding: easier
        # to assert on a handcrafted top dict through _parse_dict
        d = _parse_dict(b"\x8b\x8b\x8b\x0c\x1e")  # 0 0 0 ROS
        assert (0xC00 | 30) in d
        # and the full parser accepts the non-CID program
        assert parse_cff_names(bytes(prog)) is not None

    def test_malformed_inputs_return_none(self):
        from pdf_spark.core.cff import parse_cff_names

        good = self._prog([34], [0x41])
        assert parse_cff_names(b"") is None
        assert parse_cff_names(b"\x02\x00\x04\x04") is None  # major != 1
        for cut in (3, 7, 15, len(good) // 2):
            parse_cff_names(good[:cut])  # must not raise
        # bit-flip fuzz: never raises
        for i in range(0, len(good), 7):
            mut = bytearray(good)
            mut[i] ^= 0xFF
            parse_cff_names(bytes(mut))

    def test_standard_strings_agl_consistency(self):
        """Every standard string with text value must resolve through the
        AGL path; the ASCII run must match StandardEncoding's names."""
        from pdf_spark.core.cff import STANDARD_STRINGS
        from pdf_spark.core.encodings import (
            STANDARD_ENCODING,
            glyph_name_to_unicode,
        )

        assert len(STANDARD_STRINGS) == 229
        # SIDs 1..95 are the StandardEncoding printable run in code order
        for code in range(32, 127):
            assert STANDARD_STRINGS[code - 31] == STANDARD_ENCODING[code]
        unresolved = [
            n for n in STANDARD_STRINGS[1:] if glyph_name_to_unicode(n) is None
        ]
        assert unresolved == [], unresolved


class TestTaggedReadingOrder:
    """Structure-tree reading order (§14.8): applied only when the tagged
    document's tree covers every span's MCID."""

    def _doc(self, tagged=True, cover_all=True, mcr=False):
        from pdf_spark.gen.pdfgen import PdfBuilder, esc

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        sr = b.reserve()
        lines = ["first logical", "second logical", "third logical"]
        ops = [b"BT", b"/F1 12 Tf"]
        for i, line in enumerate(lines):
            y = 700 - (len(lines) - 1 - i) * 16  # geometric = reversed
            ops.append(b"/P <</MCID " + str(i).encode() + b">> BDC")
            ops.append(b"1 0 0 1 72 " + str(y).encode() + b" Tm")
            ops.append(b"(" + esc(line) + b") Tj")
            ops.append(b"EMC")
        ops.append(b"ET")
        cont = b.stream(b"\n".join(ops))
        font = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/Times-Roman>>")
        n_cover = len(lines) if cover_all else len(lines) - 1
        kids = []
        for i in range(n_cover):
            k = (
                b"<</Type/MCR/Pg " + str(page).encode() + b" 0 R/MCID "
                + str(i).encode() + b">>"
                if mcr
                else str(i).encode()
            )
            kids.append(
                b.add(
                    b"<</Type/StructElem/S/P/Pg " + str(page).encode()
                    + b" 0 R/K " + k + b">>"
                )
            )
        b.set(
            sr,
            b"<</Type/StructTreeRoot/K["
            + b" ".join(str(e).encode() + b" 0 R" for e in kids) + b"]>>",
        )
        mark = b"/MarkInfo<</Marked true>>" if tagged else b""
        b.set(
            cat,
            b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R" + mark
            + b"/StructTreeRoot " + str(sr).encode() + b" 0 R>>",
        )
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        return b.build(cat)

    def test_struct_order_wins_when_covered(self):
        text, status, _, _, _ = extract_text(self._doc())
        assert status == "ok"
        assert text == "first logical\nsecond logical\nthird logical"

    def test_mcr_dict_form(self):
        text, status, _, _, _ = extract_text(self._doc(mcr=True))
        assert status == "ok"
        assert text == "first logical\nsecond logical\nthird logical"

    def test_unmarked_doc_keeps_geometric_order(self):
        # StructTreeRoot present but MarkInfo absent: geometric (reversed)
        text, status, _, _, _ = extract_text(self._doc(tagged=False))
        assert status == "ok"
        assert text == "third logical\nsecond logical\nfirst logical"

    def test_partial_coverage_keeps_geometric_order(self):
        # tree covers only 2 of 3 MCIDs: conservative fallback
        text, status, _, _, _ = extract_text(self._doc(cover_all=False))
        assert status == "ok"
        assert text == "third logical\nsecond logical\nfirst logical"

    def test_struct_tree_cycle_is_safe(self):
        from pdf_spark.gen.pdfgen import _find_startxref, incremental_update

        base = self._doc()
        # make the struct root's kid array point at the root itself
        # (object 4 is the reserved struct root in _doc's build order)
        cyc = b"<</Type/StructTreeRoot/K[4 0 R]>>"
        updated = incremental_update(base, {4: cyc}, _find_startxref(base))
        text, status, _, _, _ = extract_text(updated)
        # cycle breaks coverage -> geometric order, never a hang/crash
        assert status == "ok"
        assert "logical" in text


class TestW2VerticalWidths:
    def test_w2_both_forms_and_applied_advance(self):
        from pdf_spark.gen.pdfgen import PdfBuilder, _type0_font
        from pdf_spark.core.extract import extract_document

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        # charset 'ABC' -> codes 1,2,3; W2: CID 1 triplet form w1=-500,
        # CID 2..3 range form w1=-250
        font, code_of = _type0_font(
            b,
            ["A", "B", "C"],
            encoding=b"/Identity-V",
            desc_extra=(
                b"/DW2[880 -1000]"
                b"/W2[1 [-500 0 440] 2 3 -250 0 440]"
            ),
        )
        ops = (
            b"BT /F1 10 Tf 1 0 0 1 300 700 Tm "
            b"<0001> Tj <0002> Tj <0003> Tj ET"
        )
        cont = b.stream(ops)
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        r = extract_document(b.build(cat))
        assert r.ok and len(r.spans) == 3
        spans = sorted(r.spans, key=lambda s: s.glyph_order)
        # vertical transform maps (x,y)->(-y,x): original y = -span.x.
        # show 1 at y=700; show 2 after w1(-500)/1000*10 = -5 -> 695;
        # show 3 after w1(-250)/1000*10 = -2.5 -> 692.5
        ys = [-s.x for s in spans]
        assert ys == [700.0, 695.0, 692.5]

    def test_w2_malformed_is_error_row(self):
        from pdf_spark.gen.pdfgen import PdfBuilder, _type0_font
        from pdf_spark.core.extract import extract_document

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        font, _ = _type0_font(
            b, ["A"], encoding=b"/Identity-V", desc_extra=b"/W2[1 2]"
        )
        cont = b.stream(b"BT /F1 10 Tf <0001> Tj ET")
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        r = extract_document(b.build(cat))
        assert r.status == "error" and r.error_code == "INCORRECT_TYPE"


class TestType1BuiltinEncoding:
    """FontFile (Type1 program) cleartext /Encoding reader (core/type1.py)."""

    def test_raw_and_pfb_forms(self):
        from pdf_spark.core.type1 import parse_type1_encoding
        from pdf_spark.gen.pdfgen import _mini_type1

        enc = {65: "B", 33: "exclam", 255: "ydieresis"}
        assert parse_type1_encoding(_mini_type1(enc)) == enc
        assert parse_type1_encoding(_mini_type1(enc, pfb=True)) == enc

    def test_standard_encoding_and_garbage_return_none(self):
        from pdf_spark.core.type1 import parse_type1_encoding

        assert parse_type1_encoding(
            b"%!PS-AdobeFont\n/Encoding StandardEncoding def\n"
        ) is None
        assert parse_type1_encoding(b"") is None
        assert parse_type1_encoding(b"\x01\x02 not a font") is None
        assert parse_type1_encoding(b"%!PS-AdobeFont\nno encoding here") is None
        # truncated PFB headers must not raise
        from pdf_spark.gen.pdfgen import _mini_type1

        prog = _mini_type1({65: "B"}, pfb=True)
        for cut in (1, 3, 5, len(prog) // 2):
            parse_type1_encoding(prog[:cut])

    def test_variant_roundtrip(self):
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc

        vi = [n for n, _ in _GOOD_VARIANTS].index("type1_builtin")
        pdf, expected, _, _ = generate_doc(
            "shifted codes decode only via the embedded program 123", vi
        )
        text, status, code, _, _ = extract_text(pdf)
        assert status == "ok", code
        assert text == expected

    def test_dup_scan_is_bounded(self):
        import time

        from pdf_spark.core.type1 import parse_type1_encoding

        # a multi-MB encoding block must stay under the scan cap
        big = (
            b"%!PS-AdobeFont\n/Encoding 256 array\n"
            + b"dup 65 /A put\n" * 2_000_000
        )
        t0 = time.monotonic()
        out = parse_type1_encoding(big)
        assert time.monotonic() - t0 < 2.0
        assert out == {65: "A"}


class TestRegistryAsciiBlock:
    """Raw-CID Type0 (Identity-H, declared ROS, no ToUnicode): CIDs 1..95
    decode via the character collections' shared printable-ASCII block
    (Adobe-Japan1/GB1/CNS1/Korea1/KR specs)."""

    @staticmethod
    def _doc(ordering: bytes, hexcodes: bytes, tounicode: bool = False) -> bytes:
        from pdf_spark.gen.pdfgen import PdfBuilder

        b = PdfBuilder()
        cat = b.reserve()
        pages = b.reserve()
        page = b.reserve()
        cid_font = b.add(
            b"<</Type/Font/Subtype/CIDFontType0/BaseFont/X"
            b"/CIDSystemInfo<</Registry(Adobe)/Ordering(" + ordering + b")"
            b"/Supplement 0>>/DW 500>>"
        )
        extra = b""
        if tounicode:
            tu = b.stream(
                b"/CIDInit /ProcSet findresource begin 12 dict begin\n"
                b"begincmap\n1 begincodespacerange <0000> <FFFF> "
                b"endcodespacerange\n1 beginbfchar <0022> <0416> endbfchar\n"
                b"endcmap end end"
            )
            extra = b"/ToUnicode " + str(tu).encode() + b" 0 R"
        font = b.add(
            b"<</Type/Font/Subtype/Type0/BaseFont/X/Encoding/Identity-H"
            + extra
            + b"/DescendantFonts[" + str(cid_font).encode() + b" 0 R]>>"
        )
        cont = b.stream(b"BT /F1 12 Tf 72 700 Td <" + hexcodes + b"> Tj ET")
        b.set(cat, b"<</Type/Catalog/Pages " + str(pages).encode() + b" 0 R>>")
        b.set(pages, b"<</Type/Pages/Kids[" + str(page).encode() + b" 0 R]/Count 1>>")
        b.set(
            page,
            b"<</Type/Page/Parent " + str(pages).encode() + b" 0 R"
            b"/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
            b"/Contents " + str(cont).encode() + b" 0 R>>",
        )
        return b.build(cat)

    def test_ascii_block_decodes_for_all_five_orderings(self):
        # CIDs 34 1 41 41 47 = "A HHN": chr(0x20 + cid - 1)
        codes = b"0022000100290029002F"
        for ordering in (b"Japan1", b"GB1", b"CNS1", b"Korea1", b"KR"):
            text, status, code, _, _ = extract_text(self._doc(ordering, codes))
            assert status == "ok", (ordering, code)
            assert text == "A HHN", ordering

    def test_identity_ordering_does_not_map(self):
        # Ordering Identity has no ASCII block: chr(cid) fallback holds
        text, status, _, _, _ = extract_text(self._doc(b"Identity", b"0041"))
        assert status == "ok"
        assert text == chr(0x41)

    def test_tounicode_wins_over_block(self):
        # CID 0x22 maps to U+0416 via ToUnicode; the block must NOT fire
        text, status, _, _, _ = extract_text(
            self._doc(b"Japan1", b"0022", tounicode=True)
        )
        assert status == "ok"
        assert text == "Ж"

    def test_out_of_block_cid_falls_through(self):
        text, status, _, _, _ = extract_text(self._doc(b"Japan1", b"1234"))
        assert status == "ok"
        assert text == chr(0x1234)

    def test_variant_roundtrip(self):
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc

        vi = [n for n, _ in _GOOD_VARIANTS].index("type0_cid_ascii")
        pdf, expected, _, _ = generate_doc(
            "stripped ToUnicode still yields exact Latin runs 42", vi
        )
        text, status, code, _, _ = extract_text(pdf)
        assert status == "ok", code
        assert text == expected
