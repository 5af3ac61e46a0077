"""Header / startxref / xref / trailer / filter tests — byte fixtures mirror
the reference's in-source tests (pdf.c:348-459, xref.c:296-391,
ascii.c:81-197; SURVEY.md §5.1)."""

import zlib

import pytest

from pdf_spark.core.document import (
    Resolver,
    parse_header,
    parse_startxref,
    parse_xref_section,
)
from pdf_spark.core.errors import PdfError
from pdf_spark.core.filters import ascii_hex_decode, decode_stream, flate_decode


class TestHeader:
    def test_versions(self):
        for n in range(8):
            assert parse_header(b"%PDF-1." + str(n).encode()) == n

    def test_bad_header(self):
        for bad in (b"%PDF-1.8", b"%PDF-2.0", b"PDF-1.7", b"", b"junk"):
            with pytest.raises(PdfError) as e:
                parse_header(bad)
            assert e.value.code == "INVALID_VERSION"


class TestStartxref:
    def test_simple(self):
        assert parse_startxref(b"x" * 400 + b"\nstartxref\n363\n%%EOF") == 363

    def test_trailing_newline(self):
        assert parse_startxref(b"x" * 100 + b"\nstartxref\n42\n%%EOF\n") == 42

    def test_missing_eof(self):
        with pytest.raises(PdfError) as e:
            parse_startxref(b"x" * 100)
        assert e.value.code == "INVALID_STARTXREF"

    def test_eof_beyond_backscan_window(self):
        # %%EOF must be within 32 bytes of the end (pdf.c:310)
        buf = b"startxref\n10\n%%EOF" + b"x" * 40
        with pytest.raises(PdfError):
            parse_startxref(buf)

    def test_offset_past_eof(self):
        with pytest.raises(PdfError):
            parse_startxref(b"ab\nstartxref\n999\n%%EOF")


XREF_BUF = (
    b"xref\n"
    b"0 2\n"
    b"0000000000 65536 f \n"
    b"0000000016 00000 n \n"
    b"trailer\n<</Size 2/Root 1 0 R>>"
)


class TestXref:
    def test_parse_section(self):
        entries, trailer, prev = parse_xref_section(XREF_BUF, 0)
        assert entries[0] == ("f", 0, 65536)
        assert entries[1] == ("n", 16, 0)
        assert trailer["Size"] == 2
        assert prev is None

    def test_multi_subsection(self):
        buf = (
            b"xref\n0 1\n0000000000 65536 f \n"
            b"3 2\n0000000100 00000 n \n0000000200 00000 n \n"
            b"trailer\n<</Size 5>>"
        )
        entries, _, _ = parse_xref_section(buf, 0)
        assert set(entries) == {0, 3, 4}
        assert entries[3][1] == 100 and entries[4][1] == 200

    def test_malformed_entry(self):
        bad = XREF_BUF.replace(b"0000000016 00000 n ", b"00000000xx 00000 n ")
        with pytest.raises(PdfError) as e:
            parse_xref_section(bad, 0)
        assert e.value.code == "INVALID_XREF"

    def test_xref_stream_unsupported(self):
        with pytest.raises(PdfError) as e:
            parse_xref_section(b"12 0 obj\n<</Type/XRef>>", 0)
        assert e.value.code == "UNSUPPORTED_XREF"


class TestFilters:
    def test_ascii_hex(self):
        assert ascii_hex_decode(b"48656C6C6F>") == b"Hello"
        assert ascii_hex_decode(b"48 65 6C 6C 6F >") == b"Hello"
        # odd trailing digit = high nibble, early EOD (ascii.c:81-197)
        assert ascii_hex_decode(b"7>") == b"\x70"
        assert ascii_hex_decode(b"48>ignored") == b"H"

    def test_flate(self):
        assert flate_decode(zlib.compress(b"payload")) == b"payload"

    def test_chain_left_to_right(self):
        data = zlib.compress(b"chained")
        hexed = data.hex().encode() + b">"
        d = {"Filter": ["ASCIIHexDecode", "FlateDecode"]}
        assert decode_stream(d, hexed) == b"chained"

    def test_single_name_filter(self):
        d = {"Filter": "FlateDecode"}
        assert decode_stream(d, zlib.compress(b"x")) == b"x"

    def test_unsupported_filter(self):
        # LZW graduated to supported (see TestLZW); DCT stays the
        # reference's panic class
        with pytest.raises(PdfError) as e:
            decode_stream({"Filter": "DCTDecode"}, b"")
        assert e.value.code == "UNSUPPORTED_FILTER"

    def test_identity_crypt_filter_passthrough(self):
        # §7.4.10: /Crypt with /Identity (or no /Name) is a no-op stage
        from pdf_spark.core.objects import Name

        assert decode_stream({"Filter": Name("Crypt")}, b"plain") == b"plain"
        d = {
            "Filter": [Name("Crypt"), Name("FlateDecode")],
            "DecodeParms": [{"Name": Name("Identity")}, None],
        }
        assert decode_stream(d, zlib.compress(b"x")) == b"x"
        with pytest.raises(PdfError) as e:
            decode_stream(
                {"Filter": Name("Crypt"), "DecodeParms": {"Name": Name("V2")}},
                b"",
            )
        assert e.value.code == "UNSUPPORTED_FILTER"

    def test_identity_crypt_exemption_probe(self):
        from pdf_spark.core.document import _has_identity_crypt_filter
        from pdf_spark.core.objects import Name

        assert _has_identity_crypt_filter({"Filter": Name("Crypt")})
        assert _has_identity_crypt_filter(
            {
                "Filter": [Name("Crypt"), Name("FlateDecode")],
                "DecodeParms": [{"Name": Name("Identity")}, None],
            }
        )
        assert not _has_identity_crypt_filter({"Filter": Name("FlateDecode")})
        assert not _has_identity_crypt_filter(
            {"Filter": Name("Crypt"), "DecodeParms": {"Name": Name("V2")}}
        )
        assert not _has_identity_crypt_filter({})

    @staticmethod
    def _png_unfilter_ref(data: bytes, rowlen: int, bpp: int) -> bytes:
        """Textbook PNG row un-filter (RFC 2083 §6), whole rows only."""
        out, prev = bytearray(), bytes(rowlen)
        for r in range(len(data) // (rowlen + 1)):
            ft, *row = data[r * (rowlen + 1) : (r + 1) * (rowlen + 1)]
            cur = bytearray()
            for i, x in enumerate(row):
                a, b = cur[i - bpp] if i >= bpp else 0, prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                paeth = min((abs(p - a), 0, a), (abs(p - b), 1, b), (abs(p - c), 2, c))
                cur.append((x + (0, a, b, (a + b) // 2, paeth[2])[ft]) & 0xFF)
            out += cur
            prev = cur
        return bytes(out)

    @pytest.mark.parametrize("ftype", range(5))
    @pytest.mark.parametrize("bpc", [1, 8, 16])
    @pytest.mark.parametrize("nrows,partial", [(6, False), (6, True), (0, True)])
    def test_png_predictor_matches_reference(self, ftype, bpc, nrows, partial):
        import random

        colors, columns = 3, 5
        rowlen = (colors * bpc * columns + 7) // 8
        rng = random.Random(ftype * 100 + bpc)
        # rows cycle through all five filter types, starting at ``ftype``;
        # a partial trailing row is one byte short of a whole row. Small
        # sample values make Paeth ties common.
        def row(n: int) -> bytes:
            return bytes(rng.randrange(3) for _ in range(n))

        data = b"".join(
            bytes([(ftype + r) % 5]) + row(rowlen) for r in range(nrows)
        ) + row(rowlen if partial else 0)
        parms = {"Predictor": 12, "Colors": colors,
                 "BitsPerComponent": bpc, "Columns": columns}
        got = decode_stream(
            {"Filter": "FlateDecode", "DecodeParms": parms}, zlib.compress(data)
        )
        bpp = max(1, colors * bpc // 8)
        assert got == (self._png_unfilter_ref(data, rowlen, bpp) if nrows else data)

    @pytest.mark.parametrize("columns", [2, -16])
    def test_png_predictor_bad_row_filter_or_columns(self, columns):
        # an unknown row filter byte (5), or a negative row length
        parms = {"Predictor": 12, "Columns": columns}
        with pytest.raises(PdfError) as e:
            decode_stream(
                {"Filter": "FlateDecode", "DecodeParms": parms},
                zlib.compress(b"\x00ab\x05cd"),
            )
        assert e.value.code == "FILTER_ERROR"


class TestResolverOnFixture:
    def test_resolver_walks_test_pdf(self):
        data = open("/root/reference/test-files/test.pdf", "rb").read()
        r = Resolver(data)
        assert r.version == 7
        assert r.trailer["Size"] == 5
        pages = list(r.iter_pages())
        assert len(pages) == 1
        assert pages[0]["MediaBox"] == [0, 0, 612, 792]
        streams = r.content_streams(pages[0])
        assert b"(Hello World!) Tj" in streams[0]

    def test_resolution_is_memoized(self):
        data = open("/root/reference/test-files/test.pdf", "rb").read()
        r = Resolver(data)
        from pdf_spark.core.objects import Ref

        a = r.resolve(Ref(3, 0))
        b = r.resolve(Ref(3, 0))
        assert a is b  # memo (divergence vs pdf.c:224-226, see docstring)


class TestLZW:
    """LZWDecode (PDF 32000-1 §7.4.4) — EXTENSION named in scope by the
    north star; the reference panics on it (filters.c:54)."""

    def test_spec_example_vector(self):
        # spec §7.4.4.2: input (45 45 45 65 65 65 66 66 66 6B decimal)
        # -> code sequence 256 45 258 65 260 66 262 107 257 at 9 bits
        from pdf_spark.core.filters import lzw_decode

        bits = "".join(
            format(c, "09b") for c in (256, 45, 258, 65, 260, 66, 262, 107, 257)
        )
        bits += "0" * ((8 - len(bits) % 8) % 8)
        enc = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
        assert list(lzw_decode(enc)) == [45, 45, 45, 65, 65, 65, 66, 66, 66, 107]

    def test_roundtrip_width_transitions_and_reset(self):
        import random

        from pdf_spark.core.filters import lzw_decode, lzw_encode

        rng = random.Random(7)
        cases = [
            b"",
            b"A",
            b"AAAAAA",
            b"Hello World! " * 50,
            bytes(rng.randrange(256) for _ in range(5000)),   # 9->10 bit
            bytes(rng.choice(b"abcd") for _ in range(20000)),  # 10->11->12
            bytes(rng.randrange(256) for _ in range(40000)),   # table reset
        ]
        for c in cases:
            assert lzw_decode(lzw_encode(c)) == c

    def test_decode_stream_lzw_chain(self):
        from pdf_spark.core.filters import decode_stream, lzw_encode

        body = b"BT /F1 12 Tf (lzw) Tj ET" * 20
        enc = lzw_encode(body).hex().encode() + b">"
        out = decode_stream(
            {"Filter": ["ASCIIHexDecode", "LZWDecode"]}, enc
        )
        assert out == body

    def test_lzw_variant_end_to_end(self):
        from pdf_spark.core.extract import extract_text
        from pdf_spark.gen.pdfgen import generate_doc

        pdf, expected, name, _ = generate_doc("repeat repeat repeat lzw", 16)
        assert name == "td_tj_lzw"
        text, status, _, _, _ = extract_text(pdf)
        assert status == "ok" and text == expected

    def test_garbage_lzw_is_error_row(self):
        from pdf_spark.core.errors import FILTER_ERROR
        from pdf_spark.core.filters import lzw_decode
        import pytest
        from pdf_spark.core.errors import PdfError

        with pytest.raises(PdfError) as ei:
            # first 9 bits decode to a code >= 258 with an empty table
            lzw_decode(b"\xff\xff\xff\xff")
        assert ei.value.code == FILTER_ERROR


class TestXrefStreams:
    """PDF 1.5+ cross-reference streams + object streams (engine extension;
    the reference supports classic tables only, xref.c:144-228)."""

    TEXT = ["alpha bravo charlie", "delta echo foxtrot"]

    def _extract(self, pdf):
        from pdf_spark.core.extract import assemble_text, extract_document

        r = extract_document(pdf)
        assert r.ok, r.error_code
        return assemble_text(r.spans)

    def test_xref_stream_plain(self):
        from pdf_spark.gen.pdfgen import _xref_stream_doc

        assert self._extract(_xref_stream_doc(self.TEXT)) == "\n".join(self.TEXT)

    def test_xref_stream_png_predictor(self):
        from pdf_spark.gen.pdfgen import _xref_stream_doc

        pdf = _xref_stream_doc(self.TEXT, predictor=True)
        assert b"/Predictor 12" in pdf
        assert self._extract(pdf) == "\n".join(self.TEXT)

    def test_objstm(self):
        from pdf_spark.gen.pdfgen import _objstm_doc

        pdf = _objstm_doc(self.TEXT)
        assert b"/Type/ObjStm" in pdf
        assert self._extract(pdf) == "\n".join(self.TEXT)

    def test_objstm_header_cached_once(self):
        from pdf_spark.gen.pdfgen import _objstm_doc

        r = Resolver(_objstm_doc(self.TEXT))
        list(r.iter_pages())
        assert set(r._objstm_cache) == {5}

    def test_hybrid_xrefstm(self):
        """Classic trailer's /XRefStm supplies entries the classic section
        lacks (PDF 32000-1 §7.5.8.4 hybrid-reference files)."""
        from pdf_spark.gen.pdfgen import (
            F_HELV,
            _content_td_tj,
            _emit_xref_stream,
        )

        content = _content_td_tj(self.TEXT)
        bodies = {
            1: b"<</Type/Catalog/Pages 2 0 R>>",
            2: b"<</Type/Pages/Kids[3 0 R]/Count 1>>",
            3: b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 4 0 R>>>>/Contents 5 0 R>>",
            4: F_HELV,
            5: b"<</Length " + str(len(content)).encode() + b">>\nstream\n"
            + content + b"\nendstream",
        }
        out = bytearray(b"%PDF-1.7\n%\xb5\xb6\n\n")
        offsets = {}
        for oid in sorted(bodies):
            offsets[oid] = len(out)
            out += str(oid).encode() + b" 0 obj\n" + bodies[oid] + b"\nendobj\n\n"
        stm_off = len(out)
        rows = [(0, 0, 65535)] + [(1, offsets[i], 0) for i in range(1, 6)] + [
            (1, stm_off, 0)
        ]
        _emit_xref_stream(out, 6, rows, 1, predictor=False)
        # strip the xref stream's own startxref tail; the classic section
        # below is the real entry point
        tail = out.rindex(b"\nstartxref")
        out = out[:tail] + b"\n\n"
        classic_off = len(out)
        out += (
            b"xref\n0 1\n0000000000 65536 f \n"
            b"trailer\n<</Size 7/Root 1 0 R/XRefStm " + str(stm_off).encode()
            + b">>\nstartxref\n" + str(classic_off).encode() + b"\n%%EOF"
        )
        assert self._extract(bytes(out)) == "\n".join(self.TEXT)

    def test_xref_stream_requires_type(self):
        from pdf_spark.core.document import parse_xref_stream

        buf = (
            b"1 0 obj\n<</Size 2/W[1 4 2]/Length 0>>\nstream\n\nendstream\n"
            b"endobj"
        )
        with pytest.raises(PdfError) as e:
            parse_xref_stream(buf, 0)
        assert e.value.code == "INVALID_XREF"

    def test_xref_stream_short_data(self):
        from pdf_spark.core.document import parse_xref_stream

        enc = zlib.compress(b"\x01\x00\x00\x00\x10\x00\x00")  # one row, Size 5
        buf = (
            b"1 0 obj\n<</Type/XRef/Size 5/W[1 4 2]/Filter/FlateDecode"
            b"/Length " + str(len(enc)).encode() + b">>\nstream\n" + enc
            + b"\nendstream\nendobj"
        )
        with pytest.raises(PdfError) as e:
            parse_xref_stream(buf, 0)
        assert e.value.code == "INVALID_XREF"

    def test_free_and_unknown_types(self):
        """Type-0 rows resolve to null; unknown future types are skipped
        (spec: readers shall ignore them)."""
        from pdf_spark.core.document import parse_xref_stream

        rows = (
            b"\x00\x00\x00\x00\x00\xff\xff"  # 0 free
            b"\x01\x00\x00\x00\x10\x00\x00"  # 1 at offset 16
            b"\x07\x00\x00\x00\x00\x00\x00"  # unknown type 7 -> ignored
        )
        enc = zlib.compress(rows)
        buf = (
            b"9 0 obj\n<</Type/XRef/Size 3/W[1 4 2]/Root 1 0 R"
            b"/Filter/FlateDecode/Length " + str(len(enc)).encode()
            + b">>\nstream\n" + enc + b"\nendstream\nendobj"
        )
        entries, trailer, prev = parse_xref_stream(buf, 0)
        assert entries[0][0] == "f"
        assert entries[1] == ("n", 16, 0)
        assert 2 not in entries
        assert prev is None


class TestAdversarialXref:
    def test_self_referencing_objstm_is_error_row(self):
        """An xref stream claiming object N lives inside ObjStm N (itself)
        must terminate as an error row, not hang or crash the worker."""
        import zlib

        from pdf_spark.core.extract import extract_document
        from pdf_spark.gen.pdfgen import _emit_xref_stream

        out = bytearray(b"%PDF-1.7\n\n")
        # object 1: the catalog, claimed to live inside ObjStm 1 (itself)
        rows = [(0, 0, 65535), (2, 1, 0), (1, len(out), 0)]
        _emit_xref_stream(out, 2, rows, 1, predictor=False)
        r = extract_document(bytes(out))
        assert r.status == "error"

    def test_xref_stream_prev_cycle_terminates(self):
        """/Prev chains that cycle (stream A -> B -> A) terminate via the
        seen-offsets guard."""
        import zlib

        from pdf_spark.core.document import Resolver
        from pdf_spark.core.errors import PdfError

        out = bytearray(b"%PDF-1.7\n\n")
        a_off = len(out)
        enc = zlib.compress(b"\x01" + a_off.to_bytes(4, "big") + b"\x00\x00")
        # stream at a_off whose /Prev points back at a_off
        out += (
            b"1 0 obj\n<</Type/XRef/Size 2/W[1 4 2]/Root 9 0 R/Prev "
            + str(a_off).encode() + b"/Filter/FlateDecode/Length "
            + str(len(enc)).encode() + b">>\nstream\n" + enc
            + b"\nendstream\nendobj\nstartxref\n" + str(a_off).encode()
            + b"\n%%EOF"
        )
        try:
            r = Resolver(bytes(out))
            # terminated without looping; missing Root object is fine here
        except PdfError:
            pass

    def test_ref_cycle_is_error_row(self):
        """1 0 obj 2 0 R / 2 0 obj 1 0 R: a reference cycle must become an
        error row, not an infinite cache-hit loop hanging the worker."""
        from pdf_spark.core.extract import extract_document
        from pdf_spark.gen.pdfgen import PdfBuilder

        b = PdfBuilder()
        one = b.reserve()
        two = b.reserve()
        b.set(one, b"2 0 R")
        b.set(two, b"1 0 R")
        r = extract_document(b.build(one))
        assert r.status == "error"

    def test_short_decodeparms_array_still_applies_all_filters(self):
        import zlib

        from pdf_spark.core.filters import decode_stream
        from pdf_spark.core.objects import Name

        enc = zlib.compress(b"payload").hex().encode() + b">"
        d = {
            "Filter": [Name("ASCIIHexDecode"), Name("FlateDecode")],
            "DecodeParms": [None],
        }
        assert decode_stream(d, enc) == b"payload"

    def test_w_array_giant_range_is_error_not_oom(self):
        import pytest

        from pdf_spark.core.errors import PdfError
        from pdf_spark.core.fonts import _parse_cid_widths

        class R:
            def resolve(self, v):
                return v

        with pytest.raises(PdfError):
            _parse_cid_widths([0, 2147483647, 500], R())


class TestAscii85AndRunLength:
    """ASCII85Decode (§7.4.3) + RunLengthDecode (§7.4.5) — EXTENSIONS (the
    reference panics on both, filters.c:54); real-world text streams use
    them, so both decode per spec with generator-side encoders."""

    def test_a85_known_vector(self):
        from pdf_spark.core.filters import ascii85_decode, ascii85_encode

        # 'Man ' encodes to 9jqo^ per the classic btoa example
        assert ascii85_encode(b"Man ") == b"9jqo^~>"
        assert ascii85_decode(b"9jqo^~>") == b"Man "
        # z shorthand + whitespace tolerance + partial final group
        assert ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
        assert ascii85_decode(b" 9j qo^ \n 9jqo^ ~>") == b"Man Man "
        assert ascii85_decode(ascii85_encode(b"ab")) == b"ab"

    def test_a85_errors(self):
        import pytest

        from pdf_spark.core.errors import PdfError
        from pdf_spark.core.filters import ascii85_decode

        with pytest.raises(PdfError):
            ascii85_decode(b"9jz~>")  # z inside a group
        with pytest.raises(PdfError):
            ascii85_decode(b"\x7f~>")  # out-of-alphabet byte
        with pytest.raises(PdfError):
            ascii85_decode(b"9~>")  # lone trailing char
        with pytest.raises(PdfError):
            ascii85_decode(b"uuuuu~>")  # > 2^32-1 group

    def test_a85_roundtrip_fuzz(self):
        import random

        from pdf_spark.core.filters import ascii85_decode, ascii85_encode

        rng = random.Random(85)
        for n in (0, 1, 2, 3, 4, 5, 63, 256, 4097):
            data = bytes(rng.randrange(256) for _ in range(n))
            assert ascii85_decode(ascii85_encode(data)) == data
        # zero-heavy payload exercises the z shortcut
        data = b"\x00" * 37 + b"x" + b"\x00" * 9
        assert ascii85_decode(ascii85_encode(data)) == data

    def test_rle_spec_shapes(self):
        import pytest

        from pdf_spark.core.errors import PdfError
        from pdf_spark.core.filters import run_length_decode, run_length_encode

        # literal run, repeat run, EOD
        assert run_length_decode(b"\x02abc\xfeZ\x80") == b"abc" + b"Z" * 3
        # missing EOD tolerated
        assert run_length_decode(b"\x00Q") == b"Q"
        with pytest.raises(PdfError):
            run_length_decode(b"\x05ab")  # truncated literal
        with pytest.raises(PdfError):
            run_length_decode(b"\xfe")  # truncated repeat
        assert run_length_encode(b"") == b"\x80"

    def test_rle_roundtrip_fuzz(self):
        import random

        from pdf_spark.core.filters import run_length_decode, run_length_encode

        rng = random.Random(91)
        cases = [
            b"",
            b"A" * 500,
            b"ab" * 300,
            bytes(rng.randrange(256) for _ in range(4096)),
            bytes(rng.choice(b"aab") for _ in range(2000)),
            b"x" * 127 + b"y" * 129 + b"z",
        ]
        for data in cases:
            assert run_length_decode(run_length_encode(data)) == data

    def test_new_filter_variants_extract(self):
        from pdf_spark.core.extract import extract_text
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc

        names = [n for n, _ in _GOOD_VARIANTS]
        for name in ("td_tj_a85", "td_tj_rle"):
            v = names.index(name)
            pdf, expected, vname, err = generate_doc("quick brown fox " * 9, v)
            assert vname == name and err == ""
            text, status, code, n_pages, n_spans = extract_text(pdf)
            assert status == "ok" and text == expected


class TestXrefScavenge:
    """xref scavenge recovery (EXTENSION; the reference errors out,
    xref.c:144-228): rebuild from `N G obj` headers when the startxref/xref
    structure is broken or offsets are stale, validate end-to-end, and
    preserve the original error taxonomy when recovery can't produce a
    working document."""

    PAYLOAD = "Scavenge me please, twenty ways to break a tail! " * 5

    def _doc(self):
        from pdf_spark.gen.pdfgen import _content_td_tj, _simple_doc, wrap_lines

        return _simple_doc(
            wrap_lines(self.PAYLOAD), _content_td_tj, filters="FlateDecode"
        )

    def test_broken_offsets_recover(self):
        from pdf_spark.core.extract import extract_text
        from pdf_spark.gen.pdfgen import _shift_xref_offsets

        good = self._doc()
        base_text, _, _, _, _ = extract_text(good)
        text, status, code, _, _ = extract_text(_shift_xref_offsets(good))
        assert status == "ok" and text == base_text

    def test_chopped_tail_recovers(self):
        from pdf_spark.core.extract import extract_text

        good = self._doc()
        base_text, _, _, _, _ = extract_text(good)
        text, status, code, _, _ = extract_text(good[:-24])
        assert status == "ok" and text == base_text

    def test_incremental_update_scavenge_newest_wins(self):
        """After scavenge, the LAST body of a replaced object must win
        (incremental updates append replacements)."""
        from pdf_spark.core.extract import extract_text
        from pdf_spark.gen.pdfgen import _GOOD_VARIANTS, generate_doc

        names = [n for n, _ in _GOOD_VARIANTS]
        pdf, expected, _, _ = generate_doc(
            self.PAYLOAD, names.index("incremental_update")
        )
        text, status, _, _, _ = extract_text(pdf[:-24])  # tail chopped
        assert status == "ok" and text == expected
        assert "placeholder" not in text

    def test_unrecoverable_keeps_original_code(self):
        from pdf_spark.core.extract import extract_text
        from pdf_spark.gen.pdfgen import _corrupt_xref, _truncate_body

        _, status, code, _, _ = extract_text(_corrupt_xref(self._doc()))
        assert (status, code) == ("error", "INVALID_XREF")
        _, status, code, _, _ = extract_text(_truncate_body(self._doc()))
        assert (status, code) == ("error", "INVALID_STARTXREF")

    def test_trailerless_scavenge_finds_catalog(self):
        """Chop everything from `xref` on (no trailer at all): recovery must
        locate the catalog object directly."""
        from pdf_spark.core.extract import extract_text

        good = self._doc()
        chopped = good[: good.index(b"xref\n")]
        text, status, code, _, _ = extract_text(chopped)
        base_text, _, _, _, _ = extract_text(good)
        assert status == "ok" and text == base_text
