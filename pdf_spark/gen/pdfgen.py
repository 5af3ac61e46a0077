"""Deterministic minimal-PDF writer + the variant matrix of FIXTURES.md §3.

Every generated document is spec-shaped like the reference's ``test.pdf``
(header -> body objects -> classic xref -> trailer -> startxref -> %%EOF;
/root/reference/test-files/). ``generate_doc(text, variant)`` returns
``(pdf_bytes, expected_text)`` where the expected text is computed at
generation time from the *placed strings and positions* — the generator
lays out spans with its own arithmetic and runs the published ordering rule
(page asc, y desc, x asc), it does not call the extractor.

Every one-page document (here and in the query fixtures of
``functions/extraction_queries.py``) is written by ``PdfBuilder.one_page()``
+ ``PdfBuilder.page_tree``: objects 1-3 are catalog -> one-kid /Pages ->
/Page. Only multi-page, nested-Pages and object-stream layouts write their
tree by hand; incremental updates and corrupt variants patch a built
document.

Layout constants shared with the engine by specification (not by code):
- default glyph width for metric-less simple fonts = 500/1000 em
  (pdf_spark.core.fonts.DEFAULT_WIDTH, a documented rule of the engine)
- line assembly: same (page, y) concatenates, y/page change -> "\\n"
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Sequence

DEFAULT_WIDTH = 500.0  # layout constant (see module docstring)
FONT_SIZE = 12.0
LINE_HEIGHT = 16.0
TOP_Y = 700.0
LEFT_X = 72.0
WRAP = 60
MAX_LINES = 20

# printable ASCII minus the two StandardEncoding quote quirks (' -> U+2019,
# ` -> U+2018 via quoteright/quoteleft; FIXTURES.md §3 keeps expected text
# trivially computable by avoiding them) and minus backslash-escape chars.
_OK = set(chr(c) for c in range(32, 127)) - {"'", "`"}


def sanitize_text(text: str) -> str:
    return "".join(c if c in _OK else " " for c in text)


def wrap_lines(text: str, wrap: int = WRAP, max_lines: int = MAX_LINES) -> list[str]:
    text = sanitize_text(text)
    lines = []
    for i in range(0, len(text), wrap):
        chunk = text[i : i + wrap].strip()
        if chunk:
            lines.append(chunk)
        if len(lines) >= max_lines:
            break
    return lines or ["empty"]


def esc(s: str) -> bytes:
    """PDF literal-string escaping for ASCII payloads."""
    return (
        s.encode("latin-1")
        .replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(")
        .replace(b")", b"\\)")
    )


def _encode_chain(data: bytes, names: list[str]) -> bytes:
    """Apply the encode side of a decode-filter chain (shared by
    PdfBuilder.stream and the indirect-length path; unknown names raise
    instead of silently mis-encoding)."""
    enc = data
    for name in reversed(names):
        if name == "FlateDecode":
            enc = zlib.compress(enc)
        elif name == "ASCIIHexDecode":
            enc = enc.hex().encode("ascii") + b">"
        elif name == "LZWDecode":
            from pdf_spark.core.filters import lzw_encode

            enc = lzw_encode(enc)
        elif name == "ASCII85Decode":
            from pdf_spark.core.filters import ascii85_encode

            enc = ascii85_encode(enc)
        elif name == "RunLengthDecode":
            from pdf_spark.core.filters import run_length_encode

            enc = run_length_encode(enc)
        else:
            raise ValueError(name)
    return enc


class PdfBuilder:
    """Serialize numbered objects into a classic-xref PDF.

    A one-page document starts from ``PdfBuilder.one_page()`` (objects 1-3
    held for the catalog, the Pages node and the Page), adds its own
    objects, and ends with ``b.build(b.page_tree(font, contents))``."""

    CATALOG, PAGES, PAGE = 1, 2, 3  # the one-page tree's object ids

    def __init__(self) -> None:
        self.objects: list[bytes] = []  # body of object i+1

    @classmethod
    def one_page(cls) -> PdfBuilder:
        b = cls()
        b.objects += [b""] * 3
        return b

    def page_tree(
        self,
        font: int | None,
        contents: int | list[int],
        *,
        resources: bytes = b"",
        catalog: bytes = b"",
        rotate: int = 0,
        annots: Sequence[int] = (),
    ) -> int:
        """Set objects 1-3 of a ``one_page()`` builder to catalog -> one-kid
        /Pages -> a 612x792 /Page, and return the catalog id.

        ``font`` is the page's /F1 (None: no /Font entry); ``resources``
        adds raw /Resources entries after it, and a page with neither has
        no /Resources. ``contents`` is one stream id or a list of them;
        ``catalog`` adds raw catalog keys after /Pages."""
        refs = lambda ids: b" ".join(b"%d 0 R" % i for i in ids)
        res = (b"/Font<</F1 %d 0 R>>" % font if font is not None else b"") + resources
        self.set(self.CATALOG, b"<</Type/Catalog/Pages %d 0 R%s>>" % (self.PAGES, catalog))
        self.set(self.PAGES, b"<</Type/Pages/Kids[%d 0 R]/Count 1>>" % self.PAGE)
        self.set(
            self.PAGE,
            b"<</Type/Page/Parent %d 0 R/MediaBox[0 0 612 792]" % self.PAGES
            + (b"/Rotate %d" % rotate if rotate else b"")
            + (b"/Resources<<%s>>" % res if res else b"")
            + (b"/Contents %d 0 R" % contents if isinstance(contents, int)
               else b"/Contents[%s]" % refs(contents))
            + (b"/Annots[%s]" % refs(annots) if annots else b"")
            + b">>",
        )
        return self.CATALOG

    def add(self, body: bytes) -> int:
        self.objects.append(body)
        return len(self.objects)  # 1-based object id

    def reserve(self) -> int:
        self.objects.append(b"")
        return len(self.objects)

    def set(self, obj_id: int, body: bytes) -> None:
        self.objects[obj_id - 1] = body

    def stream(self, data: bytes, extra_dict: bytes = b"", filters: str = "",
               indirect_length: bool = False) -> int:
        """Add a stream object, applying the named encode chain.

        ``filters`` is a space-separated *decode* chain (left-to-right as it
        appears in /Filter), e.g. ``"ASCIIHexDecode FlateDecode"`` means the
        reader hex-decodes then inflates — so we deflate then hex-encode.
        ``indirect_length`` writes /Length as a reference to an integer
        object added just before the stream (object.c:787-800 resolve path).
        """
        names = filters.split()
        enc = _encode_chain(data, names)
        length = str(len(enc)).encode()
        if indirect_length:
            length = str(self.add(length)).encode() + b" 0 R"
        if not names:
            fpart = b""
        elif len(names) == 1:
            fpart = b"/Filter/" + names[0].encode()
        else:
            fpart = b"/Filter[" + b"".join(b"/" + n.encode() for n in names) + b"]"
        body = (
            b"<</Length "
            + length
            + fpart
            + extra_dict
            + b">>\nstream\n"
            + enc
            + b"\nendstream"
        )
        return self.add(body)

    def body(self) -> tuple[bytearray, list[int]]:
        """Header plus every ``obj … endobj``, and each object's offset
        (index = object id; 0 for the free entry)."""
        out = bytearray(b"%PDF-1.7\n%\xb5\xb6\n\n")
        offsets = [0] * (len(self.objects) + 1)
        for i, obj in enumerate(self.objects, start=1):
            offsets[i] = len(out)
            out += str(i).encode() + b" 0 obj\n" + obj + b"\nendobj\n\n"
        return out, offsets

    def build(self, root_id: int, trailer_extra: bytes = b"") -> bytes:
        out, offsets = self.body()
        xref_off = len(out)
        n = len(self.objects) + 1
        out += b"xref\n0 " + str(n).encode() + b"\n"
        out += b"0000000000 65536 f \n"
        for i in range(1, n):
            out += f"{offsets[i]:010d} 00000 n \n".encode()
        out += (
            b"\ntrailer\n<</Size "
            + str(n).encode()
            + b"/Root "
            + str(root_id).encode()
            + b" 0 R"
            + trailer_extra
            + b">>\nstartxref\n"
            + str(xref_off).encode()
            + b"\n%%EOF"
        )
        return bytes(out)


def incremental_update(base: bytes, replacements: dict[int, bytes], prev_xref: int) -> bytes:
    """Append an incremental-update section replacing the given objects
    (trailer /Prev chain; newest xref section wins, xref.c:230-291)."""
    out = bytearray(base)
    out += b"\n\n"
    offsets: dict[int, int] = {}
    max_id = 0
    for oid, body in sorted(replacements.items()):
        offsets[oid] = len(out)
        out += str(oid).encode() + b" 0 obj\n" + body + b"\nendobj\n\n"
        max_id = max(max_id, oid)
    xref_off = len(out)
    out += b"xref\n"
    for oid in sorted(offsets):
        out += str(oid).encode() + b" 1\n"
        out += f"{offsets[oid]:010d} 00000 n \n".encode()
    out += (
        b"\ntrailer\n<</Size "
        + str(max_id + 1).encode()
        + b"/Root 1 0 R/Prev "
        + str(prev_xref).encode()
        + b">>\nstartxref\n"
        + str(xref_off).encode()
        + b"\n%%EOF"
    )
    return bytes(out)


def _find_startxref(pdf: bytes) -> int:
    idx = pdf.rindex(b"startxref")
    return int(pdf[idx + 9 : pdf.rindex(b"%%EOF")].strip())


# -- content-stream builders --------------------------------------------------


def _content_td_tj(lines: list[str]) -> bytes:
    """One Td per line then Tj (test.pdf shape)."""
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    prev_y = None
    for i, line in enumerate(lines):
        y = TOP_Y - i * LINE_HEIGHT
        if prev_y is None:
            ops.append(_n(LEFT_X) + b" " + _n(y) + b" Td")
        else:
            ops.append(b"0 " + _n(y - prev_y) + b" Td")
        prev_y = y
        ops.append(b"(" + esc(line) + b") Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


def _content_tj_arrays(lines: list[str]) -> bytes:
    """TJ arrays: each line split into pieces with kern numbers between."""
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf", b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(TOP_Y) + b" Tm"]
    for i, line in enumerate(lines):
        if i > 0:
            ops.append(b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(TOP_Y - i * LINE_HEIGHT) + b" Tm")
        mid = max(1, len(line) // 2)
        a, b = line[:mid], line[mid:]
        arr = b"[(" + esc(a) + b") -120 (" + esc(b) + b")]" if b else b"[(" + esc(a) + b")]"
        ops.append(arr + b" TJ")
    ops.append(b"ET")
    return b"\n".join(ops)


def _content_hex_strings(lines: list[str]) -> bytes:
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    for i, line in enumerate(lines):
        y = TOP_Y - i * LINE_HEIGHT
        ops.append(b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm")
        ops.append(b"<" + line.encode("latin-1").hex().encode() + b"> Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


def _content_tstar(lines: list[str]) -> bytes:
    """TL + T* line stepping (quirk path: T* mutates Tm)."""
    ops = [
        b"BT",
        b"/F1 " + _n(FONT_SIZE) + b" Tf",
        _n(LINE_HEIGHT) + b" TL",
        _n(LEFT_X) + b" " + _n(TOP_Y) + b" Td",
    ]
    for i, line in enumerate(lines):
        if i > 0:
            ops.append(b"T*")
        ops.append(b"(" + esc(line) + b") Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


def _content_quote_ops(lines: list[str]) -> bytes:
    """' and \" next-line show operators (engine extension)."""
    ops = [
        b"BT",
        b"/F1 " + _n(FONT_SIZE) + b" Tf",
        _n(LINE_HEIGHT) + b" TL",
        _n(LEFT_X) + b" " + _n(TOP_Y + LINE_HEIGHT) + b" Td",
    ]
    for i, line in enumerate(lines):
        if i % 2 == 0:
            ops.append(b"(" + esc(line) + b") '")
        else:
            ops.append(b"0 0 (" + esc(line) + b") \"")
    ops.append(b"ET")
    return b"\n".join(ops)


def _content_reversed_blocks(lines: list[str]) -> bytes:
    """Emit lines in REVERSED order with explicit Tm — the deterministic
    (y desc) sort must restore document order."""
    ops = []
    for i, line in reversed(list(enumerate(lines))):
        y = TOP_Y - i * LINE_HEIGHT
        ops += [
            b"BT",
            b"/F1 " + _n(FONT_SIZE) + b" Tf",
            b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm",
            b"(" + esc(line) + b") Tj",
            b"ET",
        ]
    return b"\n".join(ops)


def _n(v: float) -> bytes:
    if v == int(v):
        return str(int(v)).encode()
    return f"{v:g}".encode()


# -- font dict builders -------------------------------------------------------

F_HELV = b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica>>"


def _truetype_font(builder: PdfBuilder) -> int:
    """TrueType + Widths + a Differences encoding (A-> named glyph)."""
    widths = b"[" + b" ".join(b"500" for _ in range(95)) + b"]"
    enc = builder.add(
        b"<</Type/Encoding/BaseEncoding/WinAnsiEncoding"
        b"/Differences[65 /Adieresis 97 /aacute]>>"
    )
    return builder.add(
        b"<</Type/Font/Subtype/TrueType/BaseFont/FakeSans"
        b"/FirstChar 32/LastChar 126/Widths " + widths +
        b"/Encoding " + str(enc).encode() + b" 0 R>>"
    )


def _type0_font(
    builder: PdfBuilder,
    charset: list[str],
    encoding: bytes = b"/Identity-H",
    desc_extra: bytes = b"",
) -> tuple[int, dict[str, int]]:
    """Type0 with a ToUnicode bfchar table over ``charset``.

    Returns (font obj id, char -> 2-byte code map). Codes start at 1.
    """
    code_of = {c: i + 1 for i, c in enumerate(charset)}
    bf = b"".join(
        f"<{code:04x}> <{ord(c):04x}>\n".encode() for c, code in code_of.items()
    )
    tounicode = (
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CIDSystemInfo <</Registry(Adobe)/Ordering(UCS)/Supplement 0>> def\n"
        b"/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        + str(len(code_of)).encode() + b" beginbfchar\n" + bf + b"endbfchar\n"
        b"endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
    )
    tu_id = builder.stream(tounicode, filters="FlateDecode")
    # CIDToGIDMap stream: identity u16 pairs for our code range
    n = len(code_of) + 1
    c2g = b"".join(i.to_bytes(2, "big") for i in range(n))
    c2g_id = builder.stream(c2g, filters="FlateDecode")
    desc = builder.add(
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont/FakeCID"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>"
        b"/DW 500" + desc_extra + b"/CIDToGIDMap " + str(c2g_id).encode() + b" 0 R>>"
    )
    font = builder.add(
        b"<</Type/Font/Subtype/Type0/BaseFont/FakeCID/Encoding" + encoding +
        b"/DescendantFonts[" + str(desc).encode() + b" 0 R]"
        b"/ToUnicode " + str(tu_id).encode() + b" 0 R>>"
    )
    return font, code_of


# -- document variants --------------------------------------------------------


def _simple_doc(lines: list[str], content_fn, filters: str = "",
                font_body: bytes = F_HELV, indirect_length: bool = False) -> bytes:
    b = PdfBuilder.one_page()
    font = b.add(font_body)
    cont = b.stream(content_fn(lines), filters=filters, indirect_length=indirect_length)
    return b.build(b.page_tree(font, cont))


def _multipage_doc(lines: list[str]) -> bytes:
    """Nested Pages tree (depth 3) with inherited Resources/MediaBox."""
    b = PdfBuilder()
    cat = b.reserve()
    root = b.reserve()
    inner = b.reserve()
    font = b.add(F_HELV)
    half = max(1, len(lines) // 2)
    chunks = [lines[:half], lines[half:]]
    page_ids = []
    for chunk in chunks:
        cont = b.stream(_content_td_tj(chunk), filters="FlateDecode")
        page_ids.append(
            b.add(
                b"<</Type/Page/Parent " + str(inner).encode() + b" 0 R"
                b"/Contents " + str(cont).encode() + b" 0 R>>"
            )
        )
    b.set(cat, b"<</Type/Catalog/Pages " + str(root).encode() + b" 0 R>>")
    # Resources + MediaBox ONLY on the root: must inherit two levels down
    b.set(
        root,
        b"<</Type/Pages/Kids[" + str(inner).encode() + b" 0 R]/Count 2"
        b"/MediaBox[0 0 612 792]"
        b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>>>",
    )
    b.set(
        inner,
        b"<</Type/Pages/Parent " + str(root).encode() + b" 0 R/Kids["
        + b" ".join(str(p).encode() + b" 0 R" for p in page_ids)
        + b"]/Count 2>>",
    )
    return b.build(cat)


def _multistream_doc(lines: list[str]) -> bytes:
    """Contents as an array of 2 streams; ops split mid-text-object
    (render.c:1175-1199 executes them sequentially)."""
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    half = max(1, len(lines) // 2)
    c1 = _content_td_tj(lines[:half])
    c1 = c1.rsplit(b"\nET", 1)[0]  # leave the text object open
    c2_lines = lines[half:]
    ops = []
    for i, line in enumerate(c2_lines):
        y = TOP_Y - (half + i) * LINE_HEIGHT
        ops.append(b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm")
        ops.append(b"(" + esc(line) + b") Tj")
    c2 = b"\n".join(ops) + b"\nET"
    s1 = b.stream(c1, filters="FlateDecode")
    s2 = b.stream(c2, filters="FlateDecode")
    return b.build(b.page_tree(font, [s1, s2]))


def _form_xobject_doc(lines: list[str]) -> bytes:
    """Text inside a Form XObject invoked by Do with a translate Matrix
    (render.c:979-1066)."""
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    # form places text at origin-relative coords; Matrix translates into page
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    for i, line in enumerate(lines):
        ops.append(b"1 0 0 1 0 " + _n(-i * LINE_HEIGHT) + b" Tm")
        ops.append(b"(" + esc(line) + b") Tj")
    ops.append(b"ET")
    form = b.stream(
        b"\n".join(ops),
        extra_dict=(
            b"/Type/XObject/Subtype/Form/BBox[0 0 612 792]"
            b"/Matrix[1 0 0 1 " + _n(LEFT_X) + b" " + _n(TOP_Y) + b"]"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
        ),
        filters="FlateDecode",
    )
    cont = b.stream(b"q /Fm1 Do Q")
    return b.build(b.page_tree(None, cont, resources=b"/XObject<</Fm1 %d 0 R>>" % form))


def _type0_vertical_doc(lines: list[str]) -> bytes:
    """Vertical writing mode (Identity-V + DW2): each LINE becomes one
    vertical COLUMN, columns placed right-to-left so reading order keeps
    the line order. Every line is split into two Tj shows with a TJ kern
    between them — the second show's position depends entirely on the
    interpreter applying the DW2 vertical advance (w1 = -1000 downward)
    and the vertical TJ-number displacement correctly; a wrong advance
    reorders or merges the halves."""
    b = PdfBuilder.one_page()
    charset = sorted(set("".join(lines)))
    font, code_of = _type0_font(
        b, charset, encoding=b"/Identity-V", desc_extra=b"/DW2[880 -1000]"
    )
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    right_x = 560.0
    for i, line in enumerate(lines):
        x = right_x - i * LINE_HEIGHT
        ops.append(b"1 0 0 1 " + _n(x) + b" " + _n(TOP_Y) + b" Tm")
        half = max(1, len(line) // 2)
        h1 = "".join(f"{code_of[c]:04x}" for c in line[:half])
        h2 = "".join(f"{code_of[c]:04x}" for c in line[half:])
        ops.append(b"<" + h1.encode() + b"> Tj")
        if h2:
            ops.append(b"[40 <" + h2.encode() + b">] TJ")
    ops.append(b"ET")
    cont = b.stream(b"\n".join(ops), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _tagged_pdf_doc(lines: list[str]) -> bytes:
    """Tagged PDF (§14.8) whose STRUCTURE order differs from the GEOMETRIC
    order: line i is placed at the i-th position FROM THE BOTTOM of the
    page (geometric reading would reverse the lines), wrapped in
    ``BDC /P <</MCID i>> .. EMC``; the /StructTreeRoot's kids list the
    MCIDs in logical order 0..n-1. The extractor must follow the
    structure tree — expected text is the ORIGINAL line order."""
    b = PdfBuilder.one_page()
    struct_root = b.reserve()
    n = len(lines)
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    for i, line in enumerate(lines):
        # geometric position: logical line i sits LOW on the page for
        # small i (bottom-up placement = reversed geometric order)
        y = TOP_Y - (n - 1 - i) * LINE_HEIGHT
        ops.append(b"/P <</MCID " + str(i).encode() + b">> BDC")
        ops.append(b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm")
        ops.append(b"(" + esc(line) + b") Tj")
        ops.append(b"EMC")
    ops.append(b"ET")
    cont = b.stream(b"\n".join(ops), filters="FlateDecode")
    font = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/Times-Roman>>")
    elems = []
    for i in range(n):
        elems.append(
            b.add(
                b"<</Type/StructElem/S/P/P " + str(struct_root).encode()
                + b" 0 R/Pg " + str(b.PAGE).encode() + b" 0 R/K "
                + str(i).encode() + b">>"
            )
        )
    b.set(
        struct_root,
        b"<</Type/StructTreeRoot/K["
        + b" ".join(str(e).encode() + b" 0 R" for e in elems) + b"]>>",
    )
    catalog = b"/MarkInfo<</Marked true>>/StructTreeRoot %d 0 R" % struct_root
    return b.build(b.page_tree(font, cont, catalog=catalog))


def _type0_doc(lines: list[str]) -> bytes:
    b = PdfBuilder.one_page()
    charset = sorted(set("".join(lines)))
    font, code_of = _type0_font(b, charset)
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    for i, line in enumerate(lines):
        y = TOP_Y - i * LINE_HEIGHT
        ops.append(b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm")
        hexcodes = "".join(f"{code_of[c]:04x}" for c in line)
        ops.append(b"<" + hexcodes.encode() + b"> Tj")
    ops.append(b"ET")
    cont = b.stream(b"\n".join(ops), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _incremental_doc(lines: list[str]) -> bytes:
    """Base doc with placeholder text, then an incremental update replacing
    the content stream — extraction must see the UPDATED text."""
    base = _simple_doc(["placeholder text that must not appear"], _content_td_tj)
    prev_xref = _find_startxref(base)
    content = _content_td_tj(lines)
    body = (
        b"<</Length " + str(len(content)).encode() + b">>\nstream\n"
        + content + b"\nendstream"
    )
    # object 5 is the content stream in _simple_doc layout (cat,pages,page,font,cont)
    return incremental_update(base, {5: body}, prev_xref)


def _incremental_xref_stream_doc(lines: list[str]) -> bytes:
    """Classic base doc + an incremental update whose xref section is a
    PDF 1.5 cross-reference STREAM with /Prev to the classic table — the
    mixed-chain layout signed/updated real-world PDFs use. Extraction must
    see the updated text through the stream-form section."""
    base = _simple_doc(["placeholder text that must not appear"], _content_td_tj)
    prev_xref = _find_startxref(base)
    content = _content_td_tj(lines)
    out = bytearray(base)
    out += b"\n\n"
    # object 5 is the content stream in _simple_doc layout
    cont_off = len(out)
    out += (
        b"5 0 obj\n<</Length " + str(len(content)).encode()
        + b">>\nstream\n" + content + b"\nendstream\nendobj\n\n"
    )
    # xref stream (object 6) indexes only the replaced object + itself
    rows = [(1, cont_off, 0), (1, len(out), 0)]
    _emit_xref_stream(
        out, 6, rows, 1, predictor=False,
        extra=b"/Index[5 2]/Prev " + str(prev_xref).encode(), size=7,
    )
    return bytes(out)


def _content_inline_image(lines: list[str]) -> bytes:
    """Text, then a ``BI … ID <binary> EI`` inline image (with an embedded
    non-delimited ``EI`` byte pair in the data to exercise the terminator
    guard), then more text — all of which must survive the skip."""
    half = max(1, len(lines) // 2)
    part1 = _content_td_tj(lines[:half])
    data = bytes(range(64)) + b"xEIx" + bytes(range(64, 96))
    img = b"BI /W 8/H 8/BPC 8/CS/G ID " + data + b"\nEI"
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    for i, line in enumerate(lines[half:], start=half):
        y = TOP_Y - i * LINE_HEIGHT
        ops.append(b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm")
        ops.append(b"(" + esc(line) + b") Tj")
    ops.append(b"ET")
    return part1 + b"\n" + img + b"\n" + b"\n".join(ops)


def _actualtext_doc(lines: list[str]) -> bytes:
    """/ActualText marked-content scopes (PDF 32000-1 §14.9.4; engine
    EXTENSION — the reference warn-skips BDC/EMC, operator.h:208-211).

    Per-line cycle of four shapes:
      i%4==0  plain ``Tj`` (no scope)
      i%4==1  named property list (``/Span /ATn BDC`` via Resources
              /Properties), glyphs carry a hyphenation fix-up, ActualText
              (PDFDocEncoding literal) carries the true line
      i%4==2  non-ActualText scope (``/P BMC``): glyph text passes through
      i%4==3  inline dict with a UTF-16BE (BOM) hex-string ActualText;
              the scope spans TWO show ops (replacement emitted once)
    Expected text is exactly the input lines (default ``_expected_text``)."""
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    props = []
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    for i, line in enumerate(lines):
        y = TOP_Y - i * LINE_HEIGHT
        ops.append(b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm")
        mode = i % 4
        mid = max(1, len(line) // 2)
        if mode == 0:
            ops.append(b"(" + esc(line) + b") Tj")
        elif mode == 1:
            pname = b"AT%d" % i
            props.append(b"/" + pname + b"<</ActualText(" + esc(line) + b")>>")
            garbled = line[:mid] + "- " + line[mid:]
            ops.append(b"/Span /" + pname + b" BDC")
            ops.append(b"(" + esc(garbled) + b") Tj")
            ops.append(b"EMC")
        elif mode == 2:
            ops.append(b"/P BMC")
            ops.append(b"(" + esc(line) + b") Tj")
            ops.append(b"EMC")
        else:
            at = b"\xfe\xff" + line.encode("utf-16-be")
            ops.append(
                b"/Span <</ActualText<" + at.hex().encode() + b">>> BDC"
            )
            ops.append(b"(" + esc(line[:mid] + "-") + b") Tj")
            ops.append(b"(" + esc(line[mid:]) + b") Tj")
            ops.append(b"EMC")
    ops.append(b"ET")
    cont = b.stream(b"\n".join(ops), filters="FlateDecode")
    properties = b"/Properties<<" + b"".join(props) + b">>"
    return b.build(b.page_tree(font, cont, resources=properties))


def _extgstate_doc(lines: list[str]) -> bytes:
    """Font set via ``/GS1 gs`` (ExtGState /Font pair) instead of Tf — the
    page has no Tf at all, so extraction only works if gs is applied."""
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    g = b.add(
        b"<</Type/ExtGState/LW 2/Font["
        + str(font).encode() + b" 0 R " + _n(FONT_SIZE) + b"]>>"
    )
    content = _content_td_tj(lines).replace(
        b"/F1 " + _n(FONT_SIZE) + b" Tf", b"/GS1 gs", 1
    )
    cont = b.stream(content, filters="FlateDecode")
    return b.build(b.page_tree(font, cont, resources=b"/ExtGState<</GS1 %d 0 R>>" % g))


def _ocg_layers_doc(lines: list[str]) -> bytes:
    """Optional-content layers (PDF 32000-1 §8.11; engine EXTENSION — the
    reference's catalog deserde marks /OCProperties unimplemented,
    catalog.c:38). Default config: body layer ON, watermark layer OFF.

    - line 0 sits inside a ``/OC /P1 BDC..EMC`` scope over the ON group
      (visible -> kept);
    - a DRAFT banner sits inside a ``/OC /P2`` scope over the OFF group,
      positioned BETWEEN the visible lines (dropped — and only because the
      scope is evaluated, not because of sort order);
    - the last line (when >1) sits inside ``/OC /P3`` naming an OCMD with
      ``/P /AnyOff`` over the OFF group (policy evaluates VISIBLE -> kept);
    - a form XObject whose dict carries ``/OC`` = the OFF group stamps more
      junk (dropped whole at ``Do``).

    Expected text = exactly ``lines``."""
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    ocg_on = b.add(b"<</Type/OCG/Name(Body)>>")
    ocg_off = b.add(b"<</Type/OCG/Name(Watermark)>>")
    ocmd = b.add(
        b"<</Type/OCMD/OCGs[" + str(ocg_off).encode() + b" 0 R]/P/AnyOff>>"
    )
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    last = len(lines) - 1
    for i, line in enumerate(lines):
        y = TOP_Y - i * LINE_HEIGHT
        ops.append(b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm")
        shown = b"(" + esc(line) + b") Tj"
        if i == 0:
            ops += [b"/OC /P1 BDC", shown, b"EMC"]
        elif i == last:
            ops += [b"/OC /P3 BDC", shown, b"EMC"]
        else:
            ops.append(shown)
        if i == 0:
            # hidden watermark BETWEEN visible lines: same x, a y midway
            # into the body — included, it would sort into the middle
            ops.append(
                b"1 0 0 1 " + _n(LEFT_X) + b" "
                + _n(TOP_Y - 0.5 * LINE_HEIGHT) + b" Tm"
            )
            ops += [b"/OC /P2 BDC", b"(DRAFT DRAFT DRAFT) Tj", b"EMC"]
    ops.append(b"ET")
    form = b.stream(
        b"BT /F1 " + _n(FONT_SIZE) + b" Tf (CONFIDENTIAL) Tj ET",
        extra_dict=(
            b"/Type/XObject/Subtype/Form/BBox[0 0 612 792]"
            b"/Matrix[1 0 0 1 " + _n(LEFT_X) + b" " + _n(TOP_Y) + b"]"
            b"/OC " + str(ocg_off).encode() + b" 0 R"
            b"/Resources<</Font<</F1 " + str(font).encode() + b" 0 R>>>>"
        ),
    )
    cont = b.stream(b"\n".join(ops) + b"\nq /Fm1 Do Q", filters="FlateDecode")
    catalog = (
        b"/OCProperties<</OCGs[%d 0 R %d 0 R]/D<</ON[%d 0 R]/OFF[%d 0 R]>>>>"
        % (ocg_on, ocg_off, ocg_on, ocg_off)
    )
    resources = (
        b"/XObject<</Fm1 %d 0 R>>/Properties<</P1 %d 0 R/P2 %d 0 R/P3 %d 0 R>>"
        % (form, ocg_on, ocg_off, ocmd)
    )
    return b.build(b.page_tree(font, cont, resources=resources, catalog=catalog))


def _content_hex_byte_lines(lines_bytes: list[bytes]) -> bytes:
    """Tm-positioned lines shown as hex strings of pre-encoded raw bytes."""
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    for i, raw in enumerate(lines_bytes):
        y = TOP_Y - i * LINE_HEIGHT
        ops.append(b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm")
        ops.append(b"<" + raw.hex().encode() + b"> Tj")
    ops.append(b"ET")
    return b"\n".join(ops)


def _cff_index(items: list[bytes]) -> bytes:
    """One CFF INDEX (count u16, offSize, 1-based offsets, data)."""
    import struct

    if not items:
        return struct.pack(">H", 0)
    offs = [1]
    for it in items:
        offs.append(offs[-1] + len(it))
    return (
        struct.pack(">HB", len(items), 4)
        + b"".join(struct.pack(">I", o) for o in offs)
        + b"".join(items)
    )


def _mini_cff(
    charset_sids: list[int],
    encoding_codes: list[int],
    custom_strings: list[bytes],
) -> bytes:
    """A minimal bare-CFF (Type1C) program: header, Name/TopDict/String/
    GlobalSubr INDEXes, a format-0 custom Encoding (code of glyph i+1 =
    ``encoding_codes[i]``), a format-0 charset (SID of glyph i+1 =
    ``charset_sids[i]``) and a CharStrings INDEX of 1-byte endchar stubs
    (the engine only counts them). Offsets in the Top DICT use the 5-byte
    int form so the layout is computable in one pass."""
    import struct

    n_glyphs = len(charset_sids) + 1
    hdr = b"\x01\x00\x04\x04"
    name_idx = _cff_index([b"FakeType1C"])
    # Top DICT: three 5-byte-int entries (charset 15, encoding 16,
    # charstrings 17) -> fixed 18-byte dict
    td_size = 3 * 6
    top_idx_size = 2 + 1 + 2 * 4 + td_size
    string_idx = _cff_index(custom_strings)
    gsubr_idx = _cff_index([])
    enc_off = len(hdr) + len(name_idx) + top_idx_size + len(string_idx) + len(gsubr_idx)
    enc = bytes([0, len(encoding_codes)]) + bytes(encoding_codes)
    charset_off = enc_off + len(enc)
    charset = b"\x00" + b"".join(struct.pack(">H", s) for s in charset_sids)
    cs_off = charset_off + len(charset)
    charstrings = _cff_index([b"\x0e"] * n_glyphs)
    td = (
        b"\x1d" + struct.pack(">I", charset_off) + bytes([15])
        + b"\x1d" + struct.pack(">I", enc_off) + bytes([16])
        + b"\x1d" + struct.pack(">I", cs_off) + bytes([17])
    )
    top_idx = _cff_index([td])
    assert len(top_idx) == top_idx_size
    return hdr + name_idx + top_idx + string_idx + gsubr_idx + enc + charset + charstrings


def _type1c_code(c: str) -> int:
    """Content-stream code for char ``c`` in the type1c_symbolic variant:
    codes are ord+1 so the StandardEncoding fallback would decode the
    WRONG char — only the CFF encoding+charset chain recovers the text."""
    return ord(c) + 1


def _type1c_symbolic_doc(lines: list[str]) -> bytes:
    """Symbolic Type1 with NO ToUnicode/Encoding and a FontFile3/Type1C
    program: decode must walk code -> CFF built-in Encoding -> GID ->
    charset SID -> glyph name -> AGL. Glyph order is REVERSED relative to
    ASCII (gid k = chr(0x7E-(k-1))) so an identity-charset shortcut fails;
    'Q' resolves through a CUSTOM String-INDEX name (SID 391 'uni0051').
    The reference parses CFF charsets for rendering (libs/cff/src/
    charsets.c) but never maps names to text."""
    b = PdfBuilder.one_page()
    # gid k (1..95) = chr(0x7E-(k-1)); standard SID = ord-31, except 'Q'
    # which routes through the String INDEX (custom SID 391)
    sids = []
    for k in range(1, 96):
        o = 0x7E - (k - 1)
        sids.append(391 if o == ord("Q") else o - 31)
    codes = [0x7F - (k - 1) for k in range(1, 96)]  # code of gid k = ord+1
    cff = _mini_cff(sids, codes, [b"uni0051"])
    ff3 = b.add(
        b"<</Subtype/Type1C/Length " + str(len(cff)).encode()
        + b">>\nstream\n" + cff + b"\nendstream"
    )
    fd = b.add(
        b"<</Type/FontDescriptor/FontName/FakeType1C/Flags 4"
        b"/FontFile3 " + str(ff3).encode() + b" 0 R>>"
    )
    font = b.add(
        b"<</Type/Font/Subtype/Type1/BaseFont/FakeType1C"
        b"/FontDescriptor " + str(fd).encode() + b" 0 R>>"
    )
    shifted = [bytes(_type1c_code(c) for c in line) for line in lines]
    cont = b.stream(_content_hex_byte_lines(shifted), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _mini_type1(encoding: dict[int, str], pfb: bool = False) -> bytes:
    """A minimal Type1 program CLEARTEXT header carrying a custom
    /Encoding (``dup code /name put`` lines) — the only part the engine
    reads (charstrings are irrelevant to text decode). ``pfb=True`` wraps
    it in PFB segment headers (0x80-prefixed, little-endian lengths)."""
    lines = [
        b"%!PS-AdobeFont-1.0: FakeType1 001.001",
        b"/FontName /FakeType1 def",
        b"/Encoding 256 array",
        b"0 1 255 {1 index exch /.notdef put} for",
    ]
    for code in sorted(encoding):
        lines.append(
            b"dup " + str(code).encode() + b" /" + encoding[code].encode() + b" put"
        )
    lines.append(b"readonly def")
    lines.append(b"currentdict end")
    lines.append(b"currentfile eexec")
    clear = b"\n".join(lines) + b"\n"
    binary = b"\x00" * 32  # stand-in for the eexec-encrypted section
    if not pfb:
        return clear + binary
    def seg(t: int, payload: bytes) -> bytes:
        return bytes([0x80, t]) + len(payload).to_bytes(4, "little") + payload
    return seg(1, clear) + seg(2, binary) + bytes([0x80, 3])


def _type1_builtin_doc(lines: list[str]) -> bytes:
    """Symbolic Type1 with NO PDF /Encoding and NO ToUnicode; the embedded
    FontFile program's cleartext /Encoding (PFB-wrapped) maps the SHIFTED
    codes (ord+1) to the right glyph names — only the program's built-in
    encoding decodes the text (StandardEncoding at the shifted code would
    yield the wrong char). The reference leaves FontFile unread
    (font_descriptor.c FontFile todo)."""
    from pdf_spark.core.encodings import STANDARD_ENCODING

    b = PdfBuilder.one_page()
    charset = sorted(set("".join(lines)))
    enc = {ord(c) + 1: STANDARD_ENCODING[ord(c)] for c in charset}
    prog = _mini_type1(enc, pfb=True)
    ff = b.add(
        b"<</Length " + str(len(prog)).encode()
        + b"/Length1 " + str(len(prog)).encode()
        + b"/Length2 0/Length3 0>>\nstream\n" + prog + b"\nendstream"
    )
    fd = b.add(
        b"<</Type/FontDescriptor/FontName/FakeType1/Flags 4"
        b"/FontFile " + str(ff).encode() + b" 0 R>>"
    )
    font = b.add(
        b"<</Type/Font/Subtype/Type1/BaseFont/FakeType1"
        b"/FontDescriptor " + str(fd).encode() + b" 0 R>>"
    )
    shifted = [bytes((ord(c) + 1) for c in line) for line in lines]
    cont = b.stream(_content_hex_byte_lines(shifted), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _mini_sfnt(
    symbol_first: int,
    symbol_gids: list[int],
    uni_seg: tuple[int, int, int],
    uni12: list[tuple[int, int, int]] | None = None,
) -> bytes:
    """A minimal TrueType program containing ONLY a cmap table: a (1,0)
    format-6 symbol subtable (firstCode + gid run) and either a (3,1)
    format-4 Unicode subtable with one delta segment ``(start, end,
    delta)`` or — when ``uni12`` is given — a (3,10) format-12 subtable
    of ``(startChar, endChar, startGid)`` groups (supplementary-plane
    coverage). The engine's sfnt reader touches nothing but cmap, so no
    glyf/head tables are needed."""
    import struct

    fmt6 = struct.pack(
        ">HHHHH", 6, 10 + 2 * len(symbol_gids), 0, symbol_first, len(symbol_gids)
    ) + b"".join(struct.pack(">H", g) for g in symbol_gids)
    if uni12 is not None:
        uni = struct.pack(
            ">HHIII", 12, 0, 16 + 12 * len(uni12), 0, len(uni12)
        ) + b"".join(struct.pack(">III", s, e, g) for s, e, g in uni12)
        uni_rec = (3, 10)
    else:
        s, e, d = uni_seg
        uni = struct.pack(
            ">HHHHHHH", 4, 32, 0, 4, 4, 1, 0
        ) + struct.pack(">HH", e, 0xFFFF)      # endCode[2]
        uni += struct.pack(">H", 0)            # reservedPad
        uni += struct.pack(">HH", s, 0xFFFF)   # startCode[2]
        uni += struct.pack(">HH", d & 0xFFFF, 1)  # idDelta[2]
        uni += struct.pack(">HH", 0, 0)        # idRangeOffset[2]
        uni_rec = (3, 1)
    # cmap: header + 2 encoding records + subtables
    sub1_off = 4 + 8 * 2
    sub2_off = sub1_off + len(fmt6)
    cmap = struct.pack(">HH", 0, 2)
    cmap += struct.pack(">HHI", 1, 0, sub1_off)
    cmap += struct.pack(">HHI", uni_rec[0], uni_rec[1], sub2_off)
    cmap += fmt6 + uni
    # sfnt wrapper: offset table + one table record
    header = struct.pack(">IHHHH", 0x00010000, 1, 16, 0, 16)
    record = b"cmap" + struct.pack(">III", 0, 12 + 16, len(cmap))
    return header + record + cmap


def _truetype_symbolic_doc(lines: list[str]) -> bytes:
    """Symbolic TrueType with NO ToUnicode/Encoding: string codes are
    shifted (+1) so only the embedded program's (1,0) cmap -> inverse (3,1)
    Unicode cmap chain decodes them correctly."""
    b = PdfBuilder.one_page()
    # (1,0): code 0x21+k -> gid k+1 (char 0x20+k); (3,1): U+0020..7E -> gid
    sfnt = _mini_sfnt(0x21, [k + 1 for k in range(95)], (0x20, 0x7E, -0x1F))
    ff2 = b.add(
        b"<</Length " + str(len(sfnt)).encode() + b"/Length1 "
        + str(len(sfnt)).encode() + b">>\nstream\n" + sfnt + b"\nendstream"
    )
    fd = b.add(
        b"<</Type/FontDescriptor/FontName/FakeSymbolic/Flags 4"
        b"/FontFile2 " + str(ff2).encode() + b" 0 R>>"
    )
    font = b.add(
        b"<</Type/Font/Subtype/TrueType/BaseFont/FakeSymbolic"
        b"/FontDescriptor " + str(fd).encode() + b" 0 R>>"
    )
    shifted = [bytes((ord(c) + 1) for c in line) for line in lines]
    cont = b.stream(_content_hex_byte_lines(shifted), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


# truetype_nonbmp: ASCII letters/digits render as MATHEMATICAL BOLD
# supplementary-plane chars (U+1D400.. blocks); the gid runs mirror the
# ord-0x1F gid scheme of _truetype_symbolic_doc. (startChar, endChar,
# startGid) groups of the (3,10) format-12 subtable:
_NONBMP_GROUPS = [
    (0x20, 0x2F, 0x20 - 0x1F),        # space + punct: BMP identity runs
    (0x1D7CE, 0x1D7D7, 0x30 - 0x1F),  # 0-9 -> MATHEMATICAL BOLD DIGIT
    (0x3A, 0x40, 0x3A - 0x1F),
    (0x1D400, 0x1D419, 0x41 - 0x1F),  # A-Z -> MATHEMATICAL BOLD CAPITAL
    (0x5B, 0x60, 0x5B - 0x1F),
    (0x1D41A, 0x1D433, 0x61 - 0x1F),  # a-z -> MATHEMATICAL BOLD SMALL
    (0x7B, 0x7E, 0x7B - 0x1F),
]


def _nonbmp_expected(c: str) -> str:
    o = ord(c)
    if 0x41 <= o <= 0x5A:
        return chr(0x1D400 + o - 0x41)
    if 0x61 <= o <= 0x7A:
        return chr(0x1D41A + o - 0x61)
    if 0x30 <= o <= 0x39:
        return chr(0x1D7CE + o - 0x30)
    return c


def _truetype_nonbmp_doc(lines: list[str]) -> bytes:
    """Symbolic TrueType with NO ToUnicode/Encoding whose embedded cmap
    carries a (3,10) FORMAT 12 Unicode subtable mapping letters/digits to
    supplementary-plane (astral) chars: decode must go (1,0) symbol cmap
    -> gid -> inverse format-12 Unicode cmap. The reference's sfnt reader
    stops at formats 0/4/6 (sfnt/src/cmap.c:30-91) — this variant pins
    the format-12 extension AND astral-char survival through the Arrow
    UTF-8 boundary."""
    b = PdfBuilder.one_page()
    # (1,0): code 0x21+k -> gid k+1 (char 0x20+k), same shift scheme as
    # _truetype_symbolic_doc
    sfnt = _mini_sfnt(
        0x21, [k + 1 for k in range(95)], (0, 0, 0), uni12=_NONBMP_GROUPS
    )
    ff2 = b.add(
        b"<</Length " + str(len(sfnt)).encode() + b"/Length1 "
        + str(len(sfnt)).encode() + b">>\nstream\n" + sfnt + b"\nendstream"
    )
    fd = b.add(
        b"<</Type/FontDescriptor/FontName/FakeAstral/Flags 4"
        b"/FontFile2 " + str(ff2).encode() + b" 0 R>>"
    )
    font = b.add(
        b"<</Type/Font/Subtype/TrueType/BaseFont/FakeAstral"
        b"/FontDescriptor " + str(fd).encode() + b" 0 R>>"
    )
    shifted = [bytes((ord(c) + 1) for c in line) for line in lines]
    cont = b.stream(_content_hex_byte_lines(shifted), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _mini_sfnt_post(
    symbol_first: int, symbol_gids: list[int], name_indices: list[int],
    pool: list[bytes],
) -> bytes:
    """sfnt with a (1,0) format-6 symbol cmap and a ``post`` version-2.0
    table — NO Unicode cmap subtable at all, so decode can only succeed
    through gid -> post glyph name -> AGL."""
    import struct

    fmt6 = struct.pack(
        ">HHHHH", 6, 10 + 2 * len(symbol_gids), 0, symbol_first, len(symbol_gids)
    ) + b"".join(struct.pack(">H", g) for g in symbol_gids)
    cmap = struct.pack(">HH", 0, 1) + struct.pack(">HHI", 1, 0, 12) + fmt6
    post = struct.pack(">IiHHIIIII", 0x00020000, 0, 0, 0, 0, 0, 0, 0, 0)
    post += struct.pack(">H", len(name_indices))
    post += b"".join(struct.pack(">H", i) for i in name_indices)
    post += b"".join(bytes([len(s)]) + s for s in pool)
    # sfnt wrapper: offset table + two table records
    header = struct.pack(">IHHHH", 0x00010000, 2, 16, 1, 0)
    off0 = 12 + 16 * 2
    records = (
        b"cmap" + struct.pack(">III", 0, off0, len(cmap))
        + b"post" + struct.pack(">III", 0, off0 + len(cmap), len(post))
    )
    return header + records + cmap + post


def _truetype_post_doc(lines: list[str]) -> bytes:
    """Symbolic TrueType whose embedded program has ONLY a (1,0) symbol
    cmap plus a ``post`` version-2.0 glyph-name table (no Unicode cmap,
    no ToUnicode, no /Encoding): decode must go code -> gid -> post name
    -> AGL. The common shape of subset-embedded symbolic fonts — the
    subsetter drops the Unicode cmap but must keep ``post`` for
    PostScript printing. Gid k+1 carries the STANDARD Macintosh index
    3+k (the printable-ASCII block of the 258-name order) except '~'
    (gid 95), which uses custom index 258 into the Pascal-string pool —
    both index classes pinned in one font. Reference has no post path."""
    b = PdfBuilder.one_page()
    # (1,0): code 0x21+k -> gid k+1 (char 0x20+k); post names gid k+1
    indices = [0] + [3 + k for k in range(95)]   # gid 0 = .notdef
    indices[95] = 258                            # '~' via the custom pool
    sfnt = _mini_sfnt_post(
        0x21, [k + 1 for k in range(95)], indices, [b"asciitilde"]
    )
    ff2 = b.add(
        b"<</Length " + str(len(sfnt)).encode() + b"/Length1 "
        + str(len(sfnt)).encode() + b">>\nstream\n" + sfnt + b"\nendstream"
    )
    fd = b.add(
        b"<</Type/FontDescriptor/FontName/FakePost/Flags 4"
        b"/FontFile2 " + str(ff2).encode() + b" 0 R>>"
    )
    font = b.add(
        b"<</Type/Font/Subtype/TrueType/BaseFont/FakePost"
        b"/FontDescriptor " + str(fd).encode() + b" 0 R>>"
    )
    shifted = [bytes((ord(c) + 1) for c in line) for line in lines]
    cont = b.stream(_content_hex_byte_lines(shifted), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _cidfont2_sfnt_doc(lines: list[str]) -> bytes:
    """Type0/Identity-H over CIDFontType2 with NO ToUnicode: CIDs are
    shifted (+2), so decode must go CID -> GID (CIDToGIDMap stream) ->
    inverse sfnt Unicode cmap."""
    b = PdfBuilder.one_page()
    # cid = ord+2; gid = ord-0x1F; unicode (3,1): U+0020..7E -> gid
    sfnt = _mini_sfnt(0xFFFE, [], (0x20, 0x7E, -0x1F))
    max_cid = 0x7E + 2
    c2g = bytearray(2 * (max_cid + 1))
    for o in range(0x20, 0x7F):
        cid = o + 2
        gid = o - 0x1F
        c2g[2 * cid] = gid >> 8
        c2g[2 * cid + 1] = gid & 0xFF
    ff2 = b.add(
        b"<</Length " + str(len(sfnt)).encode() + b"/Length1 "
        + str(len(sfnt)).encode() + b">>\nstream\n" + sfnt + b"\nendstream"
    )
    fd = b.add(
        b"<</Type/FontDescriptor/FontName/FakeCID/Flags 4"
        b"/FontFile2 " + str(ff2).encode() + b" 0 R>>"
    )
    c2g_id = b.stream(bytes(c2g))
    cid_font = b.add(
        b"<</Type/Font/Subtype/CIDFontType2/BaseFont/FakeCID"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Identity)/Supplement 0>>"
        b"/DW 500"
        b"/CIDToGIDMap " + str(c2g_id).encode() + b" 0 R"
        b"/FontDescriptor " + str(fd).encode() + b" 0 R>>"
    )
    font = b.add(
        b"<</Type/Font/Subtype/Type0/BaseFont/FakeCID/Encoding/Identity-H"
        b"/DescendantFonts[" + str(cid_font).encode() + b" 0 R]>>"
    )
    coded = [
        b"".join((ord(c) + 2).to_bytes(2, "big") for c in line) for line in lines
    ]
    cont = b.stream(_content_hex_byte_lines(coded), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _type0_predefined_doc(lines: list[str]) -> bytes:
    """Type0 with the predefined /UniJIS-UCS2-H CMap and NO ToUnicode:
    2-byte codes ARE the Unicode code points (decode must use the CMap's
    unicode-identity property; widths come from the ASCII CID run 1..95)."""
    b = PdfBuilder.one_page()
    cid_font = b.add(
        b"<</Type/Font/Subtype/CIDFontType0/BaseFont/FakeMincho"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Japan1)/Supplement 7>>"
        b"/DW 1000/W[1 95 500]>>"
    )
    font = b.add(
        b"<</Type/Font/Subtype/Type0/BaseFont/FakeMincho"
        b"/Encoding/UniJIS-UCS2-H"
        b"/DescendantFonts[" + str(cid_font).encode() + b" 0 R]>>"
    )
    coded = [
        b"".join(ord(c).to_bytes(2, "big") for c in line) for line in lines
    ]
    cont = b.stream(_content_hex_byte_lines(coded), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _type0_cid_ascii_doc(lines: list[str]) -> bytes:
    """Type0 /Identity-H with a declared Adobe-Japan1 CIDSystemInfo and NO
    ToUnicode / embedded font: string bytes are raw 2-byte CIDs. Decode
    must use the character-collection ASCII block (CIDs 1..95 = the 95
    printable ASCII characters, identical across the Adobe-Japan1/GB1/
    CNS1/Korea1/KR collection specs) — the common shape of subset-embedded
    CJK fonts whose ToUnicode was stripped by an optimizer."""
    b = PdfBuilder.one_page()
    cid_font = b.add(
        b"<</Type/Font/Subtype/CIDFontType0/BaseFont/FakeMincho"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Japan1)/Supplement 7>>"
        b"/DW 1000/W[1 95 500]>>"
    )
    font = b.add(
        b"<</Type/Font/Subtype/Type0/BaseFont/FakeMincho"
        b"/Encoding/Identity-H"
        b"/DescendantFonts[" + str(cid_font).encode() + b" 0 R]>>"
    )
    coded = [
        b"".join(_ascii_cid(c).to_bytes(2, "big") for c in line)
        for line in lines
    ]
    cont = b.stream(_content_hex_byte_lines(coded), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _ascii_cid(c: str) -> int:
    """char -> Adobe collection ASCII-block CID (non-ASCII -> '?')."""
    o = ord(c)
    return o - 0x20 + 1 if 0x20 <= o <= 0x7E else 0x3F - 0x20 + 1


def _jp_char(c: str) -> str:
    """Deterministic ASCII -> Japanese mapping for the legacy-CMap variant:
    spaces/digits stay 1-byte ASCII, a-m/A-M become full-width katakana
    (2-byte Shift-JIS), everything else half-width katakana (1-byte
    0xB1-0xBF) — so one line exercises all three code widths."""
    if c == " " or c.isdigit():
        return c
    if "a" <= c <= "m" or "A" <= c <= "M":
        return chr(0x30A2 + (ord(c) % 0x40))
    return chr(0xFF71 + (ord(c) % 0x0F))


def _type0_legacy_cmap_doc(lines: list[str]) -> bytes:
    """Type0 with the predefined byte-oriented /90ms-RKSJ-H CMap and NO
    ToUnicode: string bytes are Shift-JIS (cp932) — decode requires the
    legacy-CMap codespace split (mixed 1/2-byte) + charset decode."""
    b = PdfBuilder.one_page()
    cid_font = b.add(
        b"<</Type/Font/Subtype/CIDFontType0/BaseFont/FakeGothic"
        b"/CIDSystemInfo<</Registry(Adobe)/Ordering(Japan1)/Supplement 7>>"
        b"/DW 1000>>"
    )
    font = b.add(
        b"<</Type/Font/Subtype/Type0/BaseFont/FakeGothic"
        b"/Encoding/90ms-RKSJ-H"
        b"/DescendantFonts[" + str(cid_font).encode() + b" 0 R]>>"
    )
    coded = [
        "".join(_jp_char(c) for c in line).encode("cp932") for line in lines
    ]
    cont = b.stream(_content_hex_byte_lines(coded), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _cyr_char(base: int, yo: int, k: int) -> str:
    """Mirror of the AGL afii Cyrillic run layout (Ё interleaved at k=6)."""
    if k == 6:
        return chr(yo)
    return chr(base + k - (1 if k > 6 else 0))


def _nonlatin_map(c: str) -> tuple[int, str]:
    """Deterministic code + expected char for the differences_nonlatin
    variant: A-Z -> codes 0x80+k named afii100NN (Cyrillic uppercase),
    a-z -> 0xA0+k (Cyrillic lowercase), digits 0-3 -> 0xC0+k Greek letters,
    everything else stays its ASCII code through the base encoding."""
    o = ord(c)
    if 65 <= o <= 90:
        return 0x80 + (o - 65), _cyr_char(0x0410, 0x0401, o - 65)
    if 97 <= o <= 122:
        return 0xA0 + (o - 97), _cyr_char(0x0430, 0x0451, o - 97)
    if 48 <= o <= 51:
        return 0xC0 + (o - 48), "αβγδ"[o - 48]
    return o, c


def _differences_nonlatin_doc(lines: list[str]) -> bytes:
    """Simple font whose /Differences names Cyrillic afii* and Greek glyphs:
    decode requires the non-Latin AGL blocks (reference: full glyphlist.txt
    via fonts/agl.c; we embed the afii/Greek runs)."""
    b = PdfBuilder.one_page()
    upper = b" ".join(
        b"/afii" + str(10017 + k).encode() for k in range(26)
    )
    lower = b" ".join(
        b"/afii" + str(10065 + k).encode() for k in range(26)
    )
    greek = b"/alpha /beta /gamma /delta"
    enc = b.add(
        b"<</Type/Encoding/BaseEncoding/WinAnsiEncoding/Differences["
        b"128 " + upper + b" 160 " + lower + b" 192 " + greek + b"]>>"
    )
    font = b.add(
        b"<</Type/Font/Subtype/Type1/BaseFont/FakeSerif"
        b"/Encoding " + str(enc).encode() + b" 0 R>>"
    )
    coded = [
        bytes(_nonlatin_map(c)[0] for c in line) for line in lines
    ]
    cont = b.stream(_content_hex_byte_lines(coded), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _macexpert_doc(lines: list[str]) -> bytes:
    """Simple font with /Encoding /MacExpertEncoding: letters arrive as the
    small-caps codes (0x61..0x7A read as Asmall..Zsmall -> lowercase text),
    digits as oldstyle figures."""
    b = PdfBuilder.one_page()
    font = b.add(
        b"<</Type/Font/Subtype/Type1/BaseFont/FakeExpert"
        b"/Encoding/MacExpertEncoding>>"
    )
    coded = [
        bytes(_macexpert_code(c) for c in line) for line in lines
    ]
    cont = b.stream(_content_hex_byte_lines(coded), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


def _macexpert_code(c: str) -> int:
    """Code + expected-text rule for the macexpert variant: uppercase AND
    lowercase letters map to the small-caps codes (expected text is the
    lowercase equivalent); digits/punct ride the expert rows at their
    ASCII positions; anything unmapped becomes space."""
    o = ord(c)
    if 65 <= o <= 90:
        return o + 32  # Asmall..Zsmall live at 0x61..0x7A
    if 97 <= o <= 122 or 48 <= o <= 57:
        return o
    if c in " !&,-.:;?":
        return o
    return 0x20


def _macexpert_expected(c: str) -> str:
    o = ord(c)
    if 65 <= o <= 90:
        return chr(o + 32)
    if 97 <= o <= 122 or 48 <= o <= 57:
        return c
    if c in " !&,-.:;?":
        return c
    return " "


# MacRoman high-range bytes used by the macroman_high variant
_MACROMAN_SUBST = {"a": (0x87, "á"), "e": (0x8E, "é")}


def _macroman_doc(lines: list[str]) -> bytes:
    """Simple font with /MacRomanEncoding: 'a'/'e' are written as the
    high-range codes 0x87 (aacute) / 0x8E (eacute) — decode requires the
    full MacRoman 128-255 table + AGL."""
    b = PdfBuilder.one_page()
    font = b.add(
        b"<</Type/Font/Subtype/Type1/BaseFont/Helvetica"
        b"/Encoding/MacRomanEncoding>>"
    )
    coded = [
        bytes(
            _MACROMAN_SUBST[c][0] if c in _MACROMAN_SUBST else ord(c)
            for c in line
        )
        for line in lines
    ]
    cont = b.stream(_content_hex_byte_lines(coded), filters="FlateDecode")
    return b.build(b.page_tree(font, cont))


# -- Symbol / ZapfDingbats built-in encodings (Annex D.5/D.6) -----------------
# Expected mapping written INDEPENDENTLY of core/encodings.py (the point of
# the roundtrip oracle): Greek letters ride the ASCII letter slots of the
# Symbol layout; the keep-set punctuation decodes to itself; anything else
# is written as the space code. A trailing line set in /F2 ZapfDingbats
# shows four fixed dingbat codes (check mark, scissors, pencil, telephone).
_SYMBOL_UPPER_EXPECT = "ΑΒΧ∆ΕΦΓΗΙϑΚΛΜΝΟΠΘΡΣΤΥςΩΞΨΖ"
_SYMBOL_LOWER_EXPECT = "αβχδεφγηιϕκλµνοπθρστυϖωξψζ"
_SYMBOL_KEEP = " !#%&()+,./0123456789:;<=>?"
_ZAPF_LINE_CODES = bytes((0x33, 0x22, 0x2E, 0x25))
_ZAPF_LINE_EXPECT = "✓✂✎☎"


def _symbol_expected(c: str) -> str:
    o = ord(c)
    if 65 <= o <= 90:
        return _SYMBOL_UPPER_EXPECT[o - 65]
    if 97 <= o <= 122:
        return _SYMBOL_LOWER_EXPECT[o - 97]
    return c if c in _SYMBOL_KEEP else " "


def _symbol_doc(lines: list[str]) -> bytes:
    """Two symbolic base-14 fonts with NO /Encoding entry: /F1 is a
    subset-tagged Symbol (the ABCDEF+ prefix must be stripped before the
    built-in-encoding lookup, §9.6.4), /F2 ZapfDingbats. Decode requires
    the fonts' built-in encoding tables — StandardEncoding would read the
    Greek back as Latin letters."""
    b = PdfBuilder.one_page()
    f1 = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/ABCDEF+Symbol>>")
    f2 = b.add(b"<</Type/Font/Subtype/Type1/BaseFont/ZapfDingbats>>")
    coded = [
        bytes(
            ord(c)
            if (65 <= ord(c) <= 90 or 97 <= ord(c) <= 122 or c in _SYMBOL_KEEP)
            else 0x20
            for c in line
        )
        for line in lines
    ]
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    for i, raw in enumerate(coded):
        y = TOP_Y - i * LINE_HEIGHT
        ops.append(b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm")
        ops.append(b"<" + raw.hex().encode() + b"> Tj")
    y = TOP_Y - len(coded) * LINE_HEIGHT
    ops += [
        b"/F2 " + _n(FONT_SIZE) + b" Tf",
        b"1 0 0 1 " + _n(LEFT_X) + b" " + _n(y) + b" Tm",
        b"<" + _ZAPF_LINE_CODES.hex().encode() + b"> Tj",
        b"ET",
    ]
    cont = b.stream(b"\n".join(ops), filters="FlateDecode")
    fonts = b"/Font<</F1 %d 0 R/F2 %d 0 R>>" % (f1, f2)
    return b.build(b.page_tree(None, cont, resources=fonts))


def _xref_stream_rows(entries: list[tuple[int, int, int]]) -> bytes:
    """Pack ``(type, a, b)`` rows with W=[1,4,2] big-endian fields."""
    rows = bytearray()
    for ty, a, bb in entries:
        rows += bytes([ty]) + a.to_bytes(4, "big") + bb.to_bytes(2, "big")
    return bytes(rows)


def _png_up_predict(data: bytes, rowlen: int) -> bytes:
    """Apply the PNG Up row filter (predictor 12 encode side): each row is
    prefixed with filter byte 2 and stored as a delta vs the prior row."""
    out = bytearray()
    prior = bytes(rowlen)
    for r in range(0, len(data), rowlen):
        row = data[r : r + rowlen]
        out.append(2)
        out += bytes((row[j] - prior[j]) & 0xFF for j in range(len(row)))
        prior = row
    return bytes(out)


def _emit_xref_stream(
    out: bytearray,
    xref_id: int,
    rows: list[tuple[int, int, int]],
    root_id: int,
    predictor: bool,
    extra: bytes = b"",
    size: int | None = None,
) -> None:
    """Append the ``/Type/XRef`` stream object + startxref/%%EOF tail.
    ``size`` is the document's total object count (/Size); defaults to the
    row count, which is only correct when /Index covers [0, Size)."""
    xref_off = len(out)
    data = _xref_stream_rows(rows)
    parms = b""
    if predictor:
        data = _png_up_predict(data, 7)
        parms = b"/DecodeParms<</Predictor 12/Columns 7>>"
    enc = zlib.compress(data)
    out += (
        str(xref_id).encode()
        + b" 0 obj\n<</Type/XRef/Size "
        + str(size if size is not None else len(rows)).encode()
        + b"/W[1 4 2]/Root "
        + str(root_id).encode()
        + b" 0 R"
        + extra
        + b"/Filter/FlateDecode"
        + parms
        + b"/Length "
        + str(len(enc)).encode()
        + b">>\nstream\n"
        + enc
        + b"\nendstream\nendobj\n\nstartxref\n"
        + str(xref_off).encode()
        + b"\n%%EOF"
    )


def _xref_stream_doc(lines: list[str], predictor: bool = False) -> bytes:
    """PDF 1.5 layout: body objects are classic, but the cross-reference is
    a ``/Type/XRef`` stream (engine extension; reference supports classic
    tables only, xref.c:144-228)."""
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(lines), filters="FlateDecode")
    root = b.page_tree(font, cont)
    out, offsets = b.body()
    xref_id = len(b.objects) + 1
    rows = (
        [(0, 0, 65535)]
        + [(1, offsets[i], 0) for i in range(1, xref_id)]
        + [(1, len(out), 0)]  # the xref stream indexes itself
    )
    _emit_xref_stream(out, xref_id, rows, root, predictor)
    return bytes(out)


def _objstm_doc(lines: list[str]) -> bytes:
    """PDF 1.5 compressed-object layout: catalog/pages/page/font live inside
    a ``/Type/ObjStm``; the xref stream (with a PNG Up predictor, for
    predictor-path coverage) maps them as type-2 entries."""
    content = _content_td_tj(lines)
    cont_enc = zlib.compress(content)
    # ids: 1 cat, 2 pages, 3 page, 4 font (inside ObjStm 5); 6 content; 7 xref
    bodies = [
        (1, b"<</Type/Catalog/Pages 2 0 R>>"),
        (2, b"<</Type/Pages/Kids[3 0 R]/Count 1>>"),
        (
            3,
            b"<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
            b"/Resources<</Font<</F1 4 0 R>>>>/Contents 6 0 R>>",
        ),
        (4, F_HELV),
    ]
    payload = bytearray()
    pair_parts = []
    for oid, body in bodies:
        pair_parts.append(f"{oid} {len(payload)}")
        payload += body + b"\n"
    header = (" ".join(pair_parts) + "\n").encode()
    stm_enc = zlib.compress(header + bytes(payload))
    out = bytearray(b"%PDF-1.7\n%\xb5\xb6\n\n")
    offsets: dict[int, int] = {}

    def emit(oid: int, body: bytes) -> None:
        offsets[oid] = len(out)
        out.extend(str(oid).encode() + b" 0 obj\n" + body + b"\nendobj\n\n")

    emit(
        5,
        b"<</Type/ObjStm/N 4/First " + str(len(header)).encode()
        + b"/Filter/FlateDecode/Length " + str(len(stm_enc)).encode()
        + b">>\nstream\n" + stm_enc + b"\nendstream",
    )
    emit(
        6,
        b"<</Length " + str(len(cont_enc)).encode()
        + b"/Filter/FlateDecode>>\nstream\n" + cont_enc + b"\nendstream",
    )
    rows = [
        (0, 0, 65535),
        (2, 5, 0),
        (2, 5, 1),
        (2, 5, 2),
        (2, 5, 3),
        (1, offsets[5], 0),
        (1, offsets[6], 0),
        (1, len(out), 0),
    ]
    _emit_xref_stream(out, 7, rows, 1, predictor=True, extra=b"/Index[0 8]")
    return bytes(out)


# -- the variant matrix -------------------------------------------------------

_GOOD_VARIANTS = [
    ("td_tj_plain", lambda L: _simple_doc(L, _content_td_tj)),
    ("td_tj_flate", lambda L: _simple_doc(L, _content_td_tj, filters="FlateDecode")),
    ("td_tj_ahx", lambda L: _simple_doc(L, _content_td_tj, filters="ASCIIHexDecode")),
    ("td_tj_ahx_flate", lambda L: _simple_doc(L, _content_td_tj, filters="ASCIIHexDecode FlateDecode")),
    ("tj_arrays_kern", lambda L: _simple_doc(L, _content_tj_arrays, filters="FlateDecode")),
    ("hex_strings", lambda L: _simple_doc(L, _content_hex_strings, filters="FlateDecode")),
    ("tstar_leading", lambda L: _simple_doc(L, _content_tstar, filters="FlateDecode")),
    ("quote_ops", lambda L: _simple_doc(L, _content_quote_ops, filters="FlateDecode")),
    ("reversed_blocks", lambda L: _simple_doc(L, _content_reversed_blocks, filters="FlateDecode")),
    ("indirect_length", lambda L: _simple_doc(L, _content_td_tj, filters="FlateDecode", indirect_length=True)),
    ("truetype_widths", None),  # special-cased below (expected text differs)
    ("type0_tounicode", lambda L: _type0_doc(L)),
    ("multipage_inherit", lambda L: _multipage_doc(L)),
    ("multistream", lambda L: _multistream_doc(L)),
    ("form_xobject", lambda L: _form_xobject_doc(L)),
    ("incremental_update", lambda L: _incremental_doc(L)),
    ("td_tj_lzw", lambda L: _simple_doc(L, _content_td_tj, filters="LZWDecode")),
    ("td_tj_a85", lambda L: _simple_doc(L, _content_td_tj, filters="ASCII85Decode")),
    ("td_tj_rle", lambda L: _simple_doc(L, _content_td_tj, filters="RunLengthDecode FlateDecode")),
    ("xref_stream", lambda L: _xref_stream_doc(L)),
    ("objstm", lambda L: _objstm_doc(L)),
    ("inline_image", lambda L: _simple_doc(L, _content_inline_image, filters="FlateDecode")),
    ("extgstate_font", lambda L: _extgstate_doc(L)),
    ("type0_predefined_cmap", lambda L: _type0_predefined_doc(L)),
    ("truetype_symbolic", lambda L: _truetype_symbolic_doc(L)),
    ("cidfont2_sfnt", lambda L: _cidfont2_sfnt_doc(L)),
    ("macroman_high", lambda L: _macroman_doc(L)),
    ("incremental_xref_stream", lambda L: _incremental_xref_stream_doc(L)),
    ("type0_legacy_cmap", lambda L: _type0_legacy_cmap_doc(L)),
    ("differences_nonlatin", lambda L: _differences_nonlatin_doc(L)),
    ("macexpert", lambda L: _macexpert_doc(L)),
    ("recovered_xref", lambda L: _shift_xref_offsets(_simple_doc(L, _content_td_tj, filters="FlateDecode"))),
    ("recovered_startxref", lambda L: _simple_doc(L, _content_td_tj, filters="FlateDecode")[:-24]),
    ("encrypted_rc4", lambda L: _encrypted_doc(L, "rc4_128")),
    ("encrypted_aes", lambda L: _encrypted_doc(L, "aes128")),
    ("encrypted_aes256", lambda L: _encrypted_doc(L, "aes256")),
    ("actualtext", lambda L: _actualtext_doc(L)),
    # HTML tier (north rule: boilerplate strip / DOM heuristics). Same
    # (lines) -> bytes contract; expected text via htmlgen per-variant.
    ("html_article", lambda L: _htmlgen().html_article(L)),
    ("html_messy", lambda L: _htmlgen().html_messy(L)),
    ("html_table_list", lambda L: _htmlgen().html_table_list(L)),
    ("html_win1251", lambda L: _htmlgen().html_win1251(L)),
    ("html_structured", lambda L: _htmlgen().html_structured(L)),
    # double-encoded UTF-8 (mojibake): the decode path must detect and
    # repair UTF-8-read-as-latin-1 before segmentation.
    ("html_mojibake", lambda L: _htmlgen().html_mojibake(L)),
    # gzip transport encoding (Content-Encoding: gzip stored raw — common
    # in crawl archives): same documents, wrapped; dispatch must unwrap.
    ("html_gzip", lambda L: _gzip(_htmlgen().html_article(L))),
    ("pdf_gzip", lambda L: _gzip(_simple_doc(L, _content_td_tj, filters="FlateDecode"))),
    # document-info metadata + link annotations (PDF 32000-1 §14.3.3,
    # §12.5.6.5): neither may perturb the extracted text.
    ("info_annots", lambda L: _info_annots_doc(L)),
    # interactive form field values (§12.7): text that lives OUTSIDE
    # content streams; page text must be unaffected by the field tree.
    ("acroform", lambda L: _acroform_doc(L)),
    # two-column layout: reading order is column-major (layout tier) —
    # the (y, x) sort alone would interleave the columns line by line.
    ("twocolumn", lambda L: _twocolumn_doc(L)),
    # page /Rotate (scanned-landscape class): text laid out pre-rotated in
    # page space so it reads correctly only after the display rotation the
    # extractor must apply (core/extract._apply_page_rotation).
    ("rotate90", lambda L: _rotated_doc(L, 90)),
    ("rotate270", lambda L: _rotated_doc(L, 270)),
    # optional-content layers (§8.11): watermark layer OFF by default —
    # its text (BDC /OC scope + /OC form XObject) must be dropped, the ON
    # layer and an /AnyOff OCMD scope kept.
    ("ocg_layers", lambda L: _ocg_layers_doc(L)),
    # built-in encodings of the symbolic base-14 fonts (Annex D.5/D.6):
    # no /Encoding entry — decode must come from the Symbol/ZapfDingbats
    # tables, with the subset tag stripped first.
    ("symbol_zapf", lambda L: _symbol_doc(L)),
    # vertical writing mode (§9.7.5.1 WMode 1): Identity-V + DW2 downward
    # advance; reading order is column-major right-to-left.
    ("type0_vertical", lambda L: _type0_vertical_doc(L)),
    # sfnt cmap format 12 (supplementary plane): symbolic decode must
    # surface astral chars via the (3,10) subtable's inverse.
    ("truetype_nonbmp", lambda L: _truetype_nonbmp_doc(L)),
    # embedded CFF (FontFile3/Type1C): symbolic decode via the CFF's own
    # Encoding + charset glyph names (incl. one String-INDEX custom name).
    ("type1c_symbolic", lambda L: _type1c_symbolic_doc(L)),
    # tagged PDF (§14.8): structure-tree reading order differs from the
    # geometric order; MarkInfo/Marked + MCID coverage must win.
    ("tagged_pdf", lambda L: _tagged_pdf_doc(L)),
    # Type1 FontFile built-in /Encoding (PFB cleartext header): the last
    # of the three FontFile forms read for decode.
    ("type1_builtin", lambda L: _type1_builtin_doc(L)),
    # raw-CID Identity-H with a declared ROS and no ToUnicode: decode via
    # the character collections' ASCII block (CIDs 1..95).
    ("type0_cid_ascii", lambda L: _type0_cid_ascii_doc(L)),
    # post v2.0 glyph names (no Unicode cmap anywhere): decode via
    # gid -> post name -> AGL, standard Mac indices + one pool name.
    ("truetype_post", lambda L: _truetype_post_doc(L)),
]


def _info_annots_doc(lines: list[str]) -> bytes:
    """td_tj document carrying a trailer ``/Info`` (UTF-16BE title with
    non-Latin chars, PDFDocEncoding author, both date forms) and two URI
    Link annotations plus one non-link annotation. The text roundtrip must
    be unaffected; core/meta.py reads the side channel."""
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(lines), filters="FlateDecode")
    a1 = b.add(
        b"<</Type/Annot/Subtype/Link/Rect[72 700 200 712]"
        b"/A<</S/URI/URI(https://example.com/next)>>>>"
    )
    a2 = b.add(
        b"<</Type/Annot/Subtype/Link/Rect[72 680 200 692]"
        b"/A<</S/URI/URI(https://example.com/refs)>>>>"
    )
    a3 = b.add(b"<</Type/Annot/Subtype/Text/Rect[0 0 10 10]>>")
    title = b"\xfe\xff" + "Título — 例".encode("utf-16-be")
    info = b.add(
        b"<</Title(" + _escb(title) + b")"
        b"/Author(J. Author \x93\x94)"  # PDFDoc fi/fl ligature bytes
        b"/CreationDate(D:20240115103000Z)/ModDate(D:20240116)>>"
    )
    root = b.page_tree(font, cont, annots=[a1, a2, a3])
    return b.build(root, trailer_extra=b"/Info " + str(info).encode() + b" 0 R")


def _acroform_doc(lines: list[str]) -> bytes:
    """td_tj document carrying an /AcroForm field tree (§12.7): a text
    field with a widget kid (no /T — must not double-emit), a UTF-16BE
    text field, a checkbox with a name value, and a parent field whose
    two /T kids produce qualified names (one inheriting the parent /V).
    The page-text roundtrip must be unaffected; core/meta.py reads the
    field tree."""
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(lines), filters="FlateDecode")
    f1 = b.reserve()
    w1 = b.add(
        b"<</Subtype/Widget/Rect[0 0 1 1]/Parent " + str(f1).encode() + b" 0 R>>"
    )
    b.set(f1, b"<</FT/Tx/T(name)/V(Ada Lovelace)/Kids["
             + str(w1).encode() + b" 0 R]>>")
    utf16 = b"\xfe\xff" + "Stra\u00dfe \u2014 \u4f8b".encode("utf-16-be")
    f2 = b.add(b"<</FT/Tx/T(title)/V(" + _escb(utf16) + b")>>")
    f3 = b.add(b"<</FT/Btn/T(subscribed)/V/Yes>>")
    parent = b.reserve()
    k1 = b.add(b"<</T(street)/Parent " + str(parent).encode()
               + b" 0 R/V(Main St 7)>>")
    k2 = b.add(b"<</T(city)/Parent " + str(parent).encode() + b" 0 R>>")
    b.set(parent, b"<</FT/Tx/T(address)/V(Berlin)/Kids["
                  + str(k1).encode() + b" 0 R " + str(k2).encode() + b" 0 R]>>")
    acro = b.add(b"<</Fields[" + b" ".join(
        str(f).encode() + b" 0 R" for f in (f1, f2, f3, parent)) + b"]>>")
    return b.build(b.page_tree(font, cont, catalog=b"/AcroForm %d 0 R" % acro))


# two-column layout geometry: narrow re-wrapped lines so the estimated
# span extents (core.extract._COL_CHAR_W) leave a real gutter
_TWOCOL_WRAP = 36
_TWOCOL_LEFT_X = 40.0
_TWOCOL_RIGHT_X = 330.0


def _twocol_layout(lines: list[str]) -> tuple[list[str], list[str]] | None:
    """Shared by the builder and _expected_text: re-wrap the payload at
    the column width and split half/half; None (single-column fallback)
    when the payload is too short for an unambiguous two-column page."""
    col_lines = wrap_lines(" ".join(lines), wrap=_TWOCOL_WRAP, max_lines=24)
    if len(col_lines) < 12:
        return None
    half = (len(col_lines) + 1) // 2
    return col_lines[:half], col_lines[half:]


def _rotated_doc(lines: list[str], rot: int) -> bytes:
    """Page with ``/Rotate {rot}`` whose text is laid out PRE-rotated in
    page space (Tm carries the +/-90-degree rotation), so the plain
    unrotated (y desc, x asc) sort would read it sideways; only an
    extractor that maps spans through the display rotation recovers the
    natural line order. MediaBox [0 0 612 792]; reader-space lines start
    at (72, 560) stepping LINE_HEIGHT down (560 keeps every line inside
    the rotated 792x612 reader page)."""
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    for i, line in enumerate(lines):
        rx, ry = 72.0, 560.0 - i * LINE_HEIGHT
        if rot == 90:
            # display rotates 90 cw; reader (rx, ry) <- page (y, W - x)
            x, y = 612.0 - ry, rx
            tm = b"0 1 -1 0 "
        else:  # 270: reader (rx, ry) <- page (H - y, x)
            x, y = ry, 792.0 - rx
            tm = b"0 -1 1 0 "
        ops.append(tm + _n(x) + b" " + _n(y) + b" Tm")
        ops.append(b"(" + esc(line) + b") Tj")
    ops.append(b"ET")
    content = b"\n".join(ops)
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(content, filters="FlateDecode")
    return b.build(b.page_tree(font, cont, rotate=rot))


def _twocolumn_doc(lines: list[str]) -> bytes:
    layout = _twocol_layout(lines)
    if layout is None:
        return _simple_doc(lines, _content_td_tj, filters="FlateDecode")
    ops = [b"BT", b"/F1 " + _n(FONT_SIZE) + b" Tf"]
    for x, col in zip((_TWOCOL_LEFT_X, _TWOCOL_RIGHT_X), layout):
        for i, line in enumerate(col):
            y = TOP_Y - i * LINE_HEIGHT
            ops.append(b"1 0 0 1 " + _n(x) + b" " + _n(y) + b" Tm")
            ops.append(b"(" + esc(line) + b") Tj")
    ops.append(b"ET")
    content = b"\n".join(ops)
    return _simple_doc(lines, lambda _L: content, filters="FlateDecode")


def _escb(raw: bytes) -> bytes:
    """PDF literal-string escaping for arbitrary byte payloads."""
    return (
        raw.replace(b"\\", b"\\\\")
        .replace(b"(", b"\\(")
        .replace(b")", b"\\)")
        .replace(b"\r", b"\\r")
    )


def _gzip(data: bytes) -> bytes:
    import gzip as _gz

    return _gz.compress(data, compresslevel=6, mtime=0)  # mtime=0: deterministic


def _htmlgen():
    from pdf_spark.gen import htmlgen

    return htmlgen


def _shift_xref_offsets(pdf: bytes) -> bytes:
    """Valid body, broken offsets: every in-use xref entry points 3 bytes
    past the real object header (what a naive editor/concatenator produces).
    The chain walk succeeds; resolution must scavenge-recover."""
    i = pdf.index(b"xref\n")
    j = pdf.index(b"trailer", i)
    table = pdf[i:j]
    fixed = re.sub(
        rb"(?m)^(\d{10}) (\d{5}) n",
        lambda m: b"%010d %s n" % (int(m.group(1)) + 3, m.group(2)),
        table,
    )
    return pdf[:i] + fixed + pdf[j:]

# corrupt variants: (name, payload builder, expected error_code)
def _dct_doc(lines: list[str]) -> bytes:
    """Well-formed doc whose content stream declares /DCTDecode — decode must
    fail with UNSUPPORTED_FILTER (the reference panics on any filter beyond
    ASCIIHex/Flate, filters.c:54; we additionally implement LZW, so the
    unsupported representative is DCT)."""
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    content = _content_td_tj(lines)
    cont = b.add(
        b"<</Length " + str(len(content)).encode()
        + b"/Filter/DCTDecode>>\nstream\n" + content + b"\nendstream"
    )
    return b.build(b.page_tree(font, cont))


_ENC_SETUP_CACHE: dict[str, tuple] = {}


def _enc_setup(mode: str) -> tuple:
    """(id0, enc_dict_bytes, Decryptor) for one encryption mode, memoized:
    the setup is CONSTANT per mode (see /ID note below), and O/U/KDF
    derivation is the expensive part of generating an encrypted doc."""
    cached = _ENC_SETUP_CACHE.get(mode)
    if cached is not None:
        return cached
    import hashlib

    from pdf_spark.core import crypto

    # CONSTANT /ID per mode: key derivation (50 MD5 + 20 RC4 for R3/4, the
    # Algorithm-2.B KDF for R6) is per unique encryption SETUP, and both
    # engine and generator memoize it — one setup per variant keeps corpus
    # generation and the bench measuring extraction, not key derivation
    # (the per-object decrypt still runs per document; fresh-setup
    # derivation is covered per mode by the crypto unit tests)
    id0 = hashlib.md5(b"pdf-spark-enc-" + mode.encode()).digest()
    p_flags = -44
    if mode == "aes256":
        file_key = hashlib.md5(id0).digest() + hashlib.md5(id0 + b"2").digest()
        # deterministic salts: the corpus must be a pure function of (text,
        # variant). Real writers randomize these; verification math is
        # identical either way.
        vs, ks = id0[:8], id0[8:16]
        u = crypto.hash_2b(b"", vs) + vs + ks
        ue = crypto.aes_cbc_encrypt(
            crypto.hash_2b(b"", ks), b"\x00" * 16, file_key, pad=False
        )
        ovs, oks = id0[4:12], id0[2:10]
        o = crypto.hash_2b(b"owner", ovs, u) + ovs + oks
        oe = crypto.aes_cbc_encrypt(
            crypto.hash_2b(b"owner", oks, u), b"\x00" * 16, file_key, pad=False
        )
        dec = crypto.Decryptor(file_key, aes=True, v5=True)
        enc_dict = (
            b"<</Filter/Standard/V 5/R 6/Length 256"
            b"/CF<</StdCF<</CFM/AESV3/Length 32>>>>/StmF/StdCF/StrF/StdCF"
            b"/O <" + o.hex().encode() + b">/U <" + u.hex().encode() + b">"
            b"/OE <" + oe.hex().encode() + b">/UE <" + ue.hex().encode() + b">"
            b"/P " + str(p_flags).encode() + b">>"
        )
    else:
        user_pw = b"secret" if mode == "badpw" else b""
        if mode == "rc4_40":
            v, r, klen, aes = 1, 2, 5, False
        elif mode == "rc4_128":
            v, r, klen, aes = 2, 3, 16, False
        else:  # aes128 / badpw
            v, r, klen, aes = 4, 4, 16, True
        o = crypto.compute_o_value(b"owner", user_pw, klen, r)
        file_key = crypto.compute_file_key_rc4(user_pw, o, p_flags, id0, klen, r)
        u = crypto.compute_u_value(file_key, id0, r)
        dec = crypto.Decryptor(file_key, aes=aes, v5=False)
        cf = (
            b"/CF<</StdCF<</CFM/AESV2/Length 16>>>>/StmF/StdCF/StrF/StdCF"
            if v == 4
            else b""
        )
        enc_dict = (
            b"<</Filter/Standard/V " + str(v).encode()
            + b"/R " + str(r).encode()
            + b"/Length " + str(klen * 8).encode() + cf
            + b"/O <" + o.hex().encode() + b">/U <" + u.hex().encode() + b">"
            + b"/P " + str(p_flags).encode() + b">>"
        )
    _ENC_SETUP_CACHE[mode] = (id0, enc_dict, dec)
    return _ENC_SETUP_CACHE[mode]


def _encrypted_doc(lines: list[str], mode: str) -> bytes:
    """Standard-security-handler document (PDF 32000-1 §7.6): the content
    stream is Flate-compressed then encrypted with the per-object key
    (encryption is the OUTERMOST layer). Modes: ``rc4_40`` (V1/R2),
    ``rc4_128`` (V2/R3), ``aes128`` (V4/R4/AESV2), ``aes256`` (V5/R6/AESV3),
    ``badpw`` (AES-128 whose user password is NOT empty -> the engine must
    produce an ENCRYPTED error row)."""
    import hashlib

    id0, enc_dict, dec = _enc_setup(mode)
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    content = _content_td_tj(lines)
    cont_id = len(b.objects) + 1
    iv = hashlib.md5(content).digest()
    enc_content = dec.encrypt(zlib.compress(content), cont_id, 0, iv)
    cont = b.add(
        b"<</Length " + str(len(enc_content)).encode()
        + b"/Filter/FlateDecode>>\nstream\n" + enc_content + b"\nendstream"
    )
    assert cont == cont_id
    enc_id = b.add(enc_dict)
    trailer_extra = (
        b"/Encrypt " + str(enc_id).encode() + b" 0 R"
        b"/ID[<" + id0.hex().encode() + b"> <" + id0.hex().encode() + b">]"
    )
    return b.build(b.page_tree(font, cont), trailer_extra=trailer_extra)


def _truncate_body(pdf: bytes) -> bytes:
    """Chop the file INSIDE the last content stream's data: startxref is
    gone AND the body is unrecoverable, so xref scavenge validation fails
    and the original INVALID_STARTXREF taxonomy is preserved."""
    return pdf[: pdf.rindex(b"endstream") - 8]


_BAD_VARIANTS = [
    ("bad_header", lambda L: b"%QQF-9.9 this is not a pdf at all" + b"x" * 64, "INVALID_VERSION"),
    ("truncated_tail", lambda L: _truncate_body(_simple_doc(L, _content_td_tj, filters="FlateDecode")), "INVALID_STARTXREF"),
    ("corrupt_xref", lambda L: _corrupt_xref(_simple_doc(L, _content_td_tj)), "INVALID_XREF"),
    ("dct_filter", _dct_doc, "UNSUPPORTED_FILTER"),
    ("unbalanced_string", lambda L: _unbalanced(_simple_doc(L, _content_td_tj)), "UNBALANCED_STR"),
    ("encrypted_badpw", lambda L: _encrypted_doc(L, "badpw"), "ENCRYPTED"),
]

N_VARIANTS = len(_GOOD_VARIANTS)
N_BAD_VARIANTS = len(_BAD_VARIANTS)


def _corrupt_xref(pdf: bytes) -> bytes:
    i = pdf.index(b"xref\n")
    # smash one entry's digits -> the table parse fails
    j = pdf.index(b"0000000000 65536 f", i)
    pdf = pdf[:j] + b"00000zz000 65536 f" + pdf[j + 18 :]
    # ALSO break the catalog (same byte length) so scavenge recovery cannot
    # validate a root: this variant must stay an INVALID_XREF error row
    return pdf.replace(b"/Type/Catalog/", b"/Type/Catalpg/", 1)


def _unbalanced(pdf: bytes) -> bytes:
    # content is uncompressed in the plain variant: break the first
    # UNESCAPED `) Tj` — an escaped `\) Tj` inside a string literal would
    # leave the document balanced and the "corrupt" row parseable
    import re as _re

    return _re.sub(rb"(?<!\\)\) Tj", b"  Tj", pdf, count=1)


def _expected_text(lines: list[str], variant_name: str) -> str:
    if variant_name == "truetype_widths":
        # Differences remap: A -> Adieresis, a -> aacute
        lines = [l.replace("A", "Ä").replace("a", "á") for l in lines]
    elif variant_name == "macroman_high":
        lines = [
            "".join(
                _MACROMAN_SUBST[c][1] if c in _MACROMAN_SUBST else c for c in l
            )
            for l in lines
        ]
    elif variant_name == "type0_legacy_cmap":
        lines = ["".join(_jp_char(c) for c in l) for l in lines]
    elif variant_name == "type0_cid_ascii":
        lines = [
            "".join(c if " " <= c <= "~" else "?" for c in l) for l in lines
        ]
    elif variant_name == "differences_nonlatin":
        lines = ["".join(_nonlatin_map(c)[1] for c in l) for l in lines]
    elif variant_name == "macexpert":
        lines = ["".join(_macexpert_expected(c) for c in l) for l in lines]
    elif variant_name == "truetype_nonbmp":
        lines = ["".join(_nonbmp_expected(c) for c in l) for l in lines]
    elif variant_name == "symbol_zapf":
        lines = ["".join(_symbol_expected(c) for c in l) for l in lines] + [
            _ZAPF_LINE_EXPECT
        ]
    elif variant_name == "twocolumn":
        layout = _twocol_layout(lines)
        if layout is not None:
            return "\n".join(layout[0] + layout[1])
    elif variant_name.startswith("html_"):
        return _htmlgen().expected_for_variant(variant_name, lines)
    return "\n".join(lines)


def generate_doc(text: str, variant: int) -> tuple[bytes, str, str, str]:
    """Deterministically build one document.

    Returns ``(pdf_bytes, expected_text, variant_name, expected_error)``;
    ``expected_error`` is '' for good docs. ``variant`` indexes the combined
    good+bad matrix: values >= N_VARIANTS are corrupt docs (FIXTURES.md §4).
    """
    lines = wrap_lines(text)
    if variant < N_VARIANTS:
        name, fn = _GOOD_VARIANTS[variant]
        if name in ("multipage_inherit", "multistream") and len(lines) < 2:
            lines = lines + ["..."]
        if name == "truetype_widths":
            b = PdfBuilder.one_page()
            font = _truetype_font(b)
            cont = b.stream(_content_td_tj(lines), filters="FlateDecode")
            pdf = b.build(b.page_tree(font, cont))
        else:
            pdf = fn(lines)
        return pdf, _expected_text(lines, name), name, ""
    bad = _BAD_VARIANTS[(variant - N_VARIANTS) % N_BAD_VARIANTS]
    name, fn, err = bad
    return fn(lines), "", name, err
