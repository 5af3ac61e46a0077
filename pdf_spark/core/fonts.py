"""Font model: dict deserde, code iteration, glyph->text decode, widths.

Reimplements the reference's font layer for *extraction* (glyph shapes are
out of scope, SURVEY.md §7.4):

- subtype dispatch (/root/reference/libs/pdf/src/fonts/font.c:193-259):
  Type0 / TrueType / CIDFontType0 / CIDFontType2. EXTENSION: ``Type1`` and
  ``Type3`` are handled as simple 1-byte-code fonts — the reference panics
  on them (font.c:228-236), but its own ``test.pdf`` fixture uses
  Times-Roman/Type1 and an extraction engine must decode it.
- code iteration (render/font.c:29-87): Type0 reads 2-byte big-endian codes
  (a trailing odd byte is DROPPED — ``*offset + 1 >= len`` check at
  font.c:46); simple fonts read 1 byte.
- text decode priority (render/font.c:89-248): ToUnicode CMap first, then
  Encoding (+Differences) -> glyph name -> AGL, then fallback. Fallbacks are
  deterministic: simple fonts fall back through StandardEncoding to
  latin-1(chr); Type0 falls back to chr(cid).
- widths: CID fonts use the two ``W`` array forms + ``DW`` default 1000
  (font_widths.c:15-164, render/font.c:465-493); simple fonts use
  ``Widths[code-FirstChar]`` with ``MissingWidth`` fallback
  (render/font.c:494-517). DIVERGENCE: fonts with no width info (base-14
  metrics are not shipped) use a flat 500/1000em — positions only feed the
  deterministic span sort, and the synthetic generator uses the same rule.
- CIDToGIDMap: Identity or a stream of big-endian u16 (cid_to_gid_map.c:10-64).
"""

from __future__ import annotations

import struct
from hashlib import md5 as _md5
from typing import Optional

from pdf_spark.core.cmap import CMap, get_predefined_cmap, parse_cmap
from pdf_spark.core.encodings import (
    BASE_ENCODINGS,
    BUILTIN_FONT_ENCODINGS,
    STANDARD_ENCODING,
    glyph_name_to_unicode,
)
from pdf_spark.core.errors import INCORRECT_TYPE, UNSUPPORTED_FONT, PdfError
from pdf_spark.core.cff import parse_cff_names
from pdf_spark.core.objects import Name, Stream
from pdf_spark.core.sfnt import parse_sfnt_cmaps
from pdf_spark.core.type1 import parse_type1_encoding

DEFAULT_WIDTH = 500.0  # flat fallback (divergence, see module docstring)

# Executor-level asset caches: real corpora repeat the same embedded
# ToUnicode CMaps and font programs across millions of documents, and both
# parses are pure functions of the decoded bytes (the reference keeps the
# same memo for named CMaps, cmap.c:658-689). Keyed by the md5 DIGEST of
# the bytes — not the bytes themselves — so the entry-count bound actually
# bounds memory (256 distinct 10 MB font programs must not pin 2.5 GB of
# key material per executor).
_ASSET_CACHE_MAX = 256


def _digest(data: bytes) -> bytes:
    return _md5(data).digest()


def _memo(parse):
    """``parse`` memoised on the digest of its bytes argument, in its own
    executor-lifetime dict of at most ``_ASSET_CACHE_MAX`` entries."""
    cache: dict[bytes, object] = {}

    def cached(data: bytes):
        key = _digest(data)
        if key in cache:
            return cache[key]
        out = parse(data)
        if len(cache) < _ASSET_CACHE_MAX:
            cache[key] = out
        return out

    return cached


_parse_cmap_cached = _memo(parse_cmap)
_parse_sfnt_cached = _memo(parse_sfnt_cmaps)
_parse_cff_cached = _memo(parse_cff_names)
_parse_type1_cached = _memo(parse_type1_encoding)


SIMPLE_SUBTYPES = ("Type1", "TrueType", "MMType1", "Type3")

# character collections whose CIDs 1..95 are the printable ASCII set in
# order (Adobe-Japan1 / Adobe-GB1 / Adobe-CNS1 / Adobe-Korea1 / Adobe-KR
# collection specs; core/cmap.py's Uni*-UCS2 CMaps embed the same run)
_ASCII_CID_ORDERINGS = frozenset({"Japan1", "GB1", "CNS1", "Korea1", "KR"})


# A Font's lazily-filled tables need a bound: one long CJK document can
# touch most of a Type0 font's 65,536-code space (~tens of MB per font,
# and a document may carry many such fonts). Past the cap, lookups still
# return correct values — they are just recomputed instead of memoized
# (real text uses far fewer distinct codes).
_LAZY_TABLE_MAX = 8192


class _LazyTransMap(dict):
    """code -> decoded text, filled on demand (used by ``str.translate``)."""

    __slots__ = ("font",)

    def __init__(self, font: "Font") -> None:
        super().__init__()
        self.font = font

    def __missing__(self, code: int) -> str:
        v = self.font.code_to_text(code)
        if len(self) < _LAZY_TABLE_MAX:
            self[code] = v
        return v


class _LazyWidthMap(dict):
    """code -> glyph width, filled on demand (summed for the advance)."""

    __slots__ = ("font",)

    def __init__(self, font: "Font") -> None:
        super().__init__()
        self.font = font

    def __missing__(self, code: int) -> float:
        v = self.font.width(code)
        if len(self) < _LAZY_TABLE_MAX:
            self[code] = v
        return v


class Font:
    """One resolved font resource; built once per (doc, resource name) and
    cached by the interpreter (the reference re-deserializes per Tf — a TODO
    it acknowledges at render/font.c:369)."""

    __slots__ = (
        "subtype", "base_font", "is_type0",
        "encoding_cmap", "to_unicode",
        "code_to_name", "first_char", "widths", "missing_width",
        "cid_widths", "default_width", "cid_to_gid",
        "symbolic", "sfnt", "cff", "t1_encoding", "fast_tables",
        "vertical", "w1_default", "cid_vwidths", "uniform_width",
        "registry_ordering",
    )

    def __init__(self) -> None:
        self.subtype = ""
        self.base_font = ""
        self.is_type0 = False
        self.encoding_cmap: Optional[CMap] = None
        self.to_unicode: Optional[CMap] = None
        self.code_to_name: dict[int, str] = {}
        self.first_char = 0
        self.widths: Optional[list[float]] = None
        self.missing_width: Optional[float] = None
        self.cid_widths: dict[int, float] = {}
        self.default_width = 1000.0  # DW default (spec + font_widths.c)
        self.cid_to_gid: Optional[bytes] = None  # None = Identity
        self.symbolic = False  # FontDescriptor Flags bit 3 (value 4)
        self.sfnt = None  # parsed FontFile2 cmaps (core/sfnt.py), if any
        self.cff = None  # parsed FontFile3 charset/encoding (core/cff.py)
        # FontFile (Type1 program) built-in /Encoding: code -> glyph name
        self.t1_encoding: Optional[dict[int, str]] = None
        # (text_map, width_map) lazy decode tables built on first show —
        # decode/width are pure per font, so one dict lookup replaces the
        # per-glyph call chain on the hot path
        self.fast_tables = None
        # vertical writing mode (§9.7.5.1): set from the Encoding CMap's
        # /WMode (predefined *-V names or an embedded CMap's /WMode 1).
        # The default vertical displacement comes from DW2 (§9.7.4.3,
        # default [880 -1000]): w1 in glyph space, negative = downward.
        self.vertical = False
        self.w1_default = -1000.0
        # per-CID vertical displacements from the W2 array (§9.7.4.3);
        # empty = every glyph uses w1_default
        self.cid_vwidths: dict[int, float] = {}
        # every code's width is this single value (common: Type0 with DW
        # only, metric-less simple fonts) — lets the span emitter compute
        # the advance as ncodes * per_glyph instead of a per-code dict
        # pass, the hottest loop in the whole pipeline. None = widths vary.
        self.uniform_width: Optional[float] = None
        # descendant CIDSystemInfo /Ordering ("Japan1", "GB1", …): enables
        # the character-collection ASCII block fallback for raw-CID Type0
        # shows with no ToUnicode (see code_to_text)
        self.registry_ordering = ""

    def build_fast_tables(self):
        """code->text map + code->width map for the span emitter's C-level
        loops: simple fonts feed the text map to ``str.translate``; Type0
        fonts map the same tables over their code list with
        ``map(__getitem__, codes)``. LAZY: entries materialize on first use
        via ``__missing__`` — a typical font shows ~40 distinct codes, so
        eagerly decoding the full space per (doc, font) costs more than the
        loop it replaces on single-use fonts."""
        self.fast_tables = (_LazyTransMap(self), _LazyWidthMap(self))
        return self.fast_tables

    # -- code iteration (render/font.c:29-87) --

    def split_codes(self, data: bytes):
        """String bytes -> sequence of codes. Fixed 2-byte big-endian for
        the Identity/UCS2 families (trailing odd byte dropped, font.c:46;
        returned as the unpack tuple directly — no list copy on the hot
        path); codespace-driven mixed 1/2-byte for the legacy CJK CMaps
        (90ms-RKSJ-H's 1-byte ASCII/kana vs 2-byte kanji ranges —
        PDF 32000-1 §9.7.6.2 next-code selection by codespace)."""
        if not self.is_type0:
            return list(data)
        cm = self.encoding_cmap
        lens = cm.lead_lens if cm is not None else None
        n = len(data)
        if lens is None:
            nb = n & ~1
            return struct.unpack(f">{nb >> 1}H", data[:nb])
        out: list[int] = []
        off = 0
        while off < n:
            lead = data[off]
            if lens[lead] == 2 and off + 1 < n:
                out.append((lead << 8) | data[off + 1])
                off += 2
            else:
                out.append(lead)
                off += 1
        return out

    # -- decode (render/font.c:89-248 priority, extraction-shaped) --

    def code_to_cid(self, code: int) -> int:
        if self.is_type0 and self.encoding_cmap is not None:
            cid = self.encoding_cmap.get_cid(code)
            return cid if cid is not None else 0
        return code

    def code_to_text(self, code: int) -> str:
        if self.to_unicode is not None:
            u = self.to_unicode.get_unicode(code)
            if u is not None:
                return u
        if not self.is_type0:
            # symbolic fonts bypass the standard encodings and decode via
            # the embedded program (reference render/font.c:140-186 prefers
            # the font cmap for symbolic TrueType; extraction inverts it)
            if self.symbolic:
                if self.sfnt is not None:
                    u = self.sfnt.decode_code(code)
                    if u is not None:
                        return u
                if self.cff is not None:
                    # Type1C built-in encoding -> charset glyph name -> AGL
                    name = self.cff.code_to_name(code)
                    if name is not None:
                        u = glyph_name_to_unicode(name)
                        if u is not None:
                            return u
                if self.t1_encoding is not None:
                    # Type1 program built-in /Encoding -> glyph name -> AGL
                    name = self.t1_encoding.get(code)
                    if name is not None:
                        u = glyph_name_to_unicode(name)
                        if u is not None:
                            return u
            name = self.code_to_name.get(code)
            if name is not None:
                u = glyph_name_to_unicode(name)
                if u is not None:
                    return u
            # fallback chain: StandardEncoding -> embedded program (sfnt
            # cmap / CFF charset) -> latin-1 chr
            name = STANDARD_ENCODING.get(code)
            if name is not None:
                u = glyph_name_to_unicode(name)
                if u is not None:
                    return u
            if self.sfnt is not None:
                u = self.sfnt.decode_code(code)
                if u is not None:
                    return u
            if self.cff is not None:
                name = self.cff.code_to_name(code)
                if name is not None:
                    u = glyph_name_to_unicode(name)
                    if u is not None:
                        return u
            if self.t1_encoding is not None:
                u = glyph_name_to_unicode(self.t1_encoding.get(code, ""))
                if u is not None:
                    return u
            return chr(code)
        cid = self.code_to_cid(code)
        if self.encoding_cmap is not None and self.encoding_cmap.unicode_identity:
            # UCS-2/UTF-16 predefined CMaps: the code IS the code point
            return chr(code)
        if self.encoding_cmap is not None and self.encoding_cmap.charset:
            # legacy byte-oriented CJK CMap: the code bytes ARE a charset
            # sequence (Shift-JIS/EUC/GBK/Big5/UHC); the stdlib codec gives
            # code -> Unicode directly, no Adobe CID tables needed
            raw = (
                bytes([code])
                if code <= 0xFF
                else bytes([code >> 8, code & 0xFF])
            )
            return raw.decode(self.encoding_cmap.charset, errors="replace")
        if self.sfnt is not None:
            # CIDFontType2: CID -> GID via CIDToGIDMap (Identity when absent,
            # cid_to_gid_map.c:10-64) -> inverse sfnt Unicode cmap
            u = self.sfnt.decode_gid(self.cid_to_gid_lookup(cid))
            if u is not None:
                return u
        if 1 <= cid <= 95 and self.registry_ordering in _ASCII_CID_ORDERINGS:
            # character-collection ASCII block: the four classic Adobe
            # orderings (and Adobe-KR) all open with the 95 printable ASCII
            # characters at CIDs 1..95 (Adobe-Japan1/GB1/CNS1/Korea1/KR
            # collection specs — the same public fact the Uni*-UCS2 CMaps
            # in core/cmap.py embed as their CID run). Raw-CID Identity-H
            # shows with no ToUnicode and no embedded cmap thus recover
            # their Latin runs exactly; CIDs past the block still fall
            # through. The reference returns GIDs here (render-only).
            return chr(0x20 + cid - 1)
        return chr(cid)

    def cid_to_gid_lookup(self, cid: int) -> int:
        """CIDToGIDMap: Identity or big-endian u16 pairs
        (cid_to_gid_map.c:10-64)."""
        m = self.cid_to_gid
        if m is None:
            return cid
        off = 2 * cid
        if off + 1 >= len(m):
            return 0
        return (m[off] << 8) | m[off + 1]

    # -- widths (font_widths.c:15-164; render/font.c:465-517) --

    def vert_width(self, code: int) -> float:
        """Vertical displacement w1 for one code (SIGNED, negative =
        downward): W2 per-CID value, else the DW2 default (§9.7.4.3)."""
        if self.cid_vwidths:
            w = self.cid_vwidths.get(self.code_to_cid(code))
            if w is not None:
                return w
        return self.w1_default

    def width(self, code: int) -> float:
        if self.is_type0:
            cid = self.code_to_cid(code)
            w = self.cid_widths.get(cid)
            return w if w is not None else self.default_width
        if self.widths is not None:
            idx = code - self.first_char
            if 0 <= idx < len(self.widths):
                return self.widths[idx]
        if self.missing_width is not None:
            return self.missing_width
        return DEFAULT_WIDTH


def _uniform_width(f: Font) -> Optional[float]:
    """The single width every code resolves to, or None when widths vary.
    Conservative: any case where an out-of-range code could fall back to a
    DIFFERENT value than the in-range codes returns None."""
    if f.is_type0:
        return f.default_width if not f.cid_widths else None
    fallback = f.missing_width if f.missing_width is not None else DEFAULT_WIDTH
    if f.widths:
        ws = set(f.widths)
        if len(ws) != 1 or ws.pop() != fallback:
            return None
    return fallback


def _parse_cid_widths(array: list, resolver, stride: int = 1) -> dict[int, float]:
    """The ``W`` array (stride 1, font_widths.c:15-164) or the ``W2`` array
    (stride 3, §9.7.4.3) in its two forms: ``c [m1 m2 ...]`` with
    ``stride`` numbers per consecutive CID, and ``c_first c_last m ...``
    with ``stride`` numbers for the whole run. Only the first number of a
    group is kept: the width, or W2's vertical displacement w1 — its v
    position vector shifts the glyph origin, not the span's deterministic
    order."""
    name = "W" if stride == 1 else "W2"
    out: dict[int, float] = {}
    i = 0
    n = len(array)
    while i < n:
        first = resolver.resolve(array[i])
        if not isinstance(first, (int, float)):
            raise PdfError(INCORRECT_TYPE, f"{name} array: expected number")
        if i + 1 < n:
            nxt = resolver.resolve(array[i + 1])
            if isinstance(nxt, list):
                for k in range(0, len(nxt) - len(nxt) % stride, stride):
                    out[int(first) + k // stride] = float(resolver.resolve(nxt[k]))
                i += 2
                continue
            if i + 1 + stride < n:
                last = nxt
                w = float(resolver.resolve(array[i + 2]))
                # CID codes are at most 2-byte in the decode path, so a run
                # past 0xFFFF is garbage; an adversarial `0 2147483647 500`
                # would otherwise materialize a multi-GB dict and OOM the
                # executor instead of becoming an error row
                if int(last) - int(first) > 0x10000:
                    raise PdfError(
                        INCORRECT_TYPE, f"{name} array: range exceeds CID space"
                    )
                for c in range(int(first), int(last) + 1):
                    out[c] = w
                i += 2 + stride
                continue
        raise PdfError(INCORRECT_TYPE, f"{name} array: truncated run")
    return out


def _load_descriptor(f: Font, fd, resolver) -> None:
    """FontDescriptor: MissingWidth, the Symbolic flag (Flags bit 3), and
    the embedded TrueType program's cmap table (FontFile2) for the decode
    fallback (render/font.c:89-248, sfnt/src/cmap.c:30-91)."""
    if fd is None:
        return
    try:
        fdd = resolver.get_dict(fd, "font descriptor")
    except PdfError:
        return
    mw = resolver.resolve(fdd.get("MissingWidth"))
    if isinstance(mw, (int, float)):
        f.missing_width = float(mw)
    flags = resolver.resolve(fdd.get("Flags"))
    if isinstance(flags, int):
        f.symbolic = bool(flags & 4)
    try:
        ff2 = resolver.resolve(fdd.get("FontFile2"))
    except PdfError:
        return
    if isinstance(ff2, Stream):
        try:
            f.sfnt = _parse_sfnt_cached(ff2.decoded(resolver))
        except PdfError:
            f.sfnt = None
    try:
        ff1 = resolver.resolve(fdd.get("FontFile"))
    except PdfError:
        return
    if isinstance(ff1, Stream):
        try:
            f.t1_encoding = _parse_type1_cached(ff1.decoded(resolver))
        except PdfError:
            f.t1_encoding = None
    try:
        ff3 = resolver.resolve(fdd.get("FontFile3"))
    except PdfError:
        return
    if isinstance(ff3, Stream):
        sub = ff3.dict.get("Subtype")
        if sub in (Name("Type1C"), Name("CIDFontType0C")):
            # bare-CFF programs: charset+encoding at the top; CID-keyed
            # ones are rejected inside the parser (returns None) and fall
            # through to other decode sources
            try:
                f.cff = _parse_cff_cached(ff3.decoded(resolver))
            except PdfError:
                f.cff = None
        elif sub == Name("OpenType") and f.sfnt is None:
            # sfnt-wrapped program: its cmap table serves the same decode
            # fallback as a FontFile2
            try:
                f.sfnt = _parse_sfnt_cached(ff3.decoded(resolver))
            except PdfError:
                f.sfnt = None


# Executor-lifetime cache of the plain base-14 font: a FLAT font dict
# (every value a direct name, number or boolean) is its own key, so equal
# dicts across documents share one Font and its warm decode tables. Any
# other font loads once per document (the interpreter's per-document
# cache); its expensive parts (ToUnicode CMap, font program) are already
# memoised on their bytes' digest.
_FONT_CACHE: dict[tuple, Font] = {}

_FLAT_TYPES = frozenset((Name, int, float, bool))


def load_font(font_obj, resolver) -> Font:
    """Deserialize a font dict (font.c:193-259 dispatch).

    A flat dict is served from ``_FONT_CACHE``, keyed by its exact
    ``(key, type, value)`` entries so ``1`` and ``1.0`` never share; a
    dict with any indirect or compound value is loaded fresh, and only
    the objects the loader reads are resolved."""
    d = resolver.get_dict(font_obj, "font")
    if not all(type(v) in _FLAT_TYPES for v in d.values()):
        return _load_font_uncached(font_obj, resolver)
    key = tuple([(k, type(v), v) for k, v in d.items()])
    f = _FONT_CACHE.get(key)
    if f is None:
        f = _load_font_uncached(font_obj, resolver)
        if len(_FONT_CACHE) < _ASSET_CACHE_MAX:
            _FONT_CACHE[key] = f
    return f


def _load_font_uncached(font_obj, resolver) -> Font:
    d = resolver.get_dict(font_obj, "font")
    if d.get("Type") != Name("Font"):
        raise PdfError(INCORRECT_TYPE, f"font /Type is {d.get('Type')!r}")
    subtype = d.get("Subtype")
    f = Font()
    f.subtype = str(subtype) if subtype else ""
    f.base_font = str(resolver.resolve(d.get("BaseFont")) or "")

    tu = resolver.resolve(d.get("ToUnicode"))
    if isinstance(tu, Stream):
        f.to_unicode = _parse_cmap_cached(tu.decoded(resolver))

    if subtype == Name("Type0"):
        f.is_type0 = True
        enc = resolver.resolve(d.get("Encoding"))
        if isinstance(enc, Name):
            f.encoding_cmap = get_predefined_cmap(str(enc))
        elif isinstance(enc, Stream):
            f.encoding_cmap = _parse_cmap_cached(enc.decoded(resolver))
        else:
            raise PdfError(UNSUPPORTED_FONT, "Type0 font without Encoding")
        desc_fonts = resolver.resolve(d.get("DescendantFonts"))
        if not isinstance(desc_fonts, list) or len(desc_fonts) != 1:
            # exactly-one enforced by the reference (font.c:129-134)
            raise PdfError(
                INCORRECT_TYPE, "DescendantFonts must have exactly one element"
            )
        cid_font = resolver.get_dict(desc_fonts[0], "descendant font")
        cid_subtype = cid_font.get("Subtype")
        if cid_subtype not in (Name("CIDFontType0"), Name("CIDFontType2")):
            raise PdfError(UNSUPPORTED_FONT, f"CID font subtype {cid_subtype!r}")
        csi = resolver.resolve(cid_font.get("CIDSystemInfo"))
        if isinstance(csi, dict):
            ordering = resolver.resolve(csi.get("Ordering"))
            if isinstance(ordering, bytes):
                f.registry_ordering = ordering.decode("latin-1", "replace")
            elif isinstance(ordering, str):
                f.registry_ordering = ordering
        f.vertical = f.encoding_cmap is not None and f.encoding_cmap.wmode == 1
        dw = resolver.resolve(cid_font.get("DW"))
        if isinstance(dw, (int, float)):
            f.default_width = float(dw)
        dw2 = resolver.resolve(cid_font.get("DW2"))
        if isinstance(dw2, list) and len(dw2) == 2:
            w1 = resolver.resolve(dw2[1])
            if isinstance(w1, (int, float)):
                f.w1_default = float(w1)
        w2 = resolver.resolve(cid_font.get("W2"))
        if isinstance(w2, list):
            f.cid_vwidths = _parse_cid_widths(w2, resolver, 3)
        w = resolver.resolve(cid_font.get("W"))
        if isinstance(w, list):
            f.cid_widths = _parse_cid_widths(w, resolver)
        c2g = resolver.resolve(cid_font.get("CIDToGIDMap"))
        if isinstance(c2g, Stream):
            f.cid_to_gid = c2g.decoded(resolver)
        _load_descriptor(f, cid_font.get("FontDescriptor"), resolver)
        f.uniform_width = _uniform_width(f)
        return f

    if subtype in (Name(s) for s in SIMPLE_SUBTYPES):
        fc = resolver.resolve(d.get("FirstChar"))
        if isinstance(fc, int):
            f.first_char = fc
        widths = resolver.resolve(d.get("Widths"))
        if isinstance(widths, list):
            f.widths = [float(resolver.resolve(w)) for w in widths]
        _load_descriptor(f, d.get("FontDescriptor"), resolver)
        if subtype == Name("Type3"):
            # Type3 widths are in GLYPH SPACE mapped to text space by
            # /FontMatrix (PDF 32000-1 §9.6.5, §9.2.4) — not the fixed
            # 1/1000 of Type1/TrueType. Fold the matrix's x-scale into the
            # width table (and MissingWidth) so the span emitter's uniform
            # w/1000 math yields w*a in text space (the common
            # [0.001 0 0 0.001 0 0] matrix makes this a no-op).
            # EXTENSION: the reference panics on Type3 dictionaries
            # outright (font.c:234-236).
            fm = resolver.resolve(d.get("FontMatrix"))
            if isinstance(fm, list) and len(fm) == 6:
                try:
                    a = float(resolver.resolve(fm[0]))
                except (TypeError, ValueError):
                    a = 0.001
                scale = a * 1000.0
                if scale != 1.0:
                    if f.widths is not None:
                        f.widths = [w * scale for w in f.widths]
                    if f.missing_width is not None:
                        f.missing_width *= scale
        # built-in encoding of the symbolic base-14 fonts (Annex D.5/D.6):
        # with no /Encoding — or a /Differences-only dict — the font's own
        # table is the base (§9.6.6.2), NOT StandardEncoding. Subset tags
        # ("ABCDEF+Symbol") are stripped per §9.6.4.
        builtin = BUILTIN_FONT_ENCODINGS.get(f.base_font.rsplit("+", 1)[-1])
        if builtin is not None:
            f.code_to_name = builtin
        enc = resolver.resolve(d.get("Encoding"))
        if isinstance(enc, Name):
            f.code_to_name = BASE_ENCODINGS.get(str(enc), {})
        elif isinstance(enc, dict):
            base = resolver.resolve(enc.get("BaseEncoding"))
            table = dict(
                BASE_ENCODINGS.get(str(base), STANDARD_ENCODING)
                if base is not None
                else (builtin or STANDARD_ENCODING)
            )
            diffs = resolver.resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                # Differences: int resets code, names assign sequentially
                # (encoding.c:432-494)
                code = 0
                for item in diffs:
                    item = resolver.resolve(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, Name):
                        table[code] = str(item)
                        code += 1
            f.code_to_name = table
        f.uniform_width = _uniform_width(f)
        return f

    raise PdfError(UNSUPPORTED_FONT, f"font subtype {subtype!r}")
