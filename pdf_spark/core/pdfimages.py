"""Embedded-image PIXEL decode for PDF image XObjects (§8.9).

`core/meta.py::extract_image_inventory` reads image geometry from the
stream dict alone — the 10^12-doc routing pass. This module is the
decode tier it gates: for the documents the inventory selected, pull the
actual samples out of each image XObject and derive the multimodal
features (integer mean luma, 8x8 block-mean aHash, decoded-pixel md5)
the image-dedup / captioning tiers key on.

Spec coverage (PDF 32000-1 §8.9.5):

- **DCTDecode images**: the stream payload after any preceding filters
  IS a baseline JPEG — handed to ``core/imaging.py::decode_jpeg`` (the
  same decoder the standalone-blob tier uses, so a JPEG stored inside a
  PDF and the same JPEG crawled as a loose file produce identical
  features by construction).
- **Raw/Flate/LZW sample images**: samples unpacked per ``/ColorSpace``
  and ``/BitsPerComponent`` — DeviceGray/CalGray (1ch), DeviceRGB/
  CalRGB (3ch), DeviceCMYK (4ch, naive integer conversion to RGB),
  ICCBased (channel count from the profile stream's ``/N``), and
  ``/Indexed`` palettes (lookup table as stream or string, index clamp
  to hival per spec). Sub-byte ``/BitsPerComponent`` 1/2/4 unpack
  MSB-first with rows padded to byte boundaries (§8.9.3); 16-bit takes
  the high byte. ``/ImageMask`` is 1-bit gray with ``/Decode [1 0]``
  honored (the only Decode shape that changes a mask's meaning).
- **Bomb guard**: declared ``w*h*channels`` over ``MAX_PIXELS`` (the
  shared cap from ``core/imaging.py``) refuses to decode — geometry
  still reported, features NULL with an error code. Malformed anything
  is an error row, never fatal (corpus contract).

The reference engine decodes images only to rasterize them
(`/root/reference/libs/render`); it exposes no per-image feature
surface — this is the multimodal-mining op built on the same parsing
substrate. Cross-codec property: the SAME pixels stored as FlateDecode
in one document and as (integer-exact) baseline JPEG in another yield
the same ``pixel_md5`` — decoded-sample digests canonicalize away the
container codec, which byte-level hashing cannot.
"""

from __future__ import annotations

import hashlib
from typing import Any, Optional

from pdf_spark.core.imaging import (
    MAX_PIXELS,
    ahash_from_samples,
    decode_jpeg,
    features_from_samples,
)
from pdf_spark.core.meta import _pages, page_images
from pdf_spark.core.objects import Name, Stream

DECODE_CAP = 256  # decoded images per doc (decode is the expensive tier)
_DCT_NAMES = ("DCTDecode", "DCT")

#: colorspace family -> component count (None = needs deeper inspection)
_CS_CHANNELS = {
    "DeviceGray": 1,
    "CalGray": 1,
    "DeviceRGB": 3,
    "CalRGB": 3,
    "Lab": 3,
    "DeviceCMYK": 4,
}


def _cs_components(resolver, cs) -> tuple[int, Optional[tuple]]:
    """``(n_components, indexed)`` for a resolved ColorSpace value.

    ``indexed`` is ``(base_components, hival, palette_bytes)`` when the
    space is ``/Indexed``, else None. Raises ValueError on shapes we
    don't decode (Separation/DeviceN/Pattern — rare in image XObjects).
    """
    cs = resolver.resolve(cs)
    if isinstance(cs, Name):
        n = _CS_CHANNELS.get(str(cs))
        if n is None:
            raise ValueError(f"colorspace {cs}")
        return n, None
    if isinstance(cs, list) and cs:
        fam = resolver.resolve(cs[0])
        fam_s = str(fam) if isinstance(fam, Name) else ""
        if fam_s in ("Indexed", "I") and len(cs) >= 4:
            base_n, base_idx = _cs_components(resolver, cs[1])
            if base_idx is not None:
                raise ValueError("nested Indexed")
            hival = resolver.resolve(cs[2])
            hival = int(hival) if isinstance(hival, (int, float)) else 0
            lut = resolver.resolve(cs[3])
            if isinstance(lut, Stream):
                pal = lut.decoded(resolver)
            elif isinstance(lut, (bytes, bytearray)):
                pal = bytes(lut)
            else:
                raise ValueError("Indexed lookup type")
            return base_n, (base_n, max(0, min(hival, 255)), bytes(pal))
        if fam_s == "ICCBased" and len(cs) >= 2:
            prof = resolver.resolve(cs[1])
            n = None
            if isinstance(prof, Stream):
                n = resolver.resolve(prof.dict.get("N"))
            n = int(n) if isinstance(n, (int, float)) else 3
            if n not in (1, 3, 4):
                raise ValueError(f"ICC N={n}")
            return n, None
        if fam_s in _CS_CHANNELS:  # [/CalRGB <<...>>] array form
            return _CS_CHANNELS[fam_s], None
    raise ValueError("colorspace shape")


def _unpack_row(data: bytes, bit_off: int, count: int, bpc: int,
                scale: bool) -> list[int]:
    """``count`` samples of ``bpc`` bits starting at byte-aligned
    ``bit_off`` (callers pass row starts — §8.9.3 pads rows to bytes).
    MSB-first within each byte; ``scale`` maps the value range onto
    0..255 (identity for indexed/palette indices)."""
    out: list[int] = []
    if bpc == 8:
        out = list(data[bit_off // 8: bit_off // 8 + count])
    elif bpc == 16:
        base = bit_off // 8
        out = [data[base + 2 * i] for i in range(count)]
    else:  # 1 / 2 / 4
        maxv = (1 << bpc) - 1
        pos = bit_off
        for _ in range(count):
            byte = data[pos >> 3]
            shift = 8 - bpc - (pos & 7)
            v = (byte >> shift) & maxv
            out.append(v * 255 // maxv if scale else v)
            pos += bpc
        return out
    return out


def decode_image_xobject(resolver, xo: Stream) -> tuple[int, int, int, bytes]:
    """``(width, height, channels, samples)`` for one image XObject.

    Channels is 1 (gray) or 3 (RGB); CMYK is folded to RGB with the
    naive integer ``(255-c)*(255-k)//255`` form (feature-grade, not
    color-managed — ICC rendering intents are out of scope for a
    dedup/mining tier, as they are for the reference's own
    non-color-managed raster path). Raises ValueError on anything it
    refuses to decode; callers turn that into an error row.
    """
    d = xo.dict
    rz = resolver.resolve
    w = rz(d.get("Width"))
    h = rz(d.get("Height"))
    if not isinstance(w, (int, float)) or not isinstance(h, (int, float)):
        raise ValueError("missing dims")
    w, h = int(w), int(h)
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError("bad dims")

    filters = rz(d.get("Filter"))
    if not isinstance(filters, list):
        filters = [filters] if filters is not None else []
    fnames = [str(rz(f)) for f in filters]

    if fnames and fnames[-1] in _DCT_NAMES:
        # payload after the preceding (transport) filters is a JPEG;
        # run the prefix chain through the standard decoder then hand
        # the JPEG bytes to the shared imaging decoder.
        from pdf_spark.core.filters import decode_stream

        pre = dict(d)
        pre["Filter"] = filters[:-1]
        parms = rz(d.get("DecodeParms") or d.get("DP"))
        if isinstance(parms, list):
            pre["DecodeParms"] = parms[:-1]
            pre.pop("DP", None)
        jpeg = decode_stream(pre, xo.raw, resolver)
        jw, jh, jch, samples = decode_jpeg(bytes(jpeg))
        return jw, jh, jch, bytes(samples)

    data = xo.decoded(resolver)

    if rz(d.get("ImageMask")) is True:
        bpc, ncomp_in, indexed = 1, 1, None
        dec = rz(d.get("Decode"))
        inverted = isinstance(dec, list) and len(dec) == 2 and dec[0] == 1
    else:
        bpc = rz(d.get("BitsPerComponent"))
        bpc = int(bpc) if isinstance(bpc, (int, float)) else 8
        if bpc not in (1, 2, 4, 8, 16):
            raise ValueError(f"bpc {bpc}")
        ncomp_in, indexed = 1, None
        cs = d.get("ColorSpace")
        if cs is not None:
            n, indexed = _cs_components(resolver, cs)
            ncomp_in = 1 if indexed is not None else n
        inverted = False

    out_ch = 3 if (indexed and indexed[0] >= 3) or ncomp_in >= 3 else 1
    if w * h * out_ch > MAX_PIXELS:
        raise ValueError("too large")
    row_bits = w * ncomp_in * bpc
    row_bytes = (row_bits + 7) // 8
    if len(data) < row_bytes * h:
        raise ValueError("short data")

    samples = bytearray()
    pal = indexed[2] if indexed else b""
    base_n = indexed[0] if indexed else 0
    hival = indexed[1] if indexed else 0
    for y in range(h):
        row = _unpack_row(data, y * row_bytes * 8, w * ncomp_in, bpc,
                          scale=indexed is None)
        if indexed is not None:
            for idx in row:
                idx = min(idx, hival)
                off = idx * base_n
                px = pal[off: off + base_n]
                if len(px) < base_n:
                    px = px + b"\x00" * (base_n - len(px))
                if base_n == 4:  # CMYK palette -> RGB
                    c, m, yl, k = px
                    samples += bytes((
                        (255 - c) * (255 - k) // 255,
                        (255 - m) * (255 - k) // 255,
                        (255 - yl) * (255 - k) // 255,
                    ))
                elif base_n >= 3:
                    samples += px[:3]
                else:
                    samples.append(px[0])
        elif ncomp_in == 4:  # CMYK samples -> RGB
            for x in range(w):
                c, m, yl, k = row[4 * x: 4 * x + 4]
                samples += bytes((
                    (255 - c) * (255 - k) // 255,
                    (255 - m) * (255 - k) // 255,
                    (255 - yl) * (255 - k) // 255,
                ))
        elif inverted:
            samples += bytes(255 - v for v in row)
        else:
            samples += bytes(row)
    return w, h, out_ch, bytes(samples)


def extract_embedded_images(resolver) -> list:
    """Decoded-feature rows for every image XObject reachable from the
    pages: ``(page, name, width, height, channels, mean_luma,
    ahash_hex, pixel_md5, error)``.

    The images are those ``core/meta.py::page_images`` yields, the walk
    the inventory also uses — but this one touches pixels, so the cap is
    tighter and every failure is a per-image error code
    (``colorspace shape``, ``too large``, ...) rather than a dropped
    row: at corpus scale the error histogram IS a deliverable (which
    codec features are missing and why).
    """
    out: list = []
    for page_no, name, xo in page_images(resolver, _pages(resolver)):
        try:
            w, h, ch, samples = decode_image_xobject(resolver, xo)
            luma = features_from_samples(w, h, ch, samples)
            ahash = format(ahash_from_samples(w, h, ch, samples), "016x")
            md5 = hashlib.md5(samples).hexdigest()
            out.append((page_no, name, w, h, ch, luma, ahash, md5, None))
        except Exception as exc:
            dd = xo.dict
            try:
                gw = int(resolver.resolve(dd.get("Width")) or 0)
                gh = int(resolver.resolve(dd.get("Height")) or 0)
            except Exception:
                gw = gh = 0
            out.append((page_no, name, gw, gh, 0, None, None, None,
                        str(exc)[:80] or "decode"))
        if len(out) >= DECODE_CAP:
            break
    return out


# --- inline images (§8.9.7): BI <dict> ID <data> EI ---------------------------
#
# The reference PANICS on BI (operator.h:259-261) and this engine's text
# path spec-correctly SKIPS it (core/content.py::skip_inline_image);
# the decode tier below actually reads them — small logos/separators
# ride inline constantly, and at corpus scale they carry the same
# dedup/feature value as image XObjects. The §8.9.7 abbreviations (/W
# /H /BPC /CS /F /DP, filter AHx/A85/LZW/Fl/RL/DCT, colorspace
# G/RGB/CMYK/I) are translated to their full names and the SAME
# decode_image_xobject path runs — an inline JPEG and the identical
# XObject JPEG featurize byte-for-byte alike by construction.

_INLINE_KEYS = {
    "W": "Width", "H": "Height", "BPC": "BitsPerComponent",
    "CS": "ColorSpace", "F": "Filter", "DP": "DecodeParms",
    "D": "Decode", "IM": "ImageMask", "I": "Interpolate",
}
_INLINE_FILTERS = {
    "AHx": "ASCIIHexDecode", "A85": "ASCII85Decode", "LZW": "LZWDecode",
    "Fl": "FlateDecode", "RL": "RunLengthDecode", "CCF": "CCITTFaxDecode",
    "DCT": "DCTDecode",
}
_INLINE_CS = {"G": "DeviceGray", "RGB": "DeviceRGB", "CMYK": "DeviceCMYK"}


def _inline_translate_cs(v):
    if isinstance(v, Name):
        return Name(_INLINE_CS.get(str(v), str(v)))
    if isinstance(v, list) and v and isinstance(v[0], Name):
        fam = str(v[0])
        if fam in ("I", "Indexed") and len(v) >= 4:
            return [Name("Indexed"), _inline_translate_cs(v[1]), v[2], v[3]]
    return v


def parse_inline_image(data: bytes, pos: int) -> tuple:
    """Parse one inline image at ``pos`` (just after the BI token) ->
    ``(Stream, end_pos)`` where the Stream carries the §8.9.7 dict with
    abbreviations expanded and ``raw`` = the still-encoded bytes between
    ID and the standalone EI (the same terminator discipline as
    skip_inline_image — an embedded non-delimited 'EI' byte pair cannot
    end the image early)."""
    from pdf_spark.core.content import _WS_ONLY, find_standalone_ei
    from pdf_spark.core.objects import ObjectParser

    p = ObjectParser(data, pos, content=True)
    n = len(data)
    d: dict = {}
    while True:
        p.skip_ws()
        if p.pos >= n:
            raise ValueError("inline image: no ID token")
        if (
            data[p.pos : p.pos + 2] == b"ID"
            and (p.pos + 2 >= n or data[p.pos + 2] in _WS_ONLY)
        ):
            p.pos += 2
            break
        if data[p.pos] != 0x2F:  # '/'
            raise ValueError("inline image: dict key expected")
        key = p.parse_object()
        val = p.parse_object()
        full = _INLINE_KEYS.get(str(key), str(key))
        if full == "Filter":
            if isinstance(val, Name):
                val = Name(_INLINE_FILTERS.get(str(val), str(val)))
            elif isinstance(val, list):
                val = [
                    Name(_INLINE_FILTERS.get(str(f), str(f)))
                    if isinstance(f, Name) else f
                    for f in val
                ]
        elif full == "ColorSpace":
            val = _inline_translate_cs(val)
        d[full] = val
    start = p.pos + 1  # the single post-ID whitespace byte
    j = find_standalone_ei(data, start)
    if j < 0:
        raise ValueError("inline image: no EI terminator")
    return Stream(d, data[start:j]), j + 2


def iter_inline_images(data: bytes):
    """Yield ``Stream`` objects for every inline image in a content
    stream, using real tokenization (a '(BI)' string literal or an
    operand run can never fake one) — the enumeration twin of the text
    path's skip."""
    from pdf_spark.core.objects import ObjectParser

    p = ObjectParser(data, 0, content=True)
    n = len(data)
    while True:
        p.skip_ws()
        if p.pos >= n:
            return
        c = data[p.pos]
        if (
            c in b"(</[" or 0x30 <= c <= 0x39 or c in b"+-."
        ):
            p.parse_object()
            continue
        if c in b"'\"":
            p.pos += 1
            continue
        if c in b")]>}{":
            p.pos += 1  # tolerated strays (array closes handled by parse)
            continue
        start = p.pos
        while p.pos < n and data[p.pos] not in b"\x00\t\n\x0c\r ()<>[]{}/%":
            p.pos += 1
        if p.pos == start:
            p.pos += 1
            continue
        tok = data[start : p.pos]
        if tok == b"BI":
            try:
                stream, end = parse_inline_image(data, p.pos)
            except ValueError:
                return  # malformed tail: stop enumerating, keep prior
            yield stream
            p.pos = end


def extract_inline_images(resolver) -> list:
    """Per-page inline-image decode: ``(page, idx, w, h, channels,
    mean_luma, ahash_hex, pixel_md5, error)`` rows — the qx38 contract
    shape, over §8.9.7 inline images instead of XObjects. Refused
    decodes become error rows, never dropped rows (the corpus error
    histogram is a deliverable)."""
    out: list = []
    for page_no, page in enumerate(_pages(resolver)):
        try:
            content = b"\n".join(resolver.content_streams(page))
        except Exception:
            continue
        for idx, stream in enumerate(iter_inline_images(content)):
            if len(out) >= DECODE_CAP:
                return out
            try:
                w, h, ch, samples = decode_image_xobject(resolver, stream)
                luma = features_from_samples(w, h, ch, samples)
                ahash = format(ahash_from_samples(w, h, ch, samples), "016x")
                out.append((page_no, idx, w, h, ch, luma, ahash,
                            hashlib.md5(samples).hexdigest(), None))
            except Exception as exc:
                out.append((page_no, idx, 0, 0, 0, None, None, None,
                            str(exc)[:80] or "decode"))
    return out
