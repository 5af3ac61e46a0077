"""Document-info metadata extraction (PDF tier).

The training-data side-channel every crawl pipeline keeps next to the
text: title/author/dates from the PDF's document information dictionary
(trailer ``/Info``, PDF 32000-1 §14.3.3) with an XMP fallback (catalog
``/Metadata`` stream, §14.3.2).

The reference engine (someone13574/pdf) stops at text — it never reads
/Info or /Metadata — so this module is spec-driven net-new capability,
like the HTML tier. Everything here follows the public spec:

- **Text strings** (§7.9.2.2): a PDF *text string* is UTF-16BE when it
  opens with the BOM ``FE FF`` (UTF-8 with ``EF BB BF`` since PDF 2.0),
  otherwise PDFDocEncoding — a one-byte encoding that is NOT Latin-1
  (0x18-0x1F are accents, 0x80-0x9F are publishing glyphs, 0xA0 is the
  Euro). Annex D.2 is the table below.
- **Dates** (§7.9.4): ``D:YYYYMMDDHHmmSSOHH'mm`` with every field after
  the year optional; normalised here to ISO-8601 so downstream SQL can
  compare them as plain strings.

Contract matches the rest of the core: pure function of the payload,
never raises on malformed values (a bad date is ``None``, not an error
row — metadata is best-effort by nature).
"""

from __future__ import annotations

import hashlib
import re
from typing import Any, Optional

from pdf_spark.core.objects import Name, Ref, Stream

# --- PDFDocEncoding (PDF 32000-1 Annex D.2, column PDFDoc) ------------------
# Identity to ASCII in 0x20-0x7E and to Latin-1 in 0xA1-0xFF except where
# noted; the rows below are every position that differs from Latin-1.
_PDFDOC_DIFF = {
    0x18: "˘",  # breve
    0x19: "ˇ",  # caron
    0x1A: "ˆ",  # circumflex
    0x1B: "˙",  # dotaccent
    0x1C: "˝",  # hungarumlaut
    0x1D: "˛",  # ogonek
    0x1E: "˚",  # ring
    0x1F: "˜",  # tilde
    0x7F: "�",  # undefined
    0x80: "•",  # bullet
    0x81: "†",  # dagger
    0x82: "‡",  # daggerdbl
    0x83: "…",  # ellipsis
    0x84: "—",  # emdash
    0x85: "–",  # endash
    0x86: "ƒ",  # florin
    0x87: "⁄",  # fraction
    0x88: "‹",  # guilsinglleft
    0x89: "›",  # guilsinglright
    0x8A: "−",  # minus
    0x8B: "‰",  # perthousand
    0x8C: "„",  # quotedblbase
    0x8D: "“",  # quotedblleft
    0x8E: "”",  # quotedblright
    0x8F: "‘",  # quoteleft
    0x90: "’",  # quoteright
    0x91: "‚",  # quotesinglbase
    0x92: "™",  # trademark
    0x93: "ﬁ",  # fi
    0x94: "ﬂ",  # fl
    0x95: "Ł",  # Lslash
    0x96: "Œ",  # OE
    0x97: "Š",  # Scaron
    0x98: "Ÿ",  # Ydieresis
    0x99: "Ž",  # Zcaron
    0x9A: "ı",  # dotlessi
    0x9B: "ł",  # lslash
    0x9C: "œ",  # oe
    0x9D: "š",  # scaron
    0x9E: "ž",  # zcaron
    0x9F: "�",  # undefined
    0xA0: "€",  # Euro
    0xAD: "�",  # undefined (Latin-1 soft hyphen slot)
}

# latin-1 decode is the identity byte->U+00XX map; translating the
# difference rows on top of it yields the full Annex-D.2 decode.
_PDFDOC_XLATE = {k: v for k, v in _PDFDOC_DIFF.items()}


def pdf_text_string(raw: Any) -> Optional[str]:
    """Decode a PDF *text string* value (§7.9.2.2) to Python str.

    UTF-16BE with BOM, UTF-8 with BOM (PDF 2.0), else PDFDocEncoding.
    Non-bytes inputs (a malformed /Info slot holding a number or name)
    return None rather than raising."""
    if isinstance(raw, str):  # a Name leaked into a string slot
        return None
    if not isinstance(raw, (bytes, bytearray)):
        return None
    b = bytes(raw)
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be", "replace")
    if b[:3] == b"\xef\xbb\xbf":
        return b[3:].decode("utf-8", "replace")
    return b.decode("latin-1").translate(_PDFDOC_XLATE)


_DATE_RE = re.compile(
    rb"^D?:?(\d{4})(\d{2})?(\d{2})?(\d{2})?(\d{2})?(\d{2})?"
    rb"(?:([Zz+\-])(?:(\d{2})(?:'(\d{2})'?)?)?)?"
)

_DAYS_IN = (31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def parse_pdf_date(raw: Any) -> Optional[str]:
    """``D:YYYYMMDDHHmmSSOHH'mm'`` (§7.9.4) -> ISO-8601 string, else None.

    Missing fields default per spec (month/day 01, time 00); an
    out-of-range field invalidates the whole date (best-effort metadata,
    never a guess)."""
    if isinstance(raw, str):
        raw = raw.encode("ascii", "ignore")
    if not isinstance(raw, (bytes, bytearray)):
        return None
    m = _DATE_RE.match(bytes(raw).strip())
    if m is None:
        return None
    year = int(m.group(1))
    month = int(m.group(2) or 1)
    day = int(m.group(3) or 1)
    hour = int(m.group(4) or 0)
    minute = int(m.group(5) or 0)
    second = int(m.group(6) or 0)
    if not (1 <= month <= 12 and 1 <= day <= _DAYS_IN[month - 1]):
        return None
    if hour > 23 or minute > 59 or second > 59:
        return None
    iso = f"{year:04d}-{month:02d}-{day:02d}T{hour:02d}:{minute:02d}:{second:02d}"
    sign = m.group(7)
    if sign in (b"+", b"-"):
        oh = int(m.group(8) or 0)
        om = int(m.group(9) or 0)
        if oh > 23 or om > 59:
            return None
        iso += f"{sign.decode()}{oh:02d}:{om:02d}"
    elif sign in (b"Z", b"z"):
        iso += "+00:00"
    return iso


# --- /Info dictionary --------------------------------------------------------

_TEXT_KEYS = ("Title", "Author", "Subject", "Keywords", "Creator", "Producer")
_DATE_KEYS = ("CreationDate", "ModDate")

# Minimal XMP fallback: Dublin Core title/creator out of the catalog
# /Metadata packet (§14.3.2). XMP is RDF/XML; the two shapes in the wild
# are an rdf:Alt/rdf:Seq of rdf:li, or an attribute-less inline value.
_XMP_LI_RE = {
    "Title": re.compile(
        rb"<dc:title>.*?<rdf:li[^>]*>(.*?)</rdf:li>", re.S
    ),
    "Author": re.compile(
        rb"<dc:creator>.*?<rdf:li[^>]*>(.*?)</rdf:li>", re.S
    ),
}
_XML_ENT = {b"&lt;": "<", b"&gt;": ">", b"&amp;": "&",
            b"&apos;": "'", b"&quot;": '"'}


def _xml_unescape(b: bytes) -> str:
    s = b.decode("utf-8", "replace")
    for ent, ch in _XML_ENT.items():
        s = s.replace(ent.decode(), ch)
    return s


def extract_pdf_meta(resolver) -> dict:
    """Trailer ``/Info`` -> {title, author, subject, keywords, creator,
    producer, created, modified}; XMP ``/Metadata`` fills title/author
    when /Info lacks them. Values are str or None; never raises."""
    out: dict[str, Optional[str]] = {
        "title": None, "author": None, "subject": None, "keywords": None,
        "creator": None, "producer": None, "created": None, "modified": None,
    }
    try:
        info = resolver.resolve(resolver.trailer.get("Info"))
    except Exception:
        info = None
    if isinstance(info, dict):
        for key in _TEXT_KEYS:
            try:
                out[key.lower()] = pdf_text_string(resolver.resolve(info.get(key)))
            except Exception:
                pass
        for key, slot in zip(_DATE_KEYS, ("created", "modified")):
            try:
                out[slot] = parse_pdf_date(resolver.resolve(info.get(key)))
            except Exception:
                pass
    if out["title"] is None or out["author"] is None:
        xmp = _xmp_packet(resolver)
        if xmp:
            for key, slot in (("Title", "title"), ("Author", "author")):
                if out[slot] is None:
                    m = _XMP_LI_RE[key].search(xmp)
                    if m:
                        out[slot] = _xml_unescape(m.group(1)).strip() or None
    return out


def _xmp_packet(resolver) -> bytes:
    try:
        cat = resolver.catalog()
        md = resolver.resolve(cat.get("Metadata"))
        if isinstance(md, Stream):
            return md.decoded(resolver)
    except Exception:
        pass
    return b""


# --- shared structure walks ---------------------------------------------------
# One lazy generator per PDF structure the extractors below read. None of
# them carries a cap: each caller breaks out at its own.


def _pages(resolver) -> list:
    """Every page dict in document order; [] when the page tree is broken."""
    try:
        return list(resolver.iter_pages())
    except Exception:
        return []


def visit_once(resolver, seen: set, ref) -> Optional[dict]:
    """``ref`` resolved, if it is a dict met for the first time; else None.

    An indirect ref is keyed by itself (``Ref`` hashes as ``(obj_id,
    gen)``), a direct object by ``id()``; the key is recorded before the
    resolve, so a cycle through a broken object also ends."""
    key = ref if isinstance(ref, Ref) else id(ref)
    if key in seen:
        return None
    seen.add(key)
    try:
        node = resolver.resolve(ref)
    except Exception:
        return None
    return node if isinstance(node, dict) else None


def page_annots(resolver, pages: list):
    """Yield ``(page_no, annot_dict)`` for every page ``/Annots`` entry, in
    (page, annot) order. A non-array ``/Annots`` and entries that do not
    resolve to a dict are skipped."""
    for page_no, page in enumerate(pages):
        try:
            annots = resolver.resolve(page.get("Annots"))
        except Exception:
            continue
        if not isinstance(annots, list):
            continue
        for entry in annots:
            try:
                a = resolver.resolve(entry)
            except Exception:
                continue
            if isinstance(a, dict):
                yield page_no, a


def acro_fields(resolver):
    """Yield ``(name, node, ft, v)`` per terminal AcroForm field (§12.7.3),
    depth-first in ``/Fields`` array order.

    A kid carrying ``/T`` is a child FIELD (its partial name joins the
    parent's with ``.``, §12.7.4.2); a kid without ``/T`` is a widget
    annotation of the same field and is not descended into. ``ft`` and
    ``v`` are the inherited ``/FT`` and ``/V`` (§12.7.4.1), resolved.
    Each node is visited once (``visit_once``), so ``/Kids`` cycles end."""
    try:
        acro = resolver.resolve(resolver.catalog().get("AcroForm"))
        roots = resolver.resolve(acro.get("Fields")) if isinstance(acro, dict) else None
    except Exception:
        return
    if not isinstance(roots, list):
        return
    seen: set = set()
    # seeded in reverse so array order pops first
    stack = [(r, "", None, None) for r in reversed(roots)]
    while stack:
        node_ref, prefix, ft, v = stack.pop()
        node = visit_once(resolver, seen, node_ref)
        if node is None:
            continue
        t = None
        try:
            raw_t = resolver.resolve(node.get("T"))
            if isinstance(raw_t, (bytes, bytearray)):
                t = pdf_text_string(bytes(raw_t))
        except Exception:
            pass
        name = f"{prefix}.{t}" if (prefix and t) else (t or prefix)
        if "FT" in node:
            try:
                ft = resolver.resolve(node.get("FT"))
            except Exception:
                pass
        if "V" in node:
            try:
                v = resolver.resolve(node.get("V"))
            except Exception:
                pass
        kids = None
        try:
            kids = resolver.resolve(node.get("Kids"))
        except Exception:
            pass
        child_fields = []
        if isinstance(kids, list):
            for k in kids:
                try:
                    kd = resolver.resolve(k)
                except Exception:
                    continue
                if isinstance(kd, dict) and "T" in kd:
                    child_fields.append(k)
        if child_fields:  # non-terminal: descend, array order first
            for k in reversed(child_fields):
                stack.append((k, name, ft, v))
            continue
        yield name, node, ft, v


def page_images(resolver, pages: list):
    """Yield ``(page_no, name, stream)`` for every ``/Subtype /Image``
    XObject reachable from the pages' ``/Resources``, through form
    XObjects (§8.10) up to two levels deep. Each XObject is yielded once:
    deduplicated by ref, a direct one by (page, name)."""
    seen: set = set()

    def visit(res, page_no: int, depth: int):
        if depth > 2:
            return
        try:
            res = resolver.resolve(res)
            xobjs = resolver.resolve(res.get("XObject")) if isinstance(res, dict) else None
        except Exception:
            return
        if not isinstance(xobjs, dict):
            return
        for name, ref in xobjs.items():
            key = ref if isinstance(ref, Ref) else (page_no, str(name))
            if key in seen:
                continue
            seen.add(key)
            try:
                xo = resolver.resolve(ref)
                if not isinstance(xo, Stream):
                    continue
                sub = resolver.resolve(xo.dict.get("Subtype"))
            except Exception:
                continue
            if sub == Name("Form"):
                yield from visit(xo.dict.get("Resources"), page_no, depth + 1)
            elif sub == Name("Image"):
                yield page_no, str(name), xo

    for page_no, page in enumerate(pages):
        yield from visit(page.get("Resources"), page_no, 0)


# --- link annotations (the PDF twin of the HTML link graph) ------------------


def extract_pdf_links(resolver) -> list:
    """Every URI a Link annotation targets, in (page, annot) order.

    §12.5.6.5 Link annotations + §12.6.4.7 URI actions: page ``/Annots``
    array -> dicts with ``/Subtype /Link`` -> ``/A`` action with
    ``/S /URI`` -> the ``/URI`` byte string (7-bit ASCII per spec; decoded
    permissively). Malformed entries are skipped, never fatal."""
    out: list[str] = []
    for _, a in page_annots(resolver, _pages(resolver)):
        if a.get("Subtype") != Name("Link"):
            continue
        try:
            action = resolver.resolve(a.get("A"))
            if not isinstance(action, dict) or action.get("S") != Name("URI"):
                continue
            uri = resolver.resolve(action.get("URI"))
            if isinstance(uri, (bytes, bytearray)) and uri:
                out.append(bytes(uri).decode("utf-8", "replace"))
        except Exception:
            continue
    return out


def extract_annotation_texts(resolver) -> list:
    """Markup-annotation text (§12.5.6.2 Table 170: ``/Contents``) as
    (page_no, subtype, text) in (page, annot) order — the sticky-note /
    FreeText / Highlight-comment side channel. This text lives OUTSIDE
    content streams (like AcroForm values) and never perturbs the page
    text; reviewers' comments are a real corpus signal.

    Skipped: ``/Link`` (its payload is the URI, extract_pdf_links),
    ``/Popup`` (a popup carries no content of its own — when a producer
    writes one anyway it duplicates the parent markup annotation's
    ``/Contents``, §12.5.6.14), and entries with an absent/empty
    ``/Contents``. Malformed entries are skipped, never fatal."""
    out: list = []
    for page_no, a in page_annots(resolver, _pages(resolver)):
        subtype = a.get("Subtype")
        if not isinstance(subtype, Name) or subtype in (Name("Link"), Name("Popup")):
            continue
        try:
            text = pdf_text_string(resolver.resolve(a.get("Contents")))
        except Exception:
            continue
        if text:
            out.append((page_no, str(subtype), text))
    return out


# --- outline (bookmarks, §12.3.3) ---------------------------------------------

OUTLINE_CAP = 4096  # total items (adversarial /Next cycles + bombs)


def extract_pdf_outline(resolver) -> list:
    """Document outline ("bookmarks", §12.3.3) as (level, title) tuples
    in display order.

    Catalog /Outlines -> /First chain of items; each item: /Title text
    string, /First child subtree, /Next sibling. Cycles and bombs are
    bounded by OUTLINE_CAP and a visited set (real-world PDFs contain
    both). Malformed items are skipped; never raises."""
    out = []
    try:
        cat = resolver.catalog()
        root = resolver.resolve(cat.get("Outlines"))
    except Exception:
        return out
    if not isinstance(root, dict):
        return out
    seen: set = set()
    stack = [(root.get("First"), 0)]
    while stack and len(out) < OUTLINE_CAP:
        node_ref, level = stack.pop()
        node = visit_once(resolver, seen, node_ref)
        if node is None:
            continue
        title = None
        try:
            title = pdf_text_string(resolver.resolve(node.get("Title")))
        except Exception:
            pass
        if title is not None:
            out.append((level, title))
        # siblings first on the stack so children pop (and emit) first
        stack.append((node.get("Next"), level))
        stack.append((node.get("First"), level + 1))
    return out


# --- interactive form fields (AcroForm, §12.7) ----------------------------------

FORM_FIELD_CAP = 2048  # terminal fields (adversarial /Kids cycles + bombs)


def extract_form_fields(resolver) -> list:
    """AcroForm field values as (name, ftype, value) tuples in field-tree
    order (PDF 32000-1 §12.7.2-4). EXTENSION: the reference never reads
    ``/AcroForm`` — but filled-in form values are document text that lives
    OUTSIDE content streams, so a web-corpus extractor that skips them
    drops the payload of every filled form.

    Walk: ``acro_fields`` (catalog ``/AcroForm`` -> ``/Fields``, dotted
    names, inherited ``/FT`` and ``/V``). Values: text strings decode per
    §7.9.2.2 (``pdf_text_string``), ``/Btn`` name values decode to the
    name token, choice arrays join with ``'; '``. Cycles and kid bombs
    are bounded; malformed entries are skipped, never fatal."""

    def _decode_value(v) -> Optional[str]:
        if isinstance(v, (bytes, bytearray)):
            return pdf_text_string(bytes(v))
        if isinstance(v, str):  # Name is a str subclass: the name token
            return str(v)
        if isinstance(v, list):
            parts = [_decode_value(x) for x in v]
            return "; ".join(p for p in parts if p is not None)
        return None

    out: list = []
    for name, _, ft, v in acro_fields(resolver):
        ftype = str(ft) if isinstance(ft, Name) else None
        if name and ftype:
            out.append((name, ftype, _decode_value(v)))
            if len(out) >= FORM_FIELD_CAP:
                break
    return out


# --- image XObject inventory (§8.9.5) --------------------------------------------

IMAGE_CAP = 4096  # per doc (adversarial XObject bombs)


def extract_image_inventory(resolver) -> list:
    """Image XObjects as (page, name, width, height, bpc, filter) tuples.

    §8.9.5 image dictionaries: page ``/Resources /XObject`` entries with
    ``/Subtype /Image`` report their geometry WITHOUT decoding the pixel
    stream (the dims live in the stream dict — a 100 TB inventory pass
    never touches pixels). The images are those ``page_images`` yields:
    form XObjects (§8.10) are descended too, since images referenced only
    from a form's own resources are a common real-PDF shape. The reference
    rasterizes images but has no inventory surface; this is the
    multimodal-corpus mining op (find docs with N images ≥ some size).
    Malformed entries are skipped, never fatal."""
    out: list = []
    for page_no, name, xo in page_images(resolver, _pages(resolver)):
        d = xo.dict
        try:
            w = resolver.resolve(d.get("Width"))
            h = resolver.resolve(d.get("Height"))
            bpc = resolver.resolve(d.get("BitsPerComponent"))
            filt = resolver.resolve(d.get("Filter"))
            if isinstance(filt, list) and filt:
                filt = resolver.resolve(filt[-1])
            out.append(
                (
                    page_no,
                    name,
                    int(w) if isinstance(w, (int, float)) else 0,
                    int(h) if isinstance(h, (int, float)) else 0,
                    int(bpc) if isinstance(bpc, (int, float)) else 0,
                    str(filt) if isinstance(filt, Name) else None,
                )
            )
        except Exception:
            continue
        if len(out) >= IMAGE_CAP:
            break
    return out


# --- embedded files (attachments, §7.11 + §7.7.4) ----------------------------

ATTACH_CAP = 1024  # filespecs per doc (adversarial name-tree bombs)
ATTACH_TREE_DEPTH = 32  # name-tree recursion bound (§7.9.6 trees are shallow)


def walk_name_tree(resolver, root_ref, visit, full=lambda: False,
                   leaf_slot: str = "Names") -> None:
    """Generic §7.9.6/§7.9.7 tree walk in tree order: interior ``/Kids``
    depth-first, leaf ``/Names`` (name tree — byte-string keys) or
    ``/Nums`` (number tree — integer keys, ``leaf_slot="Nums"``) pairs
    in array order (``/Limits`` is advisory and ignored — real producers
    get it wrong). Calls ``visit(key_or_None, value_ref)`` per pair —
    key is bytes for name trees, int for number trees; stops early when
    ``full()`` returns True. Cyclic trees (via a visited ref set) and
    depth bombs are bounded; malformed nodes are skipped, never fatal.
    Shared by /EmbeddedFiles (attachments), /Dests (named destinations)
    and /PageLabels (§12.4.2)."""
    seen_nodes: set = set()
    key_type = (bytes, bytearray) if leaf_slot == "Names" else int

    def walk(node_ref, depth: int) -> None:
        if depth > ATTACH_TREE_DEPTH or full():
            return
        try:
            key = (
                (node_ref.obj_id, node_ref.gen)
                if isinstance(node_ref, Ref)
                else None
            )
            if key is not None:
                if key in seen_nodes:
                    return
                seen_nodes.add(key)
            node = resolver.resolve(node_ref)
            if not isinstance(node, dict):
                return
            kids = resolver.resolve(node.get("Kids"))
            if isinstance(kids, list):
                for kid in kids:
                    walk(kid, depth + 1)
            pairs = resolver.resolve(node.get(leaf_slot))
            if isinstance(pairs, list):
                for i in range(1, len(pairs), 2):
                    k = pairs[i - 1]
                    try:
                        k = resolver.resolve(k)
                    except Exception:
                        k = None
                    visit(k if isinstance(k, key_type) else None, pairs[i])
        except Exception:
            return

    walk(root_ref, 0)


def extract_embedded_files(resolver) -> list:
    """Embedded-file attachments as
    ``(source, name, desc, mime, size_declared, size_bytes, md5)`` tuples.

    Two discovery channels, in deterministic order:

    - ``'names'``: catalog ``/Names /EmbeddedFiles`` name tree (§7.7.4)
      walked in tree order — interior ``/Kids`` recursed depth-first,
      leaf ``/Names [key filespec ...]`` pairs in array order (``/Limits``
      is advisory and ignored; real producers get it wrong). Bounded by
      ATTACH_TREE_DEPTH / ATTACH_CAP with a visited set (cyclic trees
      appear in the wild).
    - ``'annot'``: page ``/Annots`` entries with ``/Subtype
      /FileAttachment`` (§12.5.6.15), filespec under ``/FS``, in
      (page, annot) order.

    Each filespec (§7.11.3) contributes one row when it actually embeds
    bytes: name prefers ``/UF`` over ``/F`` (text-string decoded), desc
    from ``/Desc``; the embedded-file stream (§7.11.4) is ``/EF /UF`` or
    ``/EF /F``, its ``/Subtype`` name is the MIME type (``#2F``-escaped
    ``/`` decodes via the standard name parser), ``/Params /Size`` is the
    producer's declared length. ``size_bytes``/``md5`` come from the
    DECODED stream — the extractor reports what the bytes ARE, not what
    the dict claims (mismatch = corruption signal). Filespecs with no
    ``/EF`` (references to external files) are skipped: nothing is
    embedded. Malformed entries are skipped, never fatal.

    The reference engine has no attachment surface (render-only); this is
    spec-driven net-new capability like /Info and the outline. At corpus
    scale attachments matter twice: PDF portfolios carry their real
    payload documents here, and attachment inventory (name/MIME/digest)
    is how a pipeline finds them without decoding pixels.
    """
    out: list = []
    seen_specs: set = set()

    def emit(spec_ref, source: str) -> None:
        if len(out) >= ATTACH_CAP:
            return
        spec = visit_once(resolver, seen_specs, spec_ref)
        if spec is None:
            return
        try:
            ef = resolver.resolve(spec.get("EF"))
            if not isinstance(ef, dict):
                return  # external reference, nothing embedded
            stream = None
            for slot in ("UF", "F"):
                cand = resolver.resolve(ef.get(slot))
                if isinstance(cand, Stream):
                    stream = cand
                    break
            if stream is None:
                return
            name = None
            for slot in ("UF", "F"):
                name = pdf_text_string(resolver.resolve(spec.get(slot)))
                if name:
                    break
            desc = pdf_text_string(resolver.resolve(spec.get("Desc")))
            sub = resolver.resolve(stream.dict.get("Subtype"))
            mime = str(sub) if isinstance(sub, Name) else None
            declared = None
            params = resolver.resolve(stream.dict.get("Params"))
            if isinstance(params, dict):
                size = resolver.resolve(params.get("Size"))
                if isinstance(size, (int, float)):
                    declared = int(size)
            data = stream.decoded(resolver)
            out.append(
                (
                    source,
                    name,
                    desc,
                    mime,
                    declared,
                    len(data),
                    hashlib.md5(data).hexdigest(),
                )
            )
        except Exception:
            return

    try:
        cat = resolver.catalog()
        names_dict = resolver.resolve(cat.get("Names"))
        if isinstance(names_dict, dict):
            walk_name_tree(
                resolver,
                names_dict.get("EmbeddedFiles"),
                lambda _key, value_ref: emit(value_ref, "names"),
                lambda: len(out) >= ATTACH_CAP,
            )
    except Exception:
        pass
    for _, a in page_annots(resolver, _pages(resolver)):
        if a.get("Subtype") == Name("FileAttachment"):
            emit(a.get("FS"), "annot")
    return out


# --- internal destinations (GoTo links + named dests, §12.3.2) ---------------

LINK_CAP = 4096  # internal links per doc


def extract_internal_links(resolver) -> list:
    """Intra-document navigation edges as
    ``(page_from, via, dest_name, page_to, fit)`` tuples in (page, annot)
    order — the PDF twin of the HTML anchor graph (qx19): table-of-
    contents pages, "see section N" cross-references, and figure/table
    callouts all materialize here.

    §12.3.2 destinations: a Link annot targets a destination either
    directly (``/Dest``) or through a ``/GoTo`` action's ``/D``
    (§12.6.4.2) — ``via`` records which. The value is an EXPLICIT array
    ``[page /XYZ x y z]`` / ``[page /Fit]`` / ... or a NAMED destination
    (byte string or Name) resolved through the catalog ``/Names /Dests``
    name tree (PDF 1.2, walked with the shared §7.9.6 walker) or the
    legacy catalog ``/Dests`` dict (PDF 1.1); named values may wrap the
    array in a ``<</D [...]>>`` dict. ``page_to`` is the 0-based index of
    the target page, mapped by resolved-object identity (the resolver
    memoizes, so the dest array's page ref resolves to the same node
    ``iter_pages`` yielded — the ``_node_id`` trick the struct tree
    uses); a dangling page ref yields ``page_to=None`` rather than a
    dropped row (the link EXISTS; its target is broken — a corpus
    corruption signal). ``fit`` is the §12.3.2.2 fit-type Name. Remote
    ``GoToR`` targets another FILE and is out of scope (the URI channel
    covers external edges). Malformed entries are skipped, never fatal.

    The reference engine parses no annotations at all (render-only
    canvas); this channel is spec-driven net-new, like the outline."""
    out: list = []
    named: dict = {}

    def remember(key, value_ref) -> None:
        if key is not None:
            named.setdefault(bytes(key), value_ref)

    try:
        cat = resolver.catalog()
    except Exception:
        return out
    try:
        names_dict = resolver.resolve(cat.get("Names"))
        if isinstance(names_dict, dict):
            walk_name_tree(resolver, names_dict.get("Dests"), remember)
    except Exception:
        pass
    try:
        legacy = resolver.resolve(cat.get("Dests"))
        if isinstance(legacy, dict):
            for k, v in legacy.items():
                if isinstance(k, Name):
                    named.setdefault(str(k).encode("utf-8"), v)
    except Exception:
        pass

    pages = _pages(resolver)
    page_index = {p.get("_node_id"): i for i, p in enumerate(pages)}

    def dest_row(page_from: int, via: str, raw) -> None:
        if len(out) >= LINK_CAP:
            return
        dest_name = None
        try:
            d = resolver.resolve(raw)
            if isinstance(d, Name):
                dest_name = str(d)
                d = resolver.resolve(named.get(dest_name.encode("utf-8")))
            elif isinstance(d, (bytes, bytearray)):
                dest_name = pdf_text_string(d)
                d = resolver.resolve(named.get(bytes(d)))
            if isinstance(d, dict):  # named value wrapped as <</D [...]>>
                d = resolver.resolve(d.get("D"))
            if not isinstance(d, list) or not d:
                if dest_name is not None:
                    out.append((page_from, via, dest_name, None, None))
                return
            target = resolver.resolve(d[0])
            page_to = page_index.get(id(target))
            fit = d[1] if len(d) > 1 else None
            out.append(
                (
                    page_from,
                    via,
                    dest_name,
                    page_to,
                    str(fit) if isinstance(fit, Name) else None,
                )
            )
        except Exception:
            return

    for page_from, a in page_annots(resolver, pages):
        if a.get("Subtype") != Name("Link"):
            continue
        if "Dest" in a:
            dest_row(page_from, "Dest", a.get("Dest"))
            continue
        try:
            action = resolver.resolve(a.get("A"))
        except Exception:
            continue
        if isinstance(action, dict) and action.get("S") == Name("GoTo"):
            dest_row(page_from, "GoTo", action.get("D"))
    return out


# --- page labels (§12.4.2) ----------------------------------------------------

_ROMAN = (
    (1000, "m"), (900, "cm"), (500, "d"), (400, "cd"), (100, "c"),
    (90, "xc"), (50, "l"), (40, "xl"), (10, "x"), (9, "ix"),
    (5, "v"), (4, "iv"), (1, "i"),
)


def _roman(n: int) -> str:
    if n <= 0 or n > 99999:  # spec leaves huge/0 undefined; clamp decimal
        return str(n)
    parts = []
    for val, sym in _ROMAN:
        while n >= val:
            parts.append(sym)
            n -= val
    return "".join(parts)


def _letters(n: int) -> str:
    # 1..26 -> a..z, 27 -> aa, ... (§12.4.2: doubled letters, not base-26)
    if n <= 0:
        return str(n)
    q, r = divmod(n - 1, 26)
    return chr(ord("a") + r) * (q + 1)


def format_page_label(style, start: int, offset: int, prefix: str) -> str:
    """One §12.4.2 label: ``prefix + numeral(start + offset)`` with the
    numeral rendered per ``/S`` (D decimal, R/r Roman, A/a letters; no
    /S -> prefix only, the spec's 'no numeric portion' case)."""
    n = start + offset
    if style == "D":
        return prefix + str(n)
    if style == "r":
        return prefix + _roman(n)
    if style == "R":
        return prefix + _roman(n).upper()
    if style == "a":
        return prefix + _letters(n)
    if style == "A":
        return prefix + _letters(n).upper()
    return prefix


def extract_page_labels(resolver) -> list:
    """Display page labels (§12.4.2) as (page_no, label) for every page:
    'iv', 'A-2', '3' — the numbers HUMANS cite, vs the 0-based physical
    index. Catalog ``/PageLabels`` is a NUMBER tree (§7.9.7, integer
    keys = the page index where each labelling range starts; walked with
    the shared tree walker, ``/Nums`` leaves); each value dict carries
    ``/S`` style, ``/P`` prefix (text string), ``/St`` start (default 1).
    Pages before the first range (malformed files — §12.4.2 requires a
    range at 0) and docs with no /PageLabels label as 1-based decimal,
    the viewer fallback. At corpus scale labels align extracted text
    with citations ("see p. iv") and reveal front-matter/body structure
    without any content inspection. The reference never reads them."""
    n_pages = len(_pages(resolver))
    ranges: list = []

    def remember(key, value_ref) -> None:
        if isinstance(key, bool) or not isinstance(key, int) or key < 0:
            return
        try:
            v = resolver.resolve(value_ref)
        except Exception:
            return
        if isinstance(v, dict):
            ranges.append((key, v))

    try:
        cat = resolver.catalog()
        walk_name_tree(
            resolver, cat.get("PageLabels"), remember, leaf_slot="Nums"
        )
    except Exception:
        pass
    ranges.sort(key=lambda kv: kv[0])
    out: list = []
    for page_no in range(n_pages):
        governing = None
        for start, v in ranges:
            if start <= page_no:
                governing = (start, v)
            else:
                break
        if governing is None:
            out.append((page_no, str(page_no + 1)))
            continue
        start, v = governing
        try:
            style = v.get("S")
            style = str(style) if isinstance(style, Name) else None
            prefix = pdf_text_string(resolver.resolve(v.get("P"))) or ""
            st = resolver.resolve(v.get("St"))
            st = int(st) if isinstance(st, (int, float)) and st >= 1 else 1
            out.append(
                (page_no,
                 format_page_label(style, st, page_no - start, prefix))
            )
        except Exception:
            out.append((page_no, str(page_no + 1)))
    return out


# --- document profile (triage pass: §14.9.2 /Lang + structure booleans) ------


def extract_doc_profile(resolver) -> dict:
    """The corpus TRIAGE record — one cheap dict per doc, no content
    decode: ``lang`` (catalog ``/Lang``, §14.9.2 — the document-default
    language tag, a direct prior for the language-ID tier), ``version``
    ("1.N" from the header, overridden by the catalog ``/Version`` Name
    when newer, §7.7.2), ``page_count``, ``tagged`` (``/MarkInfo
    /Marked``, §14.7 — predicts struct-tree reading order availability),
    ``encrypted`` (trailer ``/Encrypt`` present — this resolver only
    reaches here when empty-user-password decryption succeeded),
    ``has_acroform`` / ``has_outline`` / ``has_attachments`` /
    ``has_page_labels`` (catalog key presence — each gates a deeper
    side-channel pass, so a 100 TB pipeline runs the expensive walkers
    only where the booleans say there is anything to walk), plus the
    §14.4 file identifier: ``file_id`` (first /ID half, lowercase hex —
    the writer-assigned identity that SURVIVES re-serialization, so it
    catches the same document re-saved by a different producer where a
    byte hash cannot) and ``id_unchanged`` (first == second half: True =
    never incrementally updated since creation, False = updated, None =
    no /ID, a non-conforming writer). Never raises; absent slots are
    None/False."""
    out: dict = {
        "lang": None, "version": None, "page_count": None,
        "tagged": False, "encrypted": False, "has_acroform": False,
        "has_outline": False, "has_attachments": False,
        "has_page_labels": False, "file_id": None, "id_unchanged": None,
    }
    try:
        fid = resolver.resolve(resolver.trailer.get("ID"))
        if isinstance(fid, list) and len(fid) == 2:
            a = resolver.resolve(fid[0])
            b = resolver.resolve(fid[1])
            if isinstance(a, bytes) and isinstance(b, bytes) and a:
                out["file_id"] = a.hex()
                out["id_unchanged"] = a == b
    except Exception:
        pass
    try:
        out["encrypted"] = resolver.trailer.get("Encrypt") is not None
    except Exception:
        pass
    minor = getattr(resolver, "version", None)
    if isinstance(minor, int):
        out["version"] = f"1.{minor}"
    try:
        cat = resolver.catalog()
    except Exception:
        return out
    try:
        out["lang"] = pdf_text_string(resolver.resolve(cat.get("Lang")))
    except Exception:
        pass
    try:
        v = resolver.resolve(cat.get("Version"))
        if isinstance(v, Name):
            sv = str(v)
            # catalog /Version replaces the header version when it names a
            # LATER one (§7.7.2); producers that write an older one are
            # ignored, matching viewer behavior
            if re.fullmatch(r"[12]\.\d", sv) and (
                out["version"] is None or sv > out["version"]
            ):
                out["version"] = sv
    except Exception:
        pass
    try:
        out["page_count"] = sum(1 for _ in resolver.iter_pages())
    except Exception:
        pass
    try:
        mi = resolver.resolve(cat.get("MarkInfo"))
        out["tagged"] = bool(
            isinstance(mi, dict) and resolver.resolve(mi.get("Marked")) is True
        )
    except Exception:
        pass
    for key, slot in (
        ("AcroForm", "has_acroform"),
        ("Outlines", "has_outline"),
        ("PageLabels", "has_page_labels"),
    ):
        try:
            out[slot] = cat.get(key) is not None
        except Exception:
            pass
    try:
        names_dict = resolver.resolve(cat.get("Names"))
        out["has_attachments"] = bool(
            isinstance(names_dict, dict)
            and names_dict.get("EmbeddedFiles") is not None
        )
    except Exception:
        pass
    return out


# --- digital-signature & revision forensics (§12.8) --------------------------

SIG_FIELD_CAP = 256  # signature fields per doc (adversarial field bombs)


def count_revisions(raw: bytes) -> int:
    """Number of incremental-update revisions = count of ``%%EOF`` markers
    (§7.5.6: every revision — original write plus each incremental update —
    ends with its own ``%%EOF``). A cheap byte scan, no parse; the forensic
    companion to :func:`extract_signatures`'s ``covers_eof`` (a signed doc
    with revisions AFTER the signed one was modified post-signing). The
    reference walks ``/Prev`` chains to READ updated objects
    (reimplemented in ``core/document.py``) but exposes no revision count.
    Capped at 64 markers (adversarial repetition); 0 means not-a-PDF tail.
    """
    return min(raw.count(b"%%EOF"), 64)


def extract_signatures(resolver) -> list:
    """Digital-signature forensics rows, one per signed ``/FT /Sig`` field
    (PDF 32000-1 §12.8). EXTENSION: the reference never reads AcroForm —
    but at corpus scale "is this document signed, by whom, and does the
    signature still cover the bytes we fetched" is a TRUST/provenance
    signal (contract/invoice detection, tamper evidence) that costs one
    dict walk, no crypto.

    Each row: ``(field_name, subfilter, signer, sign_time, reason,
    whole_file, revisions)``:

    - ``subfilter`` — the ``/SubFilter`` Name of the signature dict
      (``adbe.pkcs7.detached``, ``ETSI.CAdES.detached``, ...), the
      encoding a verifier would dispatch on (§12.8.3).
    - ``signer`` / ``sign_time`` / ``reason`` — ``/Name``, ``/M``
      (PDF date, normalized by :func:`parse_pdf_date`), ``/Reason``
      text strings (§12.8.1 Table 252).
    - ``whole_file`` — the §12.8.1 ByteRange check a verifier performs
      BEFORE any cryptography: ``/ByteRange [0 a b c]`` must start at
      offset 0 and its last range must end exactly at EOF
      (``b + c == len(buf)``), with the one hole (``a..b``) left for the
      ``/Contents`` hex. False means bytes were appended after signing
      (incremental update — the signature may still verify over its
      range, but it no longer covers the document being read) or the
      range is malformed.
    - ``revisions`` — :func:`count_revisions` of the same buffer, so the
      consumer can tell "updated after signing" (revisions > 1, last
      signature ``whole_file`` False) from "malformed range".

    Unsigned fields (``/V`` absent) are skipped — an empty signature
    field is a placeholder, not a signature. The field-tree walk
    (``/Kids``, dotted names, visited set) is :func:`acro_fields`, shared
    with :func:`extract_form_fields`; a field counts when its ``/FT``,
    its own or inherited from a parent field (§12.7.4.1), is ``/Sig``.
    At most ``SIG_FIELD_CAP`` rows. Never raises.
    """
    out: list = []
    buf_len = len(resolver.buf)
    revisions = count_revisions(resolver.buf)

    def _text(v) -> Optional[str]:
        if isinstance(v, (bytes, bytearray)):
            return pdf_text_string(bytes(v))
        return None

    for name, node, ft, _ in acro_fields(resolver):
        if not (isinstance(ft, Name) and str(ft) == "Sig"):
            continue
        try:
            sig = resolver.resolve(node.get("V"))
        except Exception:
            continue
        if not isinstance(sig, dict):
            continue  # unsigned placeholder field
        subfilter = None
        signer = None
        sign_time = None
        reason = None
        whole_file = False
        try:
            sf = resolver.resolve(sig.get("SubFilter"))
            if isinstance(sf, Name):
                subfilter = str(sf)
            signer = _text(resolver.resolve(sig.get("Name")))
            reason = _text(resolver.resolve(sig.get("Reason")))
            m = resolver.resolve(sig.get("M"))
            if isinstance(m, (bytes, bytearray)):
                sign_time = parse_pdf_date(bytes(m))
        except Exception:
            pass
        try:
            br = resolver.resolve(sig.get("ByteRange"))
            if isinstance(br, list) and len(br) == 4:
                a0, a1, b0, b1 = (
                    resolver.resolve(x) for x in br
                )
                ints = [a0, a1, b0, b1]
                if all(isinstance(x, int) and x >= 0 for x in ints):
                    whole_file = (
                        a0 == 0
                        and a1 <= b0
                        and b0 + b1 == buf_len
                    )
        except Exception:
            pass
        out.append(
            (name or None, subfilter, signer, sign_time, reason,
             whole_file, revisions)
        )
        if len(out) >= SIG_FIELD_CAP:
            break
    return out


def active_content_audit(resolver) -> dict:
    """Active-content / attack-surface census (corpus safety tier).

    Crawled PDFs carry executable surfaces a training pipeline must
    census before ingestion (the PDF-malware triage checklist, all
    spec-defined): document ``/OpenAction`` (and its action type),
    doc-level JavaScript in the ``/Names /JavaScript`` name tree,
    additional-action (``/AA``) hooks on the catalog, and per-annotation
    actions — JavaScript / Launch / URI / SubmitForm (PDF 32000-1
    §12.6). Mirrors the qm49 SVG active-content audit one tier down the
    stack. Never raises; returns zeroed slots on unwalkable docs.
    ``risky`` = any JS, Launch, or SubmitForm surface present (URI link
    actions alone are ordinary hyperlinks, not flagged).
    """
    out = {
        "has_openaction": 0, "openaction_kind": None, "has_catalog_aa": 0,
        "n_doc_js": 0, "n_annot_js": 0, "n_launch": 0, "n_uri": 0,
        "n_submit": 0, "risky": 0,
    }

    def action_kind(act) -> str:
        act = resolver.resolve(act)
        if isinstance(act, list):
            return "dest_array"
        if not isinstance(act, dict):
            return "other"
        s = resolver.resolve(act.get("S"))
        return str(s) if s is not None else "other"

    try:
        cat = resolver.catalog()
    except Exception:
        return out
    try:
        oa = resolver.resolve(cat.get("OpenAction"))
        if oa is not None:
            out["has_openaction"] = 1
            out["openaction_kind"] = action_kind(oa)
        if resolver.resolve(cat.get("AA")) is not None:
            out["has_catalog_aa"] = 1
        names = resolver.resolve(cat.get("Names"))
        if isinstance(names, dict):
            js_tree = resolver.resolve(names.get("JavaScript"))
            if isinstance(js_tree, dict):
                kids = resolver.resolve(js_tree.get("Names"))
                if isinstance(kids, list):
                    out["n_doc_js"] = len(kids) // 2
    except Exception:
        pass
    try:
        for page in resolver.iter_pages():
            annots = resolver.resolve(page.get("Annots"))
            if not isinstance(annots, list):
                continue
            for a in annots[:256]:
                a = resolver.resolve(a)
                if not isinstance(a, dict):
                    continue
                kind = action_kind(a.get("A")) if a.get("A") is not None \
                    else None
                if kind == "JavaScript":
                    out["n_annot_js"] += 1
                elif kind == "Launch":
                    out["n_launch"] += 1
                elif kind == "URI":
                    out["n_uri"] += 1
                elif kind == "SubmitForm":
                    out["n_submit"] += 1
                if resolver.resolve(a.get("AA")) is not None:
                    out["risky"] = 1  # AA hooks: risky, not type-counted
    except Exception:
        pass
    if (out["n_doc_js"] or out["n_annot_js"] or out["n_launch"]
            or out["n_submit"]
            or out["openaction_kind"] == "JavaScript"
            or out["has_catalog_aa"]):
        out["risky"] = 1
    return out


def struct_census(resolver) -> dict:
    """Tagged-PDF structure census (§14.7-14.8): the accessibility and
    caption-mining surface. Counts structure elements by role family
    (paragraphs, headings H/H1-H6, Figures — with /Alt presence, the
    alt-text channel image-caption mining reads), plus element count
    and nesting depth. ``tagged`` reflects /MarkInfo /Marked; the tree
    is walked whenever /StructTreeRoot exists (many producers omit
    MarkInfo). Depth/size-capped like struct_mcid_order; never raises.
    """
    out = {
        "tagged": 0, "n_elems": 0, "n_para": 0, "n_headings": 0,
        "n_figures": 0, "n_fig_alt": 0, "max_depth": 0,
    }
    try:
        cat = resolver.catalog()
        mi = resolver.resolve(cat.get("MarkInfo"))
        if isinstance(mi, dict) and resolver.resolve(mi.get("Marked")) is True:
            out["tagged"] = 1
        root = resolver.resolve(cat.get("StructTreeRoot"))
        if not isinstance(root, dict):
            return out
    except Exception:
        return out

    seen = [0]

    def walk(node, depth: int) -> None:
        if depth > 64 or seen[0] > 65536:
            return
        try:
            node = resolver.resolve(node)
        except Exception:
            return
        if isinstance(node, list):
            for kid in node:
                walk(kid, depth)
            return
        if not isinstance(node, dict):
            return  # MCID ints / OBJR leaves: content, not elements
        role = node.get("S")
        if role is not None:
            seen[0] += 1
            out["n_elems"] += 1
            out["max_depth"] = max(out["max_depth"], depth)
            r = str(role)
            if r == "P":
                out["n_para"] += 1
            elif r == "H" or (len(r) == 2 and r[0] == "H" and r[1].isdigit()):
                out["n_headings"] += 1
            elif r == "Figure":
                out["n_figures"] += 1
                if node.get("Alt") is not None:
                    out["n_fig_alt"] += 1
        kids = node.get("K")
        if kids is not None:
            walk(kids, depth + 1)

    walk(root.get("K"), 1)
    return out
