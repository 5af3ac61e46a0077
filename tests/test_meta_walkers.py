"""The shared structure walks of core/meta.py and the extractors on them:
``page_annots``, ``acro_fields``, ``page_images``, ``visit_once``, and
each extractor's own row cap (the walks carry none)."""

import pytest

from pdf_spark.core import meta, pdfimages
from pdf_spark.core.document import Resolver
from pdf_spark.core.objects import Ref
from pdf_spark.gen.pdfgen import F_HELV, PdfBuilder, _content_td_tj

N = 5  # rows each capped fixture produces uncapped


def _one_page(objects, **page_tree) -> bytes:
    """A one-page document: ``objects(b)`` adds the document's own objects
    and returns the ``page_tree`` keywords they need."""
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(_content_td_tj(["x"]))
    return b.build(b.page_tree(font, cont, **objects(b)))


def _outline_doc() -> bytes:
    def objects(b):
        items = [b.reserve() for _ in range(N)]
        for k, i in enumerate(items):
            nxt = b"/Next %d 0 R" % items[k + 1] if k + 1 < N else b""
            b.set(i, b"<</Title(item %d)%s>>" % (k, nxt))
        outlines = b.add(b"<</Type/Outlines/First %d 0 R>>" % items[0])
        return {"catalog": b"/Outlines %d 0 R" % outlines}

    return _one_page(objects)


def _fields_doc(field) -> bytes:
    def objects(b):
        ids = [b.add(field(b, k)) for k in range(N)]
        fields = b" ".join(b"%d 0 R" % i for i in ids)
        return {"catalog": b"/AcroForm<</Fields[%s]>>" % fields}

    return _one_page(objects)


def _text_field(b, k):
    return b"<</FT/Tx/T(f%d)/V(v%d)>>" % (k, k)


def _sig_field(b, k):
    sig = b.add(b"<</Type/Sig/SubFilter/adbe.pkcs7.detached/Name(s%d)>>" % k)
    return b"<</FT/Sig/T(s%d)/V %d 0 R>>" % (k, sig)


_GRAY = b"/Subtype/Image/Width 2/Height 2/BitsPerComponent 8/ColorSpace/DeviceGray"


def _images_doc() -> bytes:
    def objects(b):
        ids = [b.stream(bytes([40 * k]) * 4, extra_dict=_GRAY) for k in range(N)]
        xo = b"".join(b"/Im%d %d 0 R" % (k, i) for k, i in enumerate(ids))
        return {"resources": b"/XObject<<%s>>" % xo}

    return _one_page(objects)


CAPPED = [
    ("OUTLINE_CAP", meta, meta.extract_pdf_outline, _outline_doc),
    ("FORM_FIELD_CAP", meta, meta.extract_form_fields, lambda: _fields_doc(_text_field)),
    ("SIG_FIELD_CAP", meta, meta.extract_signatures, lambda: _fields_doc(_sig_field)),
    ("IMAGE_CAP", meta, meta.extract_image_inventory, _images_doc),
    ("DECODE_CAP", pdfimages, pdfimages.extract_embedded_images, _images_doc),
]


@pytest.mark.parametrize("cap_name, module, extract, doc", CAPPED, ids=[c[0] for c in CAPPED])
@pytest.mark.parametrize("cap", [2, 3])
def test_cap_keeps_the_first_rows(monkeypatch, cap_name, module, extract, doc, cap):
    raw = doc()
    full = extract(Resolver(raw))
    assert len(full) == N
    monkeypatch.setattr(module, cap_name, cap)
    assert extract(Resolver(raw)) == full[:cap]


def test_signature_kid_cycle_emits_each_signature_once():
    # grp -> [s1, loop]; loop's /Kids point back at grp, and /Fields lists
    # grp twice: the walk ends and s1 is emitted once
    b = PdfBuilder()
    cat, pages, grp = b.reserve(), b.reserve(), b.reserve()
    sig = b.add(b"<</Type/Sig/SubFilter/adbe.pkcs7.detached>>")
    s1 = b.add(b"<</FT/Sig/T(s1)/V %d 0 R>>" % sig)
    loop = b.add(b"<</T(loop)/Kids[%d 0 R]>>" % grp)
    b.set(grp, b"<</T(grp)/Kids[%d 0 R %d 0 R]>>" % (s1, loop))
    b.set(cat, b"<</Type/Catalog/Pages %d 0 R/AcroForm<</Fields[%d 0 R %d 0 R]>>>>"
          % (pages, grp, grp))
    b.set(pages, b"<</Type/Pages/Kids[]/Count 0>>")
    rows = meta.extract_signatures(Resolver(b.build(cat)))
    assert [r[:2] for r in rows] == [("grp.s1", "adbe.pkcs7.detached")]


def test_form_xobject_listing_itself_terminates():
    def objects(b):
        img = b.stream(bytes([90]) * 4, extra_dict=_GRAY)
        form = b.reserve()
        b.set(form, b"<</Subtype/Form/BBox[0 0 1 1]/Resources<</XObject<<"
                    b"/Self %d 0 R/Im %d 0 R>>>>/Length 0>>\nstream\n\nendstream"
              % (form, img))
        return {"resources": b"/XObject<</Fm %d 0 R>>" % form}

    r = Resolver(_one_page(objects))
    assert meta.extract_image_inventory(r) == [(0, "Im", 2, 2, 8, None)]
    rows = pdfimages.extract_embedded_images(r)
    assert [(row[0], row[1], row[5], row[8]) for row in rows] == [(0, "Im", 90, None)]


def test_page_annots_order_and_skips():
    def objects(b):
        a1 = b.add(b"<</Subtype/Text/Contents(one)>>")
        a2 = b.add(b"<</Subtype/Text/Contents(two)>>")
        bad = b.add(b"(not a dict)")
        return {"annots": [a1, bad, a2, 999]}  # 999: dangling ref

    r = Resolver(_one_page(objects))
    got = [(p, a.get("Contents")) for p, a in meta.page_annots(r, meta._pages(r))]
    assert got == [(0, b"one"), (0, b"two")]
    assert list(meta.page_annots(r, [{"Annots": 7}, {}])) == []  # non-array /Annots


def test_acro_fields_names_and_inheritance():
    b = PdfBuilder()
    cat, pages = b.reserve(), b.reserve()
    widget = b.add(b"<</Subtype/Widget/Rect[0 0 1 1]>>")
    street = b.add(b"<</T(street)/V(Main St)/Kids[%d 0 R]>>" % widget)
    city = b.add(b"<</T(city)>>")
    addr = b.add(b"<</T(addr)/FT/Tx/V(Berlin)/Kids[%d 0 R %d 0 R]>>" % (street, city))
    b.set(cat, b"<</Type/Catalog/Pages %d 0 R/AcroForm<</Fields[%d 0 R]>>>>" % (pages, addr))
    b.set(pages, b"<</Type/Pages/Kids[]/Count 0>>")
    got = [(name, ft, v) for name, _, ft, v in meta.acro_fields(Resolver(b.build(cat)))]
    # the widget kid (no /T) is not a field: "addr.street" is terminal
    assert got == [("addr.street", "Tx", b"Main St"), ("addr.city", "Tx", b"Berlin")]


def test_visit_once_keys_refs_and_direct_objects():
    raw = _outline_doc()
    r = Resolver(raw)
    seen: set = set()
    direct = {"k": 1}
    assert meta.visit_once(r, seen, Ref(1, 0)) is not None  # the catalog
    assert meta.visit_once(r, seen, Ref(1, 0)) is None
    assert meta.visit_once(r, seen, direct) is direct
    assert meta.visit_once(r, seen, direct) is None
    assert meta.visit_once(r, seen, {"k": 1}) == {"k": 1}  # another object
    assert meta.visit_once(r, seen, Ref(999, 0)) is None  # dangling: no raise
    assert meta.visit_once(r, seen, 7) is None  # not a dict
