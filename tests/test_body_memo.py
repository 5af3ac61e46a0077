"""The process-lifetime memo of settled object bodies, ``objects._BODY_MEMO``.

A hit must hand each document its own dicts and lists around shared
leaves, the memo must stay within its entry and length caps, and every
generator document (and seeded byte mutations of them) must extract the
same with the memo cleared before it as with a warm one.
"""

import copy
import gzip
import random
import tracemalloc

import pytest

from pdf_spark.core import objects
from pdf_spark.core.document import Resolver
from pdf_spark.core.extract import assemble_text, extract_document
from pdf_spark.core.objects import Name, Ref, parse_direct_at
from pdf_spark.gen.pdfgen import F_HELV, N_BAD_VARIANTS, N_VARIANTS, PdfBuilder, generate_doc

# the most one entry may take: a _BODY_LEN_MAX-byte ``[[][]…]`` body, an
# empty list and its slot per two bytes, with its key and tuple
ENTRY_BYTES_MAX = 18 * 1024


@pytest.fixture(autouse=True)
def cold_memo():
    objects._BODY_MEMO.clear()
    yield
    objects._BODY_MEMO.clear()


def one_page_pdf(text: bytes) -> bytes:
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    cont = b.stream(b"BT /F1 12 Tf 72 700 Td (" + text + b") Tj ET")
    return b.build(b.page_tree(font, cont))


def trailer(pdf: bytes) -> dict:
    start = pdf.rindex(b"trailer") + len(b"trailer")
    return parse_direct_at(pdf, start, pdf.find(b"startxref", start))


def test_mutating_one_documents_objects_leaves_the_next_intact():
    # the first sight of a body keeps no value, the second keeps one, the
    # third is a hit: what each hands out is the caller's own
    docs = [one_page_pdf(b"first"), one_page_pdf(b"second one"), one_page_pdf(b"third")]
    page_want = trailer_want = None
    pages = []
    for doc in docs:
        page = Resolver(doc).resolve_ref(Ref(3, 0))
        tr = trailer(doc)
        if page_want is None:
            page_want, trailer_want = copy.deepcopy(page), copy.deepcopy(tr)
        assert page == page_want and tr == trailer_want
        assert all(page["MediaBox"] is not p["MediaBox"] for p in pages)
        assert all(page["Resources"]["Font"] is not p["Resources"]["Font"] for p in pages)
        pages.append(page)
        page["MediaBox"].append(1)
        page["Resources"]["Font"].clear()
        page["Type"] = Name("Pages")
        del page["Parent"]
        tr["Root"] = Ref(9, 0)
    kept = objects._BODY_MEMO[b"\n<</Type/Page/Parent 2 0 R/MediaBox[0 0 612 792]"
                              b"/Resources<</Font<</F1 4 0 R>>>>/Contents 5 0 R>>\n"]
    assert kept[0] == page_want


def test_byte_identical_ocgs_stay_distinct_objects():
    # two OCGs with the same body bytes; only the second is /OFF, so only
    # its text is hidden (hidden_ocgs is keyed on the resolved dict's id)
    b = PdfBuilder.one_page()
    font = b.add(F_HELV)
    g1 = b.add(b"<</Type/OCG/Name(L)>>")
    g2 = b.add(b"<</Type/OCG/Name(L)>>")
    cont = b.stream(
        b"/OC /P1 BDC BT /F1 12 Tf 1 0 0 1 72 700 Tm (shown) Tj ET EMC\n"
        b"/OC /P2 BDC BT /F1 12 Tf 1 0 0 1 72 680 Tm (hidden) Tj ET EMC"
    )
    pdf = b.build(b.page_tree(
        font, cont,
        resources=b"/Properties<</P1 %d 0 R/P2 %d 0 R>>" % (g1, g2),
        catalog=b"/OCProperties<</OCGs[%d 0 R %d 0 R]/D<</OFF[%d 0 R]>>>>" % (g1, g2, g2),
    ))
    for _ in range(2):  # a cold memo, then a warm one
        r = extract_document(pdf)
        assert (r.status, assemble_text(r.spans)) == ("ok", "shown")


def test_caps_hold_after_overfilling():
    for i in range(2 * objects._BODY_MEMO_MAX + 5):
        body = b"<</N %d>>" % i
        for _ in range(3):  # a marker, then a kept value, then a hit
            assert objects._scan(body, 0, len(body)) == {"N": i}
        assert 0 < len(objects._BODY_MEMO) <= objects._BODY_MEMO_MAX
    long = b"[" + b"1 " * objects._BODY_LEN_MAX + b"]"
    for _ in range(2):
        assert objects._scan(long, 0, len(long)) == [1] * objects._BODY_LEN_MAX
    assert long not in objects._BODY_MEMO
    assert max(map(len, objects._BODY_MEMO)) <= objects._BODY_LEN_MAX


def test_entry_bytes_bound_holds_for_the_costliest_body():
    n = 256
    bodies = []
    for i in range(n):
        tag = b"/k%05d" % i
        bodies.append(b"[" + tag + b"[]" * ((objects._BODY_LEN_MAX - len(tag) - 2) // 2) + b"]")
    assert max(map(len, bodies)) <= objects._BODY_LEN_MAX
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        for body in bodies:
            objects._scan(body, 0, len(body))
            objects._scan(body, 0, len(body))  # the second sight keeps it
        grown = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
    assert sum(v is not objects._SEEN for v in objects._BODY_MEMO.values()) == n
    assert grown / n <= ENTRY_BYTES_MAX


def mutate(rng: random.Random, pdf: bytes) -> bytes:
    buf = bytearray(pdf)
    for _ in range(rng.randint(1, 3)):
        p, op = rng.randrange(len(buf)), rng.random()
        if op < 0.5:
            buf[p] = rng.randrange(256)
        elif op < 0.75:
            del buf[p:p + rng.randint(1, 8)]
        else:
            buf[p:p] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 8)))
    return bytes(buf)


def outcome(pdf: bytes) -> tuple:
    r = extract_document(pdf)
    return r.status, r.error_code, assemble_text(r.spans) if r.ok else None


def test_cold_and_warm_memo_extract_the_same(monkeypatch):
    texts = ["Hello world", "paren ( backslash \\ percent % close )", "lorem ipsum " * 40]
    docs, names = [], set()
    for text in texts:
        for v in range(N_VARIANTS + N_BAD_VARIANTS):
            pdf, _, name, _ = generate_doc(text, v)
            docs.append(pdf)
            names.add(name)
    assert {"encrypted_rc4", "encrypted_aes256", "objstm", "xref_stream",
            "recovered_xref"} <= names
    rng = random.Random(19)
    pdfs = [d for d in docs if d[:5] == b"%PDF-"]
    docs += [mutate(rng, rng.choice(pdfs)) for _ in range(1500)]
    docs += [gzip.compress(mutate(rng, rng.choice(pdfs))) for _ in range(100)]

    settles = [0]
    settle = objects._settle

    def counted(*args):
        settles[0] += 1
        return settle(*args)

    monkeypatch.setattr(objects, "_settle", counted)
    cold = []
    for pdf in docs:
        objects._BODY_MEMO.clear()
        cold.append(outcome(pdf))
    cold_settles, warm_settles, warm = settles[0], 0, []
    for pdf in docs:
        # after two extractions the memo holds this document's bodies,
        # beside those of the documents before it
        outcome(pdf)
        outcome(pdf)
        n = settles[0]
        warm.append(outcome(pdf))
        warm_settles += settles[0] - n
    assert warm_settles < 0.01 * cold_settles
    assert sum(o[0] == "ok" for o in cold) > 400
    assert len({o[1] for o in cold}) >= 10  # error codes
    for pdf, c, w in zip(docs, cold, warm):
        assert w == c, pdf[:80]
