"""Document structure: header, startxref, xref table, trailer chain,
reference resolver, catalog, and the page-tree iterator.

Reference semantics reimplemented (not copied):

- header ``%PDF-1.N``, N in [0,7]                      (pdf.c:278-297)
- startxref: backscan <=32 bytes from EOF for ``%%EOF``, then read the
  offset line above it after the ``startxref`` keyword  (pdf.c:304-341)
- classic xref table: ``xref`` keyword, subsection headers
  ``first_object num_entries``, fixed-width 20-byte entries
  ``%010d %05d [nf]``                                   (xref.c:74-130,144-228)
- trailer ``Prev`` chain of incremental updates; the NEWEST section wins for
  duplicate object ids (subsections searched in parse order, xref.c:230-291);
  full trailer (Size/Prev/Root/Info/ID) comes from the newest section
  (pdf.c:64-118,148-176)
- resolver: xref lookup -> seek -> parse. DIVERGENCE (strict improvement the
  reference's typed layer already makes, deserde.h:380): results are memoized
  per (id,gen) — the reference re-parses on every raw resolve (pdf.c:224-226).
- page tree: DFS over ``Pages/Kids`` with attribute inheritance
  (Resources/MediaBox/CropBox/Rotate parent->child, page.c:166-203), depth
  cap 1024 (page.c:288).
"""

from __future__ import annotations

import re
from bisect import bisect_right
from typing import Any, Iterator, Optional

from pdf_spark.core.errors import (
    INCORRECT_TYPE,
    INVALID_STARTXREF,
    INVALID_TRAILER,
    INVALID_VERSION,
    INVALID_XREF,
    MISSING_KEY,
    RECURSION_LIMIT,
    UNSUPPORTED_XREF,
    PdfError,
)
from pdf_spark.core.objects import (
    IndirectObject,
    Name,
    ObjectParser,
    Ref,
    Stream,
    parse_direct_at,
    parse_indirect_at,
)

_HEADER_RE = re.compile(rb"%PDF-1\.([0-7])")
_INT_RE = re.compile(rb"\d+")
_WS = b"\x00\t\n\x0c\r "
# classic xref 20-byte record `%010d %05d [nf]..` (trailing 2 EOL bytes
# deliberately unvalidated, matching the reference's per-field checks)
_XREF_REC_RE = re.compile(rb"(?s)(\d{10}) (\d{5}) ([nf])..")
_XREF_BLOCK_RE = re.compile(rb"(?s)(?:\d{10} \d{5} [nf]..)*")

PAGE_TREE_DEPTH_CAP = 1024  # page.c:288
EOF_BACKSCAN = 32  # pdf.c:310

# attributes inherited parent->child in the page tree (page.c:166-203)
INHERITABLE = ("Resources", "MediaBox", "CropBox", "Rotate")


def parse_header(buf: bytes) -> int:
    """Return the minor version; header must open the file (pdf.c:278-297)."""
    m = _HEADER_RE.match(buf)
    if not m:
        raise PdfError(INVALID_VERSION, "missing %PDF-1.[0-7] header")
    return int(m.group(1))


def parse_startxref(buf: bytes) -> int:
    """EOF backscan (<=32B) for ``%%EOF``; the two lines above it are
    ``startxref`` and the byte offset (pdf.c:304-341)."""
    tail_start = max(0, len(buf) - EOF_BACKSCAN - len(b"%%EOF"))
    idx = buf.rfind(b"%%EOF", tail_start)
    if idx < 0:
        raise PdfError(INVALID_STARTXREF, "%%EOF not found in tail")
    # scan backwards: whitespace, digits (offset), whitespace, 'startxref'
    p = idx
    while p > 0 and buf[p - 1] in _WS:
        p -= 1
    dig_end = p
    while p > 0 and 0x30 <= buf[p - 1] <= 0x39:
        p -= 1
    if p == dig_end:
        raise PdfError(INVALID_STARTXREF, "no offset digits before %%EOF")
    offset = int(buf[p:dig_end])
    while p > 0 and buf[p - 1] in _WS:
        p -= 1
    if not buf.endswith(b"startxref", 0, p):
        raise PdfError(INVALID_STARTXREF, "startxref keyword missing")
    if offset >= len(buf):
        raise PdfError(INVALID_STARTXREF, f"startxref offset {offset} past EOF")
    return offset


def parse_xref_section(buf: bytes, start: int) -> tuple[dict, dict, Optional[int]]:
    """Parse one classic xref section + its trailer dict.

    Returns ``(entries, trailer_dict, prev_offset)`` where ``entries`` maps
    ``obj_id -> ("n", offset, gen) | ("f", 0, gen)``. Entry records are the
    fixed-width 20-byte ``%010d %05d [nf]\\r\\n`` form; entry offset
    arithmetic is ``subsection_start + 20*i`` (xref.c:102). The reference
    parses entries lazily per lookup (xref.c:74-130); one doc fits memory
    inside a UDF, so we parse the (tiny) table eagerly with the same
    validation.
    """
    p = ObjectParser(buf, start)
    p.skip_ws()
    if not buf.startswith(b"xref", p.pos):
        raise PdfError(UNSUPPORTED_XREF, "no `xref` keyword at startxref offset")
    p.expect_keyword(b"xref")
    entries: dict[int, tuple[str, int, int]] = {}
    while True:
        p.skip_ws()
        if buf.startswith(b"trailer", p.pos):
            p.expect_keyword(b"trailer")
            break
        m1 = _INT_RE.match(buf, p.pos)
        if not m1:
            raise PdfError(INVALID_XREF, "expected subsection header")
        p.pos = m1.end()
        p.skip_ws()
        m2 = _INT_RE.match(buf, p.pos)
        if not m2:
            raise PdfError(INVALID_XREF, "subsection header missing count")
        p.pos = m2.end()
        first, count = int(m1.group()), int(m2.group())
        # skip the single EOL after the header, then fixed 20-byte records
        p.skip_ws()
        base = p.pos
        if base + 20 * count > len(buf):
            raise PdfError(INVALID_XREF, "xref entries past EOF")
        block = buf[base : base + 20 * count]
        # validate the whole record block in one C-level pass, then
        # extract aligned fields (fullmatch guarantees every 20-byte
        # stride matches, so findall cannot desynchronize)
        if _XREF_BLOCK_RE.fullmatch(block) is None:
            for i in range(count):  # find the offender for the error detail
                if _XREF_REC_RE.match(block, 20 * i) is None:
                    rec = block[20 * i : 20 * i + 20]
                    raise PdfError(INVALID_XREF, f"malformed entry {rec!r}")
        for i, (off_b, gen_b, ty) in enumerate(_XREF_REC_RE.findall(block)):
            oid = first + i
            if oid not in entries:  # first (newest-parsed) wins
                entries[oid] = (
                    "n" if ty == b"n" else "f",
                    int(off_b),
                    int(gen_b),
                )
        p.pos = base + 20 * count
    trailer = parse_direct_at(buf, p.pos, buf.find(b"startxref", p.pos))
    if not isinstance(trailer, dict):
        raise PdfError(INVALID_TRAILER, "trailer is not a dict")
    prev = trailer.get("Prev")
    if prev is not None and not isinstance(prev, int):
        raise PdfError(INVALID_TRAILER, "trailer /Prev must be an integer")
    return entries, trailer, prev


def parse_xref_stream(buf: bytes, start: int) -> tuple[dict, dict, Optional[int]]:
    """Parse a PDF 1.5+ cross-reference *stream* (PDF 32000-1 §7.5.8).

    EXTENSION beyond the reference (classic tables only, xref.c:144-228):
    most post-2005 PDFs use xref streams, so a Common-Crawl-scale engine
    needs them. The section is an indirect stream object ``/Type/XRef`` at
    the startxref offset; the trailer dict IS the stream dict (Size / Root
    / Prev / W / Index). Decoded rows are ``sum(W)`` bytes of big-endian
    fields ``(type, a, b)``; type 0 = free, 1 = (offset, gen), 2 = lives in
    object stream a at index b. A zero-width type field defaults to 1.

    Returns the same ``(entries, trailer, prev)`` shape as
    :func:`parse_xref_section`, with compressed entries as
    ``("s", objstm_num, idx)``.
    """
    stream = parse_indirect_at(buf, start)[0].value
    if not isinstance(stream, Stream):
        raise PdfError(INVALID_XREF, "startxref object is not a stream")
    d = stream.dict
    if d.get("Type") != Name("XRef"):
        raise PdfError(INVALID_XREF, "xref stream missing /Type/XRef")
    w = d.get("W")
    size = d.get("Size")
    if (
        not isinstance(w, list)
        or len(w) != 3
        or not all(isinstance(x, int) and 0 <= x <= 8 for x in w)
    ):
        raise PdfError(INVALID_XREF, "xref stream /W must be 3 small ints")
    if not isinstance(size, int) or size < 0:
        raise PdfError(INVALID_XREF, "xref stream /Size must be an integer")
    index = d.get("Index", [0, size])
    if (
        not isinstance(index, list)
        or len(index) % 2
        or not all(isinstance(x, int) and x >= 0 for x in index)
    ):
        raise PdfError(INVALID_XREF, "xref stream /Index malformed")
    data = stream.decoded()  # Flate + PNG predictors handled by the chain
    w1, w2, w3 = w
    rowlen = w1 + w2 + w3
    if rowlen == 0:
        raise PdfError(INVALID_XREF, "xref stream /W all zero")
    n_rows = sum(index[i + 1] for i in range(0, len(index), 2))
    if len(data) < n_rows * rowlen:
        raise PdfError(INVALID_XREF, "xref stream data shorter than /Index")

    def field(row: bytes, off: int, width: int, default: int) -> int:
        if width == 0:
            return default
        return int.from_bytes(row[off : off + width], "big")

    entries: dict[int, tuple[str, int, int]] = {}
    pos = 0
    for i in range(0, len(index), 2):
        first, count = index[i], index[i + 1]
        for k in range(count):
            row = data[pos : pos + rowlen]
            pos += rowlen
            ty = field(row, 0, w1, 1)  # absent type field defaults to 1
            a = field(row, w1, w2, 0)
            b = field(row, w1 + w2, w3, 0)
            oid = first + k
            if oid in entries:
                continue  # first (newest-parsed) wins, as for classic tables
            if ty == 0:
                entries[oid] = ("f", a, b)
            elif ty == 1:
                entries[oid] = ("n", a, b)
            elif ty == 2:
                entries[oid] = ("s", a, b)
            # unknown types are ignored per spec (treated as null refs)
    prev = d.get("Prev")
    if prev is not None and not isinstance(prev, int):
        raise PdfError(INVALID_TRAILER, "xref stream /Prev must be an integer")
    return entries, d, prev


def parse_xref_at(buf: bytes, start: int) -> tuple[dict, dict, Optional[int]]:
    """Dispatch on section form: ``xref`` keyword -> classic table,
    digit (an ``N G obj`` header) -> PDF 1.5 xref stream."""
    p = ObjectParser(buf, start)
    p.skip_ws()
    if buf.startswith(b"xref", p.pos):
        return parse_xref_section(buf, start)
    if p.pos < len(buf) and 0x30 <= buf[p.pos] <= 0x39:
        return parse_xref_stream(buf, p.pos)
    raise PdfError(UNSUPPORTED_XREF, "startxref points at neither table nor stream")


# `N G obj` header scan for xref reconstruction. The lookbehind rejects a
# match that is the numeric suffix of a longer token; gen is capped at 5
# digits like the classic-table field.
_OBJ_HEADER_RE = re.compile(rb"(?<![0-9])(\d{1,10})[\x00\t\n\x0c\r ]+(\d{1,5})[\x00\t\n\x0c\r ]+obj\b")


def _has_identity_crypt_filter(stream_dict: dict) -> bool:
    """True when the stream's /Filter chain names the /Crypt filter with
    /Identity (or no /Name — Identity is the default): such a stream's
    bytes are stored UNencrypted inside an encrypted document and must be
    exempted from the per-object decrypt (PDF 32000-1 §7.4.10). Only
    direct (non-ref) /Filter//DecodeParms values are inspected — the spec
    usage is direct, and decrypting an exempt stream is the only failure
    a missed indirect form could cause, which matches the pre-Crypt
    behavior."""
    filters = stream_dict.get("Filter")
    if filters is None:
        return False
    if not isinstance(filters, list):
        filters = [filters]
    parms = stream_dict.get("DecodeParms") or stream_dict.get("DP")
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    elif len(parms) < len(filters):
        # mirror decode_stream's padding: a short DecodeParms array must
        # not hide a trailing /Crypt entry from the exemption probe
        parms = parms + [None] * (len(filters) - len(parms))
    for name, parm in zip(filters, parms):
        if isinstance(name, Name) and str(name) == "Crypt":
            cf = parm.get("Name") if isinstance(parm, dict) else None
            return cf is None or (isinstance(cf, Name) and str(cf) == "Identity")
    return False


class Resolver:
    """Lazy indirect-object resolver over one in-memory document
    (pdf.c:64-118 pdf_resolver_new + pdf.c:206-273 resolution).

    EXTENSION beyond the reference (which errors out, xref.c:144-228):
    xref SCAVENGE recovery. When the startxref/xref structure is broken —
    the single most common real-corpus corruption (truncated tails,
    wrong offsets from naive concatenation/editing) — the table is rebuilt
    by scanning the buffer for ``N G obj`` headers (latest in file order
    wins, matching incremental-update semantics). Two trigger points:

    - construction: the chain walk fails -> scavenge, then VALIDATE the
      recovered document end-to-end (catalog, page tree, content streams
      decodable); if validation fails the ORIGINAL structural error is
      re-raised so corrupt docs keep their taxonomy.
    - resolution: an entry points at the wrong object (stale/shifted
      offsets with an intact walk) -> scavenge once and retry the ref.
    """

    __slots__ = (
        "buf", "version", "xref", "trailer", "_cache", "_objstm_cache",
        "_scavenged", "_decryptor", "_encrypt_oid", "_hidden_ocgs",
    )

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.version = parse_header(buf)
        self._hidden_ocgs = None
        self._cache: dict[tuple[int, int], Any] = {}
        self._objstm_cache: dict[int, tuple[bytes, list[tuple[int, int, int]]]] = {}
        self._scavenged = False
        self._decryptor = None
        self._encrypt_oid = -1
        try:
            self.xref, self.trailer = self._walk_xref_chain()
        except PdfError as exc:
            # any failure inside the walk is an xref-structure failure
            # (header parse happened above); try reconstruction
            try:
                self._scavenge()
                self._find_scavenged_trailer()
                self._setup_decryption()
                self._validate_recovered()
            except PdfError:
                raise exc from None
        else:
            self._setup_decryption()

    def _setup_decryption(self) -> None:
        """Trailer /Encrypt -> a verified empty-user-password decryptor
        (EXTENSION — the reference has no encryption support; PDF 32000-1
        §7.6 standard security handler). The Encrypt dict's own strings
        (/O /U /UE) and the /ID strings are never encrypted, so they are
        resolved before the decryptor is installed; a rejected password or
        unsupported scheme raises ENCRYPTED (error row)."""
        enc_obj = self.trailer.get("Encrypt")
        if enc_obj is None:
            return
        from pdf_spark.core.crypto import build_decryptor

        if isinstance(enc_obj, Ref):
            self._encrypt_oid = enc_obj.obj_id
        enc = self.resolve(enc_obj)
        if not isinstance(enc, dict):
            from pdf_spark.core.errors import ENCRYPTED

            raise PdfError(ENCRYPTED, "/Encrypt is not a dictionary")
        ids = self.resolve(self.trailer.get("ID"))
        id0 = b""
        if isinstance(ids, list) and ids:
            first = self.resolve(ids[0])
            if isinstance(first, bytes):
                id0 = first
        self._decryptor = build_decryptor(enc, id0, self)

    def _decrypt_value(self, value: Any, obj_id: int, gen: int) -> Any:
        """Recursively decrypt the string/stream payloads of one resolved
        object with its per-object key (Algorithm 1). Names/numbers are
        never encrypted; XRef streams are excluded by spec (§7.5.8.2) —
        and are parsed outside the resolver anyway."""
        if isinstance(value, bytes):
            return self._decryptor.decrypt(value, obj_id, gen)
        if isinstance(value, list):
            return [self._decrypt_value(v, obj_id, gen) for v in value]
        if isinstance(value, Stream):
            if value.dict.get("Type") == Name("XRef"):
                return value
            exempt = _has_identity_crypt_filter(value.dict)
            value.dict = self._decrypt_value(value.dict, obj_id, gen)
            if not exempt:  # §7.4.10 Identity crypt filter: raw is plaintext
                value.raw = self._decryptor.decrypt(value.raw, obj_id, gen)
            return value
        if isinstance(value, dict):
            return {
                k: self._decrypt_value(v, obj_id, gen) for k, v in value.items()
            }
        return value

    def _walk_xref_chain(self) -> tuple[dict, dict]:
        buf = self.buf
        start = parse_startxref(buf)
        # walk the Prev chain newest -> oldest; newest section wins on
        # duplicate ids (setdefault preserves first insertion). Sections may
        # be classic tables or PDF 1.5 xref streams; a hybrid-reference
        # classic trailer's /XRefStm is processed BEFORE its /Prev
        # (PDF 32000-1 §7.5.8.4), hence the LIFO worklist push order.
        xref: dict[int, tuple[str, int, int]] = {}
        trailer: Optional[dict] = None
        seen_offsets: set[int] = set()
        worklist: list[int] = [start]
        while worklist:
            off = worklist.pop()
            if off in seen_offsets:
                continue
            seen_offsets.add(off)
            entries, tdict, prev = parse_xref_at(buf, off)
            for oid, ent in entries.items():
                xref.setdefault(oid, ent)
            if trailer is None:
                trailer = tdict  # full trailer = newest section (pdf.c:163)
            if prev is not None:
                worklist.append(prev)
            xrefstm = tdict.get("XRefStm")
            if isinstance(xrefstm, int):
                worklist.append(xrefstm)  # pushed last -> popped before Prev
        assert trailer is not None
        return xref, trailer

    # -- xref scavenge recovery --

    def _scavenge(self) -> None:
        """Rebuild the xref from raw object headers. The LAST header for an
        object id wins — incremental updates append replacements, so later
        in file = newer (the inverse of the walk's newest-section-first
        setdefault). Caches are dropped: memoized objects may have been
        parsed from wrong offsets."""
        entries: dict[int, tuple[str, int, int]] = {}
        for m in _OBJ_HEADER_RE.finditer(self.buf):
            entries[int(m.group(1))] = ("n", m.start(1), int(m.group(2)))
        if not entries:
            raise PdfError(INVALID_XREF, "scavenge: no object headers found")
        self.xref = entries
        self._cache.clear()
        self._objstm_cache.clear()
        self._scavenged = True

    def _find_scavenged_trailer(self) -> None:
        """Newest parseable ``trailer`` dict carrying /Root; when the doc has
        none (xref-stream-only), locate the catalog object directly."""
        buf = self.buf
        pos = len(buf)
        while True:
            idx = buf.rfind(b"trailer", 0, pos)
            if idx < 0:
                break
            pos = idx
            try:
                t = parse_direct_at(
                    buf, idx + len(b"trailer"), buf.find(b"startxref", idx)
                )
            except PdfError:
                continue
            if isinstance(t, dict) and t.get("Root") is not None:
                self.trailer = t
                return
        for oid, (kind, off, gen) in sorted(
            self.xref.items(), key=lambda kv: -kv[1][1]
        ):
            if buf.find(b"/Catalog", off, off + 512) < 0:
                continue
            try:
                obj = self.resolve_ref(Ref(oid, gen))
            except PdfError:
                continue
            if isinstance(obj, dict) and obj.get("Type") == Name("Catalog"):
                self.trailer = {"Root": Ref(oid, gen), "Size": max(self.xref) + 1}
                return
        raise PdfError(INVALID_TRAILER, "scavenge: no trailer or catalog")

    def _validate_recovered(self) -> None:
        """A recovered document must WORK, not merely construct: walk the
        page tree and decode every content stream (both memoized, so the
        real extraction pass reuses the work). Any failure here sends the
        caller back to the original structural error."""
        n = 0
        for page in self.iter_pages():
            self.content_streams(page)
            n += 1
        if n == 0:
            raise PdfError(INVALID_TRAILER, "scavenge: page tree empty")

    # -- resolution (pdf.c:206-273) --

    def resolve_ref(self, ref: Ref) -> Any:
        try:
            return self._resolve_ref_inner(ref)
        except PdfError:
            if self._scavenged:
                raise
            # intact walk but stale/shifted offsets: rebuild once and retry
            self._scavenge()
            return self._resolve_ref_inner(ref)

    def _resolve_ref_inner(self, ref: Ref) -> Any:
        key = (ref.obj_id, ref.gen)
        if key in self._cache:
            return self._cache[key]
        ent = self.xref.get(ref.obj_id)
        if ent is None:
            raise PdfError(INVALID_XREF, f"object {ref.obj_id} not in xref")
        kind, a, b = ent
        if kind == "f":
            return None  # free entry resolves to null
        if kind == "s":
            # compressed object (PDF 32000-1 §7.5.7): lives at index b of
            # object stream a; such objects always have generation 0
            if ref.gen != 0:
                raise PdfError(
                    INVALID_XREF, f"compressed object {ref.obj_id} with gen != 0"
                )
            value = self._load_from_objstm(a, b, ref.obj_id)
            self._cache[key] = value
            return value
        offset, gen = a, b
        if gen != ref.gen:
            raise PdfError(INVALID_XREF, f"generation mismatch for {ref.obj_id}")
        ind = parse_indirect_at(self.buf, offset, self)[0]
        if ind.obj_id != ref.obj_id:
            raise PdfError(INVALID_XREF, f"xref offset points at {ind.obj_id}")
        value = ind.value
        if self._decryptor is not None and ref.obj_id != self._encrypt_oid:
            # objects INSIDE an ObjStm (kind "s") are not re-encrypted: the
            # container stream was decrypted when it resolved above
            value = self._decrypt_value(value, ref.obj_id, ref.gen)
        self._cache[key] = value
        return value

    def _load_from_objstm(self, stm_num: int, idx: int, want_id: int) -> Any:
        """Parse one object out of a ``/Type/ObjStm`` stream (§7.5.7).

        The decoded stream opens with N pairs ``objnum offset`` (offsets
        relative to /First); the index pairs are parsed once per stream and
        cached on the resolver, so a doc whose whole body is compressed
        costs one decode + one header parse total.
        """
        cached = self._objstm_cache.get(stm_num)
        if cached is None:
            stm = self.resolve_ref(Ref(stm_num, 0))
            if not isinstance(stm, Stream):
                raise PdfError(INVALID_XREF, f"object stream {stm_num} missing")
            d = stm.dict
            if d.get("Type") != Name("ObjStm"):
                raise PdfError(INVALID_XREF, f"object {stm_num} is not /Type/ObjStm")
            n = self.resolve(d.get("N"))
            first = self.resolve(d.get("First"))
            if not isinstance(n, int) or not isinstance(first, int):
                raise PdfError(INVALID_XREF, "ObjStm /N and /First must be ints")
            data = stm.decoded(self)
            hp = ObjectParser(data, 0)
            pairs: list[tuple[int, int]] = []
            for _ in range(n):
                onum = hp.parse_object()
                ooff = hp.parse_object()
                if not isinstance(onum, int) or not isinstance(ooff, int):
                    raise PdfError(INVALID_XREF, "ObjStm header pair not ints")
                pairs.append((onum, first + ooff))
            # each member's scan stops at the next member's offset (-1: the
            # offset is out of range, left to ObjectParser)
            offs = sorted({off for _, off in pairs}) + [len(data)]
            members = [
                (onum, off, -1 if not 0 <= off < len(data)
                 else offs[bisect_right(offs, off)])
                for onum, off in pairs
            ]
            cached = (data, members)
            self._objstm_cache[stm_num] = cached
        data, members = cached
        if not (0 <= idx < len(members)) or members[idx][0] != want_id:
            # tolerate writers whose xref index is stale: find by object id
            hits = [m for m in members if m[0] == want_id]
            if not hits:
                raise PdfError(
                    INVALID_XREF, f"object {want_id} not in ObjStm {stm_num}"
                )
            member = hits[0]
        else:
            member = members[idx]
        # objects inside an ObjStm are DIRECT (no `obj ... endobj` wrapper)
        return parse_direct_at(data, member[1], member[2], self)

    def resolve(self, obj: Any) -> Any:
        """Recursively unwrap Ref / IndirectObject (pdf_resolve_object).

        Bounded: a reference CYCLE (1 0 obj 2 0 R / 2 0 obj 1 0 R, or a
        self-reference) would otherwise spin forever on pure cache hits —
        no recursion, no exception, a permanently hung task. 64 hops is
        far beyond any legitimate indirection chain."""
        for _ in range(64):
            if isinstance(obj, Ref):
                obj = self.resolve_ref(obj)
            elif isinstance(obj, IndirectObject):
                obj = obj.value
            else:
                return obj
        raise PdfError(RECURSION_LIMIT, "indirect reference chain too deep/cyclic")

    # -- typed accessors --

    def get_dict(self, obj: Any, what: str) -> dict:
        v = self.resolve(obj)
        if isinstance(v, Stream):
            v = v.dict  # streams auto-unwrap to their dict (deserde.c:31-33)
        if not isinstance(v, dict):
            raise PdfError(INCORRECT_TYPE, f"{what}: expected dict")
        return v

    def catalog(self) -> dict:
        root = self.trailer.get("Root")
        if root is None:
            raise PdfError(MISSING_KEY, "trailer missing /Root")
        cat = self.get_dict(root, "catalog")
        if cat.get("Type") != Name("Catalog"):
            raise PdfError(INCORRECT_TYPE, "Root is not /Type/Catalog")
        return cat

    def hidden_ocgs(self) -> frozenset:
        """Identity set (``id()`` of the resolved OCG dict — stable, the
        resolver memoizes per (obj_id, gen)) of optional-content groups
        that are OFF in the document's DEFAULT configuration
        (``/OCProperties /D``, PDF 32000-1 §8.11.4.3): ``/BaseState``
        applies first (default ON; /OFF turns every /OCGs member off),
        then ``/ON`` re-enables, then ``/OFF`` disables. Malformed or
        absent optional-content data -> empty set (everything visible).

        EXTENSION — the reference's catalog deserde marks OCProperties
        unimplemented (``catalog.c:38``); the interpreter uses this set to
        drop watermark/alternate-layer text a viewer never shows."""
        if self._hidden_ocgs is not None:
            return self._hidden_ocgs
        hidden: set = set()
        try:
            ocp = self.resolve(self.catalog().get("OCProperties"))
            if isinstance(ocp, dict):
                d = self.resolve(ocp.get("D"))
                if isinstance(d, dict):
                    if self.resolve(d.get("BaseState")) == Name("OFF"):
                        groups = self.resolve(ocp.get("OCGs"))
                        if isinstance(groups, list):
                            for g in groups:
                                g = self.resolve(g)
                                if isinstance(g, dict):
                                    hidden.add(id(g))
                    on = self.resolve(d.get("ON"))
                    if isinstance(on, list):
                        for g in on:
                            g = self.resolve(g)
                            if isinstance(g, dict):
                                hidden.discard(id(g))
                    off = self.resolve(d.get("OFF"))
                    if isinstance(off, list):
                        for g in off:
                            g = self.resolve(g)
                            if isinstance(g, dict):
                                hidden.add(id(g))
        except PdfError:
            hidden = set()
        result = frozenset(hidden)
        self._hidden_ocgs = result
        return result

    def struct_mcid_order(self) -> dict:
        """Tagged-PDF reading order (§14.7-14.8): DFS over
        ``/StructTreeRoot``'s ``/K`` tree, collecting marked-content ids in
        logical order. Returns ``{id(resolved page dict): {mcid: rank}}``
        (same identity convention as :meth:`hidden_ocgs`), or ``{}`` when
        the document is not tagged (``/MarkInfo /Marked true`` required) or
        the tree is malformed. EXTENSION — the reference has no structure-
        tree support at all; §14.8 is the principled reading-order source
        for multi-column documents that carry it, stronger than the
        geometric gutter heuristic."""
        try:
            cat = self.catalog()
            mi = self.resolve(cat.get("MarkInfo"))
            if not (isinstance(mi, dict) and self.resolve(mi.get("Marked")) is True):
                return {}
            root = self.resolve(cat.get("StructTreeRoot"))
            if not isinstance(root, dict):
                return {}
        except PdfError:
            return {}
        out: dict = {}
        counters: dict = {}
        seen: set = set()

        def add(page_dict, mcid: int) -> None:
            if not isinstance(page_dict, dict) or not isinstance(mcid, int):
                return
            key = id(page_dict)
            ranks = out.setdefault(key, {})
            if mcid not in ranks:
                ranks[mcid] = counters.get(key, 0)
                counters[key] = ranks[mcid] + 1

        def walk(node, pg, depth: int) -> None:
            if depth > PAGE_TREE_DEPTH_CAP or len(seen) > 65536:
                return
            node = self.resolve(node)
            if isinstance(node, int):
                add(pg, node)
                return
            if isinstance(node, list):
                for kid in node:
                    walk(kid, pg, depth + 1)
                return
            if not isinstance(node, dict):
                return
            if id(node) in seen:
                return  # ref cycle
            seen.add(id(node))
            own_pg = node.get("Pg")
            if own_pg is not None:
                try:
                    pg = self.resolve(own_pg)
                except PdfError:
                    pass
            if node.get("Type") == Name("MCR"):
                mcid = self.resolve(node.get("MCID"))
                if isinstance(mcid, int):
                    add(pg, mcid)
                return
            if node.get("Type") == Name("OBJR"):
                return  # object references carry no text order
            k = node.get("K")
            if k is not None:
                walk(k, pg, depth + 1)

        try:
            walk(root.get("K"), None, 0)
        except PdfError:
            return {}
        return out

    def iter_pages(self) -> Iterator[dict]:
        """DFS over the page tree with attribute inheritance and a depth cap
        (page.c:221-293). Yields leaf page dicts with inherited attributes
        merged in (child's own value wins)."""
        cat = self.catalog()
        pages_ref = cat.get("Pages")
        if pages_ref is None:
            raise PdfError(MISSING_KEY, "catalog missing /Pages")
        root = self.get_dict(pages_ref, "pages root")
        # stack of (node, inherited, depth); children pushed reversed so the
        # leftmost kid pops first (document order)
        stack: list[tuple[dict, dict, int]] = [(root, {}, 0)]
        while stack:
            node, inherited, depth = stack.pop()
            if depth > PAGE_TREE_DEPTH_CAP:
                raise PdfError(RECURSION_LIMIT, "page tree deeper than 1024")
            merged = dict(inherited)
            for k in INHERITABLE:
                if k in node:
                    merged[k] = node[k]
            ntype = node.get("Type")
            if ntype == Name("Page"):
                page = dict(node)
                for k, v in merged.items():
                    page.setdefault(k, v)
                # identity of the RESOLVED page node (memoized by the
                # resolver, so the struct tree's /Pg resolves to the same
                # object): lets struct_mcid_order ranks match this page
                # even though the yielded dict is a merged copy. A plain
                # str key can never collide with PDF Name keys.
                page["_node_id"] = id(node)
                yield page
            elif ntype == Name("Pages"):
                kids = self.resolve(node.get("Kids"))
                if not isinstance(kids, list):
                    raise PdfError(INCORRECT_TYPE, "/Kids must be an array")
                for kid in reversed(kids):
                    stack.append((self.get_dict(kid, "page kid"), merged, depth + 1))
            else:
                raise PdfError(INCORRECT_TYPE, f"page node /Type {ntype!r}")

    def content_streams(self, page: dict) -> list[bytes]:
        """A page's ``Contents`` is one stream or an array of streams; each is
        decoded separately and executed sequentially (render.c:1175-1199)."""
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return []
        items = contents if isinstance(contents, list) else [contents]
        out = []
        for item in items:
            s = self.resolve(item)
            if not isinstance(s, Stream):
                raise PdfError(INCORRECT_TYPE, "Contents entry is not a stream")
            out.append(s.decoded(self))
        return out


def revision_audit(buf: bytes) -> Optional[dict]:
    """Incremental-update forensics: walk the xref chain and census it.

    Signed/annotated/edited real-world PDFs grow by appended revisions
    (PDF 32000-1 §7.5.6); provenance tooling reads the chain shape —
    how many sections, classic tables vs 1.5 xref streams, hybrid
    /XRefStm links, and how many object ids are SHADOWED (replaced by
    a newer section — the edit surface). Same worklist discipline as
    ``Document._walk_xref_chain`` (newest-first, cycle-guarded), but
    keeps per-section counts instead of merging entries.

    Returns None when the tail has no parseable startxref/xref chain.
    """
    try:
        start = parse_startxref(buf)
    except PdfError:
        return None
    n_sections = n_classic = n_streams = 0
    has_hybrid = 0
    seen_offsets: set[int] = set()
    id_sections: dict[int, int] = {}
    worklist = [start]
    try:
        while worklist:
            off = worklist.pop()
            if off in seen_offsets or len(seen_offsets) > 1024:
                continue
            seen_offsets.add(off)
            entries, tdict, prev = parse_xref_at(buf, off)
            n_sections += 1
            probe = buf[off:off + 8].lstrip()
            if probe.startswith(b"xref"):
                n_classic += 1
            else:
                n_streams += 1
            for oid in entries:
                id_sections[oid] = id_sections.get(oid, 0) + 1
            if prev is not None:
                worklist.append(prev)
            xrefstm = tdict.get("XRefStm")
            if isinstance(xrefstm, int):
                has_hybrid = 1
                worklist.append(xrefstm)
    except PdfError:
        return None
    return {
        "n_sections": n_sections,
        "n_classic": n_classic,
        "n_streams": n_streams,
        "has_hybrid": has_hybrid,
        "n_objects": len(id_sections),
        "n_shadowed": sum(1 for c in id_sections.values() if c > 1),
    }
