"""Font-file identification metadata: ``font_meta`` reads a font file's
``name``/``head``/``maxp`` tables, unwrapping WOFF 1.0 first (E188, qm38).

It is a read-only consumer of the sfnt byte helpers in ``core/sfnt.py``,
read by the query matrix and never by the fused extraction path.
"""

from __future__ import annotations

from pdf_spark.core.sfnt import _u16, _u32  # shared byte helpers

# --- Font-file metadata (name/head/maxp) + WOFF1 unwrap -----------------------
#
# Web fonts are a crawled asset class of their own (license auditing,
# subsetting pipelines, dedup by family). The metadata tier reads ONLY
# the identification tables: `name` (family/subfamily, preferring the
# Windows-Unicode (3,1) English record, Mac-Roman (1,0) fallback),
# `head` (unitsPerEm), `maxp` (numGlyphs) — glyph shapes stay out of
# scope. WOFF 1.0 (the dominant webfont wrapper; public W3C spec) is a
# 44-byte header + 20-byte directory entries whose tables are
# individually zlib-deflated when compLength < origLength; the reader
# unwraps just the three tables it needs, output-capped.


def _sfnt_tables(data: bytes) -> dict[bytes, bytes] | None:
    """sfnt table directory -> {tag: raw table bytes} (tolerant, capped)."""
    if len(data) < 12:
        return None
    flavor = data[:4]
    if flavor not in (b"\x00\x01\x00\x00", b"OTTO", b"true"):
        return None
    n = _u16(data, 4)
    out: dict[bytes, bytes] = {}
    for k in range(min(n, 64)):
        rec = 12 + 16 * k
        if rec + 16 > len(data):
            break
        tag = data[rec : rec + 4]
        off, length = _u32(data, rec + 8), _u32(data, rec + 12)
        if tag in (b"name", b"head", b"maxp") and off + length <= len(data):
            out[tag] = data[off : off + length]
    return out


def _woff_tables(data: bytes) -> tuple[dict[bytes, bytes], bytes] | None:
    """WOFF1 -> ({tag: raw table bytes}, inner sfnt flavor)."""
    import zlib

    if len(data) < 44 or data[:4] != b"wOFF":
        return None
    flavor = data[4:8]
    n = _u16(data, 12)
    out: dict[bytes, bytes] = {}
    for k in range(min(n, 64)):
        rec = 44 + 20 * k
        if rec + 20 > len(data):
            break
        tag = data[rec : rec + 4]
        if tag not in (b"name", b"head", b"maxp"):
            continue
        off = _u32(data, rec + 4)
        comp_len = _u32(data, rec + 8)
        orig_len = _u32(data, rec + 12)
        if off + comp_len > len(data) or orig_len > 1 << 20:
            continue
        raw = data[off : off + comp_len]
        if comp_len < orig_len:
            try:
                raw = zlib.decompress(raw, bufsize=orig_len)
            except zlib.error:
                continue
        out[tag] = raw
    return out, flavor


def _name_record(table: bytes, want_id: int) -> str | None:
    """Best `name` record for a nameID: (3,1) UTF-16BE first, then (1,0)."""
    if len(table) < 6:
        return None
    count = _u16(table, 2)
    str_off = _u16(table, 4)
    best: tuple[int, bytes, bool] | None = None  # (rank, raw, utf16)
    for k in range(min(count, 256)):
        rec = 6 + 12 * k
        if rec + 12 > len(table):
            break
        plat, enc, lang, nid = (
            _u16(table, rec),
            _u16(table, rec + 2),
            _u16(table, rec + 4),
            _u16(table, rec + 6),
        )
        if nid != want_id:
            continue
        length, off = _u16(table, rec + 8), _u16(table, rec + 10)
        raw = table[str_off + off : str_off + off + length]
        if len(raw) != length:
            continue
        if plat == 3 and enc in (1, 10):
            rank = 0 if lang == 0x409 else 1
            cand = (rank, raw, True)
        elif plat == 1 and enc == 0:
            cand = (2, raw, False)
        elif plat == 0:
            cand = (1, raw, True)
        else:
            continue
        if best is None or cand[0] < best[0]:
            best = cand
    if best is None:
        return None
    _, raw, utf16 = best
    return raw.decode("utf-16-be" if utf16 else "latin-1", "replace")


def font_meta(data: bytes) -> dict:
    """Font blob -> identification metadata (report-don't-raise)."""
    null = {
        "is_font": 0,
        "is_woff": None,
        "is_cff": None,
        "family": None,
        "subfamily": None,
        "n_glyphs": None,
        "units_per_em": None,
    }
    is_woff = 0
    if data[:4] == b"wOFF":
        unwrapped = _woff_tables(data)
        if unwrapped is None:
            return null
        tables, flavor = unwrapped
        is_woff = 1
    else:
        maybe = _sfnt_tables(data)
        if maybe is None:
            return null
        tables, flavor = maybe, data[:4]
    name = tables.get(b"name", b"")
    head = tables.get(b"head", b"")
    maxp = tables.get(b"maxp", b"")
    return {
        "is_font": 1,
        "is_woff": is_woff,
        "is_cff": int(flavor == b"OTTO"),
        "family": _name_record(name, 1),
        "subfamily": _name_record(name, 2),
        "n_glyphs": _u16(maxp, 4) if len(maxp) >= 6 else None,
        "units_per_em": _u16(head, 18) if len(head) >= 20 else None,
    }


# --- TrueType Collections (ttcf) ---------------------------------------------


def ttc_audit(data: bytes) -> dict:
    """TrueType Collection header audit (the ``ttcf`` container, public
    OpenType spec §font-collections) — CJK system fonts and variable-
    font families ship as collections, and a font-asset miner must
    know (a) how many faces, (b) whether the face offsets are sane,
    and (c) how much the faces SHARE (collections exist to dedup
    glyph tables across faces; a "collection" of fully-disjoint fonts
    is a repack, not a family). Header: 'ttcf', major.minor version,
    numFonts, then numFonts u32 offsets, each pointing at a complete
    sfnt offset table inside the blob. Per face the sfnt table
    directory is enumerated (16-byte entries: tag/checksum/offset/
    length) and table-record (offset, length) pairs are pooled;
    ``shared_permille`` = 1000 * (pooled - distinct) / pooled.
    Returns::

        {is_ttc, version_major, n_fonts, n_valid_faces,
         n_table_records, shared_permille, truncated}
    """
    none = {
        "is_ttc": 0, "version_major": None, "n_fonts": None,
        "n_valid_faces": None, "n_table_records": None,
        "shared_permille": None, "truncated": None,
    }
    if len(data) < 12 or data[:4] != b"ttcf":
        return none
    major = _u16(data, 4)
    n_fonts = _u32(data, 8)
    if n_fonts > 0xFFFF:  # header garbage, not a plausible collection
        return {**none, "is_ttc": 1, "version_major": major,
                "n_fonts": None, "truncated": 1}
    truncated = 0
    records = []
    n_valid = 0
    for i in range(n_fonts):
        off_pos = 12 + 4 * i
        if off_pos + 4 > len(data):
            truncated = 1
            break
        face_off = _u32(data, off_pos)
        if face_off + 12 > len(data):
            truncated = 1
            continue
        n_tables = _u16(data, face_off + 4)
        dir_end = face_off + 12 + 16 * n_tables
        if dir_end > len(data):
            truncated = 1
            continue
        ok = True
        face_records = []
        for t in range(n_tables):
            base = face_off + 12 + 16 * t
            t_off = _u32(data, base + 8)
            t_len = _u32(data, base + 12)
            if t_off + t_len > len(data):
                ok = False
                break
            face_records.append((t_off, t_len))
        if ok:
            n_valid += 1
            records.extend(face_records)
    pooled = len(records)
    distinct = len(set(records))
    return {
        "is_ttc": 1,
        "version_major": major,
        "n_fonts": n_fonts,
        "n_valid_faces": n_valid,
        "n_table_records": pooled,
        "shared_permille": (
            (1000 * (pooled - distinct)) // pooled if pooled else 0
        ),
        "truncated": truncated,
    }


def encode_ttc(faces: list[list[tuple[bytes, bytes]]]) -> bytes:
    """Assemble a TTC whose faces' identical-content tables are POOLED
    (the collection's whole point) — the fixture writer ``ttc_audit``
    is certified against. ``faces`` is a list of per-face
    (tag, payload) lists; payload identity (by value) dedups."""
    import struct as _struct

    n = len(faces)
    header_len = 12 + 4 * n
    dir_lens = [12 + 16 * len(f) for f in faces]
    blob_pool: dict[bytes, int] = {}
    blobs = bytearray()
    blob_base = header_len + sum(dir_lens)
    face_offsets = []
    dirs = []
    pos = header_len
    for face in faces:
        face_offsets.append(pos)
        entries = bytearray()
        for tag, payload in face:
            if payload not in blob_pool:
                blob_pool[payload] = blob_base + len(blobs)
                blobs += payload
                while len(blobs) % 4:
                    blobs.append(0)
            entries += _struct.pack(
                ">4sIII", tag.ljust(4)[:4], 0,
                blob_pool[payload], len(payload),
            )
        dirs.append(
            _struct.pack(">IHHHH", 0x00010000, len(face), 0, 0, 0)
            + bytes(entries)
        )
        pos += 12 + 16 * len(face)
    out = bytearray(b"ttcf" + _struct.pack(">HHI", 1, 0, n))
    for off in face_offsets:
        out += _struct.pack(">I", off)
    for d in dirs:
        out += d
    out += blobs
    return bytes(out)
