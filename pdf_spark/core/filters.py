"""Stream filter chain: ASCIIHexDecode + FlateDecode.

Mirrors ``/root/reference/libs/pdf/src/stream/filters.c:11-72`` — the filter
chain is applied left-to-right over the ``Filter`` name-or-array; the
reference implements exactly ASCIIHexDecode (ascii.c:27-76) and FlateDecode
(a from-scratch RFC1950/1951 inflate, libs/codec/src/deflate.c). We use the
CPython ``zlib`` C module — same RFCs, identical output bytes by
construction. LZWDecode (named in scope by the north star, panicking in the
reference at filters.c:54) is implemented per PDF 32000-1 §7.4.4 with
EarlyChange. Anything else (DCTDecode, …) raises UNSUPPORTED_FILTER (the
reference panic class; we record the error-code row instead).

EXTENSION beyond the reference: PNG predictors (DecodeParms /Predictor >= 10)
are implemented — common in real-world Common-Crawl PDFs, absent from the
parity corpus. ``png_unfilter`` is the one PNG row un-filter; the image
tier's PNG decoder uses it too.
"""

from __future__ import annotations

import zlib
from typing import Optional

from pdf_spark.core.errors import (
    FILTER_ERROR,
    UNSUPPORTED_FILTER,
    PdfError,
)

WHITESPACE = b"\x00\t\n\x0c\r "


def ascii_hex_decode(data: bytes) -> bytes:
    """Whitespace-tolerant hex pairs until ``>`` (EOD); odd trailing digit is
    the high nibble (ascii.c:27-76)."""
    from pdf_spark.core.objects import hex_body_to_bytes

    end = data.find(b">")
    body = data[:end] if end >= 0 else data
    try:
        return hex_body_to_bytes(body)
    except (ValueError, UnicodeDecodeError) as exc:
        raise PdfError(FILTER_ERROR, f"ASCIIHexDecode: {exc}") from None


def flate_decode(data: bytes) -> bytes:
    """RFC1950 zlib stream (deflate.c:23-549 reimplements this; we call the C
    zlib module). Tolerates a truncated Adler-32 trailer via decompressobj."""
    try:
        return zlib.decompress(data)
    except zlib.error:
        try:
            d = zlib.decompressobj()
            out = d.decompress(data)
            out += d.flush()
            return out
        except zlib.error as exc:
            raise PdfError(FILTER_ERROR, f"FlateDecode: {exc}") from None


def ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (PDF 32000-1 §7.4.3): 5 chars ``!``..``u`` -> 4 bytes
    base-85 big-endian; ``z`` is shorthand for 4 zero bytes (only between
    groups); whitespace ignored; ``~>`` is EOD. A partial final group of n
    chars (2..4) is padded with ``u`` and yields n-1 bytes.

    EXTENSION beyond the reference (panics on any filter beyond
    ASCIIHex/Flate, filters.c:54): A85 appears in real-world text content
    streams, so it decodes here per spec.
    """
    out = bytearray()
    group = []
    end = data.find(b"~>")
    body = data[:end] if end >= 0 else data
    if body.startswith(b"<~"):  # btoa-style leader some writers emit
        body = body[2:]
    for ch in body:
        if ch in WHITESPACE:
            continue
        if ch == 0x7A:  # 'z'
            if group:
                raise PdfError(FILTER_ERROR, "ASCII85: z inside group")
            out += b"\x00\x00\x00\x00"
            continue
        if not (0x21 <= ch <= 0x75):  # '!'..'u'
            raise PdfError(FILTER_ERROR, f"ASCII85: bad char {ch:#x}")
        group.append(ch - 0x21)
        if len(group) == 5:
            v = 0
            for d in group:
                v = v * 85 + d
            if v > 0xFFFFFFFF:
                raise PdfError(FILTER_ERROR, "ASCII85: group overflow")
            out += v.to_bytes(4, "big")
            group.clear()
    if group:
        if len(group) == 1:
            raise PdfError(FILTER_ERROR, "ASCII85: lone trailing char")
        n = len(group)
        v = 0
        for d in group + [84] * (5 - n):  # pad with 'u'
            v = v * 85 + d
        out += v.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def ascii85_encode(data: bytes) -> bytes:
    """Encode side of :func:`ascii85_decode` (corpus generator + tests)."""
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i : i + 4]
        n = len(chunk)
        v = int.from_bytes(chunk + b"\x00" * (4 - n), "big")
        if v == 0 and n == 4:
            out.append(0x7A)  # 'z'
            continue
        digits = []
        for _ in range(5):
            digits.append(v % 85)
            v //= 85
        out += bytes(0x21 + d for d in reversed(digits))[: n + 1]
    return bytes(out) + b"~>"


def run_length_decode(data: bytes) -> bytes:
    """RunLengthDecode (PDF 32000-1 §7.4.5): length byte L -> L<128 copies
    the next L+1 bytes literally; L>128 repeats the next byte 257-L times;
    L==128 is EOD. Truncated input past the last complete run is an error.
    """
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        L = data[i]
        i += 1
        if L == 128:
            return bytes(out)
        if L < 128:
            if i + L + 1 > n:
                raise PdfError(FILTER_ERROR, "RunLength: truncated literal run")
            out += data[i : i + L + 1]
            i += L + 1
        else:
            if i >= n:
                raise PdfError(FILTER_ERROR, "RunLength: truncated repeat run")
            out += data[i : i + 1] * (257 - L)
            i += 1
    return bytes(out)  # EOD omitted by some writers: tolerate EOF


def run_length_encode(data: bytes) -> bytes:
    """Encode side of :func:`run_length_decode`: repeats of >=3 become
    repeat runs; everything else literal runs of <=128 bytes."""
    out = bytearray()
    i, n = 0, len(data)
    lit_start = i
    while i < n:
        j = i
        while j < n and data[j] == data[i] and j - i < 128:
            j += 1
        if j - i >= 3:
            if lit_start < i:
                for k in range(lit_start, i, 128):
                    chunk = data[k : min(k + 128, i)]
                    out.append(len(chunk) - 1)
                    out += chunk
            out.append(257 - (j - i))
            out.append(data[i])
            i = j
            lit_start = i
        else:
            i = j
    if lit_start < n:
        for k in range(lit_start, n, 128):
            chunk = data[k : min(k + 128, n)]
            out.append(len(chunk) - 1)
            out += chunk
    out.append(128)
    return bytes(out)


def lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """PDF LZWDecode (PDF 32000-1 §7.4.4): TIFF-style LZW, MSB-first codes,
    9→12 bit widths, Clear=256, EOD=257, EarlyChange default 1.

    EXTENSION beyond the reference: /root/reference panics on LZWDecode
    (filters.c:54 LOG_TODO); the north star names LZW as in scope, so this
    is implemented per spec and exercised by its own generator variant.
    """
    out = bytearray()
    dic: dict[int, bytes] = {i: bytes([i]) for i in range(256)}
    code_bits = 9
    next_code = 258
    prev: Optional[bytes] = None
    bitbuf = 0
    nbits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= code_bits:
            nbits -= code_bits
            code = (bitbuf >> nbits) & ((1 << code_bits) - 1)
            if code == 256:  # ClearTable
                dic = {i: bytes([i]) for i in range(256)}
                code_bits = 9
                next_code = 258
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                entry = dic.get(code)
                if entry is None:
                    raise PdfError(FILTER_ERROR, f"LZWDecode: bad first code {code}")
            elif code in dic:
                entry = dic[code]
                if next_code < 4096:  # entries past 12-bit max are unreferencable
                    dic[next_code] = prev + entry[:1]
                next_code += 1
            elif code == next_code:  # KwKwK case
                entry = prev + prev[:1]
                if next_code < 4096:
                    dic[next_code] = entry
                next_code += 1
            else:
                raise PdfError(FILTER_ERROR, f"LZWDecode: bad code {code}")
            out += entry
            prev = entry
            if next_code >= (1 << code_bits) - early_change and code_bits < 12:
                code_bits += 1
    return bytes(out)


def lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """LZW encoder matching ``lzw_decode`` (used by the corpus generator
    and tests; emits Clear at start and before table overflow)."""
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int, bits: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << bits) | code
        nbits += bits
        while nbits >= 8:
            nbits -= 8
            out.append((bitbuf >> nbits) & 0xFF)

    dic: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    code_bits = 9
    next_code = 258
    emit(256, code_bits)
    w = b""
    for i in range(len(data)):
        ch = data[i : i + 1]
        wc = w + ch
        if wc in dic:
            w = wc
            continue
        emit(dic[w], code_bits)
        dic[wc] = next_code
        next_code += 1
        # the decoder's table add lags the encoder's by one step, so the
        # encoder widens one entry later than the decoder's
        # ``next >= 2^b - early`` rule to keep code widths in lockstep
        if next_code + early_change - 1 >= (1 << code_bits) and code_bits < 12:
            code_bits += 1
        if next_code >= 4093:  # reset before the 12-bit table fills
            emit(256, code_bits)
            dic = {bytes([i]): i for i in range(256)}
            code_bits = 9
            next_code = 258
        w = ch
    if w:
        emit(dic[w], code_bits)
    emit(257, code_bits)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa = abs(p - a)
    pb = abs(p - b)
    pc = abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_unfilter(raw: bytes, off: int, ph: int, stride: int,
                 bpp: int) -> bytearray:
    """Undo the five standard PNG row filters over ``ph`` rows of
    ``stride`` bytes each (one leading filter-type byte per row) starting
    at ``raw[off]``. ``bpp`` is the filter's byte distance to the left
    neighbor (whole bytes; sub-byte depths use 1 per spec). Raises
    ValueError on an unknown filter type."""
    out = bytearray(stride * ph)
    prev_start = -1
    for y in range(ph):
        src = off + (stride + 1) * y
        ftype = raw[src]
        row_src = src + 1
        dst = stride * y
        line = raw[row_src : row_src + stride]
        if ftype == 0:  # None
            out[dst : dst + stride] = line
        elif ftype == 1:  # Sub
            for i in range(stride):
                left = out[dst + i - bpp] if i >= bpp else 0
                out[dst + i] = (line[i] + left) & 0xFF
        elif ftype == 2:  # Up
            if prev_start < 0:
                out[dst : dst + stride] = line
            else:
                for i in range(stride):
                    out[dst + i] = (line[i] + out[prev_start + i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = out[dst + i - bpp] if i >= bpp else 0
                up = out[prev_start + i] if prev_start >= 0 else 0
                out[dst + i] = (line[i] + ((left + up) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = out[dst + i - bpp] if i >= bpp else 0
                up = out[prev_start + i] if prev_start >= 0 else 0
                ul = out[prev_start + i - bpp] if (prev_start >= 0 and i >= bpp) else 0
                out[dst + i] = (line[i] + paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"filter type {ftype}")
        prev_start = dst
    return out


def _apply_predictor(data: bytes, parms: Optional[dict]) -> bytes:
    if not parms:
        return data
    predictor = parms.get("Predictor", 1)
    if predictor in (None, 1):
        return data
    if predictor == 2:
        raise PdfError(UNSUPPORTED_FILTER, "TIFF predictor 2")
    colors = parms.get("Colors", 1) or 1
    bpc = parms.get("BitsPerComponent", 8) or 8
    columns = parms.get("Columns", 1) or 1
    rowlen = (columns * colors * bpc + 7) // 8
    if rowlen < 0:
        raise PdfError(FILTER_ERROR, f"PNG predictor row length {rowlen}")
    # whole rows only: a partial trailing row is dropped
    nrows = len(data) // (rowlen + 1)
    if nrows == 0:
        return data
    try:
        return bytes(
            png_unfilter(data, 0, nrows, rowlen, max(1, (colors * bpc) // 8))
        )
    except ValueError as exc:
        raise PdfError(FILTER_ERROR, f"bad PNG row {exc}") from None


def decode_stream(stream_dict: dict, raw: bytes, resolver=None) -> bytes:
    """Run the ``Filter`` chain left-to-right (filters.c:28-66).

    ``Filter`` may be a single name or an array (stream_dict.h:4-9);
    ``DecodeParms`` likewise a dict or parallel array.
    """

    def rz(v):
        from pdf_spark.core.objects import Ref

        if resolver is not None and isinstance(v, Ref):
            return resolver.resolve(v)
        return v

    filters = rz(stream_dict.get("Filter"))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = rz(stream_dict.get("DecodeParms") or stream_dict.get("DP"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    elif len(parms) < len(filters):
        # malformed-but-real: a short DecodeParms array must not silently
        # drop trailing filters via zip truncation
        parms = parms + [None] * (len(filters) - len(parms))
    data = raw
    for name, parm in zip(filters, parms):
        name = rz(name)
        parm = rz(parm)
        if name == "ASCIIHexDecode" or name == "AHx":
            data = ascii_hex_decode(data)
        elif name == "ASCII85Decode" or name == "A85":
            data = ascii85_decode(data)
        elif name == "RunLengthDecode" or name == "RL":
            data = run_length_decode(data)
        elif name == "FlateDecode" or name == "Fl":
            data = flate_decode(data)
            data = _apply_predictor(data, parm)
        elif name == "LZWDecode" or name == "LZW":
            ec = 1
            if isinstance(parm, dict):
                ec = parm.get("EarlyChange", 1)
                ec = 1 if ec is None else int(ec)
            data = lzw_decode(data, ec)
            data = _apply_predictor(data, parm)
        elif name == "CCITTFaxDecode" or name == "CCF":
            # ITU T.4/T.6 fax compression (§7.4.6) — the dominant
            # encoding of scanned PDFs; parameters per the PDF defaults
            from pdf_spark.core.ccitt import ccitt_decode

            p = parm if isinstance(parm, dict) else {}

            def gi(key, default):
                v = rz(p.get(key, default))
                return default if v is None else v

            data = ccitt_decode(
                data,
                columns=int(gi("Columns", 1728)),
                rows=int(gi("Rows", 0)),
                k=int(gi("K", 0)),
                black_is_1=bool(gi("BlackIs1", False)),
                byte_align=bool(gi("EncodedByteAlign", False)),
            )
        elif name == "Crypt":
            # §7.4.10: /Crypt names the crypt filter applied to THIS
            # stream. /Identity (also the default when no /Name is given)
            # means "not encrypted" — a pass-through; the resolver's
            # decrypt walk already exempts such streams. Named crypt
            # filters beyond Identity are unsupported.
            cf = rz(parm.get("Name")) if isinstance(parm, dict) else None
            if cf is None or str(cf) == "Identity":
                continue
            raise PdfError(UNSUPPORTED_FILTER, f"Crypt filter {cf!r}")
        else:
            raise PdfError(UNSUPPORTED_FILTER, str(name))
    return data
