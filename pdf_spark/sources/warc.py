"""WARC (ISO 28500) source: Common-Crawl archives -> the pages table.

The north rule's corpus is "Common-Crawl-style web pages"; upstream of the
Iceberg/parquet table those live in WARC files — one gzip *member per
record* so readers can seek record boundaries without inflating the whole
archive. This module is the ingest edge:

- ``iter_warc_records(buf)``     pure parser, bytes -> WarcRecord iterator
- ``records_to_rows(...)``       response records -> (url, warc_ts, html)
- ``read_warc(spark, path)``     DataFrame source over ``binaryFile``
- ``write_warc(records)``        deterministic writer (tests/synthesis)

Scale shape: WARC gzip members are NOT splittable mid-file, so the unit of
parallelism is the archive file — exactly how Common Crawl is consumed in
practice (a crawl ships ~64-90k files of ~1 GiB; at 1000 executors that is
dozens of waves of embarrassingly-parallel file tasks, no shuffle).
``read_warc`` therefore maps one task per file via the ``binaryFile``
format and flattens records inside the task with zero per-record Python
overhead beyond the parse itself. Memory per task is bounded by
``max_record_bytes`` (oversized records are skipped, counted, never
buffered past the cap) plus one file's compressed bytes.

HTTP payload handling per RFC 9112: header/body split,
``Transfer-Encoding: chunked`` decode, then ``Content-Encoding: gzip``
unwrap (bounded, bomb-safe — shares the cap discipline of
``core.extract.gunzip_payload``). The reference engine has no container
format at all (it reads single files); this connector is net-new, spec-
driven (ISO 28500-1, RFC 9110-9112, RFC 1952).
"""

from __future__ import annotations

import gzip as _gzip
import io
import re
import zlib
from dataclasses import dataclass
from typing import Iterable, Iterator, Optional

_CRLF = b"\r\n"
_MAX_HEADER_BYTES = 64 * 1024  # WARC or HTTP header block cap
DEFAULT_MAX_RECORD = 64 * 1024 * 1024  # per-record payload cap (skew guard)


@dataclass
class WarcRecord:
    """One parsed WARC record (headers lowercased; body undecoded)."""

    rec_type: str
    target_uri: Optional[str]
    date: Optional[str]  # WARC-Date, ISO-8601 as written
    headers: dict
    body: bytes


# --- gzip member walking ------------------------------------------------------


def _iter_members(buf: bytes, max_out: int) -> Iterator[bytes]:
    """Yield each gzip member's decompressed bytes; a plain (non-gzip)
    buffer yields itself once. Bounded per member; a corrupt member ends
    the walk (everything before it is still returned) — truncated tail
    files are routine in crawl storage."""
    if buf[:2] != b"\x1f\x8b":
        yield buf
        return
    pos = 0
    n = len(buf)
    while pos < n and buf[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out = d.decompress(buf[pos:], max_out + 1)
            oversized = len(out) > max_out
            # an over-cap member is DRAINED (output discarded in bounded
            # chunks) so the members behind it still parse — one giant
            # record must not sink the whole archive
            while not d.eof and d.unconsumed_tail:
                chunk = d.decompress(d.unconsumed_tail, 1 << 20)
                oversized = True
                if not chunk and not d.eof:  # pragma: no cover - defensive
                    return
        except zlib.error:
            return
        if not d.eof:
            return  # truncated final member
        if not oversized:
            yield out
        consumed = n - pos - len(d.unused_data)
        if consumed <= 0:  # pragma: no cover - defensive
            return
        pos += consumed


# --- record parsing -----------------------------------------------------------

# NOTE: no '^' anchor — Pattern.match(s, pos) anchors at pos itself, but
# '^' would additionally require pos == 0 and break mid-buffer matching.
_VERSION_RE = re.compile(rb"WARC/\d+\.\d+\r?\n")


def _parse_header_block(buf: bytes, start: int) -> tuple[dict, int]:
    """name: value lines until a blank line; returns (headers, body_off)."""
    end = buf.find(b"\r\n\r\n", start, start + _MAX_HEADER_BYTES)
    sep = 4
    if end == -1:
        end = buf.find(b"\n\n", start, start + _MAX_HEADER_BYTES)
        sep = 2
    if end == -1:
        return {}, -1
    headers: dict = {}
    for line in buf[start:end].splitlines():
        if b":" not in line:
            continue
        k, v = line.split(b":", 1)
        headers.setdefault(
            k.strip().lower().decode("latin-1"),
            v.strip().decode("latin-1", "replace"),
        )
    return headers, end + sep


def _parse_record_at(chunk: bytes, pos: int) -> tuple[Optional[WarcRecord], int]:
    """Parse one record starting at ``pos``; returns (record, next_pos).
    Linear: no rest-of-chunk slices, so a million-record member stays
    O(total bytes)."""
    m = _VERSION_RE.match(chunk, pos)
    if m is None:
        return None, pos
    headers, body_off = _parse_header_block(chunk, m.end())
    if body_off < 0:
        return None, pos
    try:
        length = max(0, int(headers.get("content-length", "")))
    except ValueError:
        length = len(chunk) - body_off
    body = chunk[body_off : body_off + length]
    rec = WarcRecord(
        rec_type=headers.get("warc-type", ""),
        target_uri=headers.get("warc-target-uri"),
        date=headers.get("warc-date"),
        headers=headers,
        body=body,
    )
    nxt = body_off + length
    # skip the two record-terminating CRLFs (tolerant of LF-only)
    while nxt < len(chunk) and chunk[nxt : nxt + 1] in (b"\r", b"\n"):
        nxt += 1
    return rec, nxt


def iter_warc_records(
    buf: bytes, max_record_bytes: int = DEFAULT_MAX_RECORD
) -> Iterator[WarcRecord]:
    """All records of one WARC file (gzip-per-record, whole-file gzip, or
    uncompressed). Uncompressed/whole-file archives are walked by
    Content-Length from record to record."""
    for chunk in _iter_members(buf, max_record_bytes):
        pos = 0
        n = len(chunk)
        while pos < n:
            rec, nxt = _parse_record_at(chunk, pos)
            if rec is None:
                # resync: find the next record marker
                nxt = chunk.find(b"WARC/", pos + 1)
                if nxt == -1:
                    break
                pos = nxt
                continue
            yield rec
            pos = nxt


# --- HTTP response payload ----------------------------------------------------


def _dechunk(body: bytes) -> Optional[bytes]:
    """RFC 9112 §7.1 chunked transfer decoding; None on malformed."""
    out = bytearray()
    pos = 0
    n = len(body)
    while pos < n:
        eol = body.find(b"\r\n", pos, pos + 18)
        if eol == -1:
            return None
        try:
            size = int(body[pos:eol].split(b";", 1)[0], 16)
        except ValueError:
            return None
        if size == 0:
            return bytes(out)
        pos = eol + 2
        if pos + size > n:
            return None
        out += body[pos : pos + size]
        pos += size + 2  # chunk data CRLF
    return bytes(out)


def http_payload(
    body: bytes, max_bytes: int = DEFAULT_MAX_RECORD
) -> tuple[Optional[bytes], int, str]:
    """WARC response body (an HTTP/1.x message) -> (payload, status, mime).

    Applies chunked transfer decoding then gzip/deflate content decoding,
    both bounded. (None, 0, '') when the message is malformed."""
    from pdf_spark.core.extract import gunzip_payload

    if not body[:5] in (b"HTTP/", b"http/"):
        return None, 0, ""
    line_end = body.find(b"\n", 0, 256)
    if line_end == -1:
        return None, 0, ""
    headers, off = _parse_header_block(body, line_end + 1)
    if off < 0:
        return None, 0, ""
    try:
        status = int(body[:line_end].split(b" ", 2)[1][:3])
    except (IndexError, ValueError):
        status = 0
    payload: Optional[bytes] = body[off:]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        payload = _dechunk(payload)
    if payload is not None:
        enc = headers.get("content-encoding", "").lower()
        if enc == "gzip":
            payload = gunzip_payload(payload, max_bytes)
        elif enc == "deflate":
            try:
                payload = zlib.decompressobj().decompress(payload, max_bytes + 1)
                payload = payload if len(payload) <= max_bytes else None
            except zlib.error:
                payload = None
    mime = headers.get("content-type", "").split(";")[0].strip().lower()
    return payload, status, mime


# --- Spark source ---------------------------------------------------------------

_PAGES_FIELDS = ("url", "warc_ts", "html", "http_status", "mime")


def records_to_rows(
    buf: bytes, max_record_bytes: int = DEFAULT_MAX_RECORD
) -> Iterator[tuple]:
    """(url, warc_date, payload, status, mime) for every well-formed
    response record with a decodable payload."""
    for rec in iter_warc_records(buf, max_record_bytes):
        if rec.rec_type != "response" or not rec.target_uri:
            continue
        payload, status, mime = http_payload(rec.body, max_record_bytes)
        if payload is None:
            continue
        yield rec.target_uri, rec.date, payload, status, mime


def _raw_schema():
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("url", StringType()),
            StructField("warc_date", StringType()),
            StructField("html", BinaryType()),
            StructField("http_status", IntegerType()),
            StructField("mime", StringType()),
            StructField("input_file", StringType()),
        ]
    )


def _record_frames(batches, max_record_bytes: int):
    """``read_warc``'s flattening: binaryFile batches (``content``,
    ``input_file``) -> frames of the raw schema, at most ``BATCH_ROWS``
    records each, so a task holds one frame of an archive's decoded
    records at a time, never the whole archive's."""
    from itertools import islice

    import pandas as pd

    from pdf_spark.session import BATCH_ROWS

    columns = _raw_schema().fieldNames()
    for batch in batches:
        rows = (
            (*row, archive)
            for content, archive in zip(batch["content"], batch["input_file"])
            for row in records_to_rows(bytes(content), max_record_bytes)
        )
        while chunk := list(islice(rows, BATCH_ROWS)):
            yield pd.DataFrame(chunk, columns=columns)


def read_warc(spark, path: str, max_record_bytes: int = DEFAULT_MAX_RECORD):
    """WARC files -> DataFrame(url, warc_ts timestamp, html binary,
    http_status int, mime string, input_file string).

    ``input_file`` names each record's archive, for lineage and resume.

    One ``binaryFile`` row (= one archive) per task — gzip members are not
    splittable, so the file is the parallelism unit exactly as in real
    Common-Crawl consumption; record flattening happens task-side with no
    shuffle. Column pruning applies upstream (binaryFile reads only
    ``content``); everything downstream is the standard narrow pipeline."""
    from pyspark.sql import functions as F

    from pdf_spark.session import task_prologue

    def parse(batches):
        task_prologue()
        yield from _record_frames(batches, max_record_bytes)

    # the archive is named in the scan's own projection, row by row (above
    # the UDF, input_file_name() names the task's last archive), and spelt
    # as every other source's lineage spells a file
    files = spark.read.format("binaryFile").load(path).select(
        "content", F.input_file_name().alias("input_file")
    )
    out = files.mapInPandas(parse, _raw_schema())
    return out.select(
        "url",
        F.to_timestamp("warc_date").alias("warc_ts"),
        "html",
        "http_status",
        "mime",
        "input_file",
    )


# --- writer (tests / synthesis) -------------------------------------------------


def build_response_record(
    url: str,
    date: str,
    payload: bytes,
    status: int = 200,
    mime: str = "text/html",
    chunked: bool = False,
    content_gzip: bool = False,
) -> bytes:
    """One WARC/1.0 response record (uncompressed member)."""
    body_payload = payload
    http_headers = [
        f"HTTP/1.1 {status} OK".encode(),
        b"Content-Type: " + mime.encode(),
    ]
    if content_gzip:
        body_payload = _gzip.compress(body_payload, 6, mtime=0)
        http_headers.append(b"Content-Encoding: gzip")
    if chunked:
        http_headers.append(b"Transfer-Encoding: chunked")
        chunks = [body_payload[i : i + 1024] for i in range(0, len(body_payload), 1024)] or [b""]
        body_payload = b"".join(
            b"%x\r\n%s\r\n" % (len(c), c) for c in chunks if c
        ) + b"0\r\n\r\n"
    else:
        http_headers.append(b"Content-Length: " + str(len(body_payload)).encode())
    http = _CRLF.join(http_headers) + _CRLF * 2 + body_payload
    warc_headers = _CRLF.join(
        [
            b"WARC/1.0",
            b"WARC-Type: response",
            b"WARC-Target-URI: " + url.encode(),
            b"WARC-Date: " + date.encode(),
            b"Content-Type: application/http; msgtype=response",
            b"Content-Length: " + str(len(http)).encode(),
        ]
    )
    return warc_headers + _CRLF * 2 + http + _CRLF * 2


def write_warc(records: Iterable[bytes], gzip_per_record: bool = True) -> bytes:
    """Records -> archive bytes; per-record gzip members by default (the
    Common-Crawl layout), deterministic (mtime=0)."""
    out = io.BytesIO()
    for rec in records:
        out.write(_gzip.compress(rec, 6, mtime=0) if gzip_per_record else rec)
    return out.getvalue()


# --- WET output (the Common-Crawl extracted-text product) -----------------------


def build_conversion_record(url: str, date: str, text: str) -> bytes:
    """One WARC/1.0 ``conversion`` record (ISO 28500 §6.8) — the WET
    shape: extracted plain text standing in for the response it was
    derived from, ``Content-Type: text/plain``."""
    payload = text.encode("utf-8")
    warc_headers = _CRLF.join(
        [
            b"WARC/1.0",
            b"WARC-Type: conversion",
            b"WARC-Target-URI: " + url.encode(),
            b"WARC-Date: " + date.encode(),
            b"Content-Type: text/plain; charset=utf-8",
            b"Content-Length: " + str(len(payload)).encode(),
        ]
    )
    return warc_headers + _CRLF * 2 + payload + _CRLF * 2


def write_wet(docs_text, out_dir: str, date: str = "2026-01-01T00:00:00Z"):
    """Distributed WET sink: docs_text(url, text, ...) -> one
    gzip-per-record archive per partition under ``out_dir``.

    The shape that scales: rows are sorted within (never across)
    partitions for deterministic archives, each task streams its own
    member-gzip file, no shuffle, no driver data movement — the returned
    list of (path, n_records) is O(partitions). Local filesystem here;
    a cluster deployment swaps the ``open()`` for the object-store/HDFS
    client with the identical per-partition layout (how WET shards are
    actually produced). Error rows (text IS NULL) are skipped — WET
    carries conversions only."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def dump(it):
        from pyspark import TaskContext

        recs = []
        for row in it:
            if row["text"] is not None:
                recs.append(build_conversion_record(row["url"], date, row["text"]))
        if not recs:
            return iter([])
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.wet.gz")
        with open(path, "wb") as f:
            f.write(write_warc(recs))
        return iter([(path, len(recs))])

    return (
        docs_text.select("url", "text")
        .sortWithinPartitions("url")
        .rdd.mapPartitions(dump)
        .collect()
    )


# --- HTTP response header audit (crawl-policy signals) ---------------------------


def http_header_audit(raw: bytes) -> dict:
    """Raw HTTP/1.x response -> the header-level POLICY signals a crawl
    pipeline acts on before it ever touches the body: indexability
    (``X-Robots-Tag: noindex`` — the header channel qx30's meta-tag gate
    cannot see), cache lifetime (``Cache-Control: max-age``), redirect
    target host (``Location``), language, charset, transport compression
    and HSTS. Header names case-insensitive per RFC 9110; report-don't-
    raise (``is_http=0`` for non-HTTP payloads)."""
    import re as _re

    null = {
        "is_http": 0,
        "status": None,
        "mime": None,
        "charset": None,
        "lang": None,
        "max_age": None,
        "noindex": None,
        "location_host": None,
        "gzipped": None,
        "hsts": None,
    }
    if raw[:5] not in (b"HTTP/", b"http/"):
        return null
    line_end = raw.find(b"\n", 0, 256)
    if line_end == -1:
        return null
    headers, _off = _parse_header_block(raw, line_end + 1)
    try:
        status = int(raw[:line_end].split(b" ", 2)[1][:3])
    except (IndexError, ValueError):
        return null
    ctype = headers.get("content-type", "")
    mime = ctype.split(";")[0].strip().lower() or None
    cm = _re.search(r"charset=([A-Za-z0-9_-]+)", ctype, _re.I)
    am = _re.search(
        r"max-age\s*=\s*(\d{1,10})", headers.get("cache-control", ""), _re.I
    )
    lang = headers.get("content-language", "").split(",")[0].strip().lower()
    loc_host = None
    loc = headers.get("location", "")
    lm = _re.match(r"https?://([^/?#]+)", loc, _re.I)
    if lm:
        loc_host = lm.group(1).lower()
    robots = headers.get("x-robots-tag", "").lower()
    return {
        "is_http": 1,
        "status": status,
        "mime": mime,
        "charset": cm.group(1).lower() if cm else None,
        "lang": lang or None,
        "max_age": int(am.group(1)) if am else None,
        "noindex": int("noindex" in robots),
        "location_host": loc_host,
        "gzipped": int(
            "gzip" in headers.get("content-encoding", "").lower()
        ),
        "hsts": int("strict-transport-security" in headers),
    }
