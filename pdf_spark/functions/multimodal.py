"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Every decode in this tier runs a REAL pure-stdlib codec from
``core/imaging.py`` / ``core/audio.py`` / ``core/video.py`` (PNG, BMP,
GIF animation, JPEG, WebP-lossless, TIFF, WAV, ...) inside the Spark
plumbing under test: BinaryType schema, the ``mapInPandas`` batch shape
(one Arrow batch of blobs in, one batch of feature rows out), partition
behavior, and the metadata queries. Fixtures are synthesized
deterministically from doc ids so a DuckDB oracle can restate every
post-decode feature arithmetically — the construction is arithmetic,
but the bytes each executor decodes are genuine container formats.

- ``qm01_binary_meta``    — JVM-side binary column ops (encode/length/
  hash), DuckDB-verified.
- ``qm02_image_features`` — mapInPandas feature extraction over real
  PNG/BMP blobs (dims, channels and two-tone content vary per doc).
- ``qm03_frame_sample``   — every-3rd-frame sampling over real animated
  GIFs via the multi-frame LZW decoder.
- ``qm04_audio_features`` — real PCM WAV decode (rate/width vary).
- ``qm05_phash_neardup``  — average-hash near-dup where the hash stage
  decodes a real PNG of the document's leading codepoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_spark.functions.tables import load, map_rows, register_views

QUERIES = {}
ORACLE = {}

# -- qm01: binary metadata, pure JVM ------------------------------------------

_META_SPARK = """
SELECT doc_id,
       octet_length(encode(text, 'UTF-8')) AS n_bytes,
       md5(encode(text, 'UTF-8')) AS blob_md5
FROM documents
"""
_META_DUCK = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS blob_md5
FROM documents
"""


def _qm01(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_META_SPARK)


QUERIES["qm01_binary_meta"] = _qm01
ORACLE["qm01_binary_meta"] = _META_DUCK

# -- qm02: REAL image-feature extraction over per-doc encoded blobs -----------
#
# Each doc synthesizes a genuine container -- PNG gray / PNG RGB / BMP
# 32bpp rotating by residue, PNG rows under the full filter cycle --
# with per-doc dimensions and a two-tone left/right pattern, then the
# mapInPandas stage decodes it with the real pure-stdlib codecs and
# reports post-decode features. All-equal RGB channels make the BT.601
# integer luma equal the gray value, so the oracle restates the floor
# mean-luma arithmetically from the construction.

_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("mean_luma", IntegerType()),
    ]
)


def _qm02_make_blob(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_bmp, encode_png

    i = int(doc_id)
    w = i % 17 + 8
    h = i % 13 + 8
    a = (i * 23) % 200 + 28
    b = (i * 31 + 7) % 200 + 28
    ch = (1, 3, 4)[i % 3]
    vals: list = []
    for _y in range(h):
        for x in range(w):
            v = a if x < w // 2 else b
            if ch == 1:
                vals.append(v)
            elif ch == 3:
                vals += [v, v, v]
            else:
                vals += [v, v, v, 255]
    if ch == 4:
        return encode_bmp(w, h, 4, vals, top_down=bool(i % 2))
    return encode_png(w, h, ch, bytearray(vals), "cycle" if i % 2 else "none")


def _qm02(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.imaging import image_features

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_features_row(d, image_features(_qm02_make_blob(d)))],
        _FEATURES_SCHEMA,
    )


QUERIES["qm02_image_features"] = _qm02
# oracle: every decoded feature restated arithmetically from the
# construction (two-tone halves, all-equal channels => luma == value)
ORACLE["qm02_image_features"] = """
WITH v AS (
  SELECT doc_id,
         doc_id % 17 + 8 AS w,
         doc_id % 13 + 8 AS h,
         (doc_id * 23) % 200 + 28 AS a,
         (doc_id * 31 + 7) % 200 + 28 AS b
  FROM documents
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INT)
         AS n_channels,
       CAST(((w // 2) * h * a + (w - w // 2) * h * b) // (w * h) AS INT)
         AS mean_luma
FROM v
"""

# -- qm03: REAL animated-GIF frame sampling ------------------------------------
#
# The frame-sample stage of a video/animation tier, run against genuine
# multi-frame GIF89a containers (real NETSCAPE loop extension, real
# per-frame Graphic Control delays, real LZW image data) decoded by the
# multi-frame reader ``core/imaging.py::gif_frames``. Every 3rd frame
# is sampled and fingerprinted by the md5 of its decoded luma plane --
# the gray 16-entry palette keeps every luma byte in the ASCII range so
# the DuckDB oracle can rebuild the exact byte string with chr() and
# hash it with the same md5.

_FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_md5", StringType()),
    ]
)

# 16 grays, 4..124: all single-byte UTF-8 so oracle chr() concatenation
# hashes the identical bytes
_QM03_PAL = bytes(v for i in range(16) for v in (4 + i * 8,) * 3)


def _qm03_make_gif(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_gif_animation

    i = int(doc_id)
    pat = i % 101
    nf = i % 7 + 2
    frames = [
        [
            (pat * (x + 2) + (3 * k + 1 + pat // 16) * (y + 1) + x) % 16
            for y in range(8)
            for x in range(8)
        ]
        for k in range(nf)
    ]
    return encode_gif_animation(8, 8, _QM03_PAL, frames, [10] * nf)


def _qm03(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib

    from pdf_spark.core import imaging

    def sample(d: int) -> list:
        frames = imaging.gif_frames(_qm03_make_gif(d))
        return [
            {
                "doc_id": d,
                "frame_idx": k,
                "frame_md5": hashlib.md5(
                    b"".join(bytes(r) for r in imaging._luma_rows(w, h, ch, s))
                ).hexdigest(),
            }
            for k, (w, h, ch, s) in enumerate(frames)
            if k % 3 == 0
        ]

    return map_rows(
        load(spark, sf, "documents").select("doc_id"), sample, _FRAMES_SCHEMA
    )


QUERIES["qm03_frame_sample"] = _qm03
ORACLE["qm03_frame_sample"] = """
WITH vids AS (
  SELECT doc_id, doc_id % 101 AS pat, CAST(doc_id % 7 + 2 AS INT) AS nf
  FROM documents
),
idx AS (SELECT CAST(i AS INT) AS frame_idx FROM range(0, 8) t(i)),
frames AS (
  SELECT v.doc_id, i.frame_idx,
         md5(array_to_string(list_transform(range(0, 64),
             p -> chr(CAST(4 + 8 * ((v.pat * ((p % 8) + 2)
                                     + (3 * i.frame_idx + 1 + v.pat // 16)
                                       * ((p // 8) + 1)
                                     + (p % 8)) % 16) AS INT))),
             '')) AS frame_md5
  FROM vids v JOIN idx i ON i.frame_idx < v.nf
  WHERE i.frame_idx % 3 = 0
)
SELECT doc_id, frame_idx, frame_md5 FROM frames
"""

# -- qm04: REAL PCM WAV audio features ------------------------------------------
#
# Genuine RIFF/WAVE containers (16-bit mono PCM, per-doc sample rate
# and length, a deterministic integer waveform) decoded by
# ``core/audio.py::decode_wav`` inside the mapInPandas stage; the
# reported features are what a corpus loudness/duration gate computes
# post-decode. The waveform formula is pure integer arithmetic, so the
# oracle restates duration, mean absolute amplitude and the
# 160-sample hop-window count exactly.

_AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("mean_amp", IntegerType()),
        StructField("n_hops", IntegerType()),
    ]
)


def _qm04_make_wav(doc_id: int) -> bytes:
    from pdf_spark.core.audio import encode_wav

    i = int(doc_id)
    rate = i % 3 * 8000 + 8000
    n = i % 330 + 70
    samples = [((i * 31 + j * j * 7) % 2001) - 1000 for j in range(n)]
    return encode_wav(rate, 1, 16, samples)


def _qm04(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core import audio

    def featurize(d: int) -> list:
        rate, _ch, _bits, frames, dur, _peak, mean_abs = (
            audio.audio_features(_qm04_make_wav(d))
        )
        return [
            {
                "doc_id": d,
                "sample_rate": rate,
                "n_samples": frames,
                "duration_ms": dur,
                "mean_amp": mean_abs,
                "n_hops": -(-frames // 160),
            }
        ]

    return map_rows(
        load(spark, sf, "documents").select("doc_id"), featurize, _AUDIO_SCHEMA
    )


QUERIES["qm04_audio_features"] = _qm04
ORACLE["qm04_audio_features"] = """
WITH auds AS (
  SELECT doc_id,
         CAST(doc_id % 3 * 8000 + 8000 AS INT) AS rate,
         CAST(doc_id % 330 + 70 AS INT) AS n
  FROM documents
),
amp AS (
  SELECT doc_id, rate, n,
         list_aggregate(list_transform(range(0, n),
            j -> abs(((doc_id * 31 + j * j * 7) % 2001) - 1000)),
            'sum') AS sum_abs
  FROM auds
)
SELECT doc_id,
       rate AS sample_rate,
       n AS n_samples,
       CAST(n * 1000 // rate AS INT) AS duration_ms,
       CAST(sum_abs // n AS INT) AS mean_amp,
       CAST((n + 159) // 160 AS INT) AS n_hops
FROM amp
"""

# -- qm05: perceptual-hash near-dup (real-decode aHash + banded Hamming join) ---
#
# The image-dedup stage of a multimodal corpus (LAION-style): each doc
# renders its leading 256 codepoints into a REAL 16x16 gray PNG (pixel
# = codepoint % 256, zero-padded), the mapInPandas stage decodes it
# with the real PNG codec, and the 16-bit average-hash thresholds 16
# diagonal pixels of the decoded luma plane against the image's floor
# mean -- so similar documents produce similar images produce close
# hashes. Near-dup pairs are then found the qt08 way: an equi-join per
# 8-bit band proposes candidates, exact bit_count(xor) <= 2 verifies.
# Pigeonhole guarantee is d < n_bands, so d<=1 recall is exact with
# two bands; d=2 pairs are caught only when both flips share a band
# (documented recall gap -- a real deployment sizes bands to the
# target distance), and the verify step keeps every REPORTED pair
# exact regardless. Hash computation is the Python decode stage (the
# multimodal plumbing under test); banding, joins and verification
# stay JVM-side.

_PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", LongType()),
    ]
)


def _qm05_make_png(text) -> bytes:
    from pdf_spark.core.imaging import encode_png

    payload = (text or "")[:256]
    px = [ord(c) % 256 for c in payload] + [0] * (256 - len(payload))
    return encode_png(16, 16, 1, bytearray(px), "none")


def _qm05_ahash(blob: bytes) -> int:
    """16-bit aHash over REAL decoded luma: bit i (LSB-first) set when
    the diagonal sample at pixel 17*i exceeds the floor mean."""
    from pdf_spark.core import imaging

    w, h, ch, samples = imaging._pixels(blob)
    lum = [v for row in imaging._luma_rows(w, h, ch, samples) for v in row]
    mean = sum(lum) // len(lum)
    out = 0
    for i in range(16):
        if lum[17 * i] > mean:
            out |= 1 << i
    return out


_QM05_MAIN = """
WITH h AS (SELECT doc_id, phash FROM {HASHES}),
cands AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.phash AS pa, b.phash AS pb
  FROM h a JOIN h b
    ON (a.phash % 256) = (b.phash % 256) AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, a.phash, b.phash
  FROM h a JOIN h b
    ON (a.phash {IDIV} 256) = (b.phash {IDIV} 256) AND a.doc_id < b.doc_id
),
verified AS (
  SELECT doc_a, doc_b FROM cands WHERE bit_count({XOR}) <= 2
)
SELECT CAST((SELECT COUNT(*) FROM h) AS BIGINT) AS n_images,
       CAST((SELECT COUNT(*) FROM cands) AS BIGINT) AS n_candidate_pairs,
       CAST((SELECT COUNT(*) FROM verified) AS BIGINT) AS n_dup_pairs
"""

# oracle hash stage: rebuild the pixel list arithmetically (codepoint %
# 256, zero-padded to 256) and restate the decoded-luma aHash -- gray
# PNG decode is lossless so luma == stored pixel value
_QM05_HASH_DUCK = """
SELECT doc_id,
  CAST({BITS} AS BIGINT) AS phash
FROM (
  SELECT doc_id, px, list_aggregate(px, 'sum') // 256 AS mean_luma
  FROM (
    SELECT doc_id,
           list_transform(range(0, 256),
             i -> CASE WHEN i < length(payload)
                  THEN ord(substr(payload, CAST(i + 1 AS INT), 1)) % 256
                  ELSE 0 END) AS px
    FROM (
      SELECT doc_id, substr(COALESCE(text, ''), 1, 256) AS payload
      FROM documents
    ) p0
  ) p1
) p
"""

_QM05_BITS = " + ".join(
    f"(CASE WHEN px[{17 * i + 1}] > mean_luma THEN {1 << i} ELSE 0 END)"
    for i in range(16)
)


def _qm05(spark: SparkSession, sf: str) -> DataFrame:
    hashes = map_rows(
        load(spark, sf, "documents").select("doc_id", "text"),
        lambda d, t: [{"doc_id": d, "phash": _qm05_ahash(_qm05_make_png(t))}],
        _PHASH_SCHEMA,
    )
    hashes.createOrReplaceTempView("qm05_hashes")
    return spark.sql(
        _QM05_MAIN.replace("{HASHES}", "qm05_hashes")
        .replace("{IDIV}", "DIV")
        .replace("{XOR}", "pa ^ pb")
    )


QUERIES["qm05_phash_neardup"] = _qm05
ORACLE["qm05_phash_neardup"] = (
    _QM05_MAIN.replace(
        "{HASHES}", "(" + _QM05_HASH_DUCK.replace("{BITS}", _QM05_BITS) + ")"
    )
    .replace("{IDIV}", "//")
    .replace("{XOR}", "xor(pa, pb)")
)

# -- qm06/qm07: REAL image decode (core/imaging.py) ----------------------------
#
# Upgrades the multimodal tier from "deterministic stand-in" to real decode:
# each doc synthesizes a REAL PNG (inside the same mapInPandas loop a
# production job would run its decoder in), and the pure-Python PNG codec
# decodes it back. The PNG content is a pure function of doc_id, so DuckDB can state
# the expected features arithmetically: the oracle checks the ENTIRE
# encode->decode->featurize pipeline, filters included (the encoder cycles
# all five PNG row filters).


def _features_row(doc_id: int, feats: tuple) -> dict:
    """(width, height, n_channels, mean_luma) from ``image_features``."""
    return dict(zip(_FEATURES_SCHEMA.names, (doc_id, *feats)))


def _ahash_row(doc_id: int, blob: bytes) -> dict:
    from pdf_spark.core.imaging import average_hash

    return {"doc_id": doc_id, "ahash_hex": format(average_hash(blob), "016x")}


def _palette_row(doc_id: int, blob: bytes) -> dict:
    from pdf_spark.core.imaging import image_features

    return {
        **_features_row(doc_id, image_features(blob)),
        **_ahash_row(doc_id, blob),
    }


def _qm06_make_png(doc_id: int) -> bytes:
    """Deterministic real PNG for one doc: constant-pixel image whose
    dims/channels/value derive from doc_id (constant content means every
    row filter still roundtrips non-trivially while the expected features
    stay SQL-computable)."""
    from pdf_spark.core.imaging import encode_png

    w = int(doc_id) % 13 + 8
    h = int(doc_id) % 7 + 8
    ch = 3 if doc_id % 2 == 0 else 1
    v = int(doc_id) % 256
    samples = bytearray([v]) * (w * h * ch)
    return encode_png(w, h, ch, samples, "cycle")


def _qm06(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.imaging import image_features

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_features_row(d, image_features(_qm06_make_png(d)))],
        _FEATURES_SCHEMA,
    )


QUERIES["qm06_png_decode_features"] = _qm06
# constant-pixel image: luma == the pixel value for gray AND for rgb
# ((299+587+114)*v // 1000 == v)
ORACLE["qm06_png_decode_features"] = """
SELECT doc_id,
       CAST(doc_id % 13 + 8 AS INTEGER) AS width,
       CAST(doc_id % 7 + 8 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INTEGER) AS n_channels,
       CAST(doc_id % 256 AS INTEGER) AS mean_luma
FROM documents
"""


_PNG_AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ahash_hex", StringType()),
    ]
)


def _qm07_make_png(doc_id: int) -> bytes:
    """16x16 gray PNG split into a left half of value ``a`` and a right
    half of value ``b`` (a != b by construction): the 8x8 block-mean
    aHash is then exactly 0xF0F0... (a > b) or 0x0F0F... (a < b)."""
    from pdf_spark.core.imaging import encode_png

    a = int(doc_id) % 256
    b = (int(doc_id) * 7 + 13) % 256
    if a == b:
        b = (b + 1) % 256
    samples = bytearray(
        (a if x < 8 else b) for _y in range(16) for x in range(16)
    )
    return encode_png(16, 16, 1, samples, "cycle")


def _qm07(spark: SparkSession, sf: str) -> DataFrame:
    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_ahash_row(d, _qm07_make_png(d))],
        _PNG_AHASH_SCHEMA,
    )


QUERIES["qm07_png_ahash"] = _qm07
ORACLE["qm07_png_ahash"] = """
SELECT doc_id,
       CASE WHEN (doc_id % 256) >
                 (CASE WHEN doc_id % 256 = (doc_id * 7 + 13) % 256
                       THEN ((doc_id * 7 + 13) % 256 + 1) % 256
                       ELSE (doc_id * 7 + 13) % 256 END)
            THEN 'f0f0f0f0f0f0f0f0' ELSE '0f0f0f0f0f0f0f0f' END AS ahash_hex
FROM documents
"""


# -- qm08/qm09: REAL GIF decode (core/imaging.py) ------------------------------
#
# The second real format: GIF-flavor LZW (variable-width LSB-first — the
# mirror image of the PDF streams' MSB-first TIFF flavor in
# core/filters.py), global color table, and BOTH row orders (sequential
# and four-pass interlace — odd docs encode interlaced, so a de-interlace
# bug cannot stay green). Content is a pure function of doc_id; the
# oracle states the expected features arithmetically, checking the whole
# encode -> LZW -> palette -> (de-interlace) -> featurize pipeline.


def _qm08_make_gif(doc_id: int) -> bytes:
    """Constant-color GIF: dims and the 4-entry gray palette derive from
    doc_id, every pixel uses palette slot doc_id%4, odd docs interlaced."""
    from pdf_spark.core.imaging import encode_gif

    i = int(doc_id)
    w = i % 11 + 8
    h = i % 5 + 8
    pal = bytes(v for k in range(4) for v in ((i * 31 + k) % 256,) * 3)
    return encode_gif(w, h, pal, [i % 4] * (w * h), interlace=bool(i % 2))


def _qm08(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.imaging import image_features

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_features_row(d, image_features(_qm08_make_gif(d)))],
        _FEATURES_SCHEMA,
    )


QUERIES["qm08_gif_decode_features"] = _qm08
# constant gray palette slot: luma == the palette value (r=g=b)
ORACLE["qm08_gif_decode_features"] = """
SELECT doc_id,
       CAST(doc_id % 11 + 8 AS INTEGER) AS width,
       CAST(doc_id % 5 + 8 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST((doc_id * 31 + doc_id % 4) % 256 AS INTEGER) AS mean_luma
FROM documents
"""


def _qm09_make_gif(doc_id: int) -> bytes:
    """16x16 two-tone GIF split into a TOP half of value ``a`` and a
    BOTTOM half of ``b`` (a != b): the aHash is exactly the top-32-bits
    mask (a > b) or its complement — and on odd docs the frame is
    INTERLACED, so a wrong de-interlace row mapping flips hash bits."""
    from pdf_spark.core.imaging import encode_gif

    i = int(doc_id)
    a = i % 256
    b = (i * 7 + 13) % 256
    if a == b:
        b = (b + 1) % 256
    pal = bytes((a, a, a, b, b, b))
    idx = [0] * 128 + [1] * 128
    return encode_gif(16, 16, pal, idx, interlace=bool(i % 2))


def _qm09(spark: SparkSession, sf: str) -> DataFrame:
    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_ahash_row(d, _qm09_make_gif(d))],
        _PNG_AHASH_SCHEMA,
    )


QUERIES["qm09_gif_ahash"] = _qm09
ORACLE["qm09_gif_ahash"] = """
SELECT doc_id,
       CASE WHEN (doc_id % 256) >
                 (CASE WHEN doc_id % 256 = (doc_id * 7 + 13) % 256
                       THEN ((doc_id * 7 + 13) % 256 + 1) % 256
                       ELSE (doc_id * 7 + 13) % 256 END)
            THEN 'ffffffff00000000' ELSE '00000000ffffffff' END AS ahash_hex
FROM documents
"""


# -- qm10: header-only image metadata (the inventory op) ------------------------


def _qm10_make_blob(doc_id: int) -> bytes:
    """One of four residue classes: PNG, GIF, JPEG (with APP0+COM segments
    the scanner must skip by length), or a non-image blob."""
    import struct

    from pdf_spark.core.imaging import encode_gif, encode_png

    i = int(doc_id)
    k = i % 4
    if k == 0:
        w, h, ch = i % 13 + 1, i % 9 + 1, 1 + (i // 4) % 4
        return encode_png(w, h, ch, bytearray(w * h * ch), "none")
    if k == 1:
        w, h = i % 20 + 1, i % 6 + 1
        return encode_gif(w, h, bytes([0, 0, 0, 9, 9, 9]), [0] * (w * h))
    if k == 2:
        w, h = i % 300 + 16, i % 200 + 16
        ncomp = 3 if i % 2 else 1
        app0 = (b"\xff\xe0" + struct.pack(">H", 16)
                + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
        sof2 = (b"\xff\xc2" + struct.pack(">H", 8 + 3 * ncomp) + b"\x08"
                + struct.pack(">HH", h, w) + bytes([ncomp])
                + b"\x01\x11\x00" * ncomp)
        return b"\xff\xd8" + app0 + com + sof2 + b"\xff\xd9"
    return b"BLOB" + str(i).encode()


def _qm10(spark: SparkSession, sf: str) -> DataFrame:
    """Header-only image inventory (E127): format/dims/channels read from
    ~100 header bytes with NO pixel decode or decompression — the op a
    10^12-image corpus actually runs to gate the expensive decode tier
    (thumbnails dropped, bombs quarantined, format routing). Unknown
    formats surface as 'other' rows, not errors."""
    from pdf_spark.core.imaging import image_meta

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("format", StringType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("n_channels", IntegerType()),
        ]
    )

    def row(d: int) -> list:
        meta = image_meta(_qm10_make_blob(d)) or ("other", None, None, None)
        return [dict(zip(schema.names, (d, *meta)))]

    return map_rows(load(spark, sf, "documents").select("doc_id"), row, schema)


QUERIES["qm10_image_meta"] = _qm10
ORACLE["qm10_image_meta"] = """
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
            WHEN 2 THEN 'jpeg' ELSE 'other' END AS format,
       CAST(CASE doc_id % 4
            WHEN 0 THEN doc_id % 13 + 1
            WHEN 1 THEN doc_id % 20 + 1
            WHEN 2 THEN doc_id % 300 + 16 END AS INTEGER) AS width,
       CAST(CASE doc_id % 4
            WHEN 0 THEN doc_id % 9 + 1
            WHEN 1 THEN doc_id % 6 + 1
            WHEN 2 THEN doc_id % 200 + 16 END AS INTEGER) AS height,
       CAST(CASE doc_id % 4
            WHEN 0 THEN 1 + (doc_id // 4) % 4
            WHEN 1 THEN 3
            WHEN 2 THEN CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END
            END AS INTEGER) AS n_channels
FROM documents
"""


# -- qm11/qm12: REAL baseline JPEG decode (core/imaging.py) ---------------------
#
# The third real format: Huffman entropy decode (canonical min/max-code
# walk), zigzag dequantization, exact orthonormal IDCT, restart markers,
# byte unstuffing, YCbCr conversion and 2x2 chroma upsampling. Fixtures
# are built from DC + the (4,4) DCT basis — whose cosines are +-sqrt(2)/2,
# squaring to exactly 1/2 — so reconstruction is INTEGER-EXACT and the
# oracle states the expected features arithmetically. Docs rotate through
# gray/color, 4:4:4/4:2:0, and restart-interval shapes so a bug in any of
# those decoder paths cannot stay green.


def _qm11_make_jpeg(doc_id: int) -> bytes:
    """Deterministic baseline JPEG: 32x16 (gray, odd ids) or 16x16 color
    4:2:0 (even ids), constant DC per doc with the exact-AC (4,4) pattern
    on odd-index blocks (per-block mean unchanged: the pattern sums to
    zero), restart markers every 2 MCUs when doc_id%3 == 0."""
    from pdf_spark.core.imaging import encode_jpeg

    i = int(doc_id)
    dc = (i * 13) % 192 + 32  # 32..223: +-2 AC ripple never clips
    rst = 2 if i % 3 == 0 else 0
    if i % 2:
        w, h = 32, 16
        blocks = [(dc, 16 if b % 2 else 0) for b in range(8)]
        return encode_jpeg(w, h, blocks, restart_interval=rst)
    w, h = 16, 16
    blocks = [(dc, 16 if b % 2 else 0) for b in range(4)]
    return encode_jpeg(
        w, h, blocks, chroma=(128, 128), subsample=True, restart_interval=rst
    )


def _qm11(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.imaging import image_features

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_features_row(d, image_features(_qm11_make_jpeg(d)))],
        _FEATURES_SCHEMA,
    )


QUERIES["qm11_jpeg_decode_features"] = _qm11
# constant-DC blocks, zero-sum AC, gray chroma (128/128 -> r=g=b=Y):
# mean luma == the DC value for both the gray and the color shape
ORACLE["qm11_jpeg_decode_features"] = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 32 ELSE 16 END AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END AS INTEGER)
           AS n_channels,
       CAST((doc_id * 13) % 192 + 32 AS INTEGER) AS mean_luma
FROM documents
"""


def _qm12_make_jpeg(doc_id: int) -> bytes:
    """16x16 two-tone JPEG: TOP blocks at DC ``a``, BOTTOM at ``b``
    (a != b), every block carrying the +-1 exact-AC ripple (each aHash
    2x2 cell straddles a sign-balanced pair, so cell means stay exactly
    at the DC — but a zigzag/Huffman bug shifts the coefficient and
    flips hash bits). Odd ids color 4:2:0, doc_id%3==0 adds restarts."""
    from pdf_spark.core.imaging import encode_jpeg

    i = int(doc_id)
    a = (i * 11) % 200 + 28
    b = (i * 7 + 13) % 200 + 28
    if a == b:
        b = b + 1
    blocks = [(a, 8), (a, 8), (b, 8), (b, 8)]
    rst = 2 if i % 3 == 0 else 0
    if i % 2:
        return encode_jpeg(
            16, 16, blocks, chroma=(128, 128), subsample=True,
            restart_interval=rst,
        )
    return encode_jpeg(16, 16, blocks, restart_interval=rst)


def _qm12(spark: SparkSession, sf: str) -> DataFrame:
    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_ahash_row(d, _qm12_make_jpeg(d))],
        _PNG_AHASH_SCHEMA,
    )


QUERIES["qm12_jpeg_ahash"] = _qm12
ORACLE["qm12_jpeg_ahash"] = """
SELECT doc_id,
       CASE WHEN ((doc_id * 11) % 200 + 28) >
                 (CASE WHEN (doc_id * 11) % 200 = (doc_id * 7 + 13) % 200
                       THEN (doc_id * 7 + 13) % 200 + 29
                       ELSE (doc_id * 7 + 13) % 200 + 28 END)
            THEN 'ffffffff00000000' ELSE '00000000ffffffff' END AS ahash_hex
FROM documents
"""


# -- qm13: palette/interlace PNG decode (core/imaging.py) -----------------------
#
# Completes static-PNG coverage for the real-web shapes: PLTE palettes
# at every legal indexed depth (1/2/4/8 bits, MSB-first packing with
# row bit-padding) and Adam7 interlace (odd docs). The fixture is a
# two-tone left/right split, so the oracle's aHash column fails on any
# scatter bug that moves pixels BETWEEN halves even though the mean
# stays put — position fidelity, not just value fidelity.


def _qm13_make_png(doc_id: int) -> bytes:
    """16x16 two-palette-entry PNG: left half entry 0 (gray ``a``),
    right half entry 1 (gray ``b``, forced distinct), indexed depth
    rotating 1/2/4/8 via doc_id%4, Adam7-interlaced on odd ids."""
    from pdf_spark.core.imaging import encode_png_indexed

    i = int(doc_id)
    a = (i * 23) % 256
    b = (i * 31 + 7) % 256
    if a == b:
        b = (b + 1) % 256
    depth = (1, 2, 4, 8)[i % 4]
    pal = bytes([a, a, a, b, b, b])
    idx = [(0 if x < 8 else 1) for _y in range(16) for x in range(16)]
    return encode_png_indexed(16, 16, pal, idx, depth, interlace=bool(i % 2))


_PALETTE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("mean_luma", IntegerType()),
        StructField("ahash_hex", StringType()),
    ]
)


def _qm13(spark: SparkSession, sf: str) -> DataFrame:
    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_palette_row(d, _qm13_make_png(d))],
        _PALETTE_SCHEMA,
    )


QUERIES["qm13_png_palette_features"] = _qm13
# gray palette entries: luma == the entry value; halves are 128px each
# so the mean is the floor average of the two entries
ORACLE["qm13_png_palette_features"] = """
WITH v AS (
    SELECT doc_id,
           (doc_id * 23) % 256 AS a,
           CASE WHEN (doc_id * 23) % 256 = (doc_id * 31 + 7) % 256
                THEN ((doc_id * 31 + 7) % 256 + 1) % 256
                ELSE (doc_id * 31 + 7) % 256 END AS b
    FROM documents
)
SELECT doc_id,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST((a + b) // 2 AS INTEGER) AS mean_luma,
       CASE WHEN a > b THEN 'f0f0f0f0f0f0f0f0'
            ELSE '0f0f0f0f0f0f0f0f' END AS ahash_hex
FROM v
"""


# -- qm14: PROGRESSIVE JPEG decode (core/imaging.py, T.81 G.1.2) ----------------
#
# The dominant JPEG flavor on the real web is progressive (SOF2). The
# fixture rotates spectral-selection-only vs full successive
# approximation (doc_id%3==0), gray vs 4:2:0 color (parity), with odd
# AC magnitudes (24 -> coefficient 3: the refinement pass must apply a
# +1 correction bit; a broken refine path shifts every block's ripple
# and the position-sensitive aHash flips). Two-tone top/bottom DC keeps
# the mean and the hash SQL-expressible exactly, as in qm12.


def _qm14_make_jpeg(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_jpeg_progressive

    i = int(doc_id)
    a = (i * 11) % 200 + 28
    b = (i * 7 + 13) % 200 + 28
    if a == b:
        b = b + 1
    blocks = [(a, 24), (a, 24), (b, 24), (b, 24)]
    succ = i % 3 == 0
    if i % 2:
        return encode_jpeg_progressive(
            16, 16, blocks, chroma=(128, 128), subsample=True,
            successive=succ,
        )
    return encode_jpeg_progressive(16, 16, blocks, successive=succ)


def _qm14(spark: SparkSession, sf: str) -> DataFrame:
    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_palette_row(d, _qm14_make_jpeg(d))],
        _PALETTE_SCHEMA,
    )


QUERIES["qm14_jpeg_progressive"] = _qm14
# each 8x8 block's AC ripple sums to zero and every aligned 2x2 aHash
# cell straddles a sign-balanced pair, so mean = floor((a+b)/2) and the
# hash is the pure two-tone pattern
ORACLE["qm14_jpeg_progressive"] = """
WITH v AS (
    SELECT doc_id,
           (doc_id * 11) % 200 + 28 AS a,
           CASE WHEN (doc_id * 11) % 200 = (doc_id * 7 + 13) % 200
                THEN (doc_id * 7 + 13) % 200 + 29
                ELSE (doc_id * 7 + 13) % 200 + 28 END AS b
    FROM documents
)
SELECT doc_id,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS INTEGER)
           AS n_channels,
       CAST((a + b) // 2 AS INTEGER) AS mean_luma,
       CASE WHEN a > b THEN 'ffffffff00000000'
            ELSE '00000000ffffffff' END AS ahash_hex
FROM v
"""


# -- qm15: lossless WebP (VP8L) decode (core/imaging.py) ------------------------
#
# Fourth real web format. The fixture rotates through the decoder's
# structural paths by doc residue — color cache, LZ77 runs, meta prefix
# groups (the group split coincides with the tone split), and the
# subtract-green + predictor transform stack — while the two-tone
# left/right pattern keeps mean and aHash purely arithmetic. Any prefix
# desync, wrong transform inverse, or broken group routing moves pixels
# and flips the position-sensitive hash.


def _qm15_make_webp(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_webp_lossless

    i = int(doc_id)
    a = (i * 29) % 224 + 16
    b = (i * 17 + 31) % 224 + 16
    if a == b:
        b = b + 1
    samples = [(a if x < 8 else b) for _y in range(16) for x in range(16)]
    mode = i % 5
    kw = (
        {},
        {"cache_bits": 4},
        {"lz77": True},
        {"meta_split": 2},
        {"subtract_green": True, "predictor": 7},
    )[mode]
    return encode_webp_lossless(16, 16, 1, samples, **kw)


def _qm15(spark: SparkSession, sf: str) -> DataFrame:
    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_palette_row(d, _qm15_make_webp(d))],
        _PALETTE_SCHEMA,
    )


QUERIES["qm15_webp_lossless_features"] = _qm15
ORACLE["qm15_webp_lossless_features"] = """
WITH v AS (
    SELECT doc_id,
           (doc_id * 29) % 224 + 16 AS a,
           CASE WHEN (doc_id * 29) % 224 = (doc_id * 17 + 31) % 224
                THEN (doc_id * 17 + 31) % 224 + 17
                ELSE (doc_id * 17 + 31) % 224 + 16 END AS b
    FROM documents
)
SELECT doc_id,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST((a + b) // 2 AS INTEGER) AS mean_luma,
       CASE WHEN a > b THEN 'f0f0f0f0f0f0f0f0'
            ELSE '0f0f0f0f0f0f0f0f' END AS ahash_hex
FROM v
"""


# -- qm16: REAL WAV/PCM audio decode (core/audio.py) ----------------------------
#
# Upgrades the audio tier from the qm04 deterministic stand-in to a real
# container format: RIFF/WAVE PCM at 8/16/24-bit depths, mono/stereo.
# The fixture is a ±A square wave, so peak and mean-absolute amplitude
# are both exactly A in the raw integer sample domain and the oracle is
# pure arithmetic; any chunk-walk, sign-extension (24-bit!), or
# interleave bug shifts them.

_WAV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("bits", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("peak", LongType()),
        StructField("mean_abs", LongType()),
    ]
)


def _qm16_make_wav(doc_id: int) -> bytes:
    from pdf_spark.core.audio import encode_wav

    i = int(doc_id)
    bits = (8, 16, 24)[i % 3]
    channels = 1 + (i % 2)
    frames = 400 + (i % 5) * 40
    amp = ((i * 13) % 100 + 20) * {8: 1, 16: 100, 24: 10000}[bits]
    wave = [amp if f % 8 < 4 else -amp for f in range(frames)]
    samples = [s for s in wave for _ in range(channels)]
    return encode_wav(8000, channels, bits, samples)


def _qm16(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.audio import audio_features

    def row(d: int) -> list:
        feats = audio_features(_qm16_make_wav(d))
        return [dict(zip(_WAV_SCHEMA.names, (d, *feats)))]

    return map_rows(
        load(spark, sf, "documents").select("doc_id"), row, _WAV_SCHEMA
    )


QUERIES["qm16_wav_pcm_features"] = _qm16
ORACLE["qm16_wav_pcm_features"] = """
WITH v AS (
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END AS bits,
           1 + doc_id % 2 AS ch,
           400 + (doc_id % 5) * 40 AS frames,
           ((doc_id * 13) % 100 + 20)
               * CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 100
                 ELSE 10000 END AS amp
    FROM documents
)
SELECT doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(ch AS INTEGER) AS n_channels,
       CAST(bits AS INTEGER) AS bits,
       CAST(frames AS INTEGER) AS n_frames,
       CAST(frames // 8 AS INTEGER) AS duration_ms,
       CAST(amp AS BIGINT) AS peak,
       CAST(amp AS BIGINT) AS mean_abs
FROM v
"""


# -- qm17: cross-FORMAT image dedup by decoded-luma digest ----------------------
#
# The loose-blob twin of qx39's cross-codec dedup: the same two-tone
# pattern (keyed pat = doc_id // 2) is stored as a real PNG in even
# docs and a real lossless WebP in odd docs. A byte hash can never
# match across containers; the md5 over decoded LUMA rows (gray PNG
# decodes 1-channel, WebP 3-channel — luma normalizes both) matches by
# construction. Grouping is ONE hash-partitioned window over 16-byte
# digests — uniform keys, no skew, the 10^12-image shape. Formula
# cycles make some patterns repeat across pats; the oracle restates
# group sizes arithmetically with the same COUNT OVER PARTITION.

_XFMT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("group_size", LongType()),
        StructField("cross_format", IntegerType()),
    ]
)


def _qm17_make_blob(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_png, encode_webp_lossless

    i = int(doc_id)
    pat = i // 2
    a = (pat * 23) % 200 + 28
    b = (pat * 31 + 7) % 200 + 28
    if a == b:
        b = b + 1
    samples = [(a if x < 8 else b) for _y in range(16) for x in range(16)]
    if i % 2 == 0:
        return encode_png(16, 16, 1, bytearray(samples), "none")
    return encode_webp_lossless(16, 16, 1, samples)


def _qm17(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib

    from pyspark.sql.window import Window

    from pdf_spark.core import imaging

    docs = load(spark, sf, "documents").select("doc_id")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("luma_md5", StringType()),
            StructField("fmt", IntegerType()),
        ]
    )

    def luma_md5(d: int) -> list:
        w, h, ch, s = imaging._pixels(_qm17_make_blob(d))
        rows = imaging._luma_rows(w, h, ch, s)
        digest = hashlib.md5(b"".join(bytes(r) for r in rows)).hexdigest()
        return [{"doc_id": d, "luma_md5": digest, "fmt": d % 2}]

    lifted = map_rows(docs, luma_md5, schema)
    win = Window.partitionBy("luma_md5")
    return lifted.select(
        "doc_id",
        F.count(F.lit(1)).over(win).alias("group_size"),
        (F.count(F.when(F.col("fmt") == 0, 1)).over(win) > 0).cast("int")
        .bitwiseAND(
            (F.count(F.when(F.col("fmt") == 1, 1)).over(win) > 0)
            .cast("int")
        ).alias("cross_format"),
    )


QUERIES["qm17_crossformat_image_dedup"] = _qm17
ORACLE["qm17_crossformat_image_dedup"] = """
WITH v AS (
    SELECT doc_id,
           (doc_id // 2 * 23) % 200 + 28 AS a,
           CASE WHEN (doc_id // 2 * 23) % 200
                     = (doc_id // 2 * 31 + 7) % 200
                THEN (doc_id // 2 * 31 + 7) % 200 + 29
                ELSE (doc_id // 2 * 31 + 7) % 200 + 28 END AS b
    FROM documents
)
SELECT doc_id,
       COUNT(*) OVER (PARTITION BY a, b) AS group_size,
       CAST(CASE WHEN SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                      OVER (PARTITION BY a, b) > 0
                  AND SUM(doc_id % 2) OVER (PARTITION BY a, b) > 0
            THEN 1 ELSE 0 END AS INTEGER) AS cross_format
FROM v
"""


# -- qm18: BMP decode (core/imaging.py) -----------------------------------------
#
# BI_RGB DIBs are stored bottom-up by default; the fixture is two-tone
# TOP/BOTTOM with storage order rotating by residue, so a decoder that
# forgets the row flip swaps the aHash halves — the oracle is
# orientation-sensitive, not just value-sensitive. Channels rotate
# gray-as-24bpp / RGB / RGBA.


def _qm18_make_bmp(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_bmp

    i = int(doc_id)
    a = (i * 37) % 200 + 28
    b = (i * 19 + 11) % 200 + 28
    if a == b:
        b = b + 1
    ch = (1, 3, 4)[i % 3]
    vals = []
    for y in range(16):
        for _x in range(16):
            v = a if y < 8 else b
            if ch == 1:
                vals.append(v)
            elif ch == 3:
                vals += [v, v, v]
            else:
                vals += [v, v, v, 255]
    return encode_bmp(16, 16, ch, vals, top_down=bool(i % 2))


def _qm18(spark: SparkSession, sf: str) -> DataFrame:
    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_palette_row(d, _qm18_make_bmp(d))],
        _PALETTE_SCHEMA,
    )


QUERIES["qm18_bmp_features"] = _qm18
# top half = a, bottom = b REGARDLESS of storage order; 32 top hash
# bits set iff a > b
ORACLE["qm18_bmp_features"] = """
WITH v AS (
    SELECT doc_id,
           (doc_id * 37) % 200 + 28 AS a,
           CASE WHEN (doc_id * 37) % 200 = (doc_id * 19 + 11) % 200
                THEN (doc_id * 19 + 11) % 200 + 29
                ELSE (doc_id * 19 + 11) % 200 + 28 END AS b
    FROM documents
)
SELECT doc_id,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 4 ELSE 3 END AS INTEGER)
           AS n_channels,
       CAST((a + b) // 2 AS INTEGER) AS mean_luma,
       CASE WHEN a > b THEN 'ffffffff00000000'
            ELSE '00000000ffffffff' END AS ahash_hex
FROM v
"""


# -- qm19: TIFF decode (core/imaging.py::decode_tiff) -----------------------------
#
# Rotation exercises the whole baseline-TIFF surface: photometric mode by
# doc residue (gray BlackIsZero / RGB / palette / gray WhiteIsZero —
# the pm-0 docs store INVERTED samples, so a decoder that skips the
# re-inversion flips the two-tone aHash), compression none/PackBits/LZW
# (+ horizontal predictor on the LZW docs), and byte order flipping
# every other doc. Oracle is the same closed-form two-tone arithmetic
# as qm18: top half a, bottom half b, 32 top hash bits set iff a > b.


def _qm19_make_tiff(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_tiff

    i = int(doc_id)
    a = (i * 41) % 200 + 28
    b = (i * 23 + 13) % 200 + 28
    if a == b:
        b = b + 1
    mode = i % 4
    comp = ("none", "packbits", "lzw")[i % 3]
    kw = {}
    if mode == 1:
        ch = 3
        vals = []
        for y in range(16):
            v = a if y < 8 else b
            vals += [v, v, v] * 16
    else:
        ch = 1
        vals = [(a if y < 8 else b) for y in range(16) for _ in range(16)]
        if mode == 2:
            kw["palette"] = [(v, v, v) for v in range(256)]
        elif mode == 3:
            kw["photometric"] = 0
    return encode_tiff(
        16, 16, ch, vals, compression=comp, predictor=(comp == "lzw"),
        big_endian=bool(i % 2), **kw,
    )


def _qm19(spark: SparkSession, sf: str) -> DataFrame:
    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [_palette_row(d, _qm19_make_tiff(d))],
        _PALETTE_SCHEMA,
    )


QUERIES["qm19_tiff_features"] = _qm19
# palette (mode 2) decodes to RGB -> 3 channels; modes 0/3 stay gray
ORACLE["qm19_tiff_features"] = """
WITH v AS (
    SELECT doc_id,
           (doc_id * 41) % 200 + 28 AS a,
           CASE WHEN (doc_id * 41) % 200 = (doc_id * 23 + 13) % 200
                THEN (doc_id * 23 + 13) % 200 + 29
                ELSE (doc_id * 23 + 13) % 200 + 28 END AS b
    FROM documents
)
SELECT doc_id,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 4 IN (1, 2) THEN 3 ELSE 1 END AS INTEGER)
           AS n_channels,
       CAST((a + b) // 2 AS INTEGER) AS mean_luma,
       CASE WHEN a > b THEN 'ffffffff00000000'
            ELSE '00000000ffffffff' END AS ahash_hex
FROM v
"""


# -- qm20: MP4/ISO-BMFF header-only video metadata (core/video.py) ----------------
#
# The video-modality routing op (E140): brand / duration / presentation
# size / track inventory from the moov spine alone — no codec payload
# read. Fixtures are honest box structures from encode_mp4_skeleton;
# rotation exercises both mvhd/tkhd versions (v0 32-bit, v1 64-bit),
# the size==1 largesize escape, multi-track max-dimension selection and
# audio-only files. Oracle restates the closed-form field arithmetic.

_MP4_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("brand", StringType()),
        StructField("duration_ms", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_video", IntegerType()),
        StructField("n_audio", IntegerType()),
    ]
)


def _qm20_make_mp4(doc_id: int) -> bytes:
    from pdf_spark.core.video import encode_mp4_skeleton

    i = int(doc_id)
    brand = ("isom", "mp42", "avc1")[i % 3]
    duration = (i * 97) % 9000 + 1200  # timescale 600 -> non-trivial ms math
    w = 160 + (i % 7) * 80
    h = 90 + (i % 7) * 45
    w2 = 320 + (i % 5) * 64
    h2 = 180 + (i % 5) * 36
    tracks = [
        [("vide", 640, 360)],
        [("vide", w, h), ("soun", 0, 0)],
        [("soun", 0, 0)],
        [("vide", 160, 90), ("vide", w2, h2), ("soun", 0, 0)],
    ][i % 4]
    return encode_mp4_skeleton(
        brand,
        600,
        duration,
        tracks,
        mvhd_version=1 if i % 5 == 0 else 0,
        largesize_mdat=(i % 6 == 0),
    )


def _qm20(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.video import mp4_meta

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **mp4_meta(_qm20_make_mp4(d))}],
        _MP4_SCHEMA,
    )


QUERIES["qm20_mp4_meta"] = _qm20
ORACLE["qm20_mp4_meta"] = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
            ELSE 'avc1' END AS brand,
       CAST(((doc_id * 97) % 9000 + 1200) * 1000 // 600 AS BIGINT)
           AS duration_ms,
       CAST(CASE doc_id % 4
            WHEN 0 THEN 640
            WHEN 1 THEN 160 + (doc_id % 7) * 80
            WHEN 2 THEN 0
            ELSE 320 + (doc_id % 5) * 64 END AS INTEGER) AS width,
       CAST(CASE doc_id % 4
            WHEN 0 THEN 360
            WHEN 1 THEN 90 + (doc_id % 7) * 45
            WHEN 2 THEN 0
            ELSE 180 + (doc_id % 5) * 36 END AS INTEGER) AS height,
       CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 0
            ELSE 2 END AS INTEGER) AS n_video,
       CAST(CASE doc_id % 4 WHEN 0 THEN 0 ELSE 1 END AS INTEGER) AS n_audio
FROM documents
"""


# -- qm21: Matroska/WebM EBML metadata (core/video.py::mkv_meta) -------------------
#
# The second video container family (E141): EBML varint walk over
# Segment -> Info (TimestampScale x float Duration -> exact ms for
# integer-valued durations) and Tracks -> TrackEntry (type, pixel dims).
# Rotation exercises float32 vs float64 duration elements, unknown-size
# Segment masters (streamed-webm shape), audio-only files and two-video
# max-dims selection; format routes webm vs matroska by DocType.

_MKV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("duration_ms", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_video", IntegerType()),
        StructField("n_audio", IntegerType()),
    ]
)


def _qm21_make_mkv(doc_id: int) -> bytes:
    from pdf_spark.core.video import encode_mkv_skeleton

    i = int(doc_id)
    w = 256 + (i % 6) * 64
    h = 144 + (i % 6) * 36
    w2 = 480 + (i % 5) * 96
    h2 = 270 + (i % 5) * 54
    tracks = [
        [("video", 640, 360)],
        [("video", w, h), ("audio", 0, 0)],
        [("audio", 0, 0)],
        [("video", 160, 90), ("video", w2, h2), ("audio", 0, 0)],
    ][i % 4]
    return encode_mkv_skeleton(
        "webm" if i % 2 == 0 else "matroska",
        (i * 131) % 60000 + 1000,
        tracks,
        float32=(i % 3 == 0),
        unknown_segment_size=(i % 5 == 0),
    )


def _qm21(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.video import video_meta

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **video_meta(_qm21_make_mkv(d))}],
        _MKV_SCHEMA,
    )


QUERIES["qm21_mkv_meta"] = _qm21
ORACLE["qm21_mkv_meta"] = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'matroska' END AS format,
       CAST((doc_id * 131) % 60000 + 1000 AS BIGINT) AS duration_ms,
       CAST(CASE doc_id % 4
            WHEN 0 THEN 640
            WHEN 1 THEN 256 + (doc_id % 6) * 64
            WHEN 2 THEN 0
            ELSE 480 + (doc_id % 5) * 96 END AS INTEGER) AS width,
       CAST(CASE doc_id % 4
            WHEN 0 THEN 360
            WHEN 1 THEN 144 + (doc_id % 6) * 36
            WHEN 2 THEN 0
            ELSE 270 + (doc_id % 5) * 54 END AS INTEGER) AS height,
       CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 0
            ELSE 2 END AS INTEGER) AS n_video,
       CAST(CASE doc_id % 4 WHEN 0 THEN 0 ELSE 1 END AS INTEGER) AS n_audio
FROM documents
"""


# -- qm22: compressed-audio routing meta (core/audio.py::audio_meta) ---------------
#
# The audio twin of the E140/E141 video router (E142): MP3 first-frame
# header (version/bitrate/rate tables, Xing VBR frame count, ID3v2
# syncsafe skip, CBR duration from spec frame size) and Ogg ident
# packets (OpusHead 48 kHz granule minus pre-skip / Vorbis ident rate)
# with duration off the LAST page's granule position. Every duration is
# exact integer arithmetic both sides restate symbolically.

_AUDIO_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("codec", StringType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("bitrate_kbps", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)


def _qm22_make_audio(doc_id: int) -> bytes:
    from pdf_spark.core.audio import encode_mp3_skeleton, encode_ogg_skeleton

    i = int(doc_id)
    fam = i % 3
    if fam == 0:
        frames = (i % 50) + 10
        if i % 2 == 0:
            return encode_mp3_skeleton(
                1, 128, 44100, 2, frames, xing=(i % 4 == 0), id3=(i % 5 == 0)
            )
        return encode_mp3_skeleton(
            2, 64, 22050, 1, frames, xing=(i % 4 == 0), id3=(i % 5 == 0)
        )
    if fam == 1:
        total = (i * 487) % 240000 + 48000
        return encode_ogg_skeleton("opus", 2, 48000, total, pre_skip=312)
    total = (i * 977) % 441000 + 44100
    return encode_ogg_skeleton("vorbis", 1, 44100, total)


def _qm22(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.audio import audio_meta

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **audio_meta(_qm22_make_audio(d))}],
        _AUDIO_META_SCHEMA,
    )


QUERIES["qm22_audio_meta"] = _qm22
# mp3 CBR duration = frames * frame_len * 8 // kbps with the spec frame
# size frame_len = spf//8 * kbps*1000 // rate (padding bit 0); Xing docs
# (i%4==0) report frames * spf * 1000 // rate instead. Opus granule is
# 48 kHz ticks minus the 312-sample pre-skip the fixture adds back.
ORACLE["qm22_audio_meta"] = """
WITH v AS (
    SELECT doc_id,
           doc_id % 3 AS fam,
           (doc_id % 50) + 10 AS frames,
           (doc_id * 487) % 240000 + 48000 AS opus_total,
           (doc_id * 977) % 441000 + 44100 AS vorb_total
    FROM documents
)
SELECT doc_id,
       CASE fam WHEN 0 THEN 'mp3' WHEN 1 THEN 'opus' ELSE 'vorbis' END
           AS codec,
       CAST(CASE fam WHEN 0 THEN CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END
            WHEN 1 THEN 2 ELSE 1 END AS INTEGER) AS channels,
       CAST(CASE fam WHEN 0 THEN
                 CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 22050 END
            WHEN 1 THEN 48000 ELSE 44100 END AS INTEGER) AS sample_rate,
       CAST(CASE fam WHEN 0 THEN
                 CASE WHEN doc_id % 2 = 0 THEN 128 ELSE 64 END
            ELSE 0 END AS INTEGER) AS bitrate_kbps,
       CAST(CASE fam
            WHEN 0 THEN CASE
                WHEN doc_id % 4 = 0 AND doc_id % 2 = 0
                    THEN frames * 1152 * 1000 // 44100
                WHEN doc_id % 4 = 0
                    THEN frames * 576 * 1000 // 22050
                WHEN doc_id % 2 = 0
                    THEN frames * (1152 // 8 * 128 * 1000 // 44100) * 8 // 128
                ELSE frames * (576 // 8 * 64 * 1000 // 22050) * 8 // 64 END
            WHEN 1 THEN opus_total * 1000 // 48000
            ELSE vorb_total * 1000 // 44100 END AS BIGINT) AS duration_ms
FROM v
"""


# -- qm23: universal media router (capstone over E127/E136/E140/E141/E142) --------
#
# The 10^12-blob dispatch op in one query: every doc synthesizes a blob
# rotating across the full 12-family fixture matrix (png/gif/jpeg/webp/
# bmp/tiff images, wav/mp3/ogg audio, mp4/webm video, junk) and the
# router — image_meta, then audio_meta, then video_meta — must land each
# in its family with the right modality. This is the op that gates every
# decode tier; a misroute sends a video to the image decoder at corpus
# scale. Oracle is pure residue arithmetic.

_ROUTER_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("format", StringType()),
    ]
)


def _qm23_make_blob(doc_id: int) -> bytes:
    from pdf_spark.core import imaging
    from pdf_spark.core.audio import encode_mp3_skeleton, encode_ogg_skeleton, encode_wav
    from pdf_spark.core.video import encode_mkv_skeleton, encode_mp4_skeleton

    i = int(doc_id)
    fam = i % 12
    gray16 = [((x + y) * 8) % 256 for y in range(16) for x in range(16)]
    if fam == 0:
        return imaging.encode_png(16, 16, 1, gray16)
    if fam == 1:
        pal = bytes(v for g in range(256) for v in (g, g, g))
        return imaging.encode_gif(16, 16, pal, gray16)
    if fam == 2:
        return imaging.encode_jpeg(16, 16, {i: (32, 0) for i in range(4)})
    if fam == 3:
        rgb = [c for v in gray16 for c in (v, v, v)]
        return imaging.encode_webp_lossless(16, 16, 3, rgb)
    if fam == 4:
        rgb = [c for v in gray16 for c in (v, v, v)]
        return imaging.encode_bmp(16, 16, 3, rgb)
    if fam == 5:
        return imaging.encode_tiff(16, 16, 1, gray16)
    if fam == 6:
        return encode_wav(8000, 1, 16, [0, 99, -99, 0] * 50)
    if fam == 7:
        return encode_mp3_skeleton(1, 128, 44100, 2, 12)
    if fam == 8:
        return encode_ogg_skeleton("opus", 2, 48000, 4800, pre_skip=312)
    if fam == 9:
        return encode_mp4_skeleton("isom", 600, 1200, [("vide", 320, 180)])
    if fam == 10:
        return encode_mkv_skeleton("webm", 2500, [("video", 320, 180)])
    return b"%!garbage-blob " + bytes([i % 256]) * 64


def _qm23(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.audio import audio_meta
    from pdf_spark.core.imaging import image_meta
    from pdf_spark.core.video import video_meta

    def route(d: int) -> list:
        blob = _qm23_make_blob(d)
        im = image_meta(blob)
        if im is not None:
            return [{"doc_id": d, "modality": "image", "format": im[0]}]
        au = audio_meta(blob)
        if au["codec"] != "unknown":
            return [{"doc_id": d, "modality": "audio", "format": au["codec"]}]
        vi = video_meta(blob)
        if vi["format"] != "unknown":
            return [{"doc_id": d, "modality": "video", "format": vi["format"]}]
        return [{"doc_id": d, "modality": "unknown", "format": "unknown"}]

    return map_rows(
        load(spark, sf, "documents").select("doc_id"), route, _ROUTER_SCHEMA
    )


QUERIES["qm23_media_router"] = _qm23
ORACLE["qm23_media_router"] = """
SELECT doc_id,
       CASE WHEN doc_id % 12 <= 5 THEN 'image'
            WHEN doc_id % 12 <= 8 THEN 'audio'
            WHEN doc_id % 12 <= 10 THEN 'video'
            ELSE 'unknown' END AS modality,
       CASE doc_id % 12
            WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'jpeg'
            WHEN 3 THEN 'webp' WHEN 4 THEN 'bmp' WHEN 5 THEN 'tiff'
            WHEN 6 THEN 'wav' WHEN 7 THEN 'mp3' WHEN 8 THEN 'opus'
            WHEN 9 THEN 'mp4' WHEN 10 THEN 'webm'
            ELSE 'unknown' END AS format
FROM documents
"""


# -- qm24: EXIF (JPEG APP1) camera metadata (core/imaging.py::exif_meta) -----------
#
# The provenance/forensics tier of the image inventory (E145): endian,
# Orientation (the rotate-before-dedup input — a pHash of a sideways
# image never matches its upright twin), Make/Model/DateTime strings and
# the Exif-sub-IFD pixel dims, all from the APP1 header segment alone.
# Fixtures are honest TIFF blocks (real IFD layouts, inline SHORTs,
# out-of-line ASCII, a real 0x8769 sub-IFD pointer) spliced after the
# SOI of a genuine one-block JPEG; rotation exercises both endians, the
# no-EXIF path (plain JPEG) and the no-sub-IFD path. Every emitted
# field is a closed form of doc_id the oracle restates.

_EXIF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("has_exif", IntegerType()),
        StructField("endian", StringType()),
        StructField("orientation", IntegerType()),
        StructField("make", StringType()),
        StructField("model", StringType()),
        StructField("taken_at", StringType()),
        StructField("pix_x", IntegerType()),
        StructField("pix_y", IntegerType()),
    ]
)


def _qm24_make_jpeg(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import (
        encode_exif_app1,
        encode_jpeg,
        splice_exif,
    )

    i = int(doc_id)
    jpeg = encode_jpeg(8, 8, [(96 + (i % 4) * 8, 0)])
    if i % 5 == 4:  # no-EXIF family: the bare JPEG routes has_exif=0
        return jpeg
    no_dims = i % 7 == 3  # IFD0-only family: no Exif sub-IFD at all
    app1 = encode_exif_app1(
        orientation=i % 8 + 1,
        make="Maker" + str(i % 3),
        model="Cam" + str(i % 4),
        taken_at="2021:03:0" + str(i % 9 + 1) + " 12:34:56",
        pix_x=None if no_dims else 640 + (i % 7) * 16,
        pix_y=None if no_dims else 480 + (i % 7) * 12,
        big_endian=(i % 2 == 1),
    )
    return splice_exif(jpeg, app1)


def _qm24(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.imaging import exif_meta

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **exif_meta(_qm24_make_jpeg(d))}],
        _EXIF_SCHEMA,
    )


QUERIES["qm24_exif_meta"] = _qm24
ORACLE["qm24_exif_meta"] = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 1 END AS INTEGER)
           AS has_exif,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS endian,
       CAST(CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE doc_id % 8 + 1 END AS INTEGER) AS orientation,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE 'Maker' || CAST(doc_id % 3 AS VARCHAR) END AS make,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE 'Cam' || CAST(doc_id % 4 AS VARCHAR) END AS model,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE '2021:03:0' || CAST(doc_id % 9 + 1 AS VARCHAR)
                 || ' 12:34:56' END AS taken_at,
       CAST(CASE WHEN doc_id % 5 = 4 OR doc_id % 7 = 3 THEN NULL
            ELSE 640 + (doc_id % 7) * 16 END AS INTEGER) AS pix_x,
       CAST(CASE WHEN doc_id % 5 = 4 OR doc_id % 7 = 3 THEN NULL
            ELSE 480 + (doc_id % 7) * 12 END AS INTEGER) AS pix_y
FROM documents
"""


# -- qm25: FLAC STREAMINFO metadata (core/audio.py::flac_meta) ---------------------
#
# Completes the audio router's long tail (E142 covered mp3/opus/vorbis;
# FLAC is the crawl's dominant lossless codec): fLaC magic, metadata
# block walk (is-last/type byte + 24-bit length), STREAMINFO packed
# bitfields — 20-bit rate, 3-bit channels-1, 5-bit bps-1, 36-bit total
# samples — duration as exact integer ms. Fixtures rotate rate/channels/
# bps/unknown-total and interleave real PADDING and VORBIS_COMMENT
# blocks so the walk runs on genuine chains, never just magic+34 bytes.

_FLAC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("total_samples", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def _qm25_make_flac(doc_id: int) -> bytes:
    from pdf_spark.core.audio import encode_flac_skeleton

    i = int(doc_id)
    rate = [44100, 48000, 96000, 8000][i % 4]
    channels = (i % 8) + 1
    bps = [16, 24, 8][i % 3]
    total = 0 if i % 13 == 0 else (i * 613) % 480000 + 48000
    return encode_flac_skeleton(
        rate,
        channels,
        bps,
        total,
        padding=16 if i % 5 == 0 else 0,
        vendor=b"pdf_spark" if i % 7 == 0 else b"",
    )


def _qm25(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.audio import flac_meta

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **flac_meta(_qm25_make_flac(d))}],
        _FLAC_SCHEMA,
    )


QUERIES["qm25_flac_meta"] = _qm25
ORACLE["qm25_flac_meta"] = """
WITH v AS (
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                WHEN 2 THEN 96000 ELSE 8000 END AS rate,
           CASE WHEN doc_id % 13 = 0 THEN 0
                ELSE (doc_id * 613) % 480000 + 48000 END AS total
    FROM documents
)
SELECT doc_id,
       CAST(doc_id % 8 + 1 AS INTEGER) AS channels,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 24 ELSE 8 END
            AS INTEGER) AS bits_per_sample,
       CAST(total AS BIGINT) AS total_samples,
       CAST(total * 1000 // rate AS BIGINT) AS duration_ms
FROM v
"""


# -- qm26: animation inventory (core/imaging.py::animation_meta) -------------------
#
# Animated GIF (image-descriptor walk, GCE centisecond delays, NETSCAPE
# loop extension) and APNG (acTL frames/plays, fcTL delay fractions with
# the den-0-means-100 rule) routed against their static twins — the op
# that decides image-tier vs video-tier BEFORE any pixel is decoded.

_ANIM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("is_animated", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("loop_count", LongType()),
    ]
)


def _qm26_make_blob(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import (
        encode_apng,
        encode_gif,
        encode_gif_animation,
        encode_png,
    )

    i = int(doc_id)
    fam = i % 4
    pal = bytes([0, 0, 0, 255, 255, 255])
    if fam == 0:  # animated GIF
        k = i % 3 + 2
        delay = i % 7 + 2
        frames = [[(x + y + f) % 2 for y in range(4) for x in range(4)]
                  for f in range(k)]
        return encode_gif_animation(4, 4, pal, frames, [delay] * k,
                                    loop_count=i % 5)
    if fam == 1:  # static GIF
        return encode_gif(4, 4, pal, [(x + y) % 2 for y in range(4)
                                      for x in range(4)])
    if fam == 2:  # APNG
        k = i % 3 + 2
        num = i % 5 + 1
        den = [100, 50, 0][i % 3]
        return encode_apng(6, 5, k, num, den, num_plays=i % 4)
    return encode_png(3, 3, 1, bytes(9))  # static PNG


def _qm26(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.imaging import animation_meta

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **animation_meta(_qm26_make_blob(d))}],
        _ANIM_SCHEMA,
    )


QUERIES["qm26_animation_meta"] = _qm26
# GIF duration = k frames x (delay_cs x 10) ms; APNG per-frame ms is
# num*1000 // den with den 0 -> 100, summed over k identical frames.
ORACLE["qm26_animation_meta"] = """
WITH v AS (
    SELECT doc_id, doc_id % 4 AS fam,
           doc_id % 3 + 2 AS k,
           doc_id % 7 + 2 AS delay_cs,
           doc_id % 5 + 1 AS num,
           CASE doc_id % 3 WHEN 0 THEN 100 WHEN 1 THEN 50 ELSE 100 END
               AS den_eff
    FROM documents
)
SELECT doc_id,
       CASE fam WHEN 0 THEN 'gif' WHEN 1 THEN 'gif'
            WHEN 2 THEN 'apng' ELSE 'png' END AS format,
       CAST(CASE WHEN fam IN (0, 2) THEN 1 ELSE 0 END AS INTEGER)
           AS is_animated,
       CAST(CASE fam WHEN 0 THEN k WHEN 2 THEN k ELSE 1 END AS BIGINT)
           AS n_frames,
       CAST(CASE fam WHEN 0 THEN k * delay_cs * 10
            WHEN 2 THEN k * (num * 1000 // den_eff)
            ELSE 0 END AS BIGINT) AS duration_ms,
       CAST(CASE fam WHEN 0 THEN doc_id % 5
            WHEN 2 THEN doc_id % 4 ELSE 1 END AS BIGINT) AS loop_count
FROM v
"""


# -- qm27: EXIF GPS detect + strip (core/imaging.py::exif_gps/strip_exif_gps) ------
#
# The image-PII tier (qt26's text twin): GPS rationals read as exact
# integer micro-degrees (each deg/min/sec floored independently), then
# the strip transform rebuilds the APP1 without the GPS IFD and the
# query CERTIFIES the strip — re-parse shows gps gone and orientation
# (the dedup-critical field) intact. Coordinates leave the file, not
# just the pointer table.

_GPS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("has_gps", IntegerType()),
        StructField("lat_microdeg", LongType()),
        StructField("lon_microdeg", LongType()),
        StructField("gps_after_strip", IntegerType()),
        StructField("orientation_kept", IntegerType()),
    ]
)


def _qm27_make_jpeg(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import (
        encode_exif_app1,
        encode_jpeg,
        splice_exif,
    )

    i = int(doc_id)
    jpeg = encode_jpeg(8, 8, [(96 + (i % 4) * 8, 0)])
    if i % 5 == 4:  # no EXIF at all
        return jpeg
    gps = None
    if i % 3 != 2:  # GPS family
        gps = (
            "N" if i % 4 < 2 else "S",
            (i % 90, 1, i % 60, 1, (i * 37) % 60000, 1000),
            "E" if i % 8 < 4 else "W",
            (i % 180, 1, (i * 7) % 60, 1, (i * 11) % 60000, 1000),
        )
    app1 = encode_exif_app1(
        orientation=i % 8 + 1,
        make="Maker" + str(i % 3),
        big_endian=(i % 2 == 1),
        gps=gps,
    )
    return splice_exif(jpeg, app1)


def _qm27(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.imaging import exif_gps, exif_meta, strip_exif_gps

    def row(d: int) -> list:
        blob = _qm27_make_jpeg(d)
        g = exif_gps(blob)
        stripped = strip_exif_gps(blob)
        orientation = exif_meta(blob)["orientation"]
        kept = exif_meta(stripped)["orientation"] == orientation
        return [
            {
                "doc_id": d,
                "has_gps": g["has_gps"],
                "lat_microdeg": g["lat_microdeg"],
                "lon_microdeg": g["lon_microdeg"],
                "gps_after_strip": exif_gps(stripped)["has_gps"],
                "orientation_kept": 1 if kept else 0,
            }
        ]

    return map_rows(
        load(spark, sf, "documents").select("doc_id"), row, _GPS_SCHEMA
    )


QUERIES["qm27_exif_gps_strip"] = _qm27
ORACLE["qm27_exif_gps_strip"] = """
WITH v AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 4 OR doc_id % 3 = 2 THEN 0 ELSE 1 END
               AS gps,
           doc_id % 90 * 1000000 + (doc_id % 60) * 1000000 // 60
               + ((doc_id * 37) % 60000) * 1000000 // 3600000 AS lat_mag,
           doc_id % 180 * 1000000 + ((doc_id * 7) % 60) * 1000000 // 60
               + ((doc_id * 11) % 60000) * 1000000 // 3600000 AS lon_mag
    FROM documents
)
SELECT doc_id,
       CAST(gps AS INTEGER) AS has_gps,
       CAST(CASE WHEN gps = 0 THEN NULL
            WHEN doc_id % 4 < 2 THEN lat_mag ELSE -lat_mag END AS BIGINT)
           AS lat_microdeg,
       CAST(CASE WHEN gps = 0 THEN NULL
            WHEN doc_id % 8 < 4 THEN lon_mag ELSE -lon_mag END AS BIGINT)
           AS lon_microdeg,
       CAST(0 AS INTEGER) AS gps_after_strip,
       CAST(1 AS INTEGER) AS orientation_kept
FROM v
"""


# -- qm28: MP4 keyframe inventory (core/video.py::mp4_sample_table) ----------------
#
# Upgrades the E140 routing meta to the frame-sample tier's actual
# shopping list: per video track, sample count + media-timescale
# duration from the stts run-length table and the keyframe (sync
# sample) positions from stss — absent stss meaning EVERY sample is
# sync per ISO 14496-12 §8.6.2 (intra-only streams). A distributed
# frame sampler seeks precisely to these; still zero codec bytes read.

_STBL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_keyframes", LongType()),
        StructField("media_duration_ms", LongType()),
        StructField("first_keyframe", LongType()),
        StructField("last_keyframe", LongType()),
    ]
)


def _qm28_make_mp4(doc_id: int) -> bytes:
    from pdf_spark.core.video import encode_mp4_skeleton

    i = int(doc_id)
    ts = [1000, 90000, 600][i % 3]
    cnt1, delta1 = i % 5 + 2, i % 4 + 1
    cnt2, delta2 = i % 3 + 1, i % 6 + 2
    stts = [(cnt1, delta1), (cnt2, delta2)]
    n = cnt1 + cnt2
    if i % 7 == 3:
        stss = None  # intra-only family: no stss box at all
    else:
        k = i % 3 + 2
        stss = list(range(1, n + 1, k))
    return encode_mp4_skeleton(
        "isom", ts, cnt1 * delta1 + cnt2 * delta2,
        [("vide", 320, 240)], sample_tables=[(stts, stss)],
    )


def _qm28(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.video import mp4_sample_table

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **mp4_sample_table(_qm28_make_mp4(d))}],
        _STBL_SCHEMA,
    )


QUERIES["qm28_mp4_keyframes"] = _qm28
ORACLE["qm28_mp4_keyframes"] = """
WITH v AS (
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 1000 WHEN 1 THEN 90000 ELSE 600 END
               AS ts,
           doc_id % 5 + 2 AS cnt1, doc_id % 4 + 1 AS delta1,
           doc_id % 3 + 1 AS cnt2, doc_id % 6 + 2 AS delta2,
           doc_id % 3 + 2 AS k
    FROM documents
),
w AS (
    SELECT doc_id, ts, k, cnt1 + cnt2 AS n,
           cnt1 * delta1 + cnt2 * delta2 AS ticks
    FROM v
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(CASE WHEN doc_id % 7 = 3 THEN n
            ELSE (n - 1) // k + 1 END AS BIGINT) AS n_keyframes,
       CAST(ticks * 1000 // ts AS BIGINT) AS media_duration_ms,
       CAST(1 AS BIGINT) AS first_keyframe,
       CAST(CASE WHEN doc_id % 7 = 3 THEN n
            ELSE 1 + ((n - 1) // k) * k END AS BIGINT) AS last_keyframe
FROM w
"""


# -- qm29: JPEG XMP provenance + AI-content disclosure (core/imaging.py) -----------
#
# The synthetic-image filter: IPTC's DigitalSourceType disclosure
# (trainedAlgorithmicMedia and its composite form) is how generators
# label AI output since 2023 — a training pipeline drops or downweights
# these before the next model trains on its predecessor's output. Both
# wild XMP shapes (attribute and element form) rotate through the
# fixtures, plus a plain-camera family and a no-XMP family.

_XMP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("has_xmp", IntegerType()),
        StructField("creator_tool", StringType()),
        StructField("creator", StringType()),
        StructField("is_ai_generated", IntegerType()),
    ]
)

_QM29_AI_DST = (
    "http://cv.iptc.org/newscodes/digitalsourcetype/trainedAlgorithmicMedia"
)


def _qm29_make_jpeg(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import (
        encode_jpeg,
        encode_xmp_app1,
        splice_exif,
    )

    i = int(doc_id)
    base = encode_jpeg(8, 8, [(96 + (i % 4) * 8, 0)])
    if i % 5 == 4:  # no XMP at all
        return base
    app1 = encode_xmp_app1(
        creator_tool="Tool" + str(i % 3),
        creator="Artist" + str(i % 4) if i % 3 != 1 else None,
        digital_source_type=_QM29_AI_DST if i % 4 == 0 else None,
        attribute_form=(i % 2 == 0),
    )
    return splice_exif(base, app1)


def _qm29(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.imaging import jpeg_xmp_meta

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **jpeg_xmp_meta(_qm29_make_jpeg(d))}],
        _XMP_SCHEMA,
    )


QUERIES["qm29_xmp_ai_provenance"] = _qm29
ORACLE["qm29_xmp_ai_provenance"] = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 1 END AS INTEGER) AS has_xmp,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE 'Tool' || CAST(doc_id % 3 AS VARCHAR) END AS creator_tool,
       CASE WHEN doc_id % 5 = 4 OR doc_id % 3 = 1 THEN NULL
            ELSE 'Artist' || CAST(doc_id % 4 AS VARCHAR) END AS creator,
       CAST(CASE WHEN doc_id % 5 <> 4 AND doc_id % 4 = 0 THEN 1 ELSE 0 END
            AS INTEGER) AS is_ai_generated
FROM documents
"""


# -- qm30: animated WebP inventory (animation router's third family) ---------------
#
# Completes the E148 animation routing tier across the web's animated
# formats (gif/apng/webp): VP8X animation flag gates, ANIM carries the
# loop count, per-frame ANMF headers carry 24-bit millisecond durations
# (summed exactly); every fixture frame embeds a GENUINE VP8L bitstream
# from the real lossless encoder.


def _qm30_make_webp(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import (
        encode_webp_animation,
        encode_webp_lossless,
    )

    i = int(doc_id)
    if i % 3 == 2:  # static lossless family
        return encode_webp_lossless(4, 4, 3, bytes(48))
    k = i % 4 + 2
    dur = (i % 9 + 1) * 10
    return encode_webp_animation(8, 6, [dur] * k, loop_count=i % 6)


def _qm30(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.imaging import animation_meta

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **animation_meta(_qm30_make_webp(d))}],
        _ANIM_SCHEMA,
    )


QUERIES["qm30_webp_animation"] = _qm30
ORACLE["qm30_webp_animation"] = """
SELECT doc_id,
       'webp' AS format,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 0 ELSE 1 END AS INTEGER)
           AS is_animated,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE doc_id % 4 + 2 END
            AS BIGINT) AS n_frames,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 0
            ELSE (doc_id % 4 + 2) * ((doc_id % 9 + 1) * 10) END AS BIGINT)
           AS duration_ms,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE doc_id % 6 END AS BIGINT)
           AS loop_count
FROM documents
"""


# -- qm31: ID3v2 text frames (core/audio.py::id3_tags) -----------------------------
#
# Audio provenance (EXIF's music twin): title/artist/album/year from
# ID3v2 text frames, with the v2.3-vs-v2.4 frame-size trap (plain
# big-endian vs syncsafe) and all three text encodings (latin-1,
# utf-16+BOM, utf-8) rotated through honest tags glued onto real MP3
# frame headers.

_ID3_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("has_id3", IntegerType()),
        StructField("version", IntegerType()),
        StructField("title", StringType()),
        StructField("artist", StringType()),
        StructField("year", StringType()),
    ]
)


def _qm31_make_mp3(doc_id: int) -> bytes:
    from pdf_spark.core.audio import encode_id3v2, encode_mp3_skeleton

    i = int(doc_id)
    mp3 = encode_mp3_skeleton(1, 128, 44100, 2, (i % 9) + 3)
    if i % 5 == 4:  # untagged family
        return mp3
    tag = encode_id3v2(
        3 if i % 2 == 0 else 4,
        title="Track" + str(i % 7),
        artist=("Ärtist" + str(i % 3)) if i % 4 != 3 else None,
        year="19" + str(70 + i % 30),
        encoding=[0, 1, 3][i % 3],
    )
    return tag + mp3


def _qm31(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.audio import id3_tags

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **id3_tags(_qm31_make_mp3(d))}],
        _ID3_SCHEMA,
    )


QUERIES["qm31_id3_tags"] = _qm31
ORACLE["qm31_id3_tags"] = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 5 = 4 THEN 0 ELSE 1 END AS INTEGER)
           AS has_id3,
       CAST(CASE WHEN doc_id % 5 = 4 THEN 0
            WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS INTEGER) AS version,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE 'Track' || CAST(doc_id % 7 AS VARCHAR) END AS title,
       CASE WHEN doc_id % 5 = 4 OR doc_id % 4 = 3 THEN NULL
            ELSE 'Ärtist' || CAST(doc_id % 3 AS VARCHAR) END AS artist,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE '19' || CAST(70 + doc_id % 30 AS VARCHAR) END AS year
FROM documents
"""


# -- qm32: extension-vs-magic mismatch audit (router capstone #2) -------------------
#
# Crawl blobs arrive with a DECLARED type (url extension / Content-Type)
# that lies constantly — a .png that is really a JPEG decodes fine, a
# .jpg that is really an MP4 wastes a decode slot, and systematic
# mismatches flag link rot or spoofing. The audit runs the qm23
# magic-byte router against the declared extension and flags
# disagreement; pipelines route on the SNIFFED type and keep the
# mismatch bit as a quality signal (the reference engine trusts
# extensions — net-new).

_MISMATCH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("declared", StringType()),
        StructField("sniffed", StringType()),
        StructField("mismatch", IntegerType()),
    ]
)

_QM32_FAMS = ["png", "gif", "jpeg", "wav", "mp4", "bin"]


def _qm32_make_blob(fam: str, i: int) -> bytes:
    from pdf_spark.core import imaging
    from pdf_spark.core.audio import encode_wav
    from pdf_spark.core.video import encode_mp4_skeleton

    gray = [((x + y + i) * 8) % 256 for y in range(8) for x in range(8)]
    if fam == "png":
        return imaging.encode_png(8, 8, 1, gray)
    if fam == "gif":
        pal = bytes(v for g in range(256) for v in (g, g, g))
        return imaging.encode_gif(8, 8, pal, gray)
    if fam == "jpeg":
        return imaging.encode_jpeg(8, 8, [(64 + i % 32, 0)])
    if fam == "wav":
        return encode_wav(8000, 1, 16, [0, 50, -50, 0] * 20)
    if fam == "mp4":
        return encode_mp4_skeleton("isom", 600, 600, [("vide", 64, 64)])
    return b"#!opaque " + bytes([i % 256]) * 32


def _qm32(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.audio import audio_meta
    from pdf_spark.core.imaging import image_meta
    from pdf_spark.core.video import video_meta

    def sniff(blob: bytes) -> str:
        im = image_meta(blob)
        if im is not None:
            return im[0]
        au = audio_meta(blob)
        if au["codec"] != "unknown":
            return au["codec"]
        vi = video_meta(blob)
        if vi["format"] != "unknown":
            return vi["format"]
        return "bin"

    def row(d: int) -> list:
        declared = _QM32_FAMS[d % 6]
        # every third doc's bytes are actually a DIFFERENT family
        actual = _QM32_FAMS[(d + 2) % 6] if d % 3 == 0 else declared
        sn = sniff(_qm32_make_blob(actual, d))
        return [
            {
                "doc_id": d,
                "declared": declared,
                "sniffed": sn,
                "mismatch": int(sn != declared),
            }
        ]

    return map_rows(
        load(spark, sf, "documents").select("doc_id"), row, _MISMATCH_SCHEMA
    )


QUERIES["qm32_mime_mismatch"] = _qm32
ORACLE["qm32_mime_mismatch"] = """
WITH fams AS (
    SELECT doc_id,
           CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                WHEN 2 THEN 'jpeg' WHEN 3 THEN 'wav' WHEN 4 THEN 'mp4'
                ELSE 'bin' END AS declared,
           CASE WHEN doc_id % 3 = 0 THEN
               CASE (doc_id + 2) % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                    WHEN 2 THEN 'jpeg' WHEN 3 THEN 'wav' WHEN 4 THEN 'mp4'
                    ELSE 'bin' END
           ELSE
               CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                    WHEN 2 THEN 'jpeg' WHEN 3 THEN 'wav' WHEN 4 THEN 'mp4'
                    ELSE 'bin' END
           END AS sniffed
    FROM documents
)
SELECT doc_id, declared, sniffed,
       CAST(CASE WHEN sniffed <> declared THEN 1 ELSE 0 END AS INTEGER)
           AS mismatch
FROM fams
"""


# -- qm33: PNG text-chunk provenance (core/imaging.py::png_text_meta) ---------------
#
# The PNG twin of qm29's XMP disclosure: diffusion tools write their
# full generation config under the tEXt key "parameters" (or "prompt"),
# editors stamp "Software" — collected across tEXt (latin-1), zTXt
# (genuinely zlib-deflated) and iTXt (utf-8), first value per key.

_PNGTEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("has_text", IntegerType()),
        StructField("software", StringType()),
        StructField("n_text_chunks", LongType()),
        StructField("is_ai_suspect", IntegerType()),
    ]
)


def _qm33_make_png(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_png, png_add_text

    i = int(doc_id)
    base = encode_png(4, 4, 1, bytes((i + k) % 256 for k in range(16)))
    fam = i % 4
    if fam == 0:  # bare image, no text
        return base
    if fam == 1:  # editor provenance, chunk kind rotates
        kind = ["tEXt", "zTXt", "iTXt"][i % 3]
        return png_add_text(base, [(kind, "Software", "Editor " + str(i % 5))])
    if fam == 2:  # generator config -> AI suspect
        key = "parameters" if i % 2 == 0 else "prompt"
        return png_add_text(
            base,
            [("tEXt", key, "seed: " + str(i)),
             ("zTXt", "Comment", "c" + str(i % 7))],
        )
    return png_add_text(base, [("iTXt", "Title", "t" + str(i % 9))])


def _qm33(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.imaging import png_text_meta

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **png_text_meta(_qm33_make_png(d))}],
        _PNGTEXT_SCHEMA,
    )


QUERIES["qm33_png_text_provenance"] = _qm33
ORACLE["qm33_png_text_provenance"] = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END AS INTEGER)
           AS has_text,
       CASE WHEN doc_id % 4 = 1
            THEN 'Editor ' || CAST(doc_id % 5 AS VARCHAR) END AS software,
       CAST(CASE doc_id % 4 WHEN 0 THEN 0 WHEN 2 THEN 2 ELSE 1 END
            AS BIGINT) AS n_text_chunks,
       CAST(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END AS INTEGER)
           AS is_ai_suspect
FROM documents
"""


# -- qm34: SVG metadata + active-content quarantine flag (core/imaging.py) ----------
#
# SVG is the one image family that can EXECUTE (scripts, event
# attributes, javascript: hrefs) — crawl pipelines quarantine it before
# any rasterize step; dims route the rasterizer, embedded <image>
# data: URIs measure payload inflation. Text-scan only, comments
# stripped first so a commented-out <script> decoy can never flag.

_SVG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_svg", IntegerType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("has_script", IntegerType()),
        StructField("n_images", LongType()),
        StructField("n_data_uri", LongType()),
    ]
)


def _qm34_make_svg(doc_id: int) -> bytes:
    from pdf_spark.core.imaging import encode_png

    i = int(doc_id)
    if i % 11 == 7:  # not SVG at all: routing returns is_svg=0 + NULLs
        return encode_png(2, 2, 1, bytes((i + k) % 256 for k in range(4)))
    fam = i % 5
    decoy = "<!--<script>x()</script><image href='data:x'/>-->" if i % 4 == 0 else ""
    w, h = 100 + i % 50, 80 + i % 40
    vw, vh = 200 + i % 30, 150 + i % 20
    if fam == 0:  # plain, unit-suffixed dims
        body = f'<svg width="{w}px" height="{h}"><rect/></svg>'
    elif fam == 1:  # viewBox-only dims
        body = f'<svg viewBox="0 0 {vw} {vh}"><circle/></svg>'
    elif fam == 2:  # real script element
        body = (
            f'<svg width="{w}" height="{h}">'
            "<script>alert(1)</script></svg>"
        )
    elif fam == 3:  # event attribute + javascript: href
        body = (
            f'<svg width="{w}" height="{h}" onload="go()">'
            '<a href="javascript:p()">x</a></svg>'
        )
    else:  # embedded rasters: one data: URI, one external
        body = (
            f'<svg viewBox="0 0 {vw} {vh}">'
            '<image href="data:image/png;base64,AAAA"/>'
            '<image href="https://cdn.example/x.png"/></svg>'
        )
    return ('<?xml version="1.0"?>' + decoy + body).encode("utf-8")


def _qm34(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.imaging import svg_meta

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **svg_meta(_qm34_make_svg(d))}],
        _SVG_SCHEMA,
    )


QUERIES["qm34_svg_meta"] = _qm34
ORACLE["qm34_svg_meta"] = """
WITH v AS (
    SELECT doc_id,
           CASE WHEN doc_id % 11 = 7 THEN -1 ELSE doc_id % 5 END AS fam,
           100 + doc_id % 50 AS w, 80 + doc_id % 40 AS h,
           200 + doc_id % 30 AS vw, 150 + doc_id % 20 AS vh
    FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN fam = -1 THEN 0 ELSE 1 END AS INTEGER) AS is_svg,
       CAST(CASE WHEN fam IN (0, 2, 3) THEN w
                 WHEN fam IN (1, 4) THEN vw END AS BIGINT) AS width,
       CAST(CASE WHEN fam IN (0, 2, 3) THEN h
                 WHEN fam IN (1, 4) THEN vh END AS BIGINT) AS height,
       CAST(CASE WHEN fam = -1 THEN NULL
                 WHEN fam IN (2, 3) THEN 1 ELSE 0 END AS INTEGER)
           AS has_script,
       CAST(CASE WHEN fam = -1 THEN NULL
                 WHEN fam = 4 THEN 2 ELSE 0 END AS BIGINT) AS n_images,
       CAST(CASE WHEN fam = -1 THEN NULL
                 WHEN fam = 4 THEN 1 ELSE 0 END AS BIGINT) AS n_data_uri
FROM v
"""


# -- qm35: AVIF/HEIF image-container metadata (core/video.py::heif_meta) ------------
#
# AVIF/HEIC are ISO-BMFF (ISO/IEC 23008-12 on the 14496-12 box grammar)
# and are what modern crawls serve where JPEG/PNG used to be; routing
# needs dims (largest ispe property — thumbnails are smaller), item
# count (iinf) and the animated-sequence brand flag, never codec bytes.

_HEIF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("is_heif", IntegerType()),
        StructField("brand", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_items", LongType()),
        StructField("is_animated", IntegerType()),
    ]
)


def _qm35_make_blob(doc_id: int) -> bytes:
    from pdf_spark.core.video import encode_heif_skeleton, encode_mp4_skeleton

    i = int(doc_id)
    if i % 9 == 5:  # plain video MP4: heif_meta must route it OUT
        return encode_mp4_skeleton(
            "isom", 1000, 1000, [("vide", 320, 240)]
        )
    fam = i % 4
    w, h = 160 + i % 100, 120 + i % 80
    if fam == 0:  # single-image avif
        return encode_heif_skeleton(b"avif", [(w, h)], 1)
    if fam == 1:  # primary + smaller thumbnail: largest ispe wins
        return encode_heif_skeleton(b"avif", [(w // 4, h // 4), (w, h)], 2)
    if fam == 2:  # heic burst with 3 items
        return encode_heif_skeleton(b"heic", [(w, h)], 3)
    return encode_heif_skeleton(b"avis", [(w, h)], 1)  # animated sequence


def _qm35(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.video import heif_meta

    def row(d: int) -> list:
        try:
            m = heif_meta(_qm35_make_blob(d))
        except ValueError:
            return [{**dict.fromkeys(_HEIF_SCHEMA.names), "doc_id": d,
                     "is_heif": 0}]
        return [{**m, "doc_id": d, "is_heif": 1}]

    return map_rows(
        load(spark, sf, "documents").select("doc_id"), row, _HEIF_SCHEMA
    )


QUERIES["qm35_heif_meta"] = _qm35
ORACLE["qm35_heif_meta"] = """
WITH v AS (
    SELECT doc_id,
           CASE WHEN doc_id % 9 = 5 THEN -1 ELSE doc_id % 4 END AS fam,
           160 + doc_id % 100 AS w, 120 + doc_id % 80 AS h
    FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN fam = -1 THEN 0 ELSE 1 END AS INTEGER) AS is_heif,
       CASE fam WHEN 0 THEN 'avif' WHEN 1 THEN 'avif'
                WHEN 2 THEN 'heic' WHEN 3 THEN 'avis' END AS brand,
       CAST(CASE WHEN fam = -1 THEN NULL ELSE w END AS BIGINT) AS width,
       CAST(CASE WHEN fam = -1 THEN NULL ELSE h END AS BIGINT) AS height,
       CAST(CASE fam WHEN 1 THEN 2 WHEN 2 THEN 3 WHEN -1 THEN NULL
            ELSE 1 END AS BIGINT) AS n_items,
       CAST(CASE WHEN fam = -1 THEN NULL WHEN fam = 3 THEN 1 ELSE 0 END
            AS INTEGER) AS is_animated
FROM v
"""


# -- qm36: subtitle/caption cue parse (core/subtitles.py) ---------------------------
#
# The text half of an audio/video training pair: SRT + WebVTT cue
# parse in integer milliseconds — speech time, captioned span, speech
# density — the routing gate before any (costly) audio decode +
# alignment pass. Malformed cue blocks are skipped, not fatal.

_SUB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("fmt", StringType()),
        StructField("n_cues", LongType()),
        StructField("speech_ms", LongType()),
        StructField("span_ms", LongType()),
        StructField("n_chars", LongType()),
        StructField("density_milli", LongType()),
    ]
)


def _srt_stamp(ms: int) -> str:
    s, mmm = divmod(ms, 1000)
    h, rem = divmod(s, 3600)
    m, sec = divmod(rem, 60)
    return f"{h:02d}:{m:02d}:{sec:02d},{mmm:03d}"


def _vtt_stamp(ms: int) -> str:
    s, mmm = divmod(ms, 1000)
    m, sec = divmod(s, 60)
    return f"{m:02d}:{sec:02d}.{mmm:03d}"


def _qm36_make_blob(doc_id: int) -> bytes:
    i = int(doc_id)
    if i % 10 == 7:  # not captions at all
        return b"<html><body>not captions</body></html>"
    fam = i % 4
    a = 500 + (i % 7) * 100
    b = 300 + (i % 5) * 50
    c = 200 + (i % 9) * 100
    e = 1000 + (i % 11) * 250
    t1 = "x" * (4 + i % 6)
    if fam in (0, 2):
        blocks = [
            f"1\n{_srt_stamp(1000)} --> {_srt_stamp(1000 + a)}\n{t1}",
        ]
        if fam == 2:  # malformed middle block: skipped, cues survive
            blocks.append("2\ngarbage --> stamps\nnever parsed")
        s2 = 1000 + a + 400
        blocks.append(
            f"3\n{_srt_stamp(s2)} --> {_srt_stamp(s2 + b)}\nok"
        )
        return ("\n\n".join(blocks) + "\n").encode("utf-8")
    if fam == 1:  # VTT: hour-less stamps, settings, inline tags
        cues = []
        pos = 500
        for k in range(3):
            cues.append(
                f"{_vtt_stamp(pos)} --> {_vtt_stamp(pos + c)} align:start\n"
                f"<c.yellow>abc</c>"
            )
            pos += c + 100
        return ("WEBVTT\n\n" + "\n\n".join(cues) + "\n").encode("utf-8")
    # fam 3: NOTE block + cue identifier, single cue
    return (
        "WEBVTT\n\nNOTE\nauthoring comment\n\nintro\n"
        f"{_vtt_stamp(2000)} --> {_vtt_stamp(2000 + e)}\n<i>hello</i> cue\n"
    ).encode("utf-8")


def _qm36(spark: SparkSession, sf: str) -> DataFrame:
    from pdf_spark.core.subtitles import subtitle_meta

    return map_rows(
        load(spark, sf, "documents").select("doc_id"),
        lambda d: [{"doc_id": d, **subtitle_meta(_qm36_make_blob(d))}],
        _SUB_SCHEMA,
    )


QUERIES["qm36_subtitle_cues"] = _qm36
ORACLE["qm36_subtitle_cues"] = """
WITH v AS (
    SELECT doc_id,
           CASE WHEN doc_id % 10 = 7 THEN -1 ELSE doc_id % 4 END AS fam,
           500 + (doc_id % 7) * 100 AS a,
           300 + (doc_id % 5) * 50 AS b,
           200 + (doc_id % 9) * 100 AS c,
           1000 + (doc_id % 11) * 250 AS e,
           4 + doc_id % 6 AS t1
    FROM documents
), m AS (
    SELECT doc_id, fam,
           CASE WHEN fam IN (0, 2) THEN a + b
                WHEN fam = 1 THEN 3 * c
                WHEN fam = 3 THEN e END AS speech,
           CASE WHEN fam IN (0, 2) THEN a + b + 400
                WHEN fam = 1 THEN 3 * c + 200
                WHEN fam = 3 THEN e END AS span,
           CASE WHEN fam IN (0, 2) THEN t1 + 2
                WHEN fam = 1 THEN 9
                WHEN fam = 3 THEN 9 END AS chars,
           CASE WHEN fam IN (0, 2) THEN 2
                WHEN fam = 1 THEN 3
                WHEN fam = 3 THEN 1 END AS cues
    FROM v
)
SELECT doc_id,
       CASE WHEN fam IN (0, 2) THEN 'srt'
            WHEN fam IN (1, 3) THEN 'vtt' END AS fmt,
       CAST(cues AS BIGINT) AS n_cues,
       CAST(speech AS BIGINT) AS speech_ms,
       CAST(span AS BIGINT) AS span_ms,
       CAST(chars AS BIGINT) AS n_chars,
       CAST((1000 * speech) // span AS BIGINT) AS density_milli
FROM m
"""
