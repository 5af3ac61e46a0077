"""Mutation campaign over the real media decoders (PNG/GIF/JPEG/WebP/
WAV): seeded byte flips, truncations, and splices on valid fixtures
must either decode to SOMETHING or raise ValueError/NotImplementedError
— never a non-Exception crash, unbounded allocation, or hang. The
10^12-blob corpus guarantees malformed bytes; the error row IS the
contract (same discipline as the PDF mutation campaign in
test_fuzz_parser.py)."""

import random
import signal

import pytest

from pdf_spark.core import imaging
from pdf_spark.core.audio import decode_wav, encode_wav

# deterministic per-format seeds (hash() is process-randomized) and a
# hard per-decode wall: a mutation may legally decode something big but
# bounded; >5 s on a <=1 KB blob means quadratic blowup or a spin
_SEEDS = {"png": 1, "png_pal": 2, "gif": 3, "jpeg": 4, "jpeg_prog": 5,
          "webp": 6, "wav": 7, "bmp": 8, "tiff": 9, "tiff_pal": 10}


class _DecodeTimeout(Exception):
    pass


def _alarm(_sig, _frm):
    raise _DecodeTimeout()


def _fixtures():
    from pdf_spark.core.imaging import (
        encode_gif,
        encode_jpeg,
        encode_jpeg_progressive,
        encode_png,
        encode_png_indexed,
        encode_webp_lossless,
    )

    rng = random.Random(99)
    gray = bytearray(rng.randrange(256) for _ in range(16 * 16))
    out = {
        "png": encode_png(16, 16, 1, gray, "cycle"),
        "png_pal": encode_png_indexed(
            16, 16, bytes([9, 9, 9, 200, 200, 200]),
            [i % 2 for i in range(256)], 1, True,
        ),
        "gif": encode_gif(
            13, 9, bytes([10, 20, 30, 200, 100, 50]),
            [i % 2 for i in range(117)], interlace=True,
        ),
        "jpeg": encode_jpeg(16, 16, [(100, 16)] * 4, chroma=(128, 128)),
        "jpeg_prog": encode_jpeg_progressive(
            16, 16, [(90, 24)] * 4, successive=True
        ),
        "webp": encode_webp_lossless(
            16, 16, 1, list(gray), cache_bits=3, lz77=True
        ),
        "wav": encode_wav(8000, 2, 16, [i % 251 - 125 for i in range(64)]),
        "bmp": __import__(
            "pdf_spark.core.imaging", fromlist=["encode_bmp"]
        ).encode_bmp(9, 5, 3, [rng.randrange(256) for _ in range(135)]),
        "tiff": imaging.encode_tiff(
            11, 10, 3, bytes(rng.randrange(256) for _ in range(330)),
            compression="lzw", predictor=True, big_endian=True,
        ),
        "tiff_pal": imaging.encode_tiff(
            12, 9, 1, bytes(rng.randrange(16) for _ in range(108)),
            compression="packbits",
            palette=[(i, 255 - i, i ^ 85) for i in range(256)],
        ),
    }
    return out


def _decode(kind: str, blob: bytes) -> None:
    old = signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(5)
    try:
        if kind == "wav":
            decode_wav(blob)
        else:
            imaging._pixels(blob)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


class TestMediaMutationCampaign:
    def test_byte_flips_fail_closed(self):
        for kind, blob in _fixtures().items():
            rng = random.Random(_SEEDS[kind])
            stride = max(1, len(blob) // 64)  # ~64 flips per fixture
            for off in range(0, len(blob), stride):
                mut = bytearray(blob)
                mut[off] ^= 1 << rng.randrange(8)
                try:
                    _decode(kind, bytes(mut))
                except (ValueError, NotImplementedError):
                    pass  # fail-closed is the contract
                except __import__("zlib").error:
                    pass  # compressed-payload corruption surfaces here
                except __import__("struct").error:
                    pass

    def test_truncations_fail_closed(self):
        for kind, blob in _fixtures().items():
            for cut in range(1, len(blob), max(1, len(blob) // 32)):
                try:
                    _decode(kind, blob[:cut])
                except (ValueError, NotImplementedError):
                    pass
                except __import__("zlib").error:
                    pass
                except __import__("struct").error:
                    pass

    def test_cross_format_splices_fail_closed(self):
        fx = _fixtures()
        kinds = sorted(fx)
        for a in kinds:
            for b in kinds:
                if a == b:
                    continue
                blob = fx[a][: len(fx[a]) // 2] + fx[b][len(fx[b]) // 2 :]
                try:
                    _decode(a, blob)
                except (ValueError, NotImplementedError):
                    pass
                except __import__("zlib").error:
                    pass
                except __import__("struct").error:
                    pass

    def test_meta_never_raises_on_garbage(self):
        from pdf_spark.core.audio import wav_meta

        rng = random.Random(5)
        for blob in list(_fixtures().values()) + [
            bytes(rng.randrange(256) for _ in range(200)) for _ in range(20)
        ]:
            for cut in (0, 5, 12, 21, 30, len(blob)):
                imaging.image_meta(blob[:cut])  # returns tuple or None
                wav_meta(blob[:cut])
