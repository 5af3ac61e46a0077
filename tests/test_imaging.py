"""Real image decode (core/imaging.py): PNG codec roundtrip, feature/aHash
integer math, bomb guards, and PNG sample parity with Pillow (skipped
when Pillow is absent)."""

import random

import pytest

from pdf_spark.core.imaging import (
    MAX_PIXELS,
    average_hash,
    decode_png,
    encode_png,
    image_features,
)


class TestPngCodec:
    def test_roundtrip_all_channels_and_filters(self):
        for ch in (1, 2, 3, 4):
            for mode in ("none", "cycle"):
                w, h = 13, 11
                samples = bytearray(
                    ((x * 7 + y * 13 + c * 29) % 256)
                    for y in range(h)
                    for x in range(w)
                    for c in range(ch)
                )
                png = encode_png(w, h, ch, samples, mode)
                assert decode_png(png) == (w, h, ch, samples)

    def test_roundtrip_random_noise(self):
        rng = random.Random(7)
        for _ in range(8):
            w = rng.randint(1, 40)
            h = rng.randint(1, 40)
            ch = rng.choice([1, 2, 3, 4])
            samples = bytearray(rng.randrange(256) for _ in range(w * h * ch))
            assert decode_png(encode_png(w, h, ch, samples, "cycle"))[3] == samples

    def test_rejects_non_png_and_malformed(self):
        with pytest.raises(ValueError):
            decode_png(b"JFIF not a png")
        good = encode_png(4, 4, 1, bytearray(16), "none")
        for cut in (4, 12, 20):
            with pytest.raises(ValueError):
                decode_png(good[:cut])
        # losing only the IEND tail is tolerated (lenient, data complete)
        assert decode_png(good[: len(good) - 6])[0] == 4
        # bit-flip fuzz: ValueError or zlib noise must never escape as a
        # non-Exception crash; corrupt streams may still decode if the
        # flip hits the CRC (we skip CRCs by design)
        for i in range(8, len(good), 5):
            mut = bytearray(good)
            mut[i] ^= 0xFF
            try:
                decode_png(bytes(mut))
            except Exception:
                pass

    def test_bomb_guard(self):
        import struct
        import zlib

        # IHDR claims 65536 x 65536 gray: must be rejected before any
        # allocation of that size
        sig = b"\x89PNG\r\n\x1a\n"
        ihdr = struct.pack(">IIBBBBB", 65536, 65536, 8, 0, 0, 0, 0)
        chunk = (
            struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        )
        with pytest.raises(ValueError):
            decode_png(sig + chunk)
        assert 65536 * 65536 > MAX_PIXELS

    def test_unsupported_shapes(self):
        import struct
        import zlib

        sig = b"\x89PNG\r\n\x1a\n"
        for depth, color, inter in ((16, 0, 0), (8, 3, 0), (8, 0, 1)):
            ihdr = struct.pack(">IIBBBBB", 4, 4, depth, color, 0, 0, inter)
            chunk = (
                struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
                + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
            )
            with pytest.raises(ValueError):
                decode_png(sig + chunk)


class TestFeatures:
    def test_constant_gray(self):
        png = encode_png(16, 16, 1, bytearray([77] * 256), "cycle")
        assert image_features(png) == (16, 16, 1, 77)

    def test_rgb_luma(self):
        samples = bytearray()
        for _ in range(16 * 16):
            samples += bytes((100, 150, 200))
        png = encode_png(16, 16, 3, samples, "none")
        expected = (299 * 100 + 587 * 150 + 114 * 200) // 1000
        assert image_features(png) == (16, 16, 3, expected)

    def test_ahash_halves(self):
        samples = bytearray(
            (200 if x < 8 else 10) for _y in range(16) for x in range(16)
        )
        png = encode_png(16, 16, 1, samples, "cycle")
        assert average_hash(png) == 0xF0F0F0F0F0F0F0F0
        flipped = bytearray(
            (10 if x < 8 else 200) for _y in range(16) for x in range(16)
        )
        assert average_hash(encode_png(16, 16, 1, flipped, "none")) == (
            0x0F0F0F0F0F0F0F0F
        )

    def test_ahash_constant_image_is_zero(self):
        png = encode_png(8, 8, 1, bytearray([42] * 64), "none")
        assert average_hash(png) == 0

    def test_non_divisible_dims(self):
        # 10x6 image: block boundaries via floor division must cover every
        # pixel exactly once in features (mean over all pixels)
        samples = bytearray((x + y) % 256 for y in range(6) for x in range(10))
        png = encode_png(10, 6, 1, samples, "cycle")
        w, h, ch, mean = image_features(png)
        assert (w, h, ch) == (10, 6, 1)
        assert mean == sum(samples) // 60


@pytest.mark.skipif(
    pytest.importorskip("importlib").util.find_spec("PIL") is None,
    reason="Pillow not installed",
)
class TestPilParity:
    def test_decode_png_matches_pillow(self):
        """The pure PNG decoder's samples equal Pillow's, byte for byte,
        under every row filter (gray and RGB)."""
        import io

        from PIL import Image

        for ch, mode in ((1, "L"), (3, "RGB")):
            samples = bytearray(
                ((x * 3 + y * 5 + c * 7) % 256)
                for y in range(16) for x in range(16) for c in range(ch)
            )
            png = encode_png(16, 16, ch, samples, "cycle")
            with Image.open(io.BytesIO(png)) as im:
                assert im.mode == mode
                want = im.tobytes()
            assert decode_png(png) == (16, 16, ch, bytearray(want))


class TestGif:
    def test_roundtrip_sequential_and_interlaced(self):
        from pdf_spark.core.imaging import decode_gif, encode_gif

        w, h = 13, 9
        pal = bytes([10, 20, 30, 200, 100, 50, 0, 0, 0, 255, 255, 255])
        idx = [(x * 3 + y * 7) % 4 for y in range(h) for x in range(w)]
        for inter in (False, True):
            W, H, C, s = decode_gif(encode_gif(w, h, pal, idx, interlace=inter))
            assert (W, H, C) == (w, h, 3)
            for y in range(h):
                for x in range(w):
                    i = idx[y * w + x]
                    p = 3 * (y * w + x)
                    assert bytes(s[p:p + 3]) == pal[3 * i:3 * i + 3]

    def test_interlace_actually_reorders(self):
        """The interlaced byte stream must differ from sequential for a
        row-varying image (guards against a no-op interlace flag)."""
        from pdf_spark.core.imaging import encode_gif

        pal = bytes([0, 0, 0, 255, 255, 255])
        idx = [0] * 32 + [1] * 224  # row-dependent
        assert encode_gif(16, 16, pal, idx) != \
            encode_gif(16, 16, pal, idx, interlace=True)

    def test_extension_blocks_skipped(self):
        from pdf_spark.core.imaging import decode_gif, encode_gif

        blob = encode_gif(4, 4, bytes([7, 7, 7, 9, 9, 9]), [0] * 16)
        # splice a graphic-control extension between LSD+palette and the
        # image descriptor
        head_len = 13 + 6  # header+LSD + 2-entry padded... palette is 2 slots
        # palette is padded to 4 entries (bits>=2): 12 bytes
        head_len = 13 + 12
        gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        spliced = blob[:head_len] + gce + blob[head_len:]
        W, H, C, s = decode_gif(spliced)
        assert (W, H) == (4, 4) and s[0] == 7

    def test_bombs_and_malformed_rejected(self):
        import pytest
        import struct

        from pdf_spark.core.imaging import decode_gif, encode_gif, _gif_lzw_decode

        with pytest.raises(ValueError):
            decode_gif(b"NOTAGIF")
        # LZW output larger than the declared frame
        blob = encode_gif(2, 2, bytes([1, 1, 1, 2, 2, 2]), [0, 1, 0, 1])
        # truncate: keep descriptor, drop data terminator -> underflow or error
        with pytest.raises(ValueError):
            decode_gif(blob[:-6])
        # empty LZW stream -> no output; decode_gif surfaces the underflow
        assert _gif_lzw_decode(2, b"", 4) == bytearray()
        # oversized dims rejected before any decode work
        huge = bytearray(blob)
        struct.pack_into("<HH", huge, 6 + 0, 60000, 60000)
        # also patch the image descriptor dims
        desc_at = blob.index(b"\x2c")
        struct.pack_into("<HH", huge, desc_at + 5, 60000, 60000)
        with pytest.raises(ValueError):
            decode_gif(bytes(huge))

    def test_local_palette_wins(self):
        import struct

        from pdf_spark.core.imaging import decode_gif, encode_gif

        blob = bytearray(encode_gif(2, 2, bytes([5, 5, 5, 6, 6, 6]), [0, 1, 1, 0]))
        desc_at = blob.index(b"\x2c")
        # set the local-color-table flag (4 entries) and splice a local
        # palette after the descriptor
        blob[desc_at + 9] |= 0x81  # local table, 4 entries
        local = bytes([100, 0, 0, 0, 100, 0, 0, 0, 100, 9, 9, 9])
        spliced = bytes(blob[:desc_at + 10]) + local + bytes(blob[desc_at + 10:])
        W, H, C, s = decode_gif(spliced)
        assert bytes(s[0:3]) == bytes([100, 0, 0])
        assert bytes(s[3:6]) == bytes([0, 100, 0])


class TestImageMeta:
    def test_png_gif_jpeg_and_unknown(self):
        import struct

        from pdf_spark.core.imaging import encode_gif, encode_png, image_meta

        assert image_meta(encode_png(12, 7, 3, bytearray(12 * 7 * 3))) == \
            ("png", 12, 7, 3)
        assert image_meta(
            encode_gif(9, 4, bytes([0, 0, 0, 1, 1, 1]), [0] * 36)
        ) == ("gif", 9, 4, 3)
        app0 = (b"\xff\xe0" + struct.pack(">H", 16)
                + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
        sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
                + struct.pack(">HH", 33, 47) + b"\x03\x01\x11\x00")
        assert image_meta(b"\xff\xd8" + app0 + sof0 + b"\xff\xd9") == \
            ("jpeg", 47, 33, 3)
        assert image_meta(b"garbage") is None
        assert image_meta(b"") is None

    def test_jpeg_desync_and_missing_sof(self):
        from pdf_spark.core.imaging import image_meta

        # SOS before any SOF -> None; marker desync -> None
        assert image_meta(b"\xff\xd8\xff\xda\x00\x02") is None
        assert image_meta(b"\xff\xd8\x00\x00\x00\x00") is None


class TestJpegCodec:
    """Baseline JPEG (core/imaging.py decode_jpeg/encode_jpeg): the
    fixture scheme is integer-exact — quant all-8s, constant DC plus the
    (4,4) DCT basis whose cosines square to exactly 1/2 — so roundtrips
    assert exact bytes, not tolerances."""

    def test_gray_constant_blocks_exact(self):
        from pdf_spark.core.imaging import decode_jpeg, encode_jpeg

        w, h = 24, 16
        blocks = [(50 + 10 * i, 0) for i in range(6)]
        ww, hh, ch, s = decode_jpeg(encode_jpeg(w, h, blocks))
        assert (ww, hh, ch) == (w, h, 1)
        for gy in range(2):
            for gx in range(3):
                exp = 50 + 10 * (gy * 3 + gx)
                for yy in range(8):
                    for xx in range(8):
                        assert s[(gy * 8 + yy) * w + gx * 8 + xx] == exp

    def test_ac44_basis_pattern_exact(self):
        from pdf_spark.core.imaging import decode_jpeg, encode_jpeg

        _, _, _, s = decode_jpeg(encode_jpeg(8, 8, [(100, 40)]))
        sgn = lambda i: 1 if i % 8 in (0, 3, 4, 7) else -1
        for y in range(8):
            for x in range(8):
                assert s[y * 8 + x] == 100 + sgn(x) * sgn(y) * 5

    def test_color_444_gray_chroma_exact(self):
        from pdf_spark.core.imaging import decode_jpeg, encode_jpeg

        vals = (10, 200, 99, 145)
        _, _, ch, s = decode_jpeg(
            encode_jpeg(16, 16, [(v, 0) for v in vals], chroma=(128, 128))
        )
        assert ch == 3
        for gy in range(2):
            for gx in range(2):
                base = ((gy * 8) * 16 + gx * 8) * 3
                v = vals[gy * 2 + gx]
                assert s[base] == s[base + 1] == s[base + 2] == v

    def test_color_420_subsampled_exact(self):
        from pdf_spark.core.imaging import decode_jpeg, encode_jpeg

        blocks = [(v, 0) for v in range(30, 38)]
        ww, hh, ch, s = decode_jpeg(
            encode_jpeg(32, 16, blocks, chroma=(128, 128), subsample=True)
        )
        assert (ww, hh, ch) == (32, 16, 3)
        for gy in range(2):
            for gx in range(4):
                base = ((gy * 8) * 32 + gx * 8) * 3
                v = 30 + gy * 4 + gx
                assert s[base] == s[base + 1] == s[base + 2] == v

    def test_restart_markers_reset_predictors(self):
        from pdf_spark.core.imaging import decode_jpeg, encode_jpeg

        blocks = [(40 + i, 8 if i % 2 else 0) for i in range(12)]
        _, _, _, s = decode_jpeg(
            encode_jpeg(32, 24, blocks, restart_interval=3)
        )
        for i, (dc, ac) in enumerate(blocks):
            gy, gx = divmod(i, 4)
            assert s[(gy * 8) * 32 + gx * 8] == dc + ac // 8

    def test_nongray_chroma_conversion(self):
        from pdf_spark.core.imaging import decode_jpeg, encode_jpeg

        # Y=128, Cb=90, Cr=170: JFIF floats then round — deterministic
        _, _, _, s = decode_jpeg(
            encode_jpeg(16, 16, [(128, 0)] * 4, chroma=(90, 170))
        )
        assert (s[0], s[1], s[2]) == (187, 111, 61)

    def test_rejects_lossless_and_malformed(self):
        from pdf_spark.core.imaging import decode_jpeg, encode_jpeg

        with pytest.raises(ValueError):
            decode_jpeg(b"")
        with pytest.raises(ValueError):
            decode_jpeg(b"\x89PNG")
        # SOF3 (lossless) and SOF9 (arithmetic) stay routed to native
        for sof in (0xC3, 0xC9):
            blob = (b"\xff\xd8\xff" + bytes([sof])
                    + b"\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00")
            with pytest.raises(ValueError, match="non-baseline"):
                decode_jpeg(blob)
        # SOF2 with no scan data: parses the header, then missing SOS
        sof2 = (b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00")
        with pytest.raises(ValueError, match="missing SOF/SOS"):
            decode_jpeg(sof2 + b"\xff\xd9")
        # truncated scan: entropy data missing -> zero-bit reads decode to
        # SOMETHING (spec padding tolerance) or raise; must not hang/crash
        good = bytearray(encode_jpeg(8, 8, [(100, 0)]))
        try:
            decode_jpeg(bytes(good[:-10]))
        except ValueError:
            pass
        with pytest.raises(ValueError):
            encode_jpeg(10, 10, [(1, 0)])  # dims not /8
        with pytest.raises(ValueError):
            encode_jpeg(8, 8, [(1, 4)])  # ac44 not /8

    def test_dispatch_and_features(self):
        from pdf_spark.core.imaging import (
            average_hash,
            encode_jpeg,
            image_features,
            image_meta,
        )

        blob = encode_jpeg(
            16, 16, [(60, 16), (200, 0), (90, 8), (130, 24)],
            chroma=(128, 128),
        )
        assert image_meta(blob) == ("jpeg", 16, 16, 3)
        # block means stay at DC (the AC pattern sums to zero)
        assert image_features(blob) == (16, 16, 3, (60 + 200 + 90 + 130) // 4)
        # left column blocks (60, 90) darker than right (200, 130)
        assert format(average_hash(blob), "016x") == "0f0f0f0f0f0f0f0f"


class TestPngPaletteAndDepths:
    """Full static-PNG coverage: PLTE palettes at 1/2/4/8 bits,
    sub-byte gray scaling, 16-bit high byte, Adam7 interlace."""

    def test_palette_roundtrip_all_depths_and_orders(self):
        from pdf_spark.core.imaging import decode_png, encode_png_indexed

        for depth, npal in ((1, 2), (2, 4), (4, 16), (8, 17)):
            pal = bytes(
                v for k in range(npal)
                for v in ((k * 255 // max(1, npal - 1)),) * 3
            )
            for interlace in (False, True):
                W, H = 13, 9  # odd dims: bit padding + ragged passes
                idx = [(x * y + x + y) % npal
                       for y in range(H) for x in range(W)]
                w, h, c, out = decode_png(
                    encode_png_indexed(W, H, pal, idx, depth,
                                       interlace=interlace)
                )
                assert (w, h, c) == (W, H, 3)
                got = [out[3 * i] for i in range(W * H)]
                assert got == [pal[3 * j] for j in idx], (depth, interlace)

    def test_subbyte_gray_scales_to_255(self):
        import struct
        import zlib

        from pdf_spark.core.imaging import decode_png

        def mkgray(w, h, depth, bits):
            stride = (w * depth + 7) // 8
            raw = bytearray()
            for y in range(h):
                raw.append(0)
                raw += bits[y * stride:(y + 1) * stride]
            ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)

            def chunk(t, d):
                return (struct.pack(">I", len(d)) + t + d
                        + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(bytes(raw)))
                    + chunk(b"IEND", b""))

        assert list(decode_png(mkgray(3, 1, 4, bytes([0xF8, 0x00])))[3]) \
            == [255, 136, 0]
        assert list(decode_png(mkgray(3, 1, 1, bytes([0b10100000])))[3]) \
            == [255, 0, 255]
        assert list(decode_png(mkgray(4, 1, 2, bytes([0b00011011])))[3]) \
            == [0, 85, 170, 255]

    def test_16bit_keeps_high_byte(self):
        import struct
        import zlib

        from pdf_spark.core.imaging import decode_png

        def mk16(w, h, color, ch, payload):
            stride = w * ch * 2
            raw = bytearray()
            for y in range(h):
                raw.append(0)
                raw += payload[y * stride:(y + 1) * stride]
            ihdr = struct.pack(">IIBBBBB", w, h, 16, color, 0, 0, 0)

            def chunk(t, d):
                return (struct.pack(">I", len(d)) + t + d
                        + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(bytes(raw)))
                    + chunk(b"IEND", b""))

        assert list(decode_png(mk16(2, 1, 0, 1, bytes([0xAB, 0xCD, 0x12, 0x34])))[3]) \
            == [0xAB, 0x12]
        assert list(decode_png(mk16(1, 1, 2, 3, bytes([1, 2, 3, 4, 5, 6])))[3]) \
            == [1, 3, 5]

    def test_palette_guards(self):
        import pytest

        from pdf_spark.core.imaging import decode_png, encode_png_indexed

        # PLTE missing entirely
        with pytest.raises(ValueError):
            decode_png(encode_png_indexed(4, 4, b"", [0] * 16, 8))
        # index past the palette end -> black fill, not a crash
        w, h, c, out = decode_png(
            encode_png_indexed(2, 1, bytes([9, 9, 9]), [0, 1], 8)
        )
        assert list(out) == [9, 9, 9, 0, 0, 0]

    def test_interlaced_position_fidelity(self):
        """A two-tone split image: a Adam7 scatter bug that misplaces
        columns flips the aHash; the mean alone would not catch it."""
        from pdf_spark.core.imaging import (
            ahash_from_samples,
            decode_png,
            encode_png_indexed,
        )

        pal = bytes([200] * 3 + [40] * 3)
        idx = [(0 if x < 8 else 1) for _y in range(16) for x in range(16)]
        seq = decode_png(encode_png_indexed(16, 16, pal, idx, 1, False))
        il = decode_png(encode_png_indexed(16, 16, pal, idx, 1, True))
        assert bytes(seq[3]) == bytes(il[3])
        assert format(ahash_from_samples(*il), "016x") == "f0f0f0f0f0f0f0f0"


class TestJpegProgressive:
    """Progressive JPEG (core/imaging.py decode_jpeg + the SOF2 fixture
    writer): spectral selection, successive approximation, cross-block
    EOB runs, non-interleaved used-vs-padded geometry. Reference decodes
    no JPEG at all (DCTDecode panics: filters, libs/pdf); this tier is
    a from-spec extension (ITU T.81 G.1.2)."""

    @staticmethod
    def _expected(w, h, blocks):
        sgn = lambda t: 1 if t % 8 in (0, 3, 4, 7) else -1  # noqa: E731
        bw = w // 8
        return [
            [
                blocks[(y // 8) * bw + x // 8][0]
                + sgn(x) * sgn(y) * blocks[(y // 8) * bw + x // 8][1] // 8
                for x in range(w)
            ]
            for y in range(h)
        ]

    def _check(self, w, h, blocks, **kw):
        from pdf_spark.core.imaging import decode_jpeg, encode_jpeg_progressive

        blob = encode_jpeg_progressive(w, h, blocks, **kw)
        ww, hh, ch, s = decode_jpeg(blob)
        assert (ww, hh) == (w, h)
        exp = self._expected(w, h, blocks)
        for y in range(h):
            for x in range(w):
                assert s[(y * w + x) * ch] == exp[y][x], (x, y, kw)
        return ch, s

    def test_spectral_selection_gray_exact(self):
        # alternating zero-AC blocks exercise cross-block EOB runs
        ch, _ = self._check(
            32, 16, [(100 + i * 7, 16 if i % 2 else 0) for i in range(8)]
        )
        assert ch == 1

    def test_spectral_selection_color_420_exact(self):
        ch, s = self._check(
            32, 32, [(60 + i, 16) for i in range(16)],
            chroma=(128, 128), subsample=True,
        )
        assert ch == 3
        assert s[0] == s[1] == s[2]  # gray chroma -> R=G=B

    def test_successive_approximation_exact(self):
        # odd DC and odd AC magnitudes force real refinement bits:
        # ac44=24 -> coefficient 3 (history correction +1), ac44=8 ->
        # coefficient 1 (newly-nonzero only in the refinement scan)
        self._check(8, 8, [(101, 24)], successive=True)
        self._check(
            48, 8, [(50, 0), (51, 8), (52, 0), (53, 0), (54, 24), (55, 0)],
            successive=True,
        )
        self._check(
            16, 16, [(90, 24), (200, 0), (40, 8), (128, 16)],
            chroma=(128, 128), successive=True,
        )

    def test_padded_luma_grid_nonmultiple_of_16(self):
        # w=24 with 4:2:0: luma MCU grid is 4 blocks wide but the
        # non-interleaved AC scans cover only the 3 used blocks per row
        self._check(
            24, 16, [(77 + i * 11, 8 * (i % 3)) for i in range(6)],
            chroma=(128, 128), subsample=True, successive=True,
        )

    def test_progressive_matches_baseline_pixels(self):
        from pdf_spark.core.imaging import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        blocks = [(90, 24), (200, 0), (40, 8), (128, 16)]
        base = decode_jpeg(encode_jpeg(16, 16, blocks, chroma=(128, 128)))
        for succ in (False, True):
            prog = decode_jpeg(
                encode_jpeg_progressive(
                    16, 16, blocks, chroma=(128, 128), successive=succ
                )
            )
            assert bytes(prog[3]) == bytes(base[3])

    def test_image_meta_reports_progressive(self):
        from pdf_spark.core.imaging import encode_jpeg_progressive, image_meta

        blob = encode_jpeg_progressive(16, 8, [(100, 0), (120, 0)])
        assert image_meta(blob) == ("jpeg", 16, 8, 1)


class TestWebpLossless:
    """VP8L lossless WebP (core/imaging.py decode_webp + fixture
    writer): prefix codes (simple + normal w/ code-length code), color
    cache, LZ77 with the 2D distance map, meta prefix groups, and all
    four transforms. From-spec (WebP Lossless Bitstream Specification);
    the reference has no image decode tier at all."""

    @staticmethod
    def _rt(w, h, ch, samples, **kw):
        from pdf_spark.core.imaging import decode_webp, encode_webp_lossless

        blob = encode_webp_lossless(w, h, ch, samples, **kw)
        ww, hh, och, out = decode_webp(blob)
        assert (ww, hh) == (w, h)
        exp = bytearray()
        for i in range(w * h):
            if ch == 1:
                exp += bytes((samples[i],) * 3)
            else:
                exp += bytes(samples[ch * i : ch * i + ch])
        assert och == (4 if ch == 4 else 3)
        assert bytes(out) == bytes(exp), kw
        return blob

    def test_literals_simple_and_normal_codes(self):
        import random

        rng = random.Random(42)
        # two gray values -> simple 2-symbol codes
        self._rt(8, 8, 1, [10 if x < 4 else 200
                           for _y in range(8) for x in range(8)])
        # dense noise -> normal codes through the code-length code
        self._rt(16, 16, 3, [rng.randrange(256) for _ in range(16 * 16 * 3)])
        self._rt(12, 5, 4, [rng.randrange(256) for _ in range(12 * 5 * 4)])

    def test_color_cache_and_lz77(self):
        import random

        rng = random.Random(1)
        self._rt(16, 16, 1, [(x % 3) * 90
                             for _y in range(16) for x in range(16)],
                 cache_bits=4)
        self._rt(16, 16, 1, [7] * 100
                 + [rng.randrange(256) for _ in range(156)], lz77=True)

    def test_meta_prefix_two_groups(self):
        self._rt(
            16, 16, 1,
            [(x * 16) % 256 if x < 8 else (y * 16) % 256
             for y in range(16) for x in range(16)],
            meta_split=2,
        )

    def test_all_transforms_roundtrip(self):
        import random

        rng = random.Random(7)
        self._rt(10, 10, 3, [rng.randrange(256) for _ in range(300)],
                 subtract_green=True)
        for mode in range(14):  # every predictor mode
            self._rt(11, 7, 3, [rng.randrange(256) for _ in range(231)],
                     predictor=mode)
        self._rt(9, 9, 3, [rng.randrange(256) for _ in range(243)],
                 color_cte=(37, 236, 101))
        self._rt(17, 6, 3, [rng.randrange(256) for _ in range(306)],
                 subtract_green=True, predictor=11, cache_bits=3, lz77=True)

    def test_palette_all_bundle_depths(self):
        import random

        from pdf_spark.core.imaging import decode_webp, encode_webp_lossless

        rng = random.Random(3)
        for psize, w in ((2, 19), (4, 10), (13, 9), (40, 7)):
            pal = [
                0xFF000000 | (rng.randrange(256) << 16)
                | (rng.randrange(256) << 8) | rng.randrange(256)
                for _ in range(psize)
            ]
            idx = [rng.randrange(psize) for _ in range(w * 6)]
            ww, hh, ch, out = decode_webp(
                encode_webp_lossless(w, 6, 0, idx, palette=pal)
            )
            assert (ww, hh, ch) == (w, 6, 3)
            for i, ix in enumerate(idx):
                p = pal[ix]
                assert bytes(out[3 * i : 3 * i + 3]) == bytes(
                    ((p >> 16) & 255, (p >> 8) & 255, p & 255)
                ), psize

    def test_distance_map_row_copy(self):
        """Hand-emitted LZ77 copy with mapped distance code value 1 =
        (0,1) = one row up — verifies the 2D map semantically (the
        writer's own runs only use (1,0))."""
        from pdf_spark.core.imaging import (
            _LsbBitReader,
            _LsbBitWriter,
            _vp8l_decode_image,
            _vp8l_slot,
            _vp8l_write_code,
        )

        w, h = 4, 2
        lits = [(10, 20, 30), (40, 50, 60), (70, 80, 90), (5, 15, 25)]
        len_sym = 256 + _vp8l_slot(4)[0]  # length 4, no extra bits
        bw = _LsbBitWriter()
        bw.bits(0, 1)  # no color cache
        bw.bits(0, 1)  # no meta prefix
        cg = _vp8l_write_code(
            bw, {**{g: 1 for _r, g, _b in lits}, len_sym: 1}, 280
        )
        cr = _vp8l_write_code(bw, {r: 1 for r, _g, _b in lits}, 256)
        cb = _vp8l_write_code(bw, {b: 1 for _r, _g, b in lits}, 256)
        _ca = _vp8l_write_code(bw, {0xFF: 1}, 256)  # 0-bit single
        _cd = _vp8l_write_code(bw, {0: 1}, 40)  # dist slot 0 -> value 1
        for r, g, b in lits:
            for table, v in ((cg, g), (cr, r), (cb, b)):
                c, ln = table[v]
                if ln:
                    bw.code(c, ln)
        c, ln = cg[len_sym]
        bw.code(c, ln)  # copy of length 4; distance code is 0-bit
        bw.flush()
        px = _vp8l_decode_image(_LsbBitReader(bytes(bw.out)), w, h, True)
        assert px[4:8] == px[0:4]  # value 1 -> map (0,1) -> dist = w
        assert px[0] == 0xFF000000 | (10 << 16) | (20 << 8) | 30

    def test_meta_and_malformed(self):
        from pdf_spark.core.imaging import (
            decode_webp,
            encode_webp_lossless,
            image_meta,
        )

        blob = self._rt(20, 11, 1, list(range(220)))
        assert image_meta(blob) == ("webp", 20, 11, 3)
        rgba = encode_webp_lossless(4, 4, 4, [1, 2, 3, 4] * 16)
        assert image_meta(rgba) == ("webp", 4, 4, 4)
        with pytest.raises(ValueError):
            decode_webp(b"RIFF\x00\x00\x00\x00WAVE")
        with pytest.raises(ValueError, match="lossy"):
            decode_webp(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd")
        with pytest.raises(ValueError):
            decode_webp(blob[:30])  # truncated bitstream

    def test_features_dispatch(self):
        from pdf_spark.core import imaging

        blob = self._rt(
            16, 16, 1,
            [200 if x < 8 else 10 for _y in range(16) for x in range(16)],
        )
        assert imaging.image_features(blob) == (16, 16, 3, 105)
        assert imaging.average_hash(blob) == 0xF0F0F0F0F0F0F0F0


class TestBmp:
    """BMP (BI_RGB DIB): 8-bit palette / 24 / 32-bit, bottom-up and
    top-down rows, 4-byte stride padding, header-only meta."""

    def test_roundtrip_and_orientation(self):
        import random

        from pdf_spark.core.imaging import decode_bmp, encode_bmp

        rng = random.Random(8)
        for ch in (1, 3, 4):
            for td in (False, True):
                w, h = 13, 7  # stride padding exercised (13*3 % 4 != 0)
                s = [rng.randrange(256) for _ in range(w * h * ch)]
                ww, hh, och, out = decode_bmp(encode_bmp(w, h, ch, s, td))
                assert (ww, hh, och) == (w, h, 4 if ch == 4 else 3)
                exp = bytearray()
                for i in range(w * h):
                    if ch == 1:
                        exp += bytes((s[i],) * 3)
                    else:
                        exp += bytes(s[ch * i : ch * i + ch])
                assert bytes(out) == bytes(exp), (ch, td)

    def test_8bit_palette(self):
        import struct

        from pdf_spark.core.imaging import decode_bmp, encode_bmp

        # build an 8-bpp indexed BMP by hand: 2-entry palette, 4x2
        pal = struct.pack("<I", 0x00_30_20_10) + struct.pack(
            "<I", 0x00_60_50_40
        )  # BGR0 quads: entry0=(16,32,48) RGB reversed -> R=16? stored B,G,R
        rows = bytes([0, 1, 0, 1]) + bytes([1, 1, 0, 0])  # stride 4 = w
        info = struct.pack(
            "<IiiHHIIiiII", 40, 4, -2, 1, 8, 0, len(rows), 0, 0, 2, 0
        )
        blob = (
            struct.pack("<2sIHHI", b"BM", 14 + len(info) + 8 + len(rows),
                        0, 0, 14 + len(info) + 8)
            + info + pal + rows
        )
        w, h, ch, out = decode_bmp(blob)
        assert (w, h, ch) == (4, 2, 3)
        # entry0 BGR bytes (0x10,0x20,0x30) -> RGB (0x30,0x20,0x10)
        assert bytes(out[0:3]) == bytes((0x30, 0x20, 0x10))
        assert bytes(out[3:6]) == bytes((0x60, 0x50, 0x40))

    def test_rejects_compressed_and_meta(self):
        import struct

        import pytest

        from pdf_spark.core.imaging import decode_bmp, encode_bmp, image_meta

        blob = bytearray(encode_bmp(4, 4, 3, [0] * 48))
        struct.pack_into("<I", blob, 30, 1)  # BI_RLE8
        with pytest.raises(ValueError, match="compressed"):
            decode_bmp(bytes(blob))
        good = encode_bmp(6, 3, 4, [9] * 72)
        assert image_meta(good) == ("bmp", 6, 3, 4)

    def test_tiff_ico_meta(self):
        import struct

        from pdf_spark.core.imaging import image_meta

        for endian, pre in (("<", b"II*\x00"), (">", b"MM\x00*")):
            ifd = struct.pack(endian + "H", 3)
            for tag, val in ((256, 800), (257, 600), (277, 4)):
                if endian == "<":
                    ifd += struct.pack("<HHIHH", tag, 3, 1, val, 0)
                else:
                    ifd += struct.pack(">HHIHH", tag, 3, 1, val, 0)
            ifd += b"\x00" * 4
            tif = pre + struct.pack(endian + "I", 8) + ifd
            assert image_meta(tif) == ("tiff", 800, 600, 4), endian
        ico = b"\x00\x00\x01\x00\x01\x00" + bytes([0, 48]) + b"\x00" * 8
        assert image_meta(ico) == ("ico", 256, 48, 4)  # 0 means 256


class TestTiff:
    """Baseline TIFF decode (core/imaging.py::decode_tiff): strips,
    none/PackBits/LZW+predictor, gray/RGB/palette/WhiteIsZero, both
    byte orders."""

    def test_roundtrip_matrix(self):
        import itertools
        import random

        from pdf_spark.core.imaging import decode_tiff, encode_tiff

        rng = random.Random(5)
        for comp, pred, be in itertools.product(
            ("none", "packbits", "lzw"), (False, True), (False, True)
        ):
            px = bytes(rng.randrange(256) for _ in range(13 * 11 * 3))
            blob = encode_tiff(
                13, 11, 3, px, compression=comp, predictor=pred, big_endian=be
            )
            assert decode_tiff(blob) == (13, 11, 3, bytearray(px))

    def test_multi_strip_walk(self):
        from pdf_spark.core.imaging import decode_tiff, encode_tiff

        # 20 rows at rows_per_strip=8 -> 3 strips incl. a short tail strip
        px = bytes((x * 7 + y) % 256 for y in range(20) for x in range(6))
        blob = encode_tiff(6, 20, 1, px, compression="packbits",
                           rows_per_strip=8)
        w, h, ch, out = decode_tiff(blob)
        assert (w, h, ch) == (6, 20, 1) and bytes(out) == px

    def test_white_is_zero_inverts(self):
        from pdf_spark.core.imaging import decode_tiff, encode_tiff

        px = bytes(range(64))
        blob = encode_tiff(8, 8, 1, px, photometric=0)
        _, _, _, out = decode_tiff(blob)
        assert bytes(out) == px  # writer inverted, decoder re-inverted

    def test_palette_lookup(self):
        from pdf_spark.core.imaging import decode_tiff, encode_tiff

        pal = [(i * 3 % 256, i, 255 - i) for i in range(256)]
        px = bytes([0, 1, 2, 3, 200, 255])
        blob = encode_tiff(3, 2, 1, px, palette=pal, compression="lzw")
        w, h, ch, out = decode_tiff(blob)
        assert (w, h, ch) == (3, 2, 3)
        exp = bytearray()
        for v in px:
            exp += bytes(pal[v])
        assert bytes(out) == bytes(exp)

    def test_rejects_route_to_native(self):
        import struct as st

        import pytest as pt

        from pdf_spark.core.imaging import decode_tiff, encode_tiff

        blob = bytearray(encode_tiff(4, 4, 1, bytes(16)))
        # patch Compression (tag 259) to CCITT G4 (4): entry value offset
        endo = "little"
        off = int.from_bytes(blob[4:8], endo)
        n = int.from_bytes(blob[off:off + 2], endo)
        for e in range(n):
            base = off + 2 + 12 * e
            if int.from_bytes(blob[base:base + 2], endo) == 259:
                st.pack_into("<H", blob, base + 8, 4)
        with pt.raises(ValueError):
            decode_tiff(bytes(blob))
        with pt.raises(ValueError):
            decode_tiff(b"II*\x00\x08\x00\x00\x00")  # truncated IFD
        with pt.raises(ValueError):
            decode_tiff(b"not a tiff")

    def test_pixels_dispatch_and_features(self):
        from pdf_spark.core import imaging

        px = bytes([10] * 32 + [250] * 32)  # 8x8 two-tone top/bottom
        blob = imaging.encode_tiff(8, 8, 1, px, compression="lzw",
                                   predictor=True)
        w, h, ch, out = imaging._pixels(blob)
        assert (w, h, ch) == (8, 8, 1) and bytes(out) == px
        assert imaging.features_from_samples(w, h, ch, out) == 130
        assert imaging.average_hash(blob) == 0x00000000FFFFFFFF


class TestExif:
    def _jpeg(self):
        from pdf_spark.core.imaging import encode_jpeg

        return encode_jpeg(8, 8, [(100, 0)])

    def test_roundtrip_both_endians(self):
        from pdf_spark.core.imaging import (
            encode_exif_app1,
            exif_meta,
            splice_exif,
        )

        for big in (False, True):
            app1 = encode_exif_app1(
                orientation=6,
                make="Acme",
                model="ShotMaster 3000",
                taken_at="2020:05:17 08:01:02",
                pix_x=4032,
                pix_y=3024,
                big_endian=big,
            )
            m = exif_meta(splice_exif(self._jpeg(), app1))
            assert m["has_exif"] == 1
            assert m["endian"] == ("MM" if big else "II")
            assert m["orientation"] == 6
            assert m["make"] == "Acme"
            assert m["model"] == "ShotMaster 3000"
            assert m["taken_at"] == "2020:05:17 08:01:02"
            assert (m["pix_x"], m["pix_y"]) == (4032, 3024)

    def test_no_exif_and_non_jpeg(self):
        from pdf_spark.core.imaging import exif_meta

        m = exif_meta(self._jpeg())
        assert m["has_exif"] == 0 and m["orientation"] is None
        assert exif_meta(b"\x89PNG\r\n\x1a\n")["has_exif"] == 0
        assert exif_meta(b"")["has_exif"] == 0

    def test_ifd0_only_no_sub_ifd(self):
        from pdf_spark.core.imaging import (
            encode_exif_app1,
            exif_meta,
            splice_exif,
        )

        app1 = encode_exif_app1(orientation=3, make="M")
        m = exif_meta(splice_exif(self._jpeg(), app1))
        assert m["orientation"] == 3 and m["make"] == "M"
        assert m["pix_x"] is None and m["pix_y"] is None
        assert m["model"] is None and m["taken_at"] is None

    def test_truncated_and_malformed_tolerated(self):
        from pdf_spark.core.imaging import (
            encode_exif_app1,
            exif_meta,
            splice_exif,
        )

        app1 = encode_exif_app1(
            orientation=1, make="Acme", pix_x=100, pix_y=50
        )
        blob = splice_exif(self._jpeg(), app1)
        # cut mid-APP1: segment walk sees a short segment -> no EXIF,
        # never an exception (routing decision at corpus scale)
        for cut in (4, 8, 14, 20, len(app1) - 3):
            m = exif_meta(blob[: 2 + cut])
            assert m["has_exif"] in (0, 1)
        # corrupt the TIFF magic inside an otherwise-valid APP1
        bad = bytearray(blob)
        bad[2 + 10] ^= 0xFF
        assert exif_meta(bytes(bad))["has_exif"] == 0

    def test_splice_rejects_non_jpeg(self):
        from pdf_spark.core.imaging import encode_exif_app1, splice_exif

        with pytest.raises(ValueError):
            splice_exif(b"nope", encode_exif_app1(orientation=1))


# --- animation inventory (animated GIF + APNG) --------------------------------


def test_animation_gif_roundtrip_and_static():
    from pdf_spark.core.imaging import (
        animation_meta, decode_gif, encode_gif, encode_gif_animation,
    )

    pal = bytes([0, 0, 0, 255, 255, 255])
    frames = [[(x + y + f) % 2 for y in range(4) for x in range(4)]
              for f in range(3)]
    g = encode_gif_animation(4, 4, pal, frames, [5, 7, 9], loop_count=2)
    assert animation_meta(g) == {
        "format": "gif", "is_animated": 1, "n_frames": 3,
        "duration_ms": 210, "loop_count": 2,
    }
    # the animated fixture is a real GIF: frame 1 decodes via the decoder
    w, h, c, s = decode_gif(g)
    assert (w, h) == (4, 4)
    # no NETSCAPE extension -> plays once
    g1 = encode_gif_animation(4, 4, pal, frames[:2], [3, 3], loop_count=None)
    assert animation_meta(g1)["loop_count"] == 1
    st = animation_meta(encode_gif(4, 4, pal, frames[0]))
    assert (st["is_animated"], st["n_frames"], st["duration_ms"]) == (0, 1, 0)


def test_animation_apng_and_plain_png():
    from pdf_spark.core.imaging import (
        animation_meta, decode_png, encode_apng, encode_png,
    )

    a = encode_apng(6, 5, 4, 1, 50, num_plays=3)
    assert animation_meta(a) == {
        "format": "apng", "is_animated": 1, "n_frames": 4,
        "duration_ms": 4 * (1000 // 50), "loop_count": 3,
    }
    # APNG stays a valid PNG (ancillary chunks skipped by the decoder)
    w, h, c, s = decode_png(a)
    assert (w, h) == (6, 5)
    # den 0 means 100 per the APNG spec
    z = encode_apng(4, 4, 2, 7, 0)
    assert animation_meta(z)["duration_ms"] == 2 * (7 * 1000 // 100)
    p = animation_meta(encode_png(3, 3, 1, bytes(9)))
    assert (p["format"], p["n_frames"], p["is_animated"]) == ("png", 1, 0)


def test_animation_meta_tolerance():
    from pdf_spark.core.imaging import (
        animation_meta, encode_gif_animation,
    )

    pal = bytes([0, 0, 0, 255, 255, 255])
    frames = [[0] * 16, [1] * 16]
    g = encode_gif_animation(4, 4, pal, frames, [10, 10], loop_count=0)
    # truncation mid-walk keeps the frames counted so far, no raise
    cut = animation_meta(g[: len(g) - 20])
    assert cut["format"] == "gif" and cut["n_frames"] <= 2
    assert animation_meta(b"")["format"] == "unknown"
    assert animation_meta(b"GIF89a" + b"\x00" * 8)["format"] == "gif"


# --- EXIF GPS detect + strip ---------------------------------------------------


def test_exif_gps_roundtrip_both_endians():
    from pdf_spark.core.imaging import (
        encode_exif_app1, encode_jpeg, exif_gps, splice_exif,
    )

    gps = ("N", (37, 1, 46, 1, 29123, 1000), "W", (122, 1, 25, 1, 9875, 1000))
    exp_lat = 37 * 1000000 + 46 * 1000000 // 60 + 29123 * 1000000 // 3600000
    exp_lon = -(122 * 1000000 + 25 * 1000000 // 60 + 9875 * 1000000 // 3600000)
    base = encode_jpeg(8, 8, [(100, 0)])
    for be in (False, True):
        j = splice_exif(base, encode_exif_app1(orientation=6, gps=gps,
                                               big_endian=be))
        g = exif_gps(j)
        assert g == {"has_gps": 1, "lat_microdeg": exp_lat,
                     "lon_microdeg": exp_lon}
    assert exif_gps(base)["has_gps"] == 0
    assert exif_gps(b"junk")["has_gps"] == 0


def test_exif_gps_strip_removes_bytes_keeps_camera_fields():
    import struct

    from pdf_spark.core.imaging import (
        encode_exif_app1, encode_jpeg, exif_gps, exif_meta, splice_exif,
        strip_exif_gps,
    )

    gps = ("S", (12, 1, 30, 1, 45678, 1000), "E", (77, 1, 10, 1, 11111, 1000))
    base = encode_jpeg(8, 8, [(100, 0)])
    j = splice_exif(base, encode_exif_app1(
        orientation=3, make="M", model="C", taken_at="2020:05:06 07:08:09",
        pix_x=320, pix_y=200, gps=gps, big_endian=True))
    s = strip_exif_gps(j)
    assert exif_gps(s)["has_gps"] == 0
    # the coordinate bytes are gone, not just unlinked
    assert struct.pack(">I", 45678) in j and struct.pack(">I", 45678) not in s
    m = exif_meta(s)
    assert (m["orientation"], m["make"], m["model"], m["pix_x"],
            m["endian"]) == (3, "M", "C", 320, "MM")
    # no-GPS input passes through byte-identical
    plain = splice_exif(base, encode_exif_app1(orientation=1))
    assert strip_exif_gps(plain) == plain
    assert strip_exif_gps(base) == base


# --- JPEG XMP provenance ---------------------------------------------------------


def test_jpeg_xmp_both_forms_and_ai_flag():
    from pdf_spark.core.imaging import (
        encode_jpeg, encode_xmp_app1, jpeg_xmp_meta, splice_exif,
    )

    base = encode_jpeg(8, 8, [(100, 0)])
    dst = ("http://cv.iptc.org/newscodes/digitalsourcetype/"
           "trainedAlgorithmicMedia")
    for form in (True, False):
        j = splice_exif(base, encode_xmp_app1(
            creator_tool="GenPix 2.0", create_date="2024-05-06T07:08:09Z",
            creator="A. Painter", digital_source_type=dst,
            attribute_form=form))
        m = jpeg_xmp_meta(j)
        assert m["has_xmp"] == 1 and m["is_ai_generated"] == 1
        assert m["creator_tool"] == "GenPix 2.0"
        assert m["creator"] == "A. Painter"
        assert m["create_date"] == "2024-05-06T07:08:09Z"
    cam = jpeg_xmp_meta(splice_exif(base, encode_xmp_app1(creator_tool="Cam")))
    assert cam["is_ai_generated"] == 0 and cam["digital_source_type"] is None
    assert jpeg_xmp_meta(base)["has_xmp"] == 0
    assert jpeg_xmp_meta(b"junk")["has_xmp"] == 0


def test_jpeg_xmp_coexists_with_exif_app1():
    from pdf_spark.core.imaging import (
        encode_exif_app1, encode_jpeg, encode_xmp_app1, exif_meta,
        jpeg_xmp_meta, splice_exif,
    )

    base = encode_jpeg(8, 8, [(100, 0)])
    j = splice_exif(
        splice_exif(base, encode_xmp_app1(creator_tool="X")),
        encode_exif_app1(orientation=5),
    )
    # each reader finds ITS APP1 by namespace, ignoring the other
    assert jpeg_xmp_meta(j)["creator_tool"] == "X"
    assert exif_meta(j)["orientation"] == 5


def test_animation_webp():
    from pdf_spark.core.imaging import (
        animation_meta, encode_webp_animation, encode_webp_lossless,
    )

    a = encode_webp_animation(8, 6, [40, 60, 80], loop_count=5)
    assert animation_meta(a) == {
        "format": "webp", "is_animated": 1, "n_frames": 3,
        "duration_ms": 180, "loop_count": 5,
    }
    st = animation_meta(encode_webp_lossless(4, 4, 3, bytes(48)))
    assert (st["format"], st["is_animated"], st["n_frames"]) == ("webp", 0, 1)
    # truncated mid-ANMF keeps the frames counted so far
    cut = animation_meta(a[:60])
    assert cut["format"] == "webp"


def test_png_text_chunks_three_kinds():
    from pdf_spark.core.imaging import (
        decode_png, encode_png, png_add_text, png_text_meta,
    )

    base = encode_png(4, 4, 1, bytes(16))
    p = png_add_text(base, [("tEXt", "Software", "GIMP 2.10"),
                            ("zTXt", "Comment", "hello compressed"),
                            ("iTXt", "Title", "ünïcode")])
    assert png_text_meta(p) == {
        "has_text": 1, "software": "GIMP 2.10", "n_text_chunks": 3,
        "has_parameters": 0, "is_ai_suspect": 0,
    }
    # textual chunks are ancillary: the image still decodes
    w, h, c, s = decode_png(p)
    assert (w, h) == (4, 4)
    # diffusion-config keys flag AI suspect
    sd = png_add_text(base, [("tEXt", "parameters", "a cat, steps: 20")])
    assert png_text_meta(sd)["is_ai_suspect"] == 1
    assert png_text_meta(png_add_text(base, [("tEXt", "prompt", "x")]))[
        "is_ai_suspect"] == 1
    assert png_text_meta(base)["has_text"] == 0
    assert png_text_meta(b"junk")["has_text"] == 0


def test_svg_meta_dims_and_active_content():
    from pdf_spark.core.imaging import svg_meta

    r = svg_meta(
        b'<?xml version="1.0"?><svg xmlns="http://www.w3.org/2000/svg"'
        b' width="120px" height="80"><rect/></svg>'
    )
    assert (r["is_svg"], r["width"], r["height"], r["has_script"]) == (
        1, 120, 80, 0,
    )
    # viewBox fallback (comma-separated) when width/height absent
    r = svg_meta(b'<svg viewBox="0,0,200,150.5"><circle/></svg>')
    assert (r["width"], r["height"]) == (200, 150)
    # all three active-content vectors flag; a commented script never does
    assert svg_meta(b"<svg><script>a()</script></svg>")["has_script"] == 1
    assert svg_meta(b'<svg onload="g()"><rect/></svg>')["has_script"] == 1
    assert svg_meta(b'<svg><a href=" javascript:p()">x</a></svg>')[
        "has_script"
    ] == 1
    assert svg_meta(b"<svg><!--<script>a()</script>--><rect/></svg>")[
        "has_script"
    ] == 0


def test_svg_meta_images_and_rejects():
    from pdf_spark.core.imaging import encode_png, svg_meta

    r = svg_meta(
        b'<svg width="4" height="4">'
        b'<image href="data:image/png;base64,AA"/>'
        b'<image xlink:href="https://x/y.png"/></svg>'
    )
    assert (r["n_images"], r["n_data_uri"]) == (2, 1)
    # non-SVG payloads route out with NULL fields
    png = encode_png(2, 2, 1, bytes(4))
    assert svg_meta(png) == {
        "is_svg": 0, "width": None, "height": None,
        "has_script": None, "n_images": None, "n_data_uri": None,
    }
    assert svg_meta(b"")["is_svg"] == 0
    # percentage dims are not numeric routing dims
    assert svg_meta(b'<svg width="100%" height="50%"/>')["width"] is None


def test_svg_security_active_content_and_decoys():
    from pdf_spark.core.imaging import svg_security

    bad = (
        b'<svg xmlns="x" onload="a(1)"><script>e()</script>'
        b'<foreignObject><body>x</body></foreignObject>'
        b'<image xlink:href="https://evil.net/x.png"/>'
        b'<use href="//cdn.evil.net/y"/></svg>'
    )
    m = svg_security(bad)
    assert m["is_active"] == 1 and m["n_scripts"] == 1
    assert m["n_event_attrs"] == 1 and m["has_foreign_object"] == 1
    assert m["n_external_refs"] == 2  # absolute + scheme-relative
    clean = (
        b'<?xml version="1.0"?><svg viewBox="0 0 9 9"><circle r="3"/>'
        b'<!-- <script>decoy()</script> onload="x" --></svg>'
    )
    m = svg_security(clean)
    assert m["is_active"] == 0 and m["n_scripts"] == 0
    assert m["n_event_attrs"] == 0
    assert svg_security(b"\x89PNG raster")["is_svg"] == 0


def test_gif_frames_multiframe_roundtrip():
    """gif_frames yields every animation frame with exact decoded luma
    (decode_gif stops at the poster frame; the multi-frame reader must
    walk the GCE/descriptor sequence and advance past each LZW block
    terminator)."""
    from pdf_spark.core.imaging import (
        _luma_rows,
        decode_gif,
        encode_gif_animation,
        gif_frames,
    )

    pal = bytes(v for i in range(16) for v in (4 + i * 8,) * 3)
    mk = lambda k: [  # noqa: E731
        (7 * (x + 2) + (3 * k + 1) * (y + 1) + x) % 16
        for y in range(8)
        for x in range(8)
    ]
    blob = encode_gif_animation(8, 8, pal, [mk(k) for k in range(5)], [10] * 5)
    frames = list(gif_frames(blob))
    assert len(frames) == 5
    for k, (w, h, ch, s) in enumerate(frames):
        assert (w, h, ch) == (8, 8, 3)
        lum = [v for row in _luma_rows(w, h, ch, s) for v in row]
        assert lum == [4 + 8 * i for i in mk(k)]
    # poster frame agrees with the single-frame decoder
    assert frames[0][3] == decode_gif(blob)[3]
    # no-loop-extension stream still walks
    blob2 = encode_gif_animation(
        8, 8, pal, [mk(0), mk(1)], [5, 5], loop_count=None
    )
    assert len(list(gif_frames(blob2))) == 2
