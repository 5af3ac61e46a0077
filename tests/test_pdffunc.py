"""PDF function objects (types 0/2/3/4) + PostScript calculator.

Reference parity: ``libs/pdf/src/function.c`` (types 2/3/4 eval, clip_num)
and ``libs/postscript/src/operators.c`` (arithmetic/stack set). Type 0 and
the relational/conditional calculator operators are documented
divergences-by-extension (the reference LOG_TODOs type 0 and ships no
``eq/if/ifelse``; PDF 32000-1 §7.10.2 / §7.10.5.2 define both).
"""

import pytest

from pdf_spark.core.errors import PdfError
from pdf_spark.core.pdffunc import (
    encode_function,
    eval_calculator,
    eval_function,
    parse_calculator,
    parse_function_bytes,
)


def run_ps(src: str, *inputs):
    return eval_calculator(parse_calculator(src.encode()), list(inputs))


class TestCalculator:
    def test_arith_int_vs_real(self):
        assert run_ps("{ add }", 2, 3) == [5]
        assert run_ps("{ add }", 2.0, 3) == [5.0]
        assert run_ps("{ div }", 7, 2) == [3.5]
        assert run_ps("{ idiv }", 7, 2) == [3]
        assert run_ps("{ idiv }", -7, 2) == [-3]  # trunc toward zero
        assert run_ps("{ mod }", -7, 2) == [-1]   # sign of dividend
        assert run_ps("{ exp }", 2, 10) == [1024.0]

    def test_rounding_family(self):
        assert run_ps("{ round }", 0.5) == [1.0]   # ties to greater (PLRM)
        assert run_ps("{ round }", -0.5) == [0.0]
        assert run_ps("{ truncate }", -1.7) == [-1.0]
        assert run_ps("{ ceiling floor }", 1.2) == [2.0]
        assert run_ps("{ cvi }", -2.9) == [-2]
        assert run_ps("{ cvr }", 3) == [3.0]

    def test_trig_degrees(self):
        assert run_ps("{ sin }", 90) == [1.0]
        assert run_ps("{ cos }", 0) == [1.0]
        assert run_ps("{ atan }", 1, 1) == [45.0]
        assert run_ps("{ atan }", -1, 1)[0] == pytest.approx(315.0)

    def test_stack_ops(self):
        assert run_ps("{ exch }", 1, 2) == [2, 1]
        assert run_ps("{ dup }", 7) == [7, 7]
        assert run_ps("{ pop }", 1, 2) == [1]
        assert run_ps("{ 2 copy }", 1, 2) == [1, 2, 1, 2]
        assert run_ps("{ 1 index }", 5, 6) == [5, 6, 5]
        assert run_ps("{ 3 1 roll }", 1, 2, 3) == [3, 1, 2]
        assert run_ps("{ 3 -1 roll }", 1, 2, 3) == [2, 3, 1]

    def test_relational_boolean_bitwise(self):
        assert run_ps("{ eq }", 1, 1.0) == [True]
        assert run_ps("{ ne }", 1, 2) == [True]
        assert run_ps("{ ge }", 2, 2) == [True]
        assert run_ps("{ lt }", 1, 2) == [True]
        assert run_ps("{ true false or }") == [True]
        assert run_ps("{ 12 10 and }") == [8]
        assert run_ps("{ 12 10 xor }") == [6]
        assert run_ps("{ 5 not }") == [-6]       # int: bitwise complement
        assert run_ps("{ true not }") == [False]
        assert run_ps("{ 1 4 bitshift }") == [16]
        assert run_ps("{ 16 -2 bitshift }") == [4]

    def test_conditionals(self):
        assert run_ps("{ { 10 } { 20 } ifelse }", True) == [10]
        assert run_ps("{ { 10 } { 20 } ifelse }", False) == [20]
        assert run_ps("{ dup 0 lt { neg } if }", -3) == [3]
        assert run_ps("{ dup 0 lt { neg } if }", 3) == [3]

    def test_comments_and_nesting(self):
        assert run_ps("{ % say hi\n 1 2 add }") == [3]
        assert run_ps(
            "{ dup 3 mod 0 eq { 1 bitshift } { 1 sub } ifelse }", 9
        ) == [18]

    def test_errors(self):
        with pytest.raises(PdfError):
            run_ps("{ add }", 1)          # underflow
        with pytest.raises(PdfError):
            run_ps("{ 1 0 div }")         # div by zero
        with pytest.raises(PdfError):
            run_ps("{ frobnicate }")      # unknown op
        with pytest.raises(PdfError):
            parse_calculator(b"{ 1 2")    # unterminated
        with pytest.raises(PdfError):
            run_ps("{ true 1 and }")      # mixed and

    @pytest.mark.parametrize(
        "src",
        [
            "{ -2 0.5 exp }",   # complex result
            "{ 0 -1 exp }",     # ZeroDivisionError
            "{ 10 400 exp }",   # OverflowError
        ],
    )
    def test_exp_domain_is_pdf_error(self, src):
        with pytest.raises(PdfError):
            run_ps(src)

    def test_int_overflow_becomes_real(self):
        # PLRM: integer results outside the 32-bit range become reals
        r = run_ps("{ 2147483647 1 add }")
        assert r == [2147483648.0] and isinstance(r[0], float)
        r = run_ps("{ 3 dup mul dup mul dup mul dup mul dup mul dup mul }")
        assert r == [float(3 ** 64)] and isinstance(r[0], float)
        r = run_ps("{ -2147483648 1 sub }")
        assert r == [-2147483649.0] and isinstance(r[0], float)
        for src in ("{ -2147483648 neg }", "{ -2147483648 abs }"):
            r = run_ps(src)
            assert r == [2147483648.0] and isinstance(r[0], float)
        # in range: integers stay integers
        assert run_ps("{ 2147483646 1 add }") == [2147483647]
        assert isinstance(run_ps("{ -2147483647 neg }")[0], int)
        assert isinstance(run_ps("{ 46340 dup mul }")[0], int)

    def test_bitshift_bounded(self):
        assert run_ps("{ 1 64 bitshift }") == [1 << 64]
        assert run_ps("{ 1 -64 bitshift }") == [0]
        with pytest.raises(PdfError):
            run_ps("{ 1 65 bitshift }")
        with pytest.raises(PdfError):
            run_ps("{ 1 1000000000 bitshift }")
        with pytest.raises(PdfError):
            run_ps("{ 1 -65 bitshift }")


class TestType2:
    def test_linear(self):
        buf = encode_function(
            {"FunctionType": 2, "Domain": [0, 1], "C0": [0.0], "C1": [2.0],
             "N": 1}
        )
        fn = parse_function_bytes(buf)
        assert eval_function(fn, [0.25]) == [0.5]
        assert eval_function(fn, [-5]) == [0.0]   # domain clip
        assert eval_function(fn, [9]) == [2.0]

    def test_quadratic_multi_output_range_clip(self):
        buf = encode_function(
            {"FunctionType": 2, "Domain": [0, 1], "C0": [0, 1], "C1": [1, 3],
             "N": 2, "Range": [0, 0.5, 0, 10]}
        )
        fn = parse_function_bytes(buf)
        y = eval_function(fn, [0.5])
        assert y[0] == 0.25 and y[1] == 1.5
        assert eval_function(fn, [1.0])[0] == 0.5  # clipped from 1.0

    def test_defaults_c0_c1(self):
        fn = parse_function_bytes(
            encode_function({"FunctionType": 2, "Domain": [0, 1], "N": 1})
        )
        assert eval_function(fn, [0.75]) == [0.75]  # C0=[0], C1=[1]

    @pytest.mark.parametrize(
        "domain,n,x",
        [
            ([0, 1], -1, 0.0),     # 0 ** -1: ZeroDivisionError
            ([-1, 1], 0.5, -0.5),  # negative ** fractional: complex
        ],
    )
    def test_exponent_domain_is_pdf_error(self, domain, n, x):
        for extra in ({}, {"Range": [0, 1]}):
            fn = parse_function_bytes(
                encode_function(
                    {"FunctionType": 2, "Domain": domain, "N": n, **extra}
                )
            )
            with pytest.raises(PdfError):
                eval_function(fn, [x])


class TestType3:
    def _stitched(self):
        sub0 = encode_function(
            {"FunctionType": 2, "Domain": [0, 1], "C0": [0], "C1": [1], "N": 1}
        )
        sub1 = encode_function(
            {"FunctionType": 2, "Domain": [0, 1], "C0": [1], "C1": [3], "N": 2}
        )
        return parse_function_bytes(
            encode_function(
                {"FunctionType": 3, "Domain": [0, 1],
                 "Functions": [sub0, sub1], "Bounds": [0.5],
                 "Encode": [0, 1, 0, 1]}
            )
        )

    def test_subinterval_select_and_encode(self):
        fn = self._stitched()
        assert eval_function(fn, [0.25]) == [0.5]   # 2x in first half
        # x=0.5 -> second subfn, mapped x'=0 -> 1 + 0 = 1
        assert eval_function(fn, [0.5]) == [1.0]
        assert eval_function(fn, [0.75]) == [1.5]   # x'=0.5 -> 1+2*0.25
        assert eval_function(fn, [1.0]) == [3.0]

    def test_range_clip_applies(self):
        sub = encode_function(
            {"FunctionType": 2, "Domain": [0, 1], "C0": [0], "C1": [10],
             "N": 1}
        )
        fn = parse_function_bytes(
            encode_function(
                {"FunctionType": 3, "Domain": [0, 1], "Functions": [sub],
                 "Bounds": [], "Encode": [0, 1], "Range": [0, 4]}
            )
        )
        assert eval_function(fn, [0.9]) == [4.0]


class TestType4:
    def test_stream_program(self):
        body = b"{ exch dup mul exch dup 3 mod 0 eq { 1 bitshift } { 1 sub } ifelse }"
        buf = encode_function(
            {"FunctionType": 4, "Domain": [0, 1, 0, 100],
             "Range": [0, 1, -1, 200]},
            body,
        )
        fn = parse_function_bytes(buf)
        assert eval_function(fn, [0.5, 6]) == [0.25, 12]
        assert eval_function(fn, [0.5, 7]) == [0.25, 6]
        assert eval_function(fn, [1.0, 99]) == [1.0, 198]  # 99%3=0 -> 99<<1
        # domain clips 150 -> 100 first; 100%3=1 -> 100-1
        assert eval_function(fn, [1.0, 150]) == [1.0, 99]

    def test_extra_stack_truncated_to_range_arity(self):
        fn = parse_function_bytes(
            encode_function(
                {"FunctionType": 4, "Domain": [0, 1], "Range": [0, 10]},
                b"{ dup dup add }",
            )
        )
        # stack [x, 2x] -> last m=1 values kept
        assert eval_function(fn, [0.5]) == [1.0]

    def test_requires_stream(self):
        with pytest.raises(PdfError):
            parse_function_bytes(
                encode_function(
                    {"FunctionType": 4, "Domain": [0, 1], "Range": [0, 1]}
                )
            )


class TestType0:
    def test_exact_grid_hits_8bit(self):
        samples = bytes([0, 64, 128, 192, 255])
        buf = encode_function(
            {"FunctionType": 0, "Domain": [0, 1], "Range": [0, 255],
             "Size": [5], "BitsPerSample": 8, "Decode": [0, 255]},
            samples,
        )
        fn = parse_function_bytes(buf)
        for i, s in enumerate(samples):
            assert eval_function(fn, [i / 4])[0] == pytest.approx(float(s))

    def test_linear_interpolation_between_samples(self):
        samples = bytes([0, 100])
        fn = parse_function_bytes(
            encode_function(
                {"FunctionType": 0, "Domain": [0, 1], "Range": [0, 255],
                 "Size": [2], "BitsPerSample": 8, "Decode": [0, 255]},
                samples,
            )
        )
        assert eval_function(fn, [0.5])[0] == pytest.approx(50.0)

    def test_16bit_and_decode_mapping(self):
        import struct
        samples = struct.pack(">3H", 0, 32768, 65535)
        fn = parse_function_bytes(
            encode_function(
                {"FunctionType": 0, "Domain": [0, 1], "Range": [0, 1],
                 "Size": [3], "BitsPerSample": 16},
                samples,
            )
        )
        assert eval_function(fn, [0.0])[0] == 0.0
        assert eval_function(fn, [1.0])[0] == 1.0
        assert eval_function(fn, [0.5])[0] == pytest.approx(32768 / 65535)

    def test_4bit_packing(self):
        # samples 0..15 packed two per byte, big-endian within the byte
        samples = bytes([0x01, 0x23, 0x45])  # values 0,1,2,3,4,5
        fn = parse_function_bytes(
            encode_function(
                {"FunctionType": 0, "Domain": [0, 5], "Range": [0, 15],
                 "Size": [6], "BitsPerSample": 4, "Decode": [0, 15],
                 "Encode": [0, 5]},
                samples,
            )
        )
        for k in range(6):
            assert eval_function(fn, [k])[0] == pytest.approx(float(k))

    def test_bilinear_two_inputs(self):
        # 2x2 grid, corners 0,100 / 200,255 (x fastest per spec ordering)
        samples = bytes([0, 100, 200, 255])
        fn = parse_function_bytes(
            encode_function(
                {"FunctionType": 0, "Domain": [0, 1, 0, 1],
                 "Range": [0, 255], "Size": [2, 2], "BitsPerSample": 8,
                 "Decode": [0, 255]},
                samples,
            )
        )
        assert eval_function(fn, [0, 0])[0] == 0.0
        assert eval_function(fn, [1, 0])[0] == 100.0
        assert eval_function(fn, [0, 1])[0] == 200.0
        center = eval_function(fn, [0.5, 0.5])[0]
        assert center == pytest.approx((0 + 100 + 200 + 255) / 4)

    def test_sample_data_too_short(self):
        with pytest.raises(PdfError):
            parse_function_bytes(
                encode_function(
                    {"FunctionType": 0, "Domain": [0, 1], "Range": [0, 255],
                     "Size": [9], "BitsPerSample": 8},
                    bytes(4),
                )
            )


def test_unknown_type_rejected():
    with pytest.raises(PdfError):
        parse_function_bytes(
            encode_function({"FunctionType": 7, "Domain": [0, 1]})
        )
