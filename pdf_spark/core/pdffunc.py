"""PDF function objects (types 0/2/3/4) + the type-4 PostScript calculator.

Reference parity: ``libs/pdf/src/function.c:32-735`` deserializes the common
``FunctionType/Domain/Range`` triple and evaluates types 2 (exponential,
``y_j = C0_j + x^N (C1_j - C0_j)``, ``function.c:226-…``), 3 (stitching with
the half-open subinterval select and Encode remap, ``function.c:330-…``) and
4 (PostScript calculator bound to a ``func`` procedure run by
``libs/postscript/src/interpreter.c``). Divergences-by-extension, following
the repo's documented pattern (SURVEY §2.3 #34/#35):

- type 0 *sampled* functions hit ``LOG_TODO`` in the reference
  (``function.c:166-168`` default arm); here they are fully evaluated with
  multilinear interpolation per PDF 32000-1 §7.10.2 (Size, BitsPerSample
  1-32, Encode/Decode defaults, sample clamp).
- the reference's operator table (``libs/postscript/src/operators.c:26-57``)
  stops at the arithmetic set; the PDF calculator subset (PDF 32000-1
  §7.10.5.2) also requires the relational / boolean / bitwise / conditional
  operators (``eq ne gt ge lt le and or not xor bitshift true false if
  ifelse``) — all implemented here, so every spec-legal type-4 program runs.
- malformed functions raise :class:`PdfError` (INCORRECT_TYPE/MISSING_KEY)
  instead of aborting the process — at corpus scale a bad function is an
  error row, never a task failure.

Everything is pure stdlib; inputs/outputs are Python numbers. Domain/range
clipping mirrors ``clip_num`` (``function.c:172-220``): inputs clip to
Domain, outputs clip to Range when Range is present (mandatory for types
0 and 4 per spec; optional elsewhere).
"""

from __future__ import annotations

import math
import struct
from typing import Any, List, Optional, Sequence, Union

from .errors import INCORRECT_TYPE, MISSING_KEY, PdfError
from .objects import Name, ObjectParser, Stream

Number = Union[int, float]

# ---------------------------------------------------------------------------
# PostScript calculator (PDF 32000-1 §7.10.5)
# ---------------------------------------------------------------------------

_MAX_PS_STEPS = 100_000  # runaway-program guard (spec programs are tiny)
_MAX_PS_STACK = 100      # PLRM operand-stack limit, mirrored for safety


class PSProgram:
    """A parsed calculator procedure: nested tuples of tokens."""

    __slots__ = ("body",)

    def __init__(self, body: tuple) -> None:
        self.body = body


def parse_calculator(data: bytes) -> PSProgram:
    """Tokenize ``{ ... }`` calculator source into a nested tuple tree.

    Tokens: numbers (int/real, per the COS numeric grammar), executable
    names (operators), and nested procedures. ``%`` comments are stripped
    per the PostScript grammar.
    """
    pos = 0
    n = len(data)

    def skip_ws() -> int:
        nonlocal pos
        while pos < n:
            c = data[pos]
            if c in b" \t\r\n\x0c\x00":
                pos += 1
            elif c == 0x25:  # '%' comment to EOL
                while pos < n and data[pos] not in b"\r\n":
                    pos += 1
            else:
                break
        return pos

    def parse_proc() -> tuple:
        nonlocal pos
        out: List[Any] = []
        while True:
            skip_ws()
            if pos >= n:
                raise PdfError(INCORRECT_TYPE, "unterminated calculator proc")
            c = data[pos]
            if c == 0x7D:  # '}'
                pos += 1
                return tuple(out)
            if c == 0x7B:  # '{'
                pos += 1
                out.append(parse_proc())
                continue
            start = pos
            while pos < n and data[pos] not in b" \t\r\n\x0c\x00{}%":
                pos += 1
            tok = data[start:pos]
            if not tok:
                raise PdfError(INCORRECT_TYPE, "empty calculator token")
            first = tok[0]
            if first in b"0123456789+-." and tok not in (b"+", b"-", b"."):
                try:
                    if b"." in tok or b"e" in tok or b"E" in tok:
                        out.append(float(tok))
                    else:
                        out.append(int(tok))
                except ValueError as exc:
                    raise PdfError(
                        INCORRECT_TYPE, f"bad calculator number {tok!r}"
                    ) from exc
            else:
                out.append(tok.decode("latin-1"))

    skip_ws()
    if pos >= n or data[pos] != 0x7B:
        raise PdfError(INCORRECT_TYPE, "calculator program must start with {")
    pos += 1
    body = parse_proc()
    skip_ws()
    if pos != n:
        raise PdfError(INCORRECT_TYPE, "trailing bytes after calculator proc")
    return PSProgram(body)


def _num2(stack: List[Any]) -> tuple:
    if len(stack) < 2:
        raise PdfError(INCORRECT_TYPE, "calculator stack underflow")
    b = stack.pop()
    a = stack.pop()
    if not isinstance(a, (int, float)) or isinstance(a, bool) or \
       not isinstance(b, (int, float)) or isinstance(b, bool):
        raise PdfError(INCORRECT_TYPE, "calculator operand not numeric")
    return a, b

def _num1(stack: List[Any]) -> Number:
    if not stack:
        raise PdfError(INCORRECT_TYPE, "calculator stack underflow")
    a = stack.pop()
    if not isinstance(a, (int, float)) or isinstance(a, bool):
        raise PdfError(INCORRECT_TYPE, "calculator operand not numeric")
    return a

def _int1(stack: List[Any]) -> int:
    a = _num1(stack)
    if not isinstance(a, int):
        raise PdfError(INCORRECT_TYPE, "calculator operand not integer")
    return a

def _bool_or_int2(stack: List[Any]) -> tuple:
    if len(stack) < 2:
        raise PdfError(INCORRECT_TYPE, "calculator stack underflow")
    b = stack.pop()
    a = stack.pop()
    ok = (isinstance(a, bool) and isinstance(b, bool)) or (
        isinstance(a, int) and isinstance(b, int)
        and not isinstance(a, bool) and not isinstance(b, bool)
    )
    if not ok:
        raise PdfError(INCORRECT_TYPE, "and/or/xor need two bools or two ints")
    return a, b

def _ps_int(x: Number) -> Number:
    # PLRM: an integer result outside the 32-bit range becomes a real, so
    # `dup mul` chains cannot grow unbounded Python ints
    if isinstance(x, int) and not -0x80000000 <= x <= 0x7FFFFFFF:
        return float(x)
    return x

def _ps_round(x: Number) -> Number:
    # PLRM round: nearest integer; ties go to the GREATER value.
    if isinstance(x, int):
        return x
    f = math.floor(x)
    return float(f + 1) if (x - f) >= 0.5 else float(f)

def _ps_truncate(x: Number) -> Number:
    if isinstance(x, int):
        return x
    return float(math.trunc(x))


# bitshift beyond a 64-bit word only grows attacker-controlled bigints
_MAX_SHIFT = 64


def _real_pow(base: float, exponent: Number, what: str) -> float:
    """``base ** exponent`` inside the PdfError contract: 0 to a negative
    power, overflow and complex results (negative base, fractional
    exponent) raise instead of escaping as Python errors or values."""
    try:
        y = base ** exponent
    except ArithmeticError:
        raise PdfError(INCORRECT_TYPE, what) from None
    if isinstance(y, complex):
        raise PdfError(INCORRECT_TYPE, what)
    return y


def eval_calculator(prog: PSProgram, inputs: Sequence[Number]) -> List[Any]:
    """Run the calculator on ``inputs`` (pushed first-to-last); return stack."""
    stack: List[Any] = list(inputs)
    steps = 0

    def run(body: tuple) -> None:
        nonlocal steps
        for tok in body:
            steps += 1
            if steps > _MAX_PS_STEPS:
                raise PdfError(INCORRECT_TYPE, "calculator step limit")
            if len(stack) > _MAX_PS_STACK:
                raise PdfError(INCORRECT_TYPE, "calculator stack overflow")
            if isinstance(tok, tuple):
                stack.append(PSProgram(tok))
                continue
            if isinstance(tok, (int, float)):
                stack.append(tok)
                continue
            op = tok
            # -- conditional -------------------------------------------------
            if op == "if":
                proc = stack.pop() if stack else None
                cond = stack.pop() if stack else None
                if not isinstance(proc, PSProgram) or not isinstance(cond, bool):
                    raise PdfError(INCORRECT_TYPE, "if needs bool + proc")
                if cond:
                    run(proc.body)
            elif op == "ifelse":
                p2 = stack.pop() if stack else None
                p1 = stack.pop() if stack else None
                cond = stack.pop() if stack else None
                if not isinstance(p1, PSProgram) or not isinstance(p2, PSProgram) \
                        or not isinstance(cond, bool):
                    raise PdfError(INCORRECT_TYPE, "ifelse needs bool + 2 procs")
                run(p1.body if cond else p2.body)
            # -- stack -------------------------------------------------------
            elif op == "pop":
                if not stack:
                    raise PdfError(INCORRECT_TYPE, "pop on empty stack")
                stack.pop()
            elif op == "exch":
                if len(stack) < 2:
                    raise PdfError(INCORRECT_TYPE, "exch underflow")
                stack[-1], stack[-2] = stack[-2], stack[-1]
            elif op == "dup":
                if not stack:
                    raise PdfError(INCORRECT_TYPE, "dup on empty stack")
                stack.append(stack[-1])
            elif op == "copy":
                k = _int1(stack)
                if k < 0 or k > len(stack):
                    raise PdfError(INCORRECT_TYPE, "copy range")
                if k:
                    stack.extend(stack[-k:])
            elif op == "index":
                k = _int1(stack)
                if k < 0 or k >= len(stack):
                    raise PdfError(INCORRECT_TYPE, "index range")
                stack.append(stack[-1 - k])
            elif op == "roll":
                j = _int1(stack)
                k = _int1(stack)
                if k < 0 or k > len(stack):
                    raise PdfError(INCORRECT_TYPE, "roll range")
                if k:
                    j %= k
                    if j:
                        stack[-k:] = stack[-j:] + stack[-k:-j]
            # -- arithmetic --------------------------------------------------
            elif op == "add":
                a, b = _num2(stack)
                stack.append(_ps_int(a + b))
            elif op == "sub":
                a, b = _num2(stack)
                stack.append(_ps_int(a - b))
            elif op == "mul":
                a, b = _num2(stack)
                stack.append(_ps_int(a * b))
            elif op == "div":
                a, b = _num2(stack)
                if b == 0:
                    raise PdfError(INCORRECT_TYPE, "div by zero")
                stack.append(a / b)
            elif op == "idiv":
                b = _int1(stack)
                a = _int1(stack)
                if b == 0:
                    raise PdfError(INCORRECT_TYPE, "idiv by zero")
                stack.append(int(math.trunc(a / b)))  # C semantics: toward 0
            elif op == "mod":
                b = _int1(stack)
                a = _int1(stack)
                if b == 0:
                    raise PdfError(INCORRECT_TYPE, "mod by zero")
                stack.append(int(math.fmod(a, b)))  # sign follows dividend
            elif op == "neg":
                stack.append(_ps_int(-_num1(stack)))
            elif op == "abs":
                stack.append(_ps_int(abs(_num1(stack))))
            elif op == "ceiling":
                a = _num1(stack)
                stack.append(a if isinstance(a, int) else float(math.ceil(a)))
            elif op == "floor":
                a = _num1(stack)
                stack.append(a if isinstance(a, int) else float(math.floor(a)))
            elif op == "round":
                stack.append(_ps_round(_num1(stack)))
            elif op == "truncate":
                stack.append(_ps_truncate(_num1(stack)))
            elif op == "sqrt":
                a = _num1(stack)
                if a < 0:
                    raise PdfError(INCORRECT_TYPE, "sqrt of negative")
                stack.append(math.sqrt(a))
            elif op == "sin":
                stack.append(math.sin(math.radians(_num1(stack))))
            elif op == "cos":
                stack.append(math.cos(math.radians(_num1(stack))))
            elif op == "atan":
                den = _num1(stack)
                num = _num1(stack)
                deg = math.degrees(math.atan2(num, den))
                if deg < 0:
                    deg += 360.0
                stack.append(deg)
            elif op == "exp":
                a, b = _num2(stack)
                stack.append(_real_pow(float(a), float(b), "exp domain"))
            elif op == "ln":
                a = _num1(stack)
                if a <= 0:
                    raise PdfError(INCORRECT_TYPE, "ln domain")
                stack.append(math.log(a))
            elif op == "log":
                a = _num1(stack)
                if a <= 0:
                    raise PdfError(INCORRECT_TYPE, "log domain")
                stack.append(math.log10(a))
            elif op == "cvi":
                a = _num1(stack)
                stack.append(int(math.trunc(a)))
            elif op == "cvr":
                a = _num1(stack)
                stack.append(float(a))
            # -- relational / boolean / bitwise ------------------------------
            elif op in ("eq", "ne"):
                if len(stack) < 2:
                    raise PdfError(INCORRECT_TYPE, "eq/ne underflow")
                b = stack.pop()
                a = stack.pop()
                if isinstance(a, PSProgram) or isinstance(b, PSProgram):
                    raise PdfError(INCORRECT_TYPE, "eq/ne on proc")
                r = (a == b) if not (isinstance(a, bool) ^ isinstance(b, bool)) \
                    else False
                stack.append(r if op == "eq" else (not r))
            elif op in ("gt", "ge", "lt", "le"):
                a, b = _num2(stack)
                stack.append(
                    a > b if op == "gt" else a >= b if op == "ge"
                    else a < b if op == "lt" else a <= b
                )
            elif op in ("and", "or", "xor"):
                a, b = _bool_or_int2(stack)
                if isinstance(a, bool):
                    stack.append(
                        (a and b) if op == "and"
                        else (a or b) if op == "or" else (a != b)
                    )
                else:
                    stack.append(
                        (a & b) if op == "and"
                        else (a | b) if op == "or" else (a ^ b)
                    )
            elif op == "not":
                if not stack:
                    raise PdfError(INCORRECT_TYPE, "not underflow")
                a = stack.pop()
                if isinstance(a, bool):
                    stack.append(not a)
                elif isinstance(a, int):
                    stack.append(~a)
                else:
                    raise PdfError(INCORRECT_TYPE, "not needs bool or int")
            elif op == "bitshift":
                shift = _int1(stack)
                a = _int1(stack)
                if abs(shift) > _MAX_SHIFT:
                    raise PdfError(INCORRECT_TYPE, "bitshift out of range")
                stack.append(a << shift if shift >= 0 else a >> (-shift))
            elif op == "true":
                stack.append(True)
            elif op == "false":
                stack.append(False)
            else:
                raise PdfError(
                    INCORRECT_TYPE, f"unknown calculator operator {op!r}"
                )

    run(prog.body)
    return stack


# ---------------------------------------------------------------------------
# Function objects
# ---------------------------------------------------------------------------

class PdfFunction:
    """A parsed function ready to evaluate; ``kind`` in {0, 2, 3, 4}."""

    __slots__ = (
        "kind", "domain", "range",
        "c0", "c1", "n",                    # type 2
        "functions", "bounds", "encode",    # type 3
        "size", "bps", "decode", "samples", # type 0 (encode shared with 3)
        "program",                          # type 4
    )

    def __init__(self) -> None:
        self.kind = -1
        self.domain: List[float] = []
        self.range: Optional[List[float]] = None
        self.c0: Optional[List[float]] = None
        self.c1: Optional[List[float]] = None
        self.n = 1.0
        self.functions: List["PdfFunction"] = []
        self.bounds: List[float] = []
        self.encode: List[float] = []
        self.size: List[int] = []
        self.bps = 8
        self.decode: List[float] = []
        self.samples = b""
        self.program: Optional[PSProgram] = None

    @property
    def n_inputs(self) -> int:
        return len(self.domain) // 2

    @property
    def n_outputs(self) -> Optional[int]:
        if self.range is not None:
            return len(self.range) // 2
        if self.kind == 2:
            if self.c0 is not None:
                return len(self.c0)
            if self.c1 is not None:
                return len(self.c1)
            return 1
        return None


def _num_list(v: Any, what: str) -> List[Number]:
    # int-ness is preserved: clip_num (function.c:172-220) substitutes the
    # *bound object* on out-of-range input, so an integer Domain bound must
    # stay an integer (a type-4 program may then idiv/mod it).
    if not isinstance(v, list):
        raise PdfError(INCORRECT_TYPE, f"{what} must be an array")
    out: List[Number] = []
    for x in v:
        if isinstance(x, bool) or not isinstance(x, (int, float)):
            raise PdfError(INCORRECT_TYPE, f"{what} element not numeric")
        out.append(x)
    return out


def parse_function(obj: Any, resolver=None) -> PdfFunction:
    """Build a :class:`PdfFunction` from a COS dict or Stream.

    Mirrors ``pdf_deserde_function`` (``function.c:32-170``): the common
    triple from the (stream-)dict, then per-type specifics; types 0 and 4
    must be streams (their body is the sample data / program source).
    """
    if resolver is not None and hasattr(resolver, "resolve"):
        obj = resolver.resolve(obj)
    if isinstance(obj, Stream):
        d = obj.dict
    elif isinstance(obj, dict):
        d = obj
    else:
        raise PdfError(INCORRECT_TYPE, "Functions must be a stream or dict")

    def resolved(key: str) -> Any:
        v = d.get(Name(key), d.get(key))
        if resolver is not None and hasattr(resolver, "resolve"):
            v = resolver.resolve(v)
        return v

    fn = PdfFunction()
    ft = resolved("FunctionType")
    if not isinstance(ft, int) or isinstance(ft, bool):
        raise PdfError(MISSING_KEY, "FunctionType")
    fn.kind = ft
    dom = resolved("Domain")
    if dom is None:
        raise PdfError(MISSING_KEY, "Domain")
    fn.domain = _num_list(dom, "Domain")
    if len(fn.domain) < 2 or len(fn.domain) % 2:
        raise PdfError(INCORRECT_TYPE, "Domain length")
    rng = resolved("Range")
    if rng is not None:
        fn.range = _num_list(rng, "Range")
        if len(fn.range) % 2:
            raise PdfError(INCORRECT_TYPE, "Range length")

    if ft == 2:
        c0 = resolved("C0")
        c1 = resolved("C1")
        fn.c0 = _num_list(c0, "C0") if c0 is not None else None
        fn.c1 = _num_list(c1, "C1") if c1 is not None else None
        if fn.c0 is not None and fn.c1 is not None and len(fn.c0) != len(fn.c1):
            raise PdfError(INCORRECT_TYPE, "C0/C1 length mismatch")
        nv = resolved("N")
        if nv is None or isinstance(nv, bool) or not isinstance(nv, (int, float)):
            raise PdfError(MISSING_KEY, "N")
        fn.n = float(nv)
    elif ft == 3:
        fns = resolved("Functions")
        if not isinstance(fns, list) or not fns:
            raise PdfError(INCORRECT_TYPE, "Functions")
        fn.functions = [parse_function(f, resolver) for f in fns]
        fn.bounds = _num_list(resolved("Bounds") or [], "Bounds")
        fn.encode = _num_list(resolved("Encode") or [], "Encode")
        k = len(fn.functions)
        if len(fn.bounds) != k - 1 or len(fn.encode) != 2 * k:
            raise PdfError(INCORRECT_TYPE, "Bounds/Encode length")
    elif ft == 0:
        if not isinstance(obj, Stream):
            raise PdfError(INCORRECT_TYPE, "Type0 function must be a stream")
        if fn.range is None:
            raise PdfError(MISSING_KEY, "Range (required for type 0)")
        size = resolved("Size")
        if size is None:
            raise PdfError(MISSING_KEY, "Size")
        fn.size = [int(s) for s in _num_list(size, "Size")]
        if len(fn.size) != fn.n_inputs or any(s < 1 for s in fn.size):
            raise PdfError(INCORRECT_TYPE, "Size")
        bps = resolved("BitsPerSample")
        if bps not in (1, 2, 4, 8, 12, 16, 24, 32):
            raise PdfError(INCORRECT_TYPE, "BitsPerSample")
        fn.bps = int(bps)
        enc = resolved("Encode")
        fn.encode = (
            _num_list(enc, "Encode") if enc is not None
            else [v for s in fn.size for v in (0.0, float(s - 1))]
        )
        dec = resolved("Decode")
        fn.decode = (
            _num_list(dec, "Decode") if dec is not None else list(fn.range)
        )
        m = len(fn.range) // 2
        if len(fn.encode) != 2 * fn.n_inputs or len(fn.decode) != 2 * m:
            raise PdfError(INCORRECT_TYPE, "Encode/Decode length")
        fn.samples = obj.decoded(resolver)
        total = m * fn.bps
        for s in fn.size:
            total *= s
        if len(fn.samples) * 8 < total:
            raise PdfError(INCORRECT_TYPE, "sample data too short")
    elif ft == 4:
        if not isinstance(obj, Stream):
            raise PdfError(INCORRECT_TYPE, "Type4 function must be a stream")
        if fn.range is None:
            raise PdfError(MISSING_KEY, "Range (required for type 4)")
        fn.program = parse_calculator(obj.decoded(resolver))
    else:
        raise PdfError(INCORRECT_TYPE, f"FunctionType {ft}")
    return fn


def parse_function_bytes(buf: bytes) -> PdfFunction:
    """Parse a standalone serialized COS function object (dict or stream)."""
    parser = ObjectParser(buf)
    return parse_function(parser.parse_object())


def _clip(x: Number, lo: float, hi: float) -> Number:
    # clip_num (function.c:172-220): preserve the original object when
    # in-range (int stays int), substitute the bound when outside.
    if x < lo:
        return lo
    if x > hi:
        return hi
    return x


def _read_sample(fn: PdfFunction, flat_idx: int, out_idx: int, m: int) -> int:
    bit = (flat_idx * m + out_idx) * fn.bps
    byte, off = divmod(bit, 8)
    if fn.bps == 8:
        return fn.samples[byte]
    if fn.bps == 16:
        return struct.unpack_from(">H", fn.samples, byte)[0]
    if fn.bps == 32:
        return struct.unpack_from(">I", fn.samples, byte)[0]
    if fn.bps == 24:
        b = fn.samples[byte:byte + 3]
        return (b[0] << 16) | (b[1] << 8) | b[2]
    # sub-byte / 12-bit: big-endian bit packing
    window = int.from_bytes(fn.samples[byte:byte + 5].ljust(5, b"\x00"), "big")
    return (window >> (40 - off - fn.bps)) & ((1 << fn.bps) - 1)


def eval_function(fn: PdfFunction, inputs: Sequence[Number]) -> List[Number]:
    """Evaluate ``fn`` at ``inputs`` — ``pdf_run_function`` semantics."""
    if fn.kind == 2:
        if len(fn.domain) != 2 or len(inputs) != 1:
            raise PdfError(INCORRECT_TYPE, "type 2 arity")
        x = float(_clip(inputs[0], fn.domain[0], fn.domain[1]))
        m = fn.n_outputs or 1
        if fn.range is not None and len(fn.range) != 2 * m:
            raise PdfError(INCORRECT_TYPE, "Range length")
        xn = _real_pow(x, fn.n, "type 2 exponent domain")
        out: List[Number] = []
        for j in range(m):
            c0 = fn.c0[j] if fn.c0 is not None else 0.0
            c1 = fn.c1[j] if fn.c1 is not None else 1.0
            y: Number = c0 + xn * (c1 - c0)
            if fn.range is not None:
                y = _clip(y, fn.range[2 * j], fn.range[2 * j + 1])
            out.append(y)
        return out

    if fn.kind == 3:
        if len(fn.domain) != 2 or len(inputs) != 1:
            raise PdfError(INCORRECT_TYPE, "type 3 arity")
        dmin, dmax = fn.domain
        x = float(_clip(inputs[0], dmin, dmax))
        k = len(fn.functions)
        # subinterval select — half-open everywhere except the last
        # (function.c: in_interval loop, 1e-9 epsilons kept)
        sel, lo_b, hi_b = k - 1, dmin, dmax
        low = dmin
        for idx in range(k):
            high = fn.bounds[idx] if idx + 1 < k else dmax
            if idx + 1 == k:
                hit = (x >= low - 1e-9) and (x <= high + 1e-9)
            else:
                hit = (x >= low - 1e-9) and (x < high)
            if hit:
                sel, lo_b, hi_b = idx, low, high
                break
            low = high
        emin, emax = fn.encode[2 * sel], fn.encode[2 * sel + 1]
        if abs(hi_b - lo_b) > 1e-9:
            mapped = emin + (x - lo_b) * (emax - emin) / (hi_b - lo_b)
        else:
            mapped = emin
        out = eval_function(fn.functions[sel], [mapped])
        if fn.range is not None:
            if len(fn.range) != 2 * len(out):
                raise PdfError(INCORRECT_TYPE, "Range length")
            out = [
                _clip(y, fn.range[2 * j], fn.range[2 * j + 1])
                for j, y in enumerate(out)
            ]
        return out

    if fn.kind == 4:
        if fn.program is None or fn.range is None:
            raise PdfError(INCORRECT_TYPE, "type 4 not initialized")
        if 2 * len(inputs) > len(fn.domain):
            raise PdfError(INCORRECT_TYPE, "too many inputs")
        clipped = [
            _clip(v, fn.domain[2 * i], fn.domain[2 * i + 1])
            for i, v in enumerate(inputs)
        ]
        stack = eval_calculator(fn.program, clipped)
        m = len(fn.range) // 2
        if len(stack) < m:
            raise PdfError(INCORRECT_TYPE, "calculator returned too few values")
        outs = stack[-m:]
        result: List[Number] = []
        for j, y in enumerate(outs):
            if isinstance(y, bool) or not isinstance(y, (int, float)):
                raise PdfError(INCORRECT_TYPE, "calculator output not numeric")
            result.append(_clip(y, fn.range[2 * j], fn.range[2 * j + 1]))
        return result

    if fn.kind == 0:
        n_in = fn.n_inputs
        if len(inputs) != n_in:
            raise PdfError(INCORRECT_TYPE, "type 0 arity")
        m = len(fn.range) // 2 if fn.range else 0
        smax = float((1 << fn.bps) - 1)
        # encode each input to sample space, clamp to [0, Size-1]
        coords: List[float] = []
        for i in range(n_in):
            dlo, dhi = fn.domain[2 * i], fn.domain[2 * i + 1]
            x = float(_clip(inputs[i], dlo, dhi))
            elo, ehi = fn.encode[2 * i], fn.encode[2 * i + 1]
            if abs(dhi - dlo) > 1e-12:
                e = elo + (x - dlo) * (ehi - elo) / (dhi - dlo)
            else:
                e = elo
            coords.append(min(max(e, 0.0), float(fn.size[i] - 1)))
        # multilinear interpolation over the 2^n_in surrounding corners
        base = [int(math.floor(c)) for c in coords]
        frac = [coords[i] - base[i] for i in range(n_in)]
        for i in range(n_in):
            if base[i] >= fn.size[i] - 1 and fn.size[i] > 1:
                base[i] = fn.size[i] - 2
                frac[i] = coords[i] - base[i]
            if fn.size[i] == 1:
                base[i], frac[i] = 0, 0.0
        out = []
        for j in range(m):
            acc = 0.0
            for corner in range(1 << n_in):
                w = 1.0
                flat = 0
                stride = 1
                for i in range(n_in):
                    hi_side = (corner >> i) & 1
                    if fn.size[i] == 1:
                        if hi_side:
                            w = 0.0
                            break
                        idx = 0
                    else:
                        w *= frac[i] if hi_side else (1.0 - frac[i])
                        idx = base[i] + hi_side
                    flat += idx * stride
                    stride *= fn.size[i]
                if w:
                    acc += w * _read_sample(fn, flat, j, m)
            dlo, dhi = fn.decode[2 * j], fn.decode[2 * j + 1]
            y = dlo + acc * (dhi - dlo) / smax
            y = _clip(y, fn.range[2 * j], fn.range[2 * j + 1])
            out.append(y)
        return out

    raise PdfError(INCORRECT_TYPE, f"FunctionType {fn.kind}")


# ---------------------------------------------------------------------------
# Serializer (fixture writer — the query synthesizes real COS bytes)
# ---------------------------------------------------------------------------

def _fmt_num(v: Number) -> str:
    if isinstance(v, int):
        return str(v)
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def encode_function(spec: dict, body: Optional[bytes] = None) -> bytes:
    """Serialize a function dict (+ optional stream body) as COS bytes."""
    parts = ["<<"]
    for key, val in spec.items():
        parts.append(f"/{key}")
        if isinstance(val, list):
            parts.append(
                "[" + " ".join(
                    _fmt_num(v) if not isinstance(v, bytes)
                    else v.decode("latin-1")
                    for v in val
                ) + "]"
            )
        elif isinstance(val, bytes):  # pre-serialized (nested function)
            parts.append(val.decode("latin-1"))
        else:
            parts.append(_fmt_num(val))
    if body is not None:
        parts.append(f"/Length {len(body)}")
    parts.append(">>")
    head = " ".join(parts).encode("latin-1")
    if body is None:
        return head
    return head + b"\nstream\n" + body + b"\nendstream"
