"""Graphics/text-state interpreter: content ops -> span rows.

Reimplements the text semantics of ``/root/reference/libs/render/src/
render.c:223-1074`` + ``text_state.c:27-118`` with glyph *rasterization*
replaced by span *emission* (SURVEY.md §2.4). Matrices are 2x3 affine rows
``(a, b, c, d, e, f)`` — PDF's ``[a b c d e f]``.

Reference quirks reproduced bit-for-bit (SURVEY.md §7.3):

- ``BT`` resets ``Tm = Tlm = I`` (text_state.c:22-25, render.c:562-565)
- ``Td``: ``Tlm' = translate(tx,ty)·Tlm; Tm = Tlm``; ``TD`` also sets
  ``leading = -ty`` (render.c:615-633)
- ``T*``: ``Tm = translate(0,-Tl)·Tm`` — applied to **Tm, not Tlm**
  (render.c:640-650); reproduce as-is.
- ``TJ`` number element: ``Tm = translate(-n/1000·Tfs·Th, 0)·Tm``
  (render.c:665-679)
- glyph advance: ``tx = (w0/1000·Tfs + Tc)·Th`` — **word spacing Tw is
  stored but never applied** (text_state.c:104-114 has no word_spacing use)
- span position = translation component of ``Tm·CTM`` at string start
  (Trm construction, text_state.c:73-92)
- base CTM translates the MediaBox origin to (0,0); unlike the renderer we
  do NOT flip y (render.c:1158-1172 flips for the canvas) — keeping user
  space y-up means the deterministic ``(page, y desc, x asc)`` sort reads
  top-of-page first.

EXTENSIONS (reference panics; spec-correct implementations needed for
real-world corpora, each flagged in SURVEY.md §2.2): ``Tz Tr Ts ' "``.

``Do`` recurses into Form XObjects with saved state + form Matrix
(render.c:979-1066); Image XObjects are skipped (reference LOG_TODOs).
"""

from __future__ import annotations

import re
from typing import Any, Optional

from pdf_spark.core.content import parse_content_stream
from pdf_spark.core.encodings import decode_text_string
from pdf_spark.core.errors import INCORRECT_TYPE, RECURSION_LIMIT, PdfError
from pdf_spark.core.fonts import Font, load_font
from pdf_spark.core.objects import Name, Stream

Mat = tuple[float, float, float, float, float, float]

IDENTITY: Mat = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
FORM_DEPTH_CAP = 32

# marked-content-stack sentinel for an open hidden optional-content scope
# (BDC /OC over an OFF layer); distinct from None (plain scope) and from
# the mutable ActualText pair
_OC_HIDDEN = object()


def mat_mul(m: Mat, n: Mat) -> Mat:
    """Row-vector convention: result = m · n (points transform as p·m·n)."""
    a1, b1, c1, d1, e1, f1 = m
    a2, b2, c2, d2, e2, f2 = n
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def translate(tx: float, ty: float) -> Mat:
    return (1.0, 0.0, 0.0, 1.0, tx, ty)


def _x_shift(tx: float, n: Mat) -> Mat:
    """``translate(tx,0)·n`` specialized (the TJ kern/advance hot path).
    Numerically identical to mat_mul up to ±0.0 signs, which compare equal
    everywhere downstream (sort keys, line grouping)."""
    a2, b2, c2, d2, e2, f2 = n
    return (a2, b2, c2, d2, tx * a2 + e2, tx * b2 + f2)


_SURROGATE_RE = re.compile("[\ud800-\udfff]")


def _fix_surrogates(text: str) -> str:
    """Make span text valid Unicode: combine UTF-16 surrogate PAIRS (a
    predefined UTF16 CMap yields an astral char as two 2-byte codes, each
    decoded to one surrogate) and replace unpaired surrogates with U+FFFD.

    This is a task-survival requirement, not cosmetics: Arrow serializes
    span text as UTF-8, which rejects lone surrogates — without this, one
    adversarial document (e.g. Identity-H with CIDs in 0xD800-DFFF) would
    crash the Python worker instead of becoming an error/replacement row.
    """
    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        o = ord(text[i])
        if 0xD800 <= o <= 0xDBFF and i + 1 < n:
            lo = ord(text[i + 1])
            if 0xDC00 <= lo <= 0xDFFF:
                out.append(chr(0x10000 + ((o - 0xD800) << 10) + (lo - 0xDC00)))
                i += 2
                continue
        out.append("�" if 0xD800 <= o <= 0xDFFF else text[i])
        i += 1
    return "".join(out)


class Span:
    """One text-show string element (SURVEY.md §2.4 span emitter)."""

    __slots__ = (
        "page", "x", "y", "glyph_order", "text", "font", "size", "col",
        "vert", "mcid",
    )

    def __init__(self, page, x, y, glyph_order, text, font, size):
        self.page = page
        self.x = x
        self.y = y
        self.glyph_order = glyph_order
        self.text = text
        self.font = font
        self.size = size
        # reading-order column, assigned post-hoc per page by
        # core.extract.assign_columns (0 = single column / left)
        self.col = 0
        # shown in vertical writing mode (WMode 1): feeds the per-page
        # column-major reading-order transform in core.extract
        self.vert = False
        # innermost marked-content /MCID at emission (-1 = none): feeds
        # the tagged-PDF structure-tree reading order in core.extract
        self.mcid = -1


class TextState:
    """Tc/Tw/Th/Tl/Tf/Tfs/Tmode/Trise (text_state.h:22-43)."""

    __slots__ = (
        "char_spacing", "word_spacing", "h_scale", "leading",
        "font", "font_name", "font_size", "render_mode", "rise",
    )

    def __init__(self) -> None:
        self.char_spacing = 0.0
        self.word_spacing = 0.0
        self.h_scale = 1.0
        self.leading = 0.0
        self.font: Optional[Font] = None
        self.font_name = ""
        self.font_size = 0.0
        self.render_mode = 0
        self.rise = 0.0

    def copy(self) -> "TextState":
        t = TextState.__new__(TextState)
        for s in TextState.__slots__:
            setattr(t, s, getattr(self, s))
        return t


class Interpreter:
    """Per-page content interpreter. One instance per page; font objects are
    cached per resource name across the page (and shared per document via
    the caller's ``font_cache``)."""

    def __init__(
        self,
        resolver,
        page_index: int,
        resources: Optional[dict],
        font_cache: Optional[dict] = None,
    ) -> None:
        self.resolver = resolver
        self.page = page_index
        self.resources = resources or {}
        self.font_cache = font_cache if font_cache is not None else {}
        self.spans: list[Span] = []
        self.glyph_order = 0
        self._cur_op = ""  # last dispatched op, for error-detail context
        # marked-content scopes (BMC/BDC..EMC): entries are None, or the
        # open /ActualText scope's mutable [replacement_text, emitted] pair
        self._mc_stack: list = []
        self._actual: Optional[list] = None
        # count of open hidden optional-content scopes (§8.11.3): while
        # > 0, _show_tj advances geometry but emits no spans
        self._hidden = 0
        # innermost marked-content /MCID (§14.7.5.3; -1 = outside any);
        # _mcid_stack moves in lockstep with _mc_stack so EMC restores the
        # enclosing scope's value
        self._mcid = -1
        self._mcid_stack: list[int] = []

    # -- resource lookup --

    def _lookup(self, resources: dict, category: str, name: str) -> Any:
        cat = self.resolver.resolve(resources.get(category))
        if not isinstance(cat, dict):
            raise PdfError(INCORRECT_TYPE, f"Resources/{category} missing")
        obj = cat.get(name)
        if obj is None:
            raise PdfError(INCORRECT_TYPE, f"Resources/{category}/{name} missing")
        return obj

    def _get_font(self, resources: dict, name: str) -> Font:
        key = (id(resources), name)
        f = self.font_cache.get(key)
        if f is None:
            f = load_font(self._lookup(resources, "Font", name), self.resolver)
            self.font_cache[key] = f
        return f

    # -- execution --

    def _exec_checked(self, ops, base_ctm: Mat) -> None:
        """Execute with operand-mismatch taxonomy: a truncated stream can
        emit an op with too-few/wrong-typed operands (e.g. a bare ``Tf``),
        which would otherwise escape as IndexError/ValueError/TypeError —
        an INTERNAL_ERROR row instead of the correct INCORRECT_TYPE class
        (the typecheck the reference does in operation.c:515-806).

        The reclassification names the failing op so a genuine interpreter
        bug is distinguishable from a document defect in the error detail."""
        try:
            self._exec_ops(ops, base_ctm, self.resources, depth=0)
        except PdfError:
            raise
        except (IndexError, ValueError, TypeError) as exc:
            raise PdfError(
                INCORRECT_TYPE,
                f"operand mismatch at op {self._cur_op!r}: "
                f"{type(exc).__name__}: {exc}",
            ) from None

    def run_streams(self, streams: list[bytes], base_ctm: Mat = IDENTITY) -> list[Span]:
        """The page's Contents streams form ONE content stream: PDF 32000-1
        §7.8.2 allows the division to fall between any two tokens, so the
        streams are joined with a newline and tokenized as a whole (an
        operand emitted at the end of stream N may find its operator at the
        start of stream N+1). DIVERGENCE from the reference, which parses
        each stream separately (render.c:1175-1199) and would lose such
        split operands; execution order is identical either way."""
        ops = parse_content_stream(b"\n".join(streams))
        self._exec_checked(ops, base_ctm)
        return self.spans

    # Minimum operand counts for EXECUTED ops — the explicit per-op
    # typecheck the reference performs when deserializing operations
    # (operation.c:515-806). A short operand list raises INCORRECT_TYPE
    # naming the op BEFORE dispatch touches args, so the blanket
    # IndexError reclassification in _exec_checked is a backstop for
    # genuine bugs, not the primary arity path.
    _MIN_OPERANDS = {
        "TJ": 1, "Tj": 1, "Td": 2, "TD": 2, "Tm": 6, "Tf": 2,
        "cm": 6, "Tc": 1, "Tw": 1, "Tz": 1, "TL": 1, "Tr": 1, "Ts": 1,
        "'": 1, '"': 3, "gs": 1, "Do": 1, "BMC": 1, "BDC": 2,
    }

    def _exec_ops(
        self, ops, base_ctm: Mat, resources: dict, depth: int
    ) -> None:
        ctm = base_ctm
        gs_stack: list[tuple[Mat, TextState]] = []
        mc_base = len(self._mc_stack)  # EMC may not pop the CALLER's scopes
        ts = TextState()
        tm: Mat = IDENTITY
        tlm: Mat = IDENTITY
        # no resolve on operands: the scanner runs with content=True, so
        # operands can never be indirect refs — float()/int() coerce (or
        # raise into _exec_checked's INCORRECT_TYPE path) directly.
        # Dispatch chain ordered by corpus frequency: show/position ops
        # dominate a text page; op strings are interned by the scanner so
        # each == is an identity hit.

        for op, args in ops:
            self._cur_op = op
            need = self._MIN_OPERANDS.get(op, 0)
            if len(args) < need:
                raise PdfError(
                    INCORRECT_TYPE,
                    f"{op}: expected {need} operand(s), got {len(args)}",
                )
            if op == "TJ":
                tm = self._show_tj(args[0], ts, tm, ctm)
            elif op == "Td" or op == "TD":
                tx, ty = float(args[0]), float(args[1])
                if op == "TD":
                    ts.leading = -ty
                tlm = mat_mul(translate(tx, ty), tlm)
                tm = tlm
            elif op == "Tm":
                m = tuple(float(a) for a in args[:6])
                tm = tlm = m
            elif op == "T*":
                # quirk: mutates Tm, not Tlm (render.c:640-650)
                tm = mat_mul(translate(0.0, -ts.leading), tm)
            elif op == "Tf":
                ts.font_name = str(args[0])
                ts.font_size = float(args[1])
                ts.font = self._get_font(resources, ts.font_name)
            elif op == "BT":
                tm = tlm = IDENTITY
            elif op == "ET":
                pass
            elif op == "q":
                gs_stack.append((ctm, ts.copy()))
            elif op == "Q":
                if gs_stack:
                    ctm, ts = gs_stack.pop()
            elif op == "cm":
                m = tuple(float(a) for a in args[:6])
                ctm = mat_mul(m, ctm)  # CTM' = M·CTM (render.c:297-303)
            elif op == "Tc":
                ts.char_spacing = float(args[0])
            elif op == "Tw":
                ts.word_spacing = float(args[0])  # stored, never applied
            elif op == "Tz":
                ts.h_scale = float(args[0]) / 100.0
            elif op == "TL":
                ts.leading = float(args[0])
            elif op == "Tr":
                ts.render_mode = int(args[0])
            elif op == "Ts":
                ts.rise = float(args[0])
            elif op == "'":
                tm = mat_mul(translate(0.0, -ts.leading), tm)
                tlm = tm
                tm = self._show_tj([args[0]], ts, tm, ctm)
            elif op == '"':
                ts.word_spacing = float(args[0])
                ts.char_spacing = float(args[1])
                tm = mat_mul(translate(0.0, -ts.leading), tm)
                tlm = tm
                tm = self._show_tj([args[2]], ts, tm, ctm)
            elif op == "gs":
                self._apply_extgstate(str(args[0]), resources, ts)
            elif op == "Do":
                self._do_xobject(str(args[0]), resources, ctm, depth)
            elif op == "BDC":
                self._begin_marked(args, resources)
            elif op == "BMC":
                self._mc_stack.append(None)
                self._mcid_stack.append(self._mcid)
            elif op == "EMC":
                if len(self._mc_stack) > mc_base:
                    ent = self._mc_stack.pop()
                    self._mcid = self._mcid_stack.pop()
                    if ent is _OC_HIDDEN:
                        self._hidden -= 1
                    elif ent is not None and ent is self._actual:
                        self._actual = None
            else:  # pragma: no cover — parser already filters
                pass
        # a stream's unclosed scopes end with the stream (spec requires
        # BMC/BDC..EMC balance WITHIN one stream, §14.6); a form's open
        # ActualText scope must not suppress the caller's text
        if len(self._mc_stack) > mc_base:
            for e in self._mc_stack[mc_base:]:
                if e is _OC_HIDDEN:
                    self._hidden -= 1
            if self._actual is not None and any(
                e is self._actual for e in self._mc_stack[mc_base:]
            ):
                self._actual = None
            del self._mc_stack[mc_base:]
            self._mcid = self._mcid_stack[mc_base]
            del self._mcid_stack[mc_base:]
        return None

    def _begin_marked(self, args, resources: dict) -> None:
        """``BDC``: open a marked-content scope (PDF 32000-1 §14.6).

        EXTENSION — the reference warn-skips BDC/EMC entirely: if the
        scope's property list (inline dict, or a Name looked up in
        Resources /Properties) carries ``/ActualText`` (§14.9.4) and no
        ActualText scope is already open (the OUTERMOST replacement wins —
        nested scopes are part of the replaced content), glyph-decoded
        spans are suppressed until the matching EMC and the replacement
        text is emitted once, at the position and font/size of the scope's
        first show op. Real-world producers (LaTeX, Word) use ActualText
        for ligature/hyphenation fix-ups, so honoring it IS the correct
        extracted text for those documents. A scope containing no show op
        contributes nothing (there is no geometry to anchor the text to).
        A missing named property list is skipped silently (same leniency
        direction as ``gs``).

        EXTENSION — optional content (§8.11.3): a ``/OC`` tag whose
        property list is an OCG that is OFF in the document's default
        configuration (or an OCMD whose membership policy evaluates
        not-visible) opens a HIDDEN scope: geometry still advances but no
        spans are emitted until the matching EMC. The reference's catalog
        deserde marks /OCProperties unimplemented (catalog.c:38); real
        corpora carry watermark/alternate-language layers OFF by default,
        and a viewer never shows them — so neither does the extractor."""
        entry = None
        props = None
        if len(args) >= 2:
            props = args[1]
            if isinstance(props, Name):
                try:
                    props = self._lookup(resources, "Properties", str(props))
                except PdfError:
                    props = None
            props = self.resolver.resolve(props)
        self._mcid_stack.append(self._mcid)
        if isinstance(props, dict):
            mcid = self.resolver.resolve(props.get("MCID"))
            if isinstance(mcid, int):
                self._mcid = mcid
        if args and args[0] == Name("OC"):
            if isinstance(props, dict) and self._oc_hidden(props):
                self._hidden += 1
                entry = _OC_HIDDEN
        elif self._actual is None and isinstance(props, dict):
            at = self.resolver.resolve(props.get("ActualText"))
            if isinstance(at, (bytes, bytearray)):
                entry = [decode_text_string(bytes(at)), False]
                self._actual = entry
        self._mc_stack.append(entry)

    def _oc_hidden(self, props: dict) -> bool:
        """Visibility of an optional-content scope/XObject (§8.11.2.3-4):
        a plain ``/Type/OCG`` is hidden iff it is OFF in the default
        config; a ``/Type/OCMD`` evaluates its ``/P`` policy (AnyOn
        default, AllOn, AnyOff, AllOff) over ``/OCGs`` (single dict or
        array). No members / unknown shape -> visible (fail-open: what a
        viewer shows when optional-content data is malformed). ``/VE``
        visibility expressions are not evaluated (rare; fail-open keeps
        their text)."""
        hidden = self.resolver.hidden_ocgs()
        if props.get("Type") == Name("OCMD"):
            ocgs = self.resolver.resolve(props.get("OCGs"))
            if isinstance(ocgs, dict):
                ocgs = [ocgs]
            states = []  # True = that member group is OFF
            if isinstance(ocgs, list):
                for g in ocgs:
                    g = self.resolver.resolve(g)
                    if isinstance(g, dict):
                        states.append(id(g) in hidden)
            if not states:
                return False
            p = self.resolver.resolve(props.get("P"))
            pol = str(p) if isinstance(p, Name) else "AnyOn"
            if pol == "AllOn":
                visible = not any(states)
            elif pol == "AnyOff":
                visible = any(states)
            elif pol == "AllOff":
                visible = all(states)
            else:  # AnyOn (spec default)
                visible = not all(states)
            return not visible
        return id(props) in hidden

    # -- the TJ span emitter (render.c:651-704 + text_state.c:27-118) --

    def _show_tj(self, elements, ts: TextState, tm: Mat, ctm: Mat) -> Mat:
        if ts.font is None:
            raise PdfError(INCORRECT_TYPE, "text shown before Tf set a font")
        font = ts.font
        fs, th, tc = ts.font_size, ts.h_scale, ts.char_spacing
        actual = self._actual  # open /ActualText scope (BDC can't occur mid-TJ)
        is_type0 = font.is_type0
        # every font takes a C-level decode path — the lazy tables fill per
        # code on first use, so there is no build cost to amortize: simple
        # fonts go through str.translate, Type0 through map(__getitem__)
        # over the (struct-unpacked or codespace-split) code list
        tables = font.fast_tables or font.build_fast_tables()
        fast = None if is_type0 else tables
        vert = font.vertical
        # uniform-width shortcut: when every code has the same width (Type0
        # with DW only, metric-less simple fonts — most of a real crawl's
        # docs), the advance is ncodes * per_glyph and the per-code width
        # dict pass is skipped entirely (~1.4x on the decode loop)
        uw = font.uniform_width
        per_glyph = None if uw is None else (uw / 1000.0 * fs + tc) * th
        # no resolve per element: content-stream operands are scanned with
        # content=True, so a TJ array can never contain indirect refs
        for el in elements:
            if isinstance(el, (int, float)):
                # kern: Tm = translate(-n/1000·Tfs·Th, 0)·Tm; in vertical
                # mode the displacement is along y with no Th (§9.4.4)
                if vert:
                    tm = mat_mul(translate(0.0, -float(el) / 1000.0 * fs), tm)
                else:
                    tm = _x_shift(-float(el) / 1000.0 * fs * th, tm)
                continue
            if not isinstance(el, bytes):
                raise PdfError(INCORRECT_TYPE, f"TJ element {type(el).__name__}")
            if not el:
                continue
            # span origin = Trm translation: [S, rise]·Tm·CTM — the rise
            # term shifts the baseline (text_state.c:73-92; our Ts is a
            # spec extension, so the shift must actually be applied)
            dev = (
                mat_mul(tm, ctm)
                if ts.rise == 0.0
                else mat_mul(translate(0.0, ts.rise), mat_mul(tm, ctm))
            )
            if fast is not None:
                # simple-font fast path: C-level decode + width sum
                trans, w256 = fast
                text = el.decode("latin-1").translate(trans)
                adv = (
                    len(el) * per_glyph
                    if per_glyph is not None
                    else (
                        sum(map(w256.__getitem__, el)) / 1000.0 * fs
                        + len(el) * tc
                    ) * th
                )
            else:
                # Type0: fixed 2-byte (struct-unpack tuple) or codespace-
                # driven mixed 1/2-byte split (render/font.c:46; legacy CJK
                # CMaps are mixed-width), then C-level map over the lazy
                # decode tables.
                # tx = (w0/1000·Tfs + Tc)·Th ; Tw never applied (parity)
                tmap, wmap = tables
                codes = font.split_codes(el)
                ncodes = len(codes)
                text = "".join(map(tmap.__getitem__, codes))
                if vert:
                    # vertical displacement per glyph: W2 per-CID w1, else
                    # the DW2 default (-1000, downward), glyph space; Th
                    # never applies (§9.4.4)
                    if font.cid_vwidths:
                        adv = (
                            sum(font.vert_width(c) for c in codes) / 1000.0 * fs
                            + ncodes * tc
                        )
                    else:
                        adv = ncodes * (font.w1_default / 1000.0 * fs + tc)
                elif per_glyph is not None:
                    adv = ncodes * per_glyph
                else:
                    adv = (
                        sum(map(wmap.__getitem__, codes)) / 1000.0 * fs
                        + ncodes * tc
                    ) * th
            if _SURROGATE_RE.search(text):
                text = _fix_surrogates(text)
            if actual is not None:
                # suppressed: the scope's ActualText replaces glyph text,
                # emitted once at the first show's position (§14.9.4 is
                # font-agnostic)
                text = actual[0] if not actual[1] else ""
                actual[1] = True
            if text and not self._hidden:
                sp = Span(
                    self.page,
                    dev[4],
                    dev[5],
                    self.glyph_order,
                    text,
                    font.base_font or ts.font_name,
                    fs,
                )
                sp.vert = vert
                if self._mcid >= 0:
                    sp.mcid = self._mcid
                self.spans.append(sp)
                self.glyph_order += len(text)
            tm = mat_mul(translate(0.0, adv), tm) if vert else _x_shift(adv, tm)
        return tm

    # -- gs ExtGState (render.c:265-287; params schema resources.h:66-206) --

    def _apply_extgstate(self, name: str, resources: dict, ts: TextState) -> None:
        """Look the ExtGState dict up in Resources and apply the parameters
        that affect text: ``/Font [fontRef size]`` (PDF 32000-1 Table 57).
        Stroke/dash/alpha params are state the renderer applies
        (render.c:265-287) but text bytes never see — ignored here.

        A ``gs`` naming a MISSING ExtGState is skipped silently: the op
        usually has no text effect, and hand-edited/merged real-world PDFs
        drop the resource often enough that erroring the whole document
        would lose text for nothing (same leniency direction as the
        BI..EI skip). A present-but-malformed /Font still errors."""
        try:
            d = self.resolver.get_dict(
                self._lookup(resources, "ExtGState", name), "ExtGState"
            )
        except PdfError:
            return
        fpair = self.resolver.resolve(d.get("Font"))
        if fpair is None:
            return
        if not (isinstance(fpair, list) and len(fpair) == 2):
            raise PdfError(INCORRECT_TYPE, "ExtGState /Font must be [font size]")
        key = ("extg", id(resources), name)
        f = self.font_cache.get(key)
        if f is None:
            f = load_font(fpair[0], self.resolver)
            self.font_cache[key] = f
        ts.font = f
        ts.font_name = name
        ts.font_size = float(self.resolver.resolve(fpair[1]))

    # -- form XObjects (render.c:979-1066) --

    def _do_xobject(self, name: str, resources: dict, ctm: Mat, depth: int) -> None:
        if depth >= FORM_DEPTH_CAP:
            raise PdfError(RECURSION_LIMIT, "form XObject nesting too deep")
        obj = self.resolver.resolve(self._lookup(resources, "XObject", name))
        if not isinstance(obj, Stream):
            raise PdfError(INCORRECT_TYPE, "XObject is not a stream")
        subtype = obj.dict.get("Subtype")
        if subtype == Name("Image"):
            return  # reference LOG_TODOs images; extraction skips them
        if subtype != Name("Form"):
            raise PdfError(INCORRECT_TYPE, f"XObject subtype {subtype!r}")
        # optional-content XObject (§8.11.3.2): a form whose /OC evaluates
        # hidden in the default config is skipped whole, like a viewer
        oc = obj.dict.get("OC")
        if oc is not None:
            oc_props = self.resolver.resolve(oc)
            if isinstance(oc_props, dict) and self._oc_hidden(oc_props):
                return
        form_ctm = ctm
        matrix = self.resolver.resolve(obj.dict.get("Matrix"))
        if isinstance(matrix, list) and len(matrix) == 6:
            m = tuple(float(self.resolver.resolve(v)) for v in matrix)
            form_ctm = mat_mul(m, ctm)
        form_res = obj.dict.get("Resources")
        res = (
            self.resolver.get_dict(form_res, "form resources")
            if form_res is not None
            else resources
        )
        # tokenization cached per doc (the Stream object is memoized by the
        # resolver, so id() is stable for the document's lifetime): a page
        # stamping one form N times pays one parse, not N
        cache_key = ("form_ops", id(obj))
        ops = self.font_cache.get(cache_key)
        if ops is None:
            ops = parse_content_stream(obj.decoded(self.resolver))
            self.font_cache[cache_key] = ops
        self._exec_ops(ops, form_ctm, res, depth + 1)
