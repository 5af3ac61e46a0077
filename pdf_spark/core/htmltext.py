"""HTML main-content extraction: boilerplate strip via DOM heuristics.

The north rule names three extraction tiers — "HTML boilerplate strip,
PDF/layout parse, DOM heuristics". This module is the HTML tier, a pure
function of the payload bytes with the same contract as the PDF core
(never raises; deterministic across executors):

1. **Sniff** — ``looks_like_html`` routes payloads by magic bytes
   (``<!doctype html`` / ``<html``), never by URL extension: at
   Common-Crawl scale the Content-Type header and the URL suffix both lie,
   the first bytes do not.
2. **Decode** — BOM, then ``<meta charset>`` sniff over the first 2 KiB,
   then strict UTF-8, then windows-1252 (the de-facto web fallback).
3. **Tokenize** — a single linear regex scanner over the decoded text:
   comments, CDATA, declarations, end tags, start tags (quoted attributes
   may contain ``>``), text. Raw-text elements (``script``/``style``/
   ``template``/``textarea``/``noscript``/``xmp``) are skipped to their
   matching close tag so their bodies can never leak into text. Every
   scanner here and in ``core/htmlaudit.py`` walks one ``HtmlTokens``.
4. **Segment** — text accumulates into *blocks*; any block-level tag
   boundary flushes the current block. An element stack (depth-capped,
   with the HTML5 implied-end-tag rules for ``p``/``li``/``td``/…)
   tracks three inherited context flags per block: *hidden* (head, svg,
   form controls), *boiler* (nav/header/footer/aside/form ancestry or a
   class/id hint such as ``cookie``/``sidebar``/``share``), and *main*
   (article/main ancestry).
5. **Classify** — shallow text features in the spirit of Kohlschuetter
   et al., "Boilerplate Detection Using Shallow Text Features" (WSDM
   2010) and Pomikalek's jusText (2011): link density and block length
   are the dominant signals, DOM context breaks ties, and a second
   context-propagation pass lets short/medium blocks inherit the class
   of their decided neighbours (good wins over bad, as in jusText).

The reference engine (someone13574/pdf) has no HTML path at all — this
tier is net-new capability mandated by the north rule, so there is no
reference file to cite; the published algorithms above are the spec.

Whitespace inside a block is normalised to single spaces (``&nbsp;`` and
friends are Unicode whitespace after entity expansion and normalise the
same way); blocks join with ``\n`` downstream via the standard span
assembly (one block = one span at ``y = -block_index``).
"""

from __future__ import annotations

import re
from html import unescape

# --- sniffing ---------------------------------------------------------------

_MAGIC_RE = re.compile(
    rb"^(?:\xef\xbb\xbf)?[ \t\r\n\f]{0,256}<(?:!doctype[ \t\r\n\f]|html[ \t\r\n\f>])",
    re.I,
)


def looks_like_html(data: bytes) -> bool:
    """True iff the payload's first bytes are an HTML document marker.

    Deliberately conservative (requires ``<!doctype`` or ``<html``, not a
    bare ``<``) so that corrupt PDF payloads and random tag soup keep
    flowing to the PDF error path unchanged."""
    return bool(_MAGIC_RE.match(data[:512]))


# --- decoding ---------------------------------------------------------------

_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?\s*([A-Za-z0-9_\-]+)", re.I)

# mojibake signature: a 2- or 3-byte UTF-8 sequence read as latin-1/cp1252 —
# lead char U+00C2..U+00EF followed by chars in the continuation range
# U+0080..U+00BF (plus the cp1252 remaps of 0x80..0x9F). 'Ã©' for 'é' etc.
_MOJI_CONT = (
    "\u0080-\u00bf"  # continuation bytes under a latin-1 read
    "\u20ac\u201a\u0192\u201e\u2026\u2020\u2021\u02c6\u2030\u0160"
    "\u2039\u0152\u017d\u2018\u2019\u201c\u201d\u2022\u2013\u2014"
    "\u02dc\u2122\u0161\u203a\u0153\u017e\u0178"  # cp1252 0x80-0x9f
)
_MOJI_RE = re.compile(f"[\u00c2-\u00ef][{_MOJI_CONT}]")


def _repair_double_utf8(text: str) -> str:
    """Undo double-encoded UTF-8 ("mojibake": UTF-8 bytes decoded as
    latin-1/cp1252, then re-served as UTF-8 — a standing fraction of any
    real crawl). Conservative: repairs only when >= 3 signature digraphs
    are present, the whole text strictly round-trips (encode latin-1 or
    cp1252 -> decode UTF-8), and the repair strictly reduces the
    signature count — genuine text about 'Ã' can't trip all three. At
    most two passes (triple-encoding exists in the wild but is rare)."""
    for _ in range(2):
        sigs = len(_MOJI_RE.findall(text))
        if sigs < 3:
            return text
        repaired = None
        for enc in ("latin-1", "cp1252"):
            try:
                repaired = text.encode(enc).decode("utf-8")
                break
            except (UnicodeEncodeError, UnicodeDecodeError):
                continue
        if repaired is None or len(_MOJI_RE.findall(repaired)) >= sigs:
            return text
        text = repaired
    return text


def decode_html(data: bytes) -> str:
    if data[:3] == b"\xef\xbb\xbf":
        return _repair_double_utf8(data[3:].decode("utf-8", "replace"))
    m = _CHARSET_RE.search(data[:2048])
    if m:
        try:
            return _repair_double_utf8(
                data.decode(m.group(1).decode("ascii"), "replace")
            )
        except (LookupError, UnicodeDecodeError):
            pass
    try:
        return _repair_double_utf8(data.decode("utf-8"))
    except UnicodeDecodeError:
        return _repair_double_utf8(data.decode("windows-1252", "replace"))


# --- tokenizer --------------------------------------------------------------

# One linear pass; quoted attribute values may contain '>'. Alternatives are
# ordered most-specific-first; every '<' falls into exactly one arm (the
# final '<' arm catches stray less-thans in text).
_TOKEN_RE = re.compile(
    r"""
      <!--.*?(?:-->|\Z)                                    # comment
    | <!\[CDATA\[.*?(?:\]\]>|\Z)                           # CDATA
    | <![^>]*>?                                            # doctype / decl
    | <\?[^>]*>?                                           # processing instr
    | </\s*([a-zA-Z][a-zA-Z0-9:_\-]*)[^>]*>?               # 1: end tag
    | <([a-zA-Z][a-zA-Z0-9:_\-]*)                          # 2: start tag name
      ((?:"[^"]*"|'[^']*'|[^>"'])*)>?                      # 3: attrs
    | [^<]+                                                # text
    | <                                                    # stray '<'
    """,
    re.S | re.X,
)

# Elements whose raw bodies may contain '<' and must be skipped wholesale.
_RAWTEXT = {"script", "style", "template", "textarea", "noscript", "xmp"}
_RAW_CLOSE = {t: re.compile(r"</\s*%s[\s>]" % t, re.I) for t in _RAWTEXT}


class HtmlTokens:
    """The one token walk every HTML scanner shares.

    Iterating yields each ``_TOKEN_RE`` match in document order (group 1:
    end-tag name, 2: start-tag name, 3: start-tag attribute text; neither
    for text, comments, declarations and stray ``<``). After a raw-text
    start tag the caller calls :meth:`skip_raw` so the element's body — a
    ``<script>`` string, say — can never fake a tag."""

    __slots__ = ("text", "pos")

    def __init__(self, text: str):
        self.text = text
        self.pos = 0

    def __iter__(self):
        text = self.text
        n = len(text)
        match = _TOKEN_RE.match  # total: every position matches one arm
        while self.pos < n:
            m = match(text, self.pos)
            self.pos = m.end()
            yield m

    def skip_raw(self, tag: str) -> str:
        """Consume the body of raw-text element ``tag`` (lowercase) and its
        close tag, or run to EOF when unclosed; return the body."""
        text = self.text
        start = self.pos
        cm = _RAW_CLOSE[tag].search(text, start)
        if cm is None:
            self.pos = len(text)
            return text[start:]
        gt = text.find(">", cm.start())
        self.pos = len(text) if gt == -1 else gt + 1
        return text[start:cm.start()]

# Void elements: never pushed on the stack.
_VOID = {
    "br", "img", "hr", "meta", "link", "input", "area", "base", "col",
    "embed", "param", "source", "track", "wbr",
}

# A start/end of any of these flushes the current text block.
_BLOCK_TAGS = {
    "p", "div", "section", "article", "aside", "header", "footer", "nav",
    "main", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "dl",
    "dt", "dd", "table", "thead", "tbody", "tfoot", "tr", "td", "th",
    "blockquote", "pre", "figure", "figcaption", "form", "fieldset",
    "legend", "hr", "br", "address", "details", "summary", "caption",
    "center", "body", "html",
}

# Subtrees whose text is never content (hidden flag).
_HIDDEN_TAGS = {
    "head", "title", "select", "option", "datalist", "iframe", "object",
    "svg", "math", "audio", "video", "map", "style", "script",
}

# Structural kinds preserved for markdown output (nearest enclosing wins).
_KIND_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote", "pre"}

# Ancestry that marks a block boilerplate / main content.
_BOILER_TAGS = {"nav", "header", "footer", "aside", "form", "fieldset"}
_MAIN_TAGS = {"article", "main"}

# HTML5 implied end tags (subset that matters for block segmentation).
_AUTOCLOSE = {
    "p": {"p"},
    "li": {"li"},
    "dt": {"dd", "dt"},
    "dd": {"dd", "dt"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "tr": {"tr", "td", "th"},
    "option": {"option"},
}

_ATTR_HINT_RE = re.compile(
    r"""(?:class|id)\s*=\s*("[^"]*"|'[^']*'|[^\s>]+)""", re.I
)
_BOILER_WORD_RE = re.compile(
    r"comment|sidebar|footer|masthead|nav(?:bar|igation)?\b|menu|breadcrumb"
    r"|share|social|cookie|banner|advert|\bads?\b|promo|related|widget|popup",
    re.I,
)

_MAX_STACK = 256

# Classification thresholds (jusText uses length_low=70/length_high=200 on
# full paragraphs; our blocks are finer-grained, so the bands sit lower —
# chars are counted non-whitespace).
LINK_DENSITY_MAX = 0.33
GOOD_MIN_CHARS = 40
SHORT_MAX_CHARS = 10

_GOOD, _BAD, _SHORT, _NEAR = "good", "bad", "short", "near"


class HtmlBlock:
    """One segmented text block with its classification features."""

    __slots__ = (
        "text", "chars", "link_chars", "boiler_ctx", "main_ctx", "label",
        "kind",
    )

    def __init__(self, text, chars, link_chars, boiler_ctx, main_ctx,
                 kind="p"):
        self.text = text
        self.chars = chars
        self.link_chars = link_chars
        self.boiler_ctx = boiler_ctx
        self.main_ctx = main_ctx
        self.label = None
        # structural kind for markdown serialization: "h1".."h6", "li",
        # "blockquote", "pre", else "p" — the nearest enclosing
        # structural tag at flush time
        self.kind = kind

    @property
    def link_density(self) -> float:
        return self.link_chars / self.chars if self.chars else 0.0


def _attr_hint(attrs: str) -> bool:
    for m in _ATTR_HINT_RE.finditer(attrs):
        if _BOILER_WORD_RE.search(m.group(1)):
            return True
    return False


def segment_blocks(html_text: str) -> list[HtmlBlock]:
    """Tokenize + segment: decoded HTML -> ordered blocks with context."""
    # stack entries: (tag, hidden, boiler, main)
    stack: list[tuple[str, bool, bool, bool]] = []
    hidden = boiler = main = False
    in_link = 0
    parts: list[str] = []
    link_chars = 0
    total_chars = 0
    blocks: list[HtmlBlock] = []

    def flush(b_ctx: bool, m_ctx: bool) -> None:
        nonlocal parts, link_chars, total_chars
        if parts:
            text = " ".join("".join(parts).split())
            if text:
                kind = "p"
                for tag, _h, _b, _m in reversed(stack):
                    if tag in _KIND_TAGS:
                        kind = tag
                        break
                blocks.append(
                    HtmlBlock(text, total_chars, link_chars, b_ctx, m_ctx,
                              kind)
                )
        parts = []
        link_chars = 0
        total_chars = 0

    def refresh() -> tuple[bool, bool, bool]:
        if stack:
            _, h, b, m = stack[-1]
            return h, b, m
        return False, False, False

    toks = HtmlTokens(html_text)
    for m in toks:
        end_tag, start_tag, attrs = m.group(1, 2, 3)
        if start_tag is not None:
            tag = start_tag.lower()
            self_closing = attrs.rstrip().endswith("/")
            if tag in _BLOCK_TAGS:
                flush(boiler, main)
            if tag == "a":
                in_link += 1
                continue
            if tag in _VOID or self_closing:
                continue
            if tag in _RAWTEXT:
                # skip the raw body to the matching close tag (or EOF)
                toks.skip_raw(tag)
                continue
            closes = _AUTOCLOSE.get(tag)
            if closes:
                popped = False
                while stack and stack[-1][0] in closes:
                    stack.pop()
                    popped = True
                if popped:
                    hidden, boiler, main = refresh()
            if len(stack) < _MAX_STACK:
                h = hidden or tag in _HIDDEN_TAGS
                b = boiler or tag in _BOILER_TAGS or _attr_hint(attrs)
                mm = main or tag in _MAIN_TAGS
                stack.append((tag, h, b, mm))
                hidden, boiler, main = h, b, mm
        elif end_tag is not None:
            tag = end_tag.lower()
            if tag in _BLOCK_TAGS:
                flush(boiler, main)
            if tag == "a":
                if in_link:
                    in_link -= 1
                continue
            for i in range(len(stack) - 1, -1, -1):
                if stack[i][0] == tag:
                    del stack[i:]
                    hidden, boiler, main = refresh()
                    break
        elif m.group(0)[0] != "<":  # text node
            if hidden:
                continue
            text = unescape(m.group(0))
            # non-whitespace char count via C-level split (same whitespace
            # class as str.isspace) — the per-char generator was the
            # hottest line of the HTML path
            nchars = sum(map(len, text.split()))
            if nchars:
                total_chars += nchars
                if in_link:
                    link_chars += nchars
            parts.append(text)
        # comments / CDATA / doctype / PI / stray '<': dropped
    flush(boiler, main)
    return blocks


def classify_blocks(blocks: list[HtmlBlock]) -> list[HtmlBlock]:
    """Label each block good/bad in place and return the list.

    Pass 1 (context-free, per block): boiler ancestry or high link density
    -> bad; main ancestry -> good; long low-link blocks -> good; the rest
    undecided (short/near). Pass 2 (context, jusText-style): undecided
    blocks inherit from their nearest decided neighbours, good winning
    over bad (jusText's short-block rule); a *near* block (medium length)
    with zero links stays content even between bad neighbours — the
    Boilerpipe densitometric analogue of "words without links are text" —
    so plain pages that open with a menu are not wiped out.
    """
    for b in blocks:
        if b.boiler_ctx or b.link_density > LINK_DENSITY_MAX:
            b.label = _BAD
        elif b.main_ctx:
            b.label = _GOOD
        elif b.chars >= GOOD_MIN_CHARS and b.link_density < LINK_DENSITY_MAX / 2:
            b.label = _GOOD
        elif b.chars <= SHORT_MAX_CHARS:
            b.label = _SHORT
        else:
            b.label = _NEAR
    # nearest decided neighbour on each side
    n = len(blocks)
    prev: list = [None] * n
    nxt: list = [None] * n
    last = None
    for i, b in enumerate(blocks):
        prev[i] = last
        if b.label in (_GOOD, _BAD):
            last = b.label
    last = None
    for i in range(n - 1, -1, -1):
        nxt[i] = last
        if blocks[i].label in (_GOOD, _BAD):
            last = blocks[i].label
    for i, b in enumerate(blocks):
        if b.label in (_GOOD, _BAD):
            continue
        if prev[i] == _GOOD or nxt[i] == _GOOD:
            b.label = _GOOD
        elif b.label == _NEAR and b.link_chars == 0:
            b.label = _GOOD
        elif prev[i] == _BAD or nxt[i] == _BAD:
            b.label = _BAD
        else:
            b.label = _GOOD  # undecorated plain page: keep the text
    return blocks


def extract_main_blocks(data: bytes) -> list[HtmlBlock]:
    """bytes -> classified blocks (all of them, labels set)."""
    return classify_blocks(segment_blocks(decode_html(data)))


def extract_main_text(data: bytes) -> str:
    return "\n".join(
        b.text for b in extract_main_blocks(data) if b.label == _GOOD
    )


def extract_markdown(data: bytes) -> str:
    """Structure-preserving main-content extraction: the same classified
    blocks as :func:`extract_main_text`, serialized as Markdown — the
    output shape structure-aware training corpora (FineWeb-Edu-style
    "markdownified" web text) keep, where flat text would lose headings
    and list nesting. Headings map to ``#`` runs, ``li`` to ``- `` items
    (consecutive items stay in one list), ``blockquote`` to ``> ``,
    ``pre`` to fenced code; everything else is a paragraph. Blocks join
    with blank lines; list items with single newlines. Same linear scan,
    same boilerplate classifier — only the serializer differs, so
    markdown and plain text keep identical content coverage."""
    out: list[str] = []
    prev_kind = None
    for b in extract_main_blocks(data):
        if b.label != _GOOD:
            continue
        k = b.kind
        if k == "li":
            piece = "- " + b.text
            sep = "\n" if prev_kind == "li" else "\n\n"
        elif k in ("h1", "h2", "h3", "h4", "h5", "h6"):
            piece = "#" * int(k[1]) + " " + b.text
            sep = "\n\n"
        elif k == "blockquote":
            piece = "> " + b.text
            sep = "\n\n"
        elif k == "pre":
            piece = "```\n" + b.text + "\n```"
            sep = "\n\n"
        else:
            piece = b.text
            sep = "\n\n"
        out.append(piece if not out else sep + piece)
        prev_kind = k
    return "".join(out)


def html_spans(data: bytes):
    """bytes -> (spans, n_blocks_total): one Span per content block.

    Block *i* (content ordering) lands at ``(page=0, y=-i, x=0)`` so the
    standard span assembly sort ``(page, y desc, x, glyph_order)`` yields
    document order with one line per block — byte-identical to
    ``extract_main_text`` + ``\\n``-join by construction."""
    from pdf_spark.core.interp import Span

    blocks = extract_main_blocks(data)
    spans = []
    i = 0
    for b in blocks:
        if b.label == _GOOD:
            spans.append(Span(0, 0.0, -float(i), i, b.text, "#html", 0.0))
            i += 1
    return spans, len(blocks)


# --- structured extraction: links + tables ----------------------------------

_HREF_RE = re.compile(
    r"""href\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""", re.I
)


def extract_links(data: bytes) -> list:
    """All ``<a href>`` targets in document order (the WAT/link-graph op).

    A second linear scan, independent of the main-content pass — link
    extraction wants EVERY anchor (nav and footer links are exactly what a
    crawl frontier needs), not just content-block ones."""
    return [h for h, _ in extract_links_with_text(data)]


def extract_tables(data: bytes) -> list:
    """``(table_idx, row_idx, col_idx, cell_text)`` tuples in document
    order (the web-table / WDC-style structured-extraction op).

    Nested tables are flattened depth-first: an inner ``<table>`` closes
    the current cell and gets its own table index (cell-level nesting
    fidelity is not worth stateful recursion at crawl scale). Cell text is
    whitespace-normalised like content blocks."""
    html_text = decode_html(data)
    out = []
    table_stack: list[int] = []  # table ids, innermost last
    next_table = 0
    row_of: dict[int, int] = {}
    col_of: dict[int, int] = {}
    cell_parts: list[str] = []
    in_cell = False

    def flush_cell() -> None:
        nonlocal cell_parts, in_cell
        if in_cell and table_stack:
            t = table_stack[-1]
            text = " ".join("".join(cell_parts).split())
            out.append((t, row_of.get(t, 0), col_of.get(t, 0), text))
        cell_parts = []
        in_cell = False

    toks = HtmlTokens(html_text)
    for m in toks:
        end_tag, start_tag = m.group(1), m.group(2)
        if start_tag is not None:
            low = start_tag.lower()
            if low == "table":
                flush_cell()
                table_stack.append(next_table)
                row_of[next_table] = -1
                col_of[next_table] = -1
                next_table += 1
            elif low == "tr" and table_stack:
                flush_cell()
                t = table_stack[-1]
                row_of[t] += 1
                col_of[t] = -1
            elif low in ("td", "th") and table_stack:
                flush_cell()
                t = table_stack[-1]
                if row_of[t] < 0:  # <td> with no <tr>: implied first row
                    row_of[t] = 0
                col_of[t] += 1
                in_cell = True
            elif low in _RAWTEXT:
                toks.skip_raw(low)
        elif end_tag is not None:
            low = end_tag.lower()
            if low in ("td", "th", "tr"):
                flush_cell()
            elif low == "table":
                flush_cell()
                if table_stack:
                    table_stack.pop()
        elif m.group(0)[0] != "<" and in_cell:
            cell_parts.append(unescape(m.group(0)))
    flush_cell()
    return out


# --- structured extraction: head metadata ------------------------------------

_ATTR_RE = re.compile(
    r"""([a-zA-Z][a-zA-Z0-9:_\-]*)\s*(?:=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]*)))?"""
)


def _parse_attrs(raw: str) -> dict:
    """Start-tag attribute text -> {lowercased name: unescaped value}.
    Valueless attributes map to ""; first occurrence wins (HTML5 rule)."""
    out: dict[str, str] = {}
    for m in _ATTR_RE.finditer(raw):
        name = m.group(1).lower()
        if name not in out:
            v = m.group(2)
            if v is None:
                v = m.group(3)
            if v is None:
                v = m.group(4)
            out[name] = unescape(v) if v else ""
    return out


def scan_tags(html_text: str, name: str):
    """Yield the attribute dict of every ``<name>`` start tag in document
    order; raw-text bodies are skipped, so a tag spelled inside a
    ``<script>`` string never counts."""
    toks = HtmlTokens(html_text)
    for m in toks:
        tag = m.group(2)
        if tag is None:
            continue
        low = tag.lower()
        if low == name:
            yield _parse_attrs(m.group(3))
        elif low in _RAWTEXT:
            toks.skip_raw(low)


def extract_html_meta(data: bytes) -> dict:
    """Head metadata: {title, description, og_title, og_description,
    canonical, lang, robots, base} — str or None each.

    The WAT-record fields a crawl pipeline stores per page: first
    ``<title>`` text, ``<meta name=description>`` / ``property=og:*``
    content, ``<link rel=canonical>`` href, ``<html lang>``. First
    occurrence wins throughout; scan is one linear pass sharing the
    main tokenizer (rawtext bodies can never fake a tag). Net-new vs the
    reference engine, like the rest of the HTML tier."""
    html_text = decode_html(data)
    out = {
        "title": None, "description": None, "og_title": None,
        "og_description": None, "canonical": None, "lang": None,
        "robots": None, "base": None,
    }
    robots_parts: list[str] = []
    in_title = False
    title_parts: list[str] = []
    toks = HtmlTokens(html_text)
    for m in toks:
        end_tag, start_tag = m.group(1), m.group(2)
        if start_tag is not None:
            low = start_tag.lower()
            if low == "html" and out["lang"] is None:
                lang = _parse_attrs(m.group(3)).get("lang", "").strip()
                if lang:
                    out["lang"] = lang
            elif low == "title" and out["title"] is None:
                in_title = True
            elif low == "meta":
                attrs = _parse_attrs(m.group(3))
                key = attrs.get("name", attrs.get("property", "")).lower()
                content = attrs.get("content", "").strip()
                slot = {
                    "description": "description",
                    "og:title": "og_title",
                    "og:description": "og_description",
                }.get(key)
                if slot and content and out[slot] is None:
                    out[slot] = content
                elif key == "robots" and content:
                    # unlike the first-wins display fields, robots
                    # directives UNION across tags (a crawler honors the
                    # most restrictive combination — Google/Bing documented
                    # behavior), so every tag's content is kept
                    robots_parts.append(content)
            elif low == "link":
                attrs = _parse_attrs(m.group(3))
                rels = attrs.get("rel", "").lower().split()
                href = attrs.get("href", "").strip()
                if "canonical" in rels and href and out["canonical"] is None:
                    out["canonical"] = href
            elif low == "base" and out["base"] is None:
                # HTML spec: the FIRST <base href> wins and rebases every
                # URL in the document (itself resolved against the page
                # URL — qx37 chains that resolution JVM-side)
                href = _parse_attrs(m.group(3)).get("href", "").strip()
                if href:
                    out["base"] = href
            elif low in _RAWTEXT:
                toks.skip_raw(low)
        elif end_tag is not None:
            if end_tag.lower() == "title" and in_title:
                in_title = False
                text = " ".join(unescape("".join(title_parts)).split())
                out["title"] = text or None
        elif in_title and m.group(0)[0] != "<":
            title_parts.append(m.group(0))
    if robots_parts:
        out["robots"] = ",".join(robots_parts)
    return out


# --- structured extraction: JSON-LD ------------------------------------------


def extract_jsonld(data: bytes) -> list:
    """Raw text of every ``<script type="application/ld+json">`` block in
    document order (the schema.org structured-data op — the other thing,
    besides text, that web-scale corpora mine out of Common Crawl).

    Only the RAW JSON strings are returned; parsing them stays
    declarative downstream (``get_json_object`` runs JVM-side), so a page
    with a 1 MB JSON-LD blob costs Python only the substring copy."""
    html_text = decode_html(data)
    out = []
    toks = HtmlTokens(html_text)
    for m in toks:
        tag = m.group(2)
        if tag is None:
            continue
        low = tag.lower()
        if low in _RAWTEXT:
            body = toks.skip_raw(low)
            if low == "script":
                kind = _parse_attrs(m.group(3)).get("type", "").lower()
                if kind.split(";")[0].strip() == "application/ld+json":
                    body = body.strip()
                    if body:
                        out.append(body)
    return out


LINK_REL_CAP = 512  # link relations per page (adversarial repetition)

# the <link rel> values a crawl pipeline consumes: alternate (hreflang
# language clusters + RSS/Atom discovery), next/prev (pagination chains),
# amphtml (AMP twin), canonical (also surfaced first-wins in
# extract_html_meta; here every occurrence is kept in document order so
# conflicting-canonical pages are detectable)
_TRACKED_RELS = ("alternate", "next", "prev", "amphtml", "canonical")


def extract_link_relations(data: bytes) -> list:
    """``<link rel=...>`` relations as (rel, hreflang, href) tuples in
    document order — the head-link graph a crawl pipeline mines beyond the
    single canonical slot: ``rel=alternate hreflang=x`` edges cluster the
    SAME content across languages (the multilingual dedup/alignment key —
    one cluster member's quality score transfers to all), ``next``/``prev``
    chain paginated listings, ``amphtml`` points to the AMP twin (a
    near-dup the dedup tier should collapse), and repeated ``canonical``
    rows surface conflicting-canonical pages that extract_html_meta's
    first-wins slot hides. A multi-valued ``rel`` attribute emits one row
    per tracked token (HTML spec: rel is a space-separated token set);
    ``hreflang`` is lowercased (BCP 47 tags compare case-insensitive),
    non-alternate rows carry None; rows without an ``href`` are dropped
    (no target, no edge). Shares the main tokenizer — rawtext bodies can
    never fake a ``<link>``. Net-new vs the reference engine, like the
    rest of the HTML tier."""
    html_text = decode_html(data)
    out: list = []
    toks = HtmlTokens(html_text)
    for m in toks:
        tag = m.group(2)
        if tag is None:
            continue
        low = tag.lower()
        if low == "link":
            attrs = _parse_attrs(m.group(3))
            rels = attrs.get("rel", "").lower().split()
            href = attrs.get("href", "").strip()
            if not href:
                continue
            hreflang = attrs.get("hreflang", "").strip().lower() or None
            for rel in _TRACKED_RELS:
                if rel in rels:
                    out.append(
                        (rel, hreflang if rel == "alternate" else None, href)
                    )
            if len(out) >= LINK_REL_CAP:
                break
        elif low in _RAWTEXT:
            toks.skip_raw(low)
    return out


def extract_headings(data: bytes) -> list:
    """(level, text) for every <h1>-<h6> in document order — the HTML
    twin of the PDF outline walk (core/meta.py::extract_pdf_outline):
    the section structure a chunking pipeline keys on. Heading text is
    whitespace-normalised and entity-decoded; rawtext bodies can never
    contribute; nested markup inside a heading contributes its text."""
    html_text = decode_html(data)
    out = []
    level = 0
    parts: list = []
    toks = HtmlTokens(html_text)
    for m in toks:
        end_tag, start_tag = m.group(1), m.group(2)
        if start_tag is not None:
            low = start_tag.lower()
            if len(low) == 2 and low[0] == "h" and low[1] in "123456":
                if level:  # implied close of an unclosed heading
                    text = " ".join(unescape("".join(parts)).split())
                    if text:
                        out.append((level, text))
                level = int(low[1])
                parts = []
            elif low in _RAWTEXT:
                toks.skip_raw(low)
        elif end_tag is not None:
            low = end_tag.lower()
            if level and len(low) == 2 and low[0] == "h" and low[1] in "123456":
                text = " ".join(unescape("".join(parts)).split())
                if text:
                    out.append((level, text))
                level = 0
                parts = []
        elif level and m.group(0)[0] != "<":
            parts.append(m.group(0))
    if level:
        text = " ".join(unescape("".join(parts)).split())
        if text:
            out.append((level, text))
    return out


def extract_links_with_text(data: bytes) -> list:
    """(href, anchor_text) for every <a href> in document order — the WAT
    link graph with the anchor text a ranking/training pipeline keeps.
    Anchor text is the whitespace-normalised text between <a> and its
    closing </a> (nested tags contribute text; an unclosed <a> runs to
    the next <a> or EOF, matching browser recovery)."""
    html_text = decode_html(data)
    out = []
    href = None
    parts: list = []

    def flush():
        nonlocal href, parts
        if href is not None:
            out.append((href, " ".join(unescape("".join(parts)).split())))
        href = None
        parts = []

    toks = HtmlTokens(html_text)
    for m in toks:
        end_tag, start_tag = m.group(1), m.group(2)
        if start_tag is not None:
            low = start_tag.lower()
            if low == "a":
                flush()
                hm = _HREF_RE.search(m.group(3))
                if hm:
                    h = hm.group(2) or hm.group(3) or hm.group(4) or ""
                    h = unescape(h).strip()
                    href = h if h else None
            elif low in _RAWTEXT:
                toks.skip_raw(low)
        elif end_tag is not None:
            if end_tag.lower() == "a":
                flush()
        elif href is not None and m.group(0)[0] != "<":
            parts.append(m.group(0))
    flush()
    return out


def extract_image_alts(data: bytes) -> list:
    """``(src, alt)`` pairs for every ``<img>`` in document order — the
    image-text pair mining op (LAION-style multimodal corpus building:
    alt text is the caption candidate). Same independent linear scan as
    :func:`extract_links`; rawtext elements are skipped so an ``<img>``
    inside a script string never counts. Images with an empty/missing
    ``src`` are dropped; a missing ``alt`` yields ``""`` (present-but-
    uncaptioned is a real, countable class downstream)."""
    out = []
    for attrs in scan_tags(decode_html(data), "img"):
        src = (attrs.get("src") or "").strip()
        if src:
            out.append((src, attrs.get("alt", "")))
    return out

